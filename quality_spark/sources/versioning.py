"""Simple versioning + meta rulesets.

Versioned loading: a rules/lambdas/outputs table may carry many
``ruleSuiteVersion`` generations; for every distinct suite version the
effective content is, per key, the row with the highest own version
among rows at-or-below that suite version — a literal ``DELETED``
expression tombstones the key.  (Reference:
simpleVersioning/package.scala:35-229, which expresses the same
latest-<= selection as a correlated NOT EXISTS; here it is a
``max_by`` aggregation, which Spark executes as one partial+final
hash aggregate — no correlated subquery rewrite, and it holds at any
metadata size.)

Meta rulesets generate one rule per matching column of a target
DataFrame from a ``arg -> expr`` template (reference:
impl/util/SerializationModel.scala:56-120, integration
impl/util/serializing.scala:49-54).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..expr import parse_lambda, quote_identifier, substitute_identifiers
from ..model import (
    Id,
    LambdaFunction,
    OutputExpression,
    Rule,
    RuleSet,
    RuleSuite,
    RuleSuiteMap,
    RunOnPassProcessor,
)
from .serializing import (
    read_lambdas_from_df,
    read_output_expressions_from_df,
    read_rules_from_df,
)

DELETED = "DELETED"


def _explode_versions(df: DataFrame, key_cols: Sequence[str], version_col: str) -> DataFrame:
    """For every distinct (ruleSuiteId, ruleSuiteVersion) target, pick per
    key the row with the highest ``version_col`` among rows whose suite
    version is <= the target, bump ``ruleSuiteVersion`` to the target, and
    drop DELETED tombstones (a DELETED *winner* removes the key — earlier
    versions do not resurrect)."""
    src = df.alias("src")
    targets = (
        df.select("ruleSuiteId", F.col("ruleSuiteVersion").alias("targetVersion"))
        .distinct()
        .alias("t")
    )
    joined = src.join(
        targets,
        (F.col("src.ruleSuiteId") == F.col("t.ruleSuiteId"))
        & (F.col("src.ruleSuiteVersion") <= F.col("t.targetVersion")),
    )
    payload = [c for c in df.columns if c != "ruleSuiteVersion"]
    winner = joined.groupBy(
        F.col("t.ruleSuiteId").alias("ruleSuiteId"),
        F.col("t.targetVersion").alias("ruleSuiteVersion"),
        *[F.col(f"src.{k}").alias(k) for k in key_cols],
    ).agg(
        F.max_by(
            F.struct(*[F.col(f"src.{c}").alias(c) for c in payload]),
            F.col(f"src.{version_col}"),
        ).alias("w")
    )
    keep = [c for c in payload if c not in key_cols and c != "ruleSuiteId"]
    return winner.select(
        "ruleSuiteId", "ruleSuiteVersion", *key_cols, *[F.col(f"w.{c}").alias(c) for c in keep]
    ).filter(F.col("ruleExpr") != DELETED)


def read_versioned_rules_from_df(df: DataFrame) -> RuleSuiteMap:
    """Latest-<= rule selection per suite version
    (reference: simpleVersioning/package.scala:35-93)."""
    return read_rules_from_df(_explode_versions(df, ["ruleSetId", "ruleId"], "ruleVersion"))


def read_versioned_lambdas_from_df(df: DataFrame) -> Dict[Id, List[LambdaFunction]]:
    """Latest-<= lambda selection per suite version
    (reference: simpleVersioning/package.scala:105-152)."""
    return read_lambdas_from_df(_explode_versions(df, ["functionId"], "functionVersion"))


def read_versioned_output_expressions_from_df(
    df: DataFrame,
) -> Dict[Id, Dict[Id, OutputExpression]]:
    """Latest-<= output-expression selection per suite version
    (reference: simpleVersioning/package.scala:154-189)."""
    return read_output_expressions_from_df(
        _explode_versions(df, ["functionId"], "functionVersion")
    )


def same_or_next_version_lower(keys: Sequence[Id]) -> Callable[[Id], Optional[Id]]:
    """Resolver used by the versioned integrates: for a suite id, the
    library entry is the greatest key <= (id, version) in (id, version)
    lexicographic order (reference: SameOrNextVersionLower,
    simpleVersioning/package.scala:191-209 — including its quirk that a
    *lower id* can match when the exact id has no entries)."""
    ordered = sorted(keys, key=lambda k: (k.id, k.version))

    def get(target: Id) -> Optional[Id]:
        best = None
        for k in ordered:
            if (k.id, k.version) <= (target.id, target.version):
                best = k
            else:
                break
        return best

    return get


def integrate_versioned_lambdas(
    suites: RuleSuiteMap,
    lambdas: Dict[Id, List[LambdaFunction]],
    global_library: Optional[Id] = None,
) -> RuleSuiteMap:
    """Attach, per suite, the lambda library at the same-or-next-lower
    version (reference: simpleVersioning/package.scala:211-218)."""
    glob = list(lambdas.get(global_library, [])) if global_library else []
    get = same_or_next_version_lower(list(lambdas))
    out: RuleSuiteMap = {}
    for suite_id, suite in suites.items():
        key = get(suite_id)
        fns = glob + (list(lambdas[key]) if key is not None else [])
        out[suite_id] = replace(suite, lambda_functions=tuple(fns))
    return out


def integrate_versioned_output_expressions(
    suites: RuleSuiteMap,
    outputs: Dict[Id, Dict[Id, OutputExpression]],
    global_library: Optional[Id] = None,
) -> Tuple[RuleSuiteMap, Dict[Id, List[Rule]]]:
    """Resolve output ids against the same-or-next-lower-version library.
    Unresolvable rules are left untouched and reported in the second
    return value, keyed by suite id (reference:
    simpleVersioning/package.scala:220-229, iIntegrateOutputExpressions
    serializing.scala:62-99)."""
    get = same_or_next_version_lower(list(outputs))
    missing: Dict[Id, List[Rule]] = {}
    out: RuleSuiteMap = {}
    for suite_id, suite in suites.items():
        lib: Dict[Id, OutputExpression] = {}
        if global_library is not None:
            lib.update(outputs.get(global_library, {}))
        key = get(suite_id)
        if key is not None:
            lib.update(outputs[key])

        def fix(rule: Rule) -> Rule:
            rop = rule.run_on_pass
            if rop is None or rop.output is not None:
                return rule
            expr = lib.get(rop.id)
            if expr is None:
                missing.setdefault(suite_id, []).append(rule)
                return rule
            return Rule(rule.id, rule.expression, RunOnPassProcessor(rop.salience, rop.id, expr))

        out[suite_id] = replace(
            suite,
            rule_sets=tuple(
                RuleSet(rs.id, tuple(fix(r) for r in rs.rules)) for rs in suite.rule_sets
            ),
        )
    return out, missing


# ---------------------------------------------------------------------------
# Meta rulesets — rules generated per matching column
# ---------------------------------------------------------------------------

META_RULE_SETS_SCHEMA = T.StructType(
    [
        T.StructField("ruleSuiteId", T.IntegerType(), False),
        T.StructField("ruleSuiteVersion", T.IntegerType(), False),
        T.StructField("ruleSetId", T.IntegerType(), False),
        T.StructField("ruleSetVersion", T.IntegerType(), False),
        T.StructField("columnFilter", T.StringType(), False),
        T.StructField("ruleExpr", T.StringType(), False),
    ]
)


@dataclass(frozen=True)
class MetaRuleSet:
    """One meta ruleset row: a column filter (SQL predicate over
    ``name``, ``dataType``, ``nullable``) and an ``arg -> expr`` rule
    template (reference: MetaRuleSetRow,
    impl/util/SerializationModel.scala:56-120)."""

    suite_id: Id
    id: Id
    column_filter: str
    rule_expr: str

    @property
    def _arg_and_body(self) -> Tuple[str, str]:
        try:
            (arg,), body = parse_lambda(self.rule_expr)
        except ValueError:
            raise ValueError(
                f"meta rule expr must be 'arg -> expr': {self.rule_expr!r}"
            ) from None
        return arg, body

    def filter_columns(
        self,
        df: DataFrame,
        transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    ) -> List[str]:
        """Lower-cased names of target columns matching ``column_filter``,
        evaluated over a one-row-per-field frame of
        (name, dataType, nullable) — ``dataType`` is Spark's simpleString
        (e.g. ``'string'``, ``'decimal(38,18)'``)."""
        spark = df.sparkSession
        fields = spark.createDataFrame(
            [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields],
            T.StructType(
                [
                    T.StructField("name", T.StringType(), False),
                    T.StructField("dataType", T.StringType(), False),
                    T.StructField("nullable", T.BooleanType(), False),
                ]
            ),
        )
        if transform is not None:
            fields = transform(fields)
        rows = fields.filter(self.column_filter).select("name").collect()
        seen, out = set(), []
        for r in rows:
            n = r["name"].lower()
            if n not in seen:
                seen.add(n)
                out.append(n)
        return out

    def generate_rule_set(
        self,
        df: DataFrame,
        stable_position: Callable[[str], int],
        transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    ) -> RuleSet:
        """One rule per matching column; rule id = ruleSetId +
        stable_position(column) at the ruleset's version.  The caller's
        ``stable_position`` must be stable per column name for rule ids
        to evolve correctly (the reference's stated law)."""
        arg, body = self._arg_and_body
        # the lambda-expansion token pass: string literals, qualified
        # tails (`s.arg`) and call names keep their text; the column name
        # goes in backquoted, so spaces, keywords and literals (`null`)
        # stay a column reference
        rules = tuple(
            Rule(
                Id(self.id.id + stable_position(c), self.id.version),
                substitute_identifiers(body, {arg: quote_identifier(c)}),
            )
            for c in self.filter_columns(df, transform)
        )
        return RuleSet(self.id, rules)


def read_meta_rule_sets_from_df(df: DataFrame) -> Dict[Id, List[MetaRuleSet]]:
    """suiteId -> meta rulesets (reference: serializing.scala:175-200)."""
    out: Dict[Id, List[MetaRuleSet]] = {}
    for row in df.collect():  # metadata-sized (see serializing.py)
        suite_id = Id(row["ruleSuiteId"], row["ruleSuiteVersion"])
        out.setdefault(suite_id, []).append(
            MetaRuleSet(
                suite_id,
                Id(row["ruleSetId"], row["ruleSetVersion"]),
                row["columnFilter"],
                row["ruleExpr"],
            )
        )
    return out


def integrate_meta_rule_sets(
    df: DataFrame,
    suites: RuleSuiteMap,
    metas: Dict[Id, List[MetaRuleSet]],
    stable_position: Callable[[str], int],
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> RuleSuiteMap:
    """Append generated rulesets to each suite that has meta rulesets
    (reference: iIntegrateMetaRuleSets, serializing.scala:49-54)."""
    out: RuleSuiteMap = {}
    for suite_id, suite in suites.items():
        mrs = metas.get(suite_id)
        if not mrs:
            out[suite_id] = suite
            continue
        generated = tuple(m.generate_rule_set(df, stable_position, transform) for m in mrs)
        out[suite_id] = replace(suite, rule_sets=suite.rule_sets + generated)
    return out
