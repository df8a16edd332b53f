"""Rule-text → Column compilation.

The only "engine" this library owns is this driver-side compiler, and
this module is the one place a suite is compiled. ``CompiledSuite``
builds one lambda registry and macro-expands every rule text once
(builtin quality functions + user lambdas); ``encode`` types all the
rules against the target DataFrame in one batched analysis and encodes
them to the integer result domain, ``encode_duckdb`` does the same in
one DuckDB ``LIMIT 0`` statement, and ``steps`` orders the rules by
salience with their expanded, parsed outputs for the rule engine and
the folder. The runners hand the result to Spark as ordinary SQL
columns; Catalyst then does analysis, optimisation (subexpression
elimination across rules included — the reference goes out of its way
to keep this working, impl/RuleRunner.scala:63-68) and whole-stage
codegen exactly as it would for hand-written DataFrame code.

``resolve`` is the one place where rule SQL meets Spark's analyser:
the runners' typing pass and ``validate`` both go through it. Every
failure, in expansion or typing, is a ``RuleCompilationError`` that
names the suite, set and rule.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..expr import strip_number_suffixes
from ..functions.lambdas import LambdaRegistry, expand_sql
from ..model import Rule, RuleSet, RuleSuite
from ..results import encode_rule_sql
from .outputs import Output, parse_output


class RuleCompilationError(ValueError):
    """A rule failed to expand or resolve; carries the rule coordinates."""


def expand_each(
    suite: RuleSuite,
    reg: LambdaRegistry,
    text_of: Callable[[Rule], str] = lambda r: r.expression.rule,
) -> List[Tuple[RuleSet, Rule, Union[str, Exception]]]:
    """Per rule, its expanded ``text_of`` or the exception expanding it
    raised: ValueError (bad macro or lambda use), RecursionError (a
    self-recursive lambda) or KeyError (an unregistered map or bloom)."""
    out: List[Tuple[RuleSet, Rule, Union[str, Exception]]] = []
    for rs in suite.rule_sets:
        for r in rs.rules:
            try:
                out.append((rs, r, expand_sql(text_of(r), reg)))
            except (ValueError, RecursionError, KeyError) as e:
                out.append((rs, r, e))
    return out


def _error(suite: RuleSuite, rs: RuleSet, r: Rule, what: str, e: Exception):
    msg = e.args[0] if isinstance(e, KeyError) and e.args else e
    return RuleCompilationError(
        f"rule {r.id} in set {rs.id} of suite {suite.id}{what}: {msg}"
    )


def _or_raise(suite: RuleSuite, results, what: str = "") -> List[Tuple[RuleSet, Rule, str]]:
    for rs, r, res in results:
        if isinstance(res, Exception):
            raise _error(suite, rs, r, what, res) from res
    return results


def expand_rules(suite: RuleSuite) -> List[Tuple[RuleSet, Rule, str]]:
    """Expand every rule of the suite → (ruleSet, rule, expandedSql)."""
    return CompiledSuite(suite).rules


def _batch(df: DataFrame, sqls: Sequence[str]) -> DataFrame:
    # one selectExpr call: a thousand-rule suite costs ONE py4j round
    # trip instead of one F.expr trip per rule (measured at dq1000:
    # 1.95 s -> 0.36 s for the probe)
    return df.selectExpr(*[f"({s}) AS _p{i}" for i, s in enumerate(sqls)])


def resolve(
    df: DataFrame, sqls: Sequence[str]
) -> Tuple[Optional[DataFrame], List[Union[T.DataType, Exception]]]:
    """Per expression, its type or the exception analysing it raised.
    All are analysed in one projection, returned with the types; only
    when it fails is each analysed alone (projection ``None``). Driver
    side only, no job is run."""
    if not sqls:
        return None, []
    try:
        projection = _batch(df, sqls)
        return projection, [f.dataType for f in projection.schema.fields]
    except Exception:
        pass
    out: List[Union[T.DataType, Exception]] = []
    for s in sqls:
        try:
            out.append(df.select(F.expr(s).alias("_p")).schema.fields[0].dataType)
        except Exception as e:  # noqa: BLE001 - returned, not raised
            out.append(e)
    return None, out


def probe_types(df: DataFrame, sqls: Sequence[str]) -> List[T.DataType]:
    """Resolve expression types against ``df``; raises
    RuleCompilationError for the first expression that fails."""
    _, types = resolve(df, sqls)
    for i, (s, t) in enumerate(zip(sqls, types)):
        if isinstance(t, Exception):
            raise RuleCompilationError(
                f"expression {i} failed to resolve against the DataFrame: "
                f"{s!r}: {t}"
            ) from t
    return types  # type: ignore[return-value]


# DuckDB type name of a rule -> the Spark type whose branch of
# results.encode_rule_sql encodes it; any other type encodes as Failed
_SPARK_TYPE_OF_DUCK = {
    "BOOLEAN": T.BooleanType(),
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "HUGEINT": T.LongType(),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "DECIMAL": T.DecimalType(),
    "VARCHAR": T.StringType(),
}


def resolve_duckdb(con, relation: str, sqls: Sequence[str]) -> List[Union[T.DataType, Exception]]:
    """``resolve`` for DuckDB: per expression, the Spark type it encodes
    as, or the exception binding it raised. All are bound in one
    ``LIMIT 0`` statement over ``relation``; only when it fails is each
    bound alone."""

    def types(ss: Sequence[str]) -> List[T.DataType]:
        cols = ", ".join(f"({s}) AS __qs_p{i}" for i, s in enumerate(ss))
        rel = con.sql(f"SELECT {cols} FROM {relation} LIMIT 0")
        return [_SPARK_TYPE_OF_DUCK.get(str(t).split("(")[0], T.NullType()) for t in rel.types]

    if not sqls:
        return []
    try:
        return types(sqls)
    except Exception:
        pass
    out: List[Union[T.DataType, Exception]] = []
    for s in sqls:
        try:
            out.extend(types([s]))
        except Exception as e:  # noqa: BLE001 - returned, not raised
            out.append(e)
    return out


@dataclass(frozen=True)
class Step:
    """One rule of an engine or folder suite, in salience order."""

    rule_set: RuleSet
    rule: Rule
    salience: int
    trigger: str  # the rule's encoded SQL
    output: Output  # its expanded, parsed output expression


def _output_text(r: Rule) -> str:
    if r.run_on_pass is None or r.run_on_pass.output is None:
        raise ValueError(
            "no output expression; every rule of a rule-engine or folder "
            "suite needs a RunOnPassProcessor"
        )
    return r.run_on_pass.output.rule


class CompiledSuite:
    """One compile of a suite: one lambda registry, and every rule text
    expanded once (``rules``: (ruleSet, rule, expandedSql))."""

    def __init__(self, suite: RuleSuite) -> None:
        self.suite = suite
        self.registry = LambdaRegistry().register_all(suite.lambda_functions)
        self.rules = _or_raise(suite, expand_each(suite, self.registry))

    def _encode(self, sqls: List[str], types, what: str, dialect: str) -> List[List[str]]:
        for (rs, r, _), t in zip(self.rules, types):
            if isinstance(t, Exception):
                raise _error(self.suite, rs, r, what, t) from t
        flat = [encode_rule_sql(s, t, dialect) for s, t in zip(sqls, types)]
        out: List[List[str]] = []
        for rs in self.suite.rule_sets:
            out.append(flat[: len(rs.rules)])
            flat = flat[len(rs.rules) :]
        return out

    def encode(self, df: DataFrame) -> List[List[str]]:
        """Per set, per rule: the rule's int encoding, typed against
        ``df`` in one batched analysis."""
        sqls = [s for _, _, s in self.rules]
        _, types = resolve(df, sqls)
        return self._encode(sqls, types, " failed to resolve against the DataFrame", "spark")

    def encode_duckdb(self, con, relation: str) -> List[List[str]]:
        """``encode`` in the DuckDB dialect, typed against ``relation``
        on ``con``."""
        # our macro expansion emits Spark typed numeric literals
        # (0.0D / 42L); DuckDB takes them without the suffix
        sqls = [strip_number_suffixes(s) for _, _, s in self.rules]
        return self._encode(
            sqls,
            resolve_duckdb(con, relation, sqls),
            " is not DuckDB-portable (sparkless scope is the shared SQL subset)",
            "duckdb",
        )

    def steps(self, encoded: Sequence[Sequence[str]]) -> List[Step]:
        """The rules sorted by salience, stable in declaration order
        (the reference uses strict '<' while scanning in order — first
        wins on ties, same as a stable sort), each with its trigger
        from ``encoded`` and its output expanded with this registry."""
        outputs = expand_each(self.suite, self.registry, _output_text)
        outputs = _or_raise(self.suite, outputs, " (output)")
        triggers = [e for es in encoded for e in es]
        steps = [
            Step(rs, r, r.run_on_pass.salience, trigger, parse_output(text))
            for (rs, r, text), trigger in zip(outputs, triggers)
        ]
        return sorted(steps, key=lambda s: s.salience)
