"""``rule_runner`` — evaluate every rule of a suite per row into one
nested DQ result column.

Reference behavior: impl/RuleRunner.scala:58-189 (custom codegen’d
expression); here the same result is declared as a
``named_struct``/``map`` tree over per-rule encoded expressions, so
Catalyst plans/codegens it like any user query. ``rule_runner`` returns
that tree as one Column; the ``add_*`` helpers build it in two
projections (``_add_staged``) so each rule expression appears once. At
scale this is a pure narrow map — no shuffle, no UDF, fully
pushdown/AQE-friendly.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import RuleSuite, pack_id
from ..plans.compiler import expand_rules, probe_types
from ..results import (
    encode_rule_sql,
    encode_rule_sql_generic,
    overall_result,
    overall_result_spark_sql,
    rule_suite_result_type,
)

__all__ = [
    "rule_runner",
    "add_data_quality",
    "add_data_quality_f",
    "add_overall_results_and_details",
    "add_overall_results_and_details_f",
    "rule_runner_details",
]


def _lit_packed(i) -> Column:
    return F.lit(pack_id(i)).cast("bigint")


def _encoded_sqls(suite: RuleSuite, df: Optional[DataFrame]) -> List[List[str]]:
    """Per ruleset, per rule: SQL of the int-encoded rule expression."""
    expanded = expand_rules(suite)
    if df is not None:
        dtypes = probe_types(df, [s for _, _, s in expanded])
        encoded = [encode_rule_sql(s, t) for (_, _, s), t in zip(expanded, dtypes)]
    else:
        encoded = [encode_rule_sql_generic(s) for _, _, s in expanded]
    out: List[List[str]] = []
    i = 0
    for rs in suite.rule_sets:
        out.append(encoded[i : i + len(rs.rules)])
        i += len(rs.rules)
    return out


def _empty_rule_map() -> Column:
    return F.create_map().cast("map<bigint,int>")


def _assemble(
    suite: RuleSuite,
    per_set_enc_sqls: Sequence[Sequence[str]],
    with_suite_overall: bool,
) -> Column:
    """Builds the DQ struct as ONE SQL string + one F.expr.

    Column-object assembly costs a py4j round trip per operation —
    ~10 calls per rule, 20+ seconds of driver time at 1000 rules.
    String assembly is pure Python (milliseconds) and parses in one
    JVM call; the overall fold uses the flat array_contains shape so
    expression depth stays constant regardless of suite size."""
    set_entries: List[str] = []
    all_sqls: List[str] = []
    for rs, enc_sqls in zip(suite.rule_sets, per_set_enc_sqls):
        all_sqls.extend(enc_sqls)
        if enc_sqls:
            kv = ", ".join(
                f"{pack_id(r.id)}L, CAST({e} AS INT)"
                for r, e in zip(rs.rules, enc_sqls)
            )
            rule_map = f"map({kv})"
        else:
            rule_map = "CAST(map() AS MAP<BIGINT, INT>)"
        set_overall = overall_result_spark_sql(list(enc_sqls), suite.probable_pass)
        set_entries.append(
            f"{pack_id(rs.id)}L, named_struct("
            f"'overallResult', {set_overall}, 'ruleResults', {rule_map})"
        )

    if set_entries:
        sets_map = f"map({', '.join(set_entries)})"
    else:
        sets_map = (
            "CAST(map() AS MAP<BIGINT, "
            "STRUCT<overallResult: INT, ruleResults: MAP<BIGINT, INT>>>)"
        )

    fields = [f"'id', {pack_id(suite.id)}L"]
    if with_suite_overall:
        # reference folds ruleset overalls into the suite overall
        # (impl/RuleRunner.scala:139-162); a ruleset overall is Passed or
        # Failed only, so folding over all rules directly is equivalent.
        fields.append(
            f"'overallResult', {overall_result_spark_sql(all_sqls, suite.probable_pass)}"
        )
    fields.append(f"'ruleSetResults', {sets_map}")
    return F.expr(f"named_struct({', '.join(fields)})")


def rule_runner(suite: RuleSuite, df: Optional[DataFrame] = None) -> Column:
    """Column producing ``ruleSuiteResultType``
    (STRUCT<id BIGINT, overallResult INT, ruleSetResults MAP<…>>).

    Pass ``df`` (the frame the column will be selected on) to get exact
    type-directed result encoding — the ``add_*`` helpers do this for
    you. Reference entry: impl/imports/RuleRunnerImports.scala:24.
    """
    enc_sqls = _encoded_sqls(suite, df)
    return _assemble(suite, enc_sqls, with_suite_overall=True)


def rule_runner_details(suite: RuleSuite, df: Optional[DataFrame] = None) -> Column:
    """Details variant — no suite-level overallResult field
    (reference: impl/RuleSparkTypes.scala:26)."""
    enc_sqls = _encoded_sqls(suite, df)
    return _assemble(suite, enc_sqls, with_suite_overall=False)


def flatten_rule_runner(suite: RuleSuite, df: Optional[DataFrame] = None) -> Column:
    """Fused runner+flatten: ARRAY<STRUCT<ruleSuiteId, ruleSuiteVersion,
    ruleSuiteResult, ruleSetResult, ruleSetId, ruleSetVersion, ruleId,
    ruleVersion, ruleResult>> built directly from the per-rule encoded
    expressions — same rows as ``explode(flatten_results(rule_runner))``
    but with no intermediate maps and no higher-order functions (HOF
    lambdas evaluate interpreted; the inline array stays in whole-stage
    codegen and duplicate rule expressions fall to Catalyst's
    subexpression elimination).  Use the generic ``flatten_results``
    macro for DQ structs read back from storage."""
    enc_sqls = _encoded_sqls(suite, df)
    encs = [[F.expr(s) for s in set_sqls] for set_sqls in enc_sqls]
    all_encs = [c for ss in encs for c in ss]
    suite_overall = overall_result(all_encs, suite.probable_pass).cast("int")
    structs: List[Column] = []
    for rs, ss in zip(suite.rule_sets, encs):
        set_overall = overall_result(list(ss), suite.probable_pass).cast("int")
        for r, enc in zip(rs.rules, ss):
            structs.append(
                F.struct(
                    F.lit(suite.id.id).cast("int").alias("ruleSuiteId"),
                    F.lit(suite.id.version).cast("int").alias("ruleSuiteVersion"),
                    suite_overall.alias("ruleSuiteResult"),
                    set_overall.alias("ruleSetResult"),
                    F.lit(rs.id.id).cast("int").alias("ruleSetId"),
                    F.lit(rs.id.version).cast("int").alias("ruleSetVersion"),
                    F.lit(r.id.id).cast("int").alias("ruleId"),
                    F.lit(r.id.version).cast("int").alias("ruleVersion"),
                    enc.cast("int").alias("ruleResult"),
                )
            )
    return F.array(*structs)


def add_flat_rule_results(
    df: DataFrame, suite: RuleSuite, keep: Optional[Sequence[str]] = None
) -> DataFrame:
    """``keep`` columns + one flat row per (input row, rule) — the
    explode of :func:`flatten_rule_runner`, staged so each rule expression
    evaluates ONCE into a real column before the struct array is built.
    Inlining the encoded expressions into all N structs (each of which
    also embeds the overall folds) makes the generator's child evaluate
    ~N^2 rule expressions per row; staging keeps it at N."""
    keep = list(keep if keep is not None else df.columns)
    enc_sqls = _encoded_sqls(suite, df)
    flat_ids = [
        (rs, r) for rs, ss in zip(suite.rule_sets, enc_sqls) for r in rs.rules
    ]
    flat_sqls = [s for ss in enc_sqls for s in ss]
    staged = df.select(
        *keep, *[F.expr(s).cast("int").alias(f"__e{i}") for i, s in enumerate(flat_sqls)]
    )
    enc_cols = [f"__e{i}" for i in range(len(flat_sqls))]
    # stage the overalls as columns as well: structs made purely of
    # column references explode at generator speed, while embedding the
    # fold CASEs in all N structs re-evaluates them N times per row
    suite_overall = overall_result_spark_sql(enc_cols, suite.probable_pass)
    set_ov_cols: List[str] = []
    set_ov_exprs: List[Column] = []
    i = 0
    for si, (rs, ss) in enumerate(zip(suite.rule_sets, enc_sqls)):
        cols = enc_cols[i : i + len(ss)]
        set_ov_exprs.append(
            F.expr(overall_result_spark_sql(cols, suite.probable_pass)).alias(f"__ov{si}")
        )
        set_ov_cols.extend([f"__ov{si}"] * len(ss))
        i += len(ss)
    staged = staged.select(
        "*", F.expr(suite_overall).alias("__ovs"), *set_ov_exprs
    )
    structs = []
    for (rs, r), enc_col, so_col in zip(flat_ids, enc_cols, set_ov_cols):
        structs.append(
            "named_struct("
            f"'ruleSuiteId', {suite.id.id}, 'ruleSuiteVersion', {suite.id.version}, "
            f"'ruleSuiteResult', __ovs, 'ruleSetResult', {so_col}, "
            f"'ruleSetId', {rs.id.id}, 'ruleSetVersion', {rs.id.version}, "
            f"'ruleId', {r.id.id}, 'ruleVersion', {r.id.version}, "
            f"'ruleResult', {enc_col})"
        )
    arr = "array(" + ", ".join(structs) + ")"
    exploded = staged.select(*keep, F.explode(F.expr(arr)).alias("f"))
    return exploded.select(*keep, "f.*")


def _add_staged(
    df: DataFrame,
    enc_sqls: List[List[str]],
    assemble,
) -> DataFrame:
    """The one DataFrame shape of a rule runner: project every encoded
    rule expression into a real INT column, then assemble the result
    columns from column REFERENCES. In the one-shot struct each rule's
    SQL appears ~7x (a boolean rule) to ~49x (a double rule: map entry
    plus each of two fail-folds, each repeating the encoding's casts),
    so Catalyst analyses a tree far larger than the suite; staged, each
    rule expression appears and evaluates once. Codegen also splits N
    independent small expressions into many compilable methods, where
    the one-shot struct falls to INTERPRETED projection past ~500 rules
    (SCALE.md). CollapseProject leaves the two projections alone because
    the staged columns are non-cheap and each is referenced 3x."""
    flat = [s for ss in enc_sqls for s in ss]
    # lower-cased: Spark resolves names case-insensitively by default
    used = {c.lower() for c in df.columns}
    names = []
    for i in range(len(flat)):
        nm = f"__qs_enc{i}"
        while nm in used:
            nm += "_"
        used.add(nm)
        names.append(nm)
    # ONE selectExpr call instead of a py4j F.expr/cast/alias round
    # trip per rule — at 1000 rules that is ~3000 saved JVM calls
    # (measured: the staging projection built 3x faster, identical
    # schema/plan). The encoded SQL is embeddable text by the same
    # invariant _assemble's single-string build already relies on.
    staged = df.selectExpr(
        "*",
        *[f"CAST(({s}) AS INT) AS `{nm}`" for s, nm in zip(flat, names)],
    )
    refs: List[List[str]] = []
    i = 0
    for ss in enc_sqls:
        refs.append(names[i : i + len(ss)])
        i += len(ss)
    # "* EXCEPT", not select(*df.columns): input names with dots or
    # duplicates pass through untouched. One projection, where a
    # trailing drop() would analyse the whole plan once more (measured
    # +0.2 s per build at 264 rules)
    keep = f"* EXCEPT ({', '.join(f'`{nm}`' for nm in names)})" if names else "*"
    return staged.select(F.expr(keep), *assemble(refs))


def _add_dq(
    df: DataFrame, suite: RuleSuite, enc_sqls: List[List[str]], name: str
) -> DataFrame:
    return _add_staged(
        df, enc_sqls, lambda refs: [_assemble(suite, refs, True).alias(name)]
    )


def add_data_quality(
    df: DataFrame, suite: RuleSuite, name: str = "DQ"
) -> DataFrame:
    """``df`` plus the nested DQ result column
    (reference: impl/util/AddDataFunctionsImports.scala:21-60), built in
    the staged two-projection shape: the same values as
    ``df.select("*", rule_runner(suite, df))``, from a plan linear in the
    number of rules."""
    return _add_dq(df, suite, _encoded_sqls(suite, df), name)


def add_overall_results_and_details(
    df: DataFrame,
    suite: RuleSuite,
    overall_name: str = "DQ_overallResult",
    details_name: str = "DQ_Details",
) -> DataFrame:
    """Split storage layout: top-level int overall + details struct
    without the suite overall — 30-50% faster post-hoc filtering on
    parquet since the int column predicate pushes down
    (reference: RuleResults.scala:52-57, docs/background/storage_method.md:30)."""

    def build(refs):
        flat = [s for set_refs in refs for s in set_refs]
        return [
            F.expr(
                overall_result_spark_sql(flat, suite.probable_pass)
            ).alias(overall_name),
            _assemble(suite, refs, with_suite_overall=False).alias(
                details_name
            ),
        ]

    return _add_staged(df, _encoded_sqls(suite, df), build)


def add_data_quality_f(suite: RuleSuite, name: str = "DQ"):
    """Curried variant for ``df.transform(...)`` pipelines — the
    reference's addDataQualityF (impl/util/AddDataFunctionsImports.scala)."""
    return lambda df: add_data_quality(df, suite, name)


def add_overall_results_and_details_f(
    suite: RuleSuite,
    overall_name: str = "DQ_overallResult",
    details_name: str = "DQ_Details",
):
    return lambda df: add_overall_results_and_details(df, suite, overall_name, details_name)
