"""``rule_runner`` — evaluate every rule of a suite per row into one
nested DQ result column.

Reference behavior: impl/RuleRunner.scala:58-189 (custom codegen’d
expression); here the same result is declared as a
``named_struct``/``map`` tree over per-rule encoded expressions, so
Catalyst plans/codegens it like any user query. Every builder takes the
frame its result is selected on: ``plans/compiler.py:CompiledSuite``
types each rule there and picks its result encoding. ``rule_runner``
returns that tree as one Column; the ``add_*`` helpers build it in two
projections (``_add_staged``) so each rule expression appears once. At
scale this is a pure narrow map — no shuffle, no UDF, fully
pushdown/AQE-friendly.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..expr import quote_identifier
from ..model import RuleSuite, pack_id
from ..plans.compiler import CompiledSuite
from ..results import overall_result_sql

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
        set_overall = overall_result_sql(list(enc_sqls), suite.probable_pass)
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
            f"'overallResult', {overall_result_sql(all_sqls, suite.probable_pass)}"
        )
    fields.append(f"'ruleSetResults', {sets_map}")
    return F.expr(f"named_struct({', '.join(fields)})")


def rule_runner(suite: RuleSuite, df: DataFrame) -> Column:
    """Column producing ``ruleSuiteResultType``
    (STRUCT<id BIGINT, overallResult INT, ruleSetResults MAP<…>>), to
    be selected on ``df``: each rule's result encoding follows its type
    there. Reference entry: impl/imports/RuleRunnerImports.scala:24.
    """
    return _assemble(suite, CompiledSuite(suite).encode(df), with_suite_overall=True)


def rule_runner_details(suite: RuleSuite, df: DataFrame) -> Column:
    """Details variant — no suite-level overallResult field
    (reference: impl/RuleSparkTypes.scala:26)."""
    return _assemble(suite, CompiledSuite(suite).encode(df), with_suite_overall=False)


def _fresh_names(taken: Sequence[str], wanted: Sequence[str]) -> List[str]:
    """Staging column names: each ``wanted`` name, suffixed with ``_``
    until it collides with no name in ``taken`` and no earlier pick.
    Compared lower-cased: Spark resolves names case-insensitively by
    default."""
    used = {c.lower() for c in taken}
    out = []
    for nm in wanted:
        while nm.lower() in used:
            nm += "_"
        used.add(nm.lower())
        out.append(nm)
    return out


def add_flat_rule_results(
    df: DataFrame, suite: RuleSuite, keep: Optional[Sequence[str]] = None
) -> DataFrame:
    """``keep`` columns + one flat row per (input row, rule): the rows
    of ``explode(flatten_results(rule_runner(...)))`` built directly
    from the per-rule encoded expressions (no intermediate maps, no
    higher-order functions), staged so each rule expression evaluates
    ONCE into a real column before the struct array is built. Inlining
    the encoded expressions into all N structs (each of which also
    embeds the overall folds) makes the generator's child evaluate
    ~N^2 rule expressions per row; staging keeps it at N. Use the
    generic ``flatten_results`` macro for DQ structs read back from
    storage. ``keep`` names are literal top-level column names."""
    keep_names = [quote_identifier(c) for c in (keep if keep is not None else df.columns)]
    keep_cols = [F.col(c) for c in keep_names]
    staged, refs = _stage(df, CompiledSuite(suite).encode(df), keep_names)
    enc_cols = [nm for set_refs in refs for nm in set_refs]
    ovs, flat_col, *set_ovs = _fresh_names(
        [*df.columns, *enc_cols],
        ["__qs_ovs", "__qs_flat"] + [f"__qs_ov{si}" for si in range(len(refs))],
    )
    # stage the overalls as columns as well: structs made purely of
    # column references explode at generator speed, while embedding the
    # fold CASEs in all N structs re-evaluates them N times per row
    staged = staged.select(
        "*",
        F.expr(overall_result_sql(enc_cols, suite.probable_pass)).alias(ovs),
        *[
            F.expr(overall_result_sql(cols, suite.probable_pass)).alias(so)
            for cols, so in zip(refs, set_ovs)
        ],
    )
    structs = [
        "named_struct("
        f"'ruleSuiteId', {suite.id.id}, 'ruleSuiteVersion', {suite.id.version}, "
        f"'ruleSuiteResult', {ovs}, 'ruleSetResult', {so}, "
        f"'ruleSetId', {rs.id.id}, 'ruleSetVersion', {rs.id.version}, "
        f"'ruleId', {r.id.id}, 'ruleVersion', {r.id.version}, "
        f"'ruleResult', {enc_col})"
        for rs, cols, so in zip(suite.rule_sets, refs, set_ovs)
        for r, enc_col in zip(rs.rules, cols)
    ]
    arr = "array(" + ", ".join(structs) + ")"
    exploded = staged.select(*keep_cols, F.explode(F.expr(arr)).alias(flat_col))
    return exploded.select(*keep_cols, f"{flat_col}.*")


def _stage(
    df: DataFrame, enc_sqls: List[List[str]], keep: Sequence[str]
) -> Tuple[DataFrame, List[List[str]]]:
    """``keep`` plus every encoded rule expression projected into a real
    INT column, and per set the names of those columns."""
    flat = [s for ss in enc_sqls for s in ss]
    names = _fresh_names(df.columns, [f"__qs_enc{i}" for i in range(len(flat))])
    # ONE selectExpr call instead of a py4j F.expr/cast/alias round
    # trip per rule — at 1000 rules that is ~3000 saved JVM calls
    # (measured: the staging projection built 3x faster, identical
    # schema/plan). The encoded SQL is embeddable text by the same
    # invariant _assemble's single-string build already relies on.
    staged = df.selectExpr(
        *keep, *[f"CAST(({s}) AS INT) AS `{nm}`" for s, nm in zip(flat, names)]
    )
    refs: List[List[str]] = []
    for ss in enc_sqls:
        refs.append(names[: len(ss)])
        names = names[len(ss) :]
    return staged, refs


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
    staged, refs = _stage(df, enc_sqls, ["*"])
    names = [nm for set_refs in refs for nm in set_refs]
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
    return _add_dq(df, suite, CompiledSuite(suite).encode(df), name)


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
                overall_result_sql(flat, suite.probable_pass)
            ).alias(overall_name),
            _assemble(suite, refs, with_suite_overall=False).alias(
                details_name
            ),
        ]

    return _add_staged(df, CompiledSuite(suite).encode(df), build)


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
