"""``rule_engine_runner`` — rules as triggers; the lowest-salience
passing rule's output expression produces the result.

Reference: impl/RuleEngineRunner.scala:41-186 (custom codegen tracking
currentSalience/currentOutputIndex). Spark-first equivalent: a
salience-ordered ``CASE WHEN trigger …`` chain — Catalyst short-circuits
evaluation, dedups shared trigger/output subexpressions, and the whole
thing stays inside whole-stage codegen. Pure narrow projection: no
shuffle, streaming-safe.

Each trigger appears three times (the ``ruleSuiteResults`` struct, the
salient-rule CASE and the result CASE). Triggers are not staged into
columns first, as the runner's ``add_*`` helpers do: staging the engine
and the folder through ``runner._add_staged`` was measured slower on
the ``suite_compile`` benchmark (264 rules, 4 cores, local[4]):
``first_action`` 1.0-1.4 s slower in 3 of 3 parent/change run pairs.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import PASSED_INT, DEFAULT_SALIENCE, Rule, RuleSet, RuleSuite, pack_id
from ..plans.compiler import registry_for
from ..plans.outputs import parse_output
from ..functions.lambdas import expand_sql
from .runner import _assemble

__all__ = ["rule_engine_runner", "add_rule_engine", "add_rule_engine_f", "rule_engine_with_struct"]


# single source of truth for rule encoding — the engine/folder trigger
# path encodes exactly like the runner
from .runner import _encoded_sqls as _trigger_encs  # noqa: E402


def _salience_ordered(
    suite: RuleSuite, enc_by_set: Sequence[Sequence[str]]
) -> List[Tuple[RuleSet, Rule, str, int]]:
    """(ruleSet, rule, trigger_enc_sql, salience) sorted by salience,
    stable in declaration order (reference uses strict '<' while
    scanning in order — first wins on ties, same as a stable sort)."""
    rows: List[Tuple[RuleSet, Rule, str, int]] = []
    for rs, encs in zip(suite.rule_sets, enc_by_set):
        for r, enc in zip(rs.rules, encs):
            sal = r.run_on_pass.salience if r.run_on_pass else DEFAULT_SALIENCE
            rows.append((rs, r, enc, sal))
    return sorted(rows, key=lambda x: x[3])


def _output_sql(suite: RuleSuite, rule: Rule, reg=None) -> str:
    from ..plans.outputs import PlainOutput

    if rule.run_on_pass is None or rule.run_on_pass.output is None:
        raise ValueError(
            f"rule {rule.id} has no output expression; every rule of a "
            "rule-engine suite needs a RunOnPassProcessor"
        )
    if reg is None:
        reg = registry_for(suite)
    text = expand_sql(rule.run_on_pass.output.rule, reg)
    out = parse_output(text)
    if not isinstance(out, PlainOutput):
        raise ValueError(
            "rule-engine outputs must be plain expressions (set()/lambda "
            f"outputs belong to the folder runner): {text!r}"
        )
    return f"({text})"


def rule_engine_runner(
    suite: RuleSuite,
    result_ddl: Optional[Union[str, T.DataType]] = None,
    df: Optional[DataFrame] = None,
    debug_mode: bool = False,
) -> Column:
    """Column of STRUCT<ruleSuiteResults, salientRule, result>
    (reference schema: impl/RuleEngineRunner.scala:395-399; debugMode
    wraps result in ARRAY<STRUCT<salience INT, result T>>,
    :44-50)."""
    enc_by_set = _trigger_encs(suite, df)
    dq = _assemble(suite, enc_by_set, with_suite_overall=True)

    ordered = _salience_ordered(suite, enc_by_set)
    # registry built ONCE: registry_for re-parses every lambda of the
    # suite, so calling it per rule is rules x lambdas redundant parses
    reg = registry_for(suite)
    out_sqls = [_output_sql(suite, r, reg) for _, r, _, _ in ordered]

    cast_ddl: Optional[str] = None
    if result_ddl is not None:
        cast_ddl = (
            result_ddl if isinstance(result_ddl, str) else result_ddl.simpleString()
        )

    def out_col(sql: str) -> Column:
        c = F.expr(sql)
        return c.cast(cast_ddl) if cast_ddl else c

    # salient rule id triple — first (lowest salience) passing trigger.
    # Assembled for debug mode too: the reference's debugMode changes
    # only the RESULT shape (array of (salience, result)), never the
    # salient triple (SURVEY §3.2).
    triple_type = "STRUCT<ruleSuiteId: BIGINT, ruleSetId: BIGINT, ruleId: BIGINT>"
    salient: Column = F.expr(f"CAST(NULL AS {triple_type})")
    if ordered:
        sal_arms_all = [
            f"WHEN ({enc}) = {PASSED_INT} THEN named_struct("
            f"'ruleSuiteId', CAST({pack_id(suite.id)} AS BIGINT), "
            f"'ruleSetId', CAST({pack_id(rs.id)} AS BIGINT), "
            f"'ruleId', CAST({pack_id(r.id)} AS BIGINT))"
            for (rs, r, enc, sal) in ordered
        ]
        salient = F.expr(
            f"CASE {' '.join(sal_arms_all)} ELSE CAST(NULL AS {triple_type}) END"
        )
    result: Column
    if debug_mode:
        triggers = [F.expr(enc) == PASSED_INT for _, _, enc, _ in ordered]
        # each output is guarded by ITS OWN trigger, exactly like the
        # flat CASE in normal mode: an output expression that is only
        # safe when its trigger passed (x div y with trigger y != 0)
        # must not be eagerly evaluated on every row just because
        # debug mode materializes all entries pre-filter — under ANSI
        # mode that would crash a suite that runs clean in production
        entries = [
            F.struct(
                F.lit(sal).cast("int").alias("salience"),
                trig.alias("_passed"),
                F.when(trig, out_col(sql)).alias("result"),
            )
            for (rs, r, enc, sal), trig, sql in zip(ordered, triggers, out_sqls)
        ]
        if entries:
            arr = F.filter(F.array(*entries), lambda e: e["_passed"])
            result = F.transform(
                arr, lambda e: F.struct(e["salience"].alias("salience"), e["result"].alias("result"))
            )
        else:
            result = F.lit(None).cast(
                f"array<struct<salience:int,result:{cast_ddl or 'string'}>>"
            )
    elif not ordered:
        result = F.lit(None).cast(cast_ddl) if cast_ddl else F.lit(None)
    else:
        # one flat CASE built as SQL text — Column-object when-chains
        # cost a py4j round trip per rule (~20 s of driver time at 1000
        # rules, measured for the runner, runner.py:67-73); a flat CASE
        # parses linearly and short-circuits in codegen exactly the same
        def cast_out(sql: str) -> str:
            return f"CAST({sql} AS {cast_ddl})" if cast_ddl else sql

        res_arms = []
        for (rs, r, enc, sal), out_sql in zip(ordered, out_sqls):
            res_arms.append(f"WHEN ({enc}) = {PASSED_INT} THEN {cast_out(out_sql)}")
        else_res = f" ELSE CAST(NULL AS {cast_ddl})" if cast_ddl else ""
        result = F.expr(f"CASE {' '.join(res_arms)}{else_res} END")

    return F.struct(
        dq.alias("ruleSuiteResults"),
        salient.alias("salientRule"),
        result.alias("result"),
    )


def add_rule_engine(
    df: DataFrame,
    suite: RuleSuite,
    result_ddl: Optional[Union[str, T.DataType]] = None,
    name: str = "ruleEngine",
    debug_mode: bool = False,
) -> DataFrame:
    """df plus the rule-engine result column
    (reference: impl/util/AddDataFunctionsImports.scala ruleEngineWithStruct)."""
    return df.select(
        "*", rule_engine_runner(suite, result_ddl, df, debug_mode).alias(name)
    )


# alias matching the reference naming
rule_engine_with_struct = add_rule_engine


def add_rule_engine_f(suite, result_ddl=None, name="ruleEngine", debug_mode=False):
    """Curried variant for ``df.transform(...)`` pipelines."""
    return lambda df: add_rule_engine(df, suite, result_ddl, name, debug_mode)
