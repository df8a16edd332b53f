"""``rule_engine_runner`` — rules as triggers; the lowest-salience
passing rule's output expression produces the result.

Reference: impl/RuleEngineRunner.scala:41-186 (custom codegen tracking
currentSalience/currentOutputIndex). Spark-first equivalent: a
salience-ordered ``CASE WHEN trigger …`` chain — Catalyst short-circuits
evaluation, dedups shared trigger/output subexpressions, and the whole
thing stays inside whole-stage codegen. Pure narrow projection: no
shuffle, streaming-safe. The salience-ordered steps (trigger encoding
plus expanded output) come from ``plans/compiler.py:CompiledSuite``,
typed against the frame the column is selected on; the result, debug
mode's array included, is built as SQL text.

Each trigger appears three times (the ``ruleSuiteResults`` struct, the
salient-rule CASE and the result CASE). Triggers are not staged into
columns first, as the runner's ``add_*`` helpers do: staging the engine
and the folder through ``runner._add_staged`` was measured slower on
the ``suite_compile`` benchmark (264 rules, 4 cores, local[4]):
``first_action`` 1.0-1.4 s slower in 3 of 3 parent/change run pairs.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import PASSED_INT, RuleSuite, pack_id
from ..plans.compiler import CompiledSuite
from ..plans.outputs import PlainOutput
from .runner import _assemble

__all__ = ["rule_engine_runner", "add_rule_engine", "add_rule_engine_f", "rule_engine_with_struct"]


def rule_engine_runner(
    suite: RuleSuite,
    df: DataFrame,
    result_ddl: Optional[Union[str, T.DataType]] = None,
    debug_mode: bool = False,
) -> Column:
    """Column of STRUCT<ruleSuiteResults, salientRule, result>, to be
    selected on ``df`` (reference schema:
    impl/RuleEngineRunner.scala:395-399; debugMode wraps result in
    ARRAY<STRUCT<salience INT, result T>>, :44-50)."""
    compiled = CompiledSuite(suite)
    enc_by_set = compiled.encode(df)
    dq = _assemble(suite, enc_by_set, with_suite_overall=True)
    steps = compiled.steps(enc_by_set)
    for st in steps:
        if not isinstance(st.output, PlainOutput):
            raise ValueError(
                "rule-engine outputs must be plain expressions (set()/lambda "
                f"outputs belong to the folder runner): "
                f"{st.rule.run_on_pass.output.rule!r}"
            )

    cast_ddl: Optional[str] = None
    if result_ddl is not None:
        cast_ddl = (
            result_ddl if isinstance(result_ddl, str) else result_ddl.simpleString()
        )

    def cast_out(sql: str) -> str:
        return f"CAST({sql} AS {cast_ddl})" if cast_ddl else sql

    # salient rule id triple — first (lowest salience) passing trigger.
    # Assembled for debug mode too: the reference's debugMode changes
    # only the RESULT shape (array of (salience, result)), never the
    # salient triple (SURVEY §3.2).
    triple_type = "STRUCT<ruleSuiteId: BIGINT, ruleSetId: BIGINT, ruleId: BIGINT>"
    salient: Column = F.expr(f"CAST(NULL AS {triple_type})")
    if steps:
        sal_arms_all = [
            f"WHEN ({st.trigger}) = {PASSED_INT} THEN named_struct("
            f"'ruleSuiteId', CAST({pack_id(suite.id)} AS BIGINT), "
            f"'ruleSetId', CAST({pack_id(st.rule_set.id)} AS BIGINT), "
            f"'ruleId', CAST({pack_id(st.rule.id)} AS BIGINT))"
            for st in steps
        ]
        salient = F.expr(
            f"CASE {' '.join(sal_arms_all)} ELSE CAST(NULL AS {triple_type}) END"
        )
    # one flat CASE (one array in debug mode) built as SQL text —
    # Column-object when-chains cost a py4j round trip per rule (~20 s
    # of driver time at 1000 rules, measured for the runner); a flat
    # CASE parses linearly and short-circuits in codegen exactly the same
    result: Column
    if debug_mode:
        # each output is guarded by ITS OWN trigger, exactly like the
        # flat CASE in normal mode: an output expression that is only
        # safe when its trigger passed (x div y with trigger y != 0)
        # must not be eagerly evaluated on every row just because
        # debug mode materializes all entries pre-filter — under ANSI
        # mode that would crash a suite that runs clean in production
        entries = [
            f"named_struct('salience', CAST({st.salience} AS INT), "
            f"'_passed', ({st.trigger}) = {PASSED_INT}, "
            f"'result', CASE WHEN ({st.trigger}) = {PASSED_INT} "
            f"THEN {cast_out(f'({st.output.sql})')} END)"
            for st in steps
        ]
        if entries:
            result = F.expr(
                f"transform(filter(array({', '.join(entries)}), "
                "__qs_e -> __qs_e._passed), __qs_e -> named_struct("
                "'salience', __qs_e.salience, 'result', __qs_e.result))"
            )
        else:
            result = F.lit(None).cast(
                f"array<struct<salience:int,result:{cast_ddl or 'string'}>>"
            )
    elif not steps:
        result = F.lit(None).cast(cast_ddl) if cast_ddl else F.lit(None)
    else:
        res_arms = [
            f"WHEN ({st.trigger}) = {PASSED_INT} THEN {cast_out(f'({st.output.sql})')}"
            for st in steps
        ]
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
        "*", rule_engine_runner(suite, df, result_ddl, debug_mode).alias(name)
    )


# alias matching the reference naming
rule_engine_with_struct = add_rule_engine


def add_rule_engine_f(suite, result_ddl=None, name="ruleEngine", debug_mode=False):
    """Curried variant for ``df.transform(...)`` pipelines."""
    return lambda df: add_rule_engine(df, suite, result_ddl, name, debug_mode)
