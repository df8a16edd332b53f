"""``rule_folder_runner`` — salience-ordered fold: every passing rule's
output lambda transforms a running struct.

Reference: impl/RuleFolderRunner.scala:43-181, interpreted fold
impl/RuleImpl.scala:496-575. Spark-first design: the fold is compiled
into ONE ``aggregate()`` higher-order function over the step indices,
so each step's output SQL appears once in the plan (twice in debug
mode) and its trigger three times: in the ``ruleSuiteResults`` struct,
in the fold's CASE and in the ``any_passed`` guard. Text stays linear in the number of rules
(a naive nested CASE-WHEN rewrite would double the accumulator
expression per step). Narrow projection; no shuffle; streaming-safe.

The salience-ordered steps (trigger encoding plus expanded, parsed
output) come from ``plans/compiler.py:CompiledSuite``, typed against
the frame the column is selected on, which also fixes the accumulator
type when ``use_type`` is not given.

Not staged like the runner's ``add_*`` helpers (rule expressions
projected into columns first): staging the engine and the folder
through ``runner._add_staged`` was measured slower on the
``suite_compile`` benchmark (264 rules, 4 cores, local[4]):
``first_action`` 1.0-1.4 s slower in 3 of 3 parent/change run pairs.
"""

from __future__ import annotations

from typing import List, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..expr import sql_of_column, substitute_identifiers
from ..model import PASSED_INT, RuleSuite
from ..plans.compiler import CompiledSuite
from ..plans.outputs import output_step_sql
from .runner import _assemble

__all__ = ["rule_folder_runner", "add_folder", "fold_and_replace_fields"]


def rule_folder_runner(
    suite: RuleSuite,
    starting_struct: Union[Column, str],
    df: DataFrame,
    debug_mode: bool = False,
    use_type: Optional[Union[str, T.DataType]] = None,
) -> Column:
    """Column of STRUCT<ruleSuiteResults, result: T>, to be selected on
    ``df``, where T is the starting struct's type (``use_type``, else
    probed on ``df``; debugMode → ARRAY<STRUCT<salience, result>>;
    reference schema impl/RuleFolderRunner.scala:95-98).

    ``starting_struct`` may be a Column (e.g. ``F.struct('a', 'b')``) or
    SQL text. Outputs are ``currentResult -> …`` lambdas or
    ``set(field = expr, …)`` sugar."""
    start_sql = (
        starting_struct if isinstance(starting_struct, str) else sql_of_column(starting_struct)
    )
    if use_type is not None:
        schema = T._parse_datatype_string(use_type) if isinstance(use_type, str) else use_type
        if not isinstance(schema, T.StructType):
            raise ValueError("use_type must be a struct type")
    else:
        schema = df.select(F.expr(start_sql).alias("_s")).schema.fields[0].dataType
        if not isinstance(schema, T.StructType):
            raise ValueError("starting_struct must evaluate to a struct")
    ddl = schema.simpleString()

    compiled = CompiledSuite(suite)
    enc_by_set = compiled.encode(df)
    dq = _assemble(suite, enc_by_set, with_suite_overall=True)
    # (salience, trigger_enc, out(acc) sql); the "__qacc" placeholder is
    # identifier-substituted below — a plain str.replace would corrupt
    # identifiers that merely contain it
    steps = [
        (st.salience, st.trigger, output_step_sql(st.output, "__qacc", schema))
        for st in compiled.steps(enc_by_set)
    ]
    start_cast = f"CAST(({start_sql}) AS {ddl})"

    if not steps:
        result_sql = "NULL" if not debug_mode else "array()"
    elif debug_mode:
        # acc: STRUCT<cur: T, arr: ARRAY<STRUCT<salience INT, result T>>>
        def _dbg_step(out: str) -> str:
            return substitute_identifiers(out, {"__qacc": "__qs_fold_acc.cur"})

        body = " ".join(
            f"WHEN __qs_fold_i = {idx} AND ({enc}) = {PASSED_INT} THEN "
            f"named_struct('cur', {_dbg_step(out)}, "
            f"'arr', array_append(__qs_fold_acc.arr, named_struct('salience', CAST({sal} AS INT), "
            f"'result', {_dbg_step(out)})))"
            for idx, (sal, enc, out) in enumerate(steps)
        )
        zero = (
            f"named_struct('cur', {start_cast}, "
            f"'arr', CAST(array() AS ARRAY<STRUCT<salience: INT, result: {ddl}>>))"
        )
        result_sql = (
            f"aggregate(sequence(0, {len(steps) - 1}), {zero}, "
            f"(__qs_fold_acc, __qs_fold_i) -> CASE {body} ELSE __qs_fold_acc END).arr"
        )
    else:
        body = " ".join(
            f"WHEN __qs_fold_i = {idx} AND ({enc}) = {PASSED_INT} THEN "
            + substitute_identifiers(out, {"__qacc": "__qs_fold_acc"})
            for idx, (sal, enc, out) in enumerate(steps)
        )
        any_passed = " OR ".join(f"({enc}) = {PASSED_INT}" for _, enc, _ in steps)
        folded = (
            f"aggregate(sequence(0, {len(steps) - 1}), {start_cast}, "
            f"(__qs_fold_acc, __qs_fold_i) -> CASE {body} ELSE __qs_fold_acc END)"
        )
        # reference returns NULL when no rule passed (RuleImpl.scala:560-566)
        result_sql = f"(CASE WHEN {any_passed} THEN {folded} ELSE NULL END)"

    return F.struct(
        dq.alias("ruleSuiteResults"), F.expr(result_sql).alias("result")
    )


def add_folder(
    df: DataFrame,
    suite: RuleSuite,
    starting_struct: Union[Column, str],
    name: str = "foldedFields",
    debug_mode: bool = False,
    use_type: Optional[Union[str, T.DataType]] = None,
) -> DataFrame:
    return df.select(
        "*",
        rule_folder_runner(suite, starting_struct, df, debug_mode, use_type).alias(name),
    )


def fold_and_replace_fields(
    df: DataFrame,
    suite: RuleSuite,
    fields: List[str],
    dq_name: str = "foldedFields",
    keep_dq: bool = True,
) -> DataFrame:
    """Run the folder over ``struct(fields…)`` and write the folded
    values back into the original columns, preserving column order
    (reference: impl/util/AddDataFunctionsImports.scala foldAndReplaceFields,
    impl/util/transformers.scala:23-67)."""
    start = F.struct(*[F.col(f) for f in fields])
    folded = rule_folder_runner(suite, start, df)
    with_fold = df.select("*", folded.alias(dq_name))
    # row-level null check: result is NULL iff no rule passed — then the
    # original values stay (a passing rule may still set a field to NULL)
    has_result = F.col(f"{dq_name}.result").isNotNull()
    cols: List[Column] = []
    for c in df.columns:
        if c in fields:
            cols.append(
                F.when(has_result, F.col(f"{dq_name}.result.{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            cols.append(F.col(c))
    if keep_dq:
        cols.append(F.col(dq_name))
    return with_fold.select(*cols)


def add_folder_f(suite, starting_struct, name="foldedFields", debug_mode=False, use_type=None):
    """Curried variant for ``df.transform(...)`` pipelines."""
    return lambda df: add_folder(df, suite, starting_struct, name, debug_mode, use_type)
