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

Not staged like the runner's ``add_*`` helpers (rule expressions
projected into columns first): staging the engine and the folder
through ``runner._add_staged`` was measured slower on the
``suite_compile`` benchmark (264 rules, 4 cores, local[4]):
``first_action`` 1.0-1.4 s slower in 3 of 3 parent/change run pairs.
"""

from __future__ import annotations

from typing import List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.lambdas import expand_sql
from ..model import PASSED_INT, RuleSuite
from ..plans.compiler import registry_for
from ..plans.outputs import output_step_sql, parse_output
from .engine import _salience_ordered, _trigger_encs
from .runner import _assemble

__all__ = ["rule_folder_runner", "add_folder", "fold_and_replace_fields"]


from ..expr import sql_of_column as _sql_of_column  # canonical bridge


def rule_folder_runner(
    suite: RuleSuite,
    starting_struct: Union[Column, str],
    df: Optional[DataFrame] = None,
    debug_mode: bool = False,
    use_type: Optional[Union[str, T.DataType]] = None,
) -> Column:
    """Column of STRUCT<ruleSuiteResults, result: T> where T is the
    starting struct's type (debugMode → ARRAY<STRUCT<salience, result>>;
    reference schema impl/RuleFolderRunner.scala:95-98).

    ``starting_struct`` may be a Column (e.g. ``F.struct('a', 'b')``) or
    SQL text. Outputs are ``currentResult -> …`` lambdas or
    ``set(field = expr, …)`` sugar."""
    start_sql = (
        starting_struct if isinstance(starting_struct, str) else _sql_of_column(starting_struct)
    )

    # accumulator schema: explicit use_type, else probed from df
    schema: Optional[T.StructType] = None
    ddl: Optional[str] = None
    if use_type is not None:
        dt = T._parse_datatype_string(use_type) if isinstance(use_type, str) else use_type
        if not isinstance(dt, T.StructType):
            raise ValueError("use_type must be a struct type")
        schema, ddl = dt, dt.simpleString()
    elif df is not None:
        probed = df.select(F.expr(start_sql).alias("_s")).schema.fields[0].dataType
        if not isinstance(probed, T.StructType):
            raise ValueError("starting_struct must evaluate to a struct")
        schema, ddl = probed, probed.simpleString()
    elif debug_mode:
        # the debug zero interpolates the accumulator DDL into a CAST;
        # without it the SQL would contain the literal text 'None' and
        # die in the parser with no hint at the real cause
        raise ValueError(
            "debug_mode needs the accumulator type: pass df= (to probe "
            "it from starting_struct) or use_type="
        )

    enc_by_set = _trigger_encs(suite, df)
    dq = _assemble(suite, enc_by_set, with_suite_overall=True)

    ordered = _salience_ordered(suite, enc_by_set)
    reg = registry_for(suite)
    steps: List[Tuple[int, str, str]] = []  # (salience, trigger_enc, out(acc) sql)
    for rs, r, enc, sal in ordered:
        if r.run_on_pass is None or r.run_on_pass.output is None:
            raise ValueError(f"folder rule {r.id} has no output expression")
        text = expand_sql(r.run_on_pass.output.rule, reg)
        out = parse_output(text)
        # "__qacc" placeholder is identifier-substituted below — a plain
        # str.replace would corrupt identifiers that merely contain it
        steps.append((sal, enc, output_step_sql(out, "__qacc", schema)))

    start_cast = f"CAST(({start_sql}) AS {ddl})" if ddl else f"({start_sql})"

    from ..expr import substitute_identifiers

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
