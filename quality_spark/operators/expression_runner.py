"""``expression_runner`` — run arbitrary expressions (incl. aggregates)
of a suite, results encoded to strings + original DDL, or to a uniform
user DDL type.

Reference: impl/ExpressionRunner.scala:21-114; result schema
impl/RuleSparkTypes.scala:29-35. Aggregate rules ride Spark's own
aggregation operators (partial aggregation + shuffle merge exactly like
built-ins); ``map_with`` aggregations become groupBy sub-plans
(see operators/aggregates.py).
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import RuleSuite
from ..plans.compiler import CompiledSuite, RuleCompilationError
from .aggregates import (
    AggSite,
    MapAggSite,
    bloom_agg_bytes,
    map_agg_column,
    rewrite_agg_exprs,
)
from .runner import _lit_packed

__all__ = ["add_expression_runner", "strip_result_ddl"]

_ATOMIC = (
    T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
    T.DoubleType, T.FloatType, T.DecimalType, T.BooleanType, T.DateType,
    T.TimestampType,
)


def _render_sql(sql: str, dtype: T.DataType) -> str:
    """String rendering of a result value: scalars via CAST, complex
    types via to_json (the reference uses yaml; JSON is this engine's
    canonical encoding — yaml helpers live in functions/yamlenc.py)."""
    if isinstance(dtype, _ATOMIC):
        return f"CAST(({sql}) AS STRING)"
    if isinstance(dtype, T.BinaryType):
        return f"base64({sql})"
    return f"to_json({sql})"


def add_expression_runner(
    df: DataFrame,
    suite: RuleSuite,
    name: str = "expressionResults",
    ddl_type: Optional[Union[str, T.DataType]] = None,
    render: str = "json",
) -> DataFrame:
    """df (per-row rules) or a 1-row aggregate frame (aggregate rules)
    with the expressionRunner result struct appended as ``name``."""
    spark = df.sparkSession
    compiled = CompiledSuite(suite)

    rules: List[Tuple] = []  # (rs, r, sql)
    sites: List[AggSite] = []
    for rs, r, sql in compiled.rules:
        sql2, rule_sites = rewrite_agg_exprs(sql, compiled.registry)
        sites.extend(rule_sites)
        rules.append((rs, r, sql2))

    plain_sqls = [s for _, _, s in rules]
    placeholders = {s.placeholder for s in sites}

    # select mode vs aggregate mode, by ONE analysis that also yields
    # the result types. "*" included: a global aggregate would analyze
    # fine alone but fail alongside the pass-through columns
    types: Optional[List[T.DataType]] = None
    if not sites:
        try:
            fields = df.select(
                "*", *[F.expr(s).alias(f"_p{i}") for i, s in enumerate(plain_sqls)]
            ).schema.fields
            types = [f.dataType for f in fields[len(fields) - len(plain_sqls):]]
        except Exception:
            pass

    if types is not None:
        out_cols = [F.expr(s) for s in plain_sqls]
        return df.select(
            "*",
            _assemble_struct(suite, rules, out_cols, types, ddl_type, render).alias(name),
        )

    # aggregate mode: main aggregation over non-placeholder fragments,
    # cross-joined with each map sub-aggregation (all 1-row frames)
    main_exprs: List[Tuple[int, str]] = []
    for i, (_, _, sql) in enumerate(rules):
        stripped = sql.strip()
        if stripped in placeholders:
            continue
        # a placeholder NESTED in a larger expression (e.g.
        # element_at(<lifted map agg>, 'UK')) must evaluate against the
        # cross-joined frame where the placeholder column exists, not
        # df.agg — routing it there fails resolution with a misleading
        # mixed-rules error
        if any(
            re.search(rf"\b{re.escape(p)}\b", sql) for p in placeholders
        ):
            continue
        main_exprs.append((i, sql))

    pieces: List[DataFrame] = []
    if main_exprs:
        try:
            pieces.append(
                df.agg(*[F.expr(s).alias(f"_p{i}") for i, s in main_exprs])
            )
        except Exception as e:
            raise RuleCompilationError(
                f"expression suite {suite.id} mixes per-row and aggregate "
                f"rules, or a rule failed to resolve: {e}"
            ) from e
    else:
        pieces.append(spark.range(1).select(F.lit(1).alias("_one")))
    # bloom sites materialize driver-side (the build runs eagerly and
    # the result is metadata-sized) — fuse them all into ONE local
    # relation: crossJoins between 1-row LOCAL frames cost ~12 s EACH
    # in Spark 4.1 (measured; BroadcastNestedLoopJoin stall), so one
    # fused frame replaces N of them with a single cheap join
    bloom_sites = [s for s in sites if not isinstance(s, MapAggSite)]
    for site in sites:
        if isinstance(site, MapAggSite):
            pieces.append(map_agg_column(df, site))
    if bloom_sites:
        payloads = [bloom_agg_bytes(df, s) for s in bloom_sites]
        pieces.append(
            spark.createDataFrame(
                [tuple(bytearray(p) for p in payloads)],
                schema=", ".join(f"{s.placeholder} binary" for s in bloom_sites),
            )
        )

    joined = pieces[0]
    for p in pieces[1:]:
        joined = joined.crossJoin(p)

    # final per-rule columns: placeholder rules reference the joined cols
    out_cols = []
    for i, (_, _, sql) in enumerate(rules):
        if f"_p{i}" in joined.columns:
            out_cols.append(F.col(f"_p{i}"))
        else:
            out_cols.append(F.expr(sql))
    # ONE batched analysis for all result types — a per-rule
    # joined.select costs a full analysis of the cross-joined plan per
    # rule (the per-rule driver cost runner.py measured in the tens of
    # seconds at large suites). Analysis failures here are the
    # placeholder-mixing case (a rule combining a lifted placeholder
    # with OTHER aggregate fragments evaluates as a plain select over
    # the 1-row joined frame) — surface the guided error, not a bare
    # MISSING_GROUP_BY.
    try:
        types = [
            f.dataType
            for f in joined.select(
                *[c.alias(f"_t{i}") for i, c in enumerate(out_cols)]
            ).schema.fields
        ]
    except Exception as e:
        raise RuleCompilationError(
            f"expression suite {suite.id}: a rule mixing a lifted "
            f"aggregate placeholder with other aggregate fragments in "
            f"one expression cannot be evaluated (wrap the whole rule "
            f"in a single agg_expr/map_with, or split it into separate "
            f"rules): {e}"
        ) from e
    return joined.select(
        _assemble_struct(suite, rules, out_cols, types, ddl_type, render).alias(name)
    )


def _assemble_struct(
    suite: RuleSuite,
    rules: List[Tuple],
    out_cols: List[Column],
    dtypes: List[T.DataType],
    ddl_type: Optional[Union[str, T.DataType]],
    render: str = "json",
) -> Column:
    cast_ddl: Optional[str] = None
    if ddl_type is not None:
        cast_ddl = ddl_type if isinstance(ddl_type, str) else ddl_type.simpleString()
    if render not in ("json", "yaml"):
        raise ValueError(f"render must be 'json' or 'yaml', got {render!r}")

    def value_col(c: Column, dtype: T.DataType) -> Column:
        if cast_ddl:
            return c.cast(cast_ddl)
        if render == "yaml":
            # the reference's yaml-cast rendering (YamlEncoderExpr)
            from ..functions.yamlenc import to_yaml

            rendered = to_yaml(c)
        else:
            rendered = F.expr(_render_sql(_col_sql(c), dtype))
        return F.struct(
            rendered.alias("result"),
            F.lit(dtype.simpleString()).alias("resultDDL"),
        )

    per_set: Dict = {}
    for (rs, r, _), c, t in zip(rules, out_cols, dtypes):
        per_set.setdefault(rs.id, []).append((r, value_col(c, t)))

    set_args: List[Column] = []
    for rs_id, entries in per_set.items():
        rule_map = F.create_map(
            *[x for r, vc in entries for x in (_lit_packed(r.id), vc)]
        )
        set_args.extend([_lit_packed(rs_id), rule_map])
    return F.struct(
        _lit_packed(suite.id).alias("id"),
        F.create_map(*set_args).alias("ruleSetResults"),
    )


from ..expr import sql_of_column as _col_sql  # canonical bridge


def strip_result_ddl(col: Union[Column, str]) -> Column:
    """Drop the resultDDL field from expressionRunner results
    (reference: impl/ExpressionRunner.scala:223-244)."""
    c = _col_sql(col) if isinstance(col, Column) else col
    return F.expr(
        f"named_struct('id', ({c}).id, 'ruleSetResults', "
        f"transform_values(({c}).ruleSetResults, (k, v) -> "
        f"transform_values(v, (k2, v2) -> v2.result)))"
    )
