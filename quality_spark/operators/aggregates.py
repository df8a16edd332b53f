"""``agg_expr`` family — single-pass filtered aggregates with monoidal
sums and a finisher lambda.

Reference: impl/aggregates/ExpressionAggregates.scala:51-260 — a custom
DeclarativeAggregate with buffer (count: LONG, sum: sumType), update
``if(filter) sum = sumWith(sum)``, merge via the type's default monoid
add, finish ``resultsWith(sum, count)``.

Spark-first rebuild: the recognized (documented) update forms compile
to *text rewrites* over built-in aggregates —

- ``sum_with(s -> s + X)``  →  ``coalesce(sum(CASE WHEN f THEN X END), 0)``
- ``inc()`` / ``inc(x)``    →  the same with X = 1 / x
- ``results_with((s, c) -> B)`` → B with s/c substituted by the two
  aggregate SQL fragments (Spark computes both in one pass over the
  grouped data — partial aggregation and merge come free)
- ``map_with(k, e -> e + V)`` → a groupBy(k).sum(V) sub-aggregation
  gathered with map_from_entries(collect_list(…)) — the scale-correct
  equivalent of the reference's map-monoid buffers
  (Transformers.scala:25-173): the per-key partial sums shuffle once,
  never materialising whole maps per row.

Arbitrary non-monoidal update lambdas are rejected with a clear error —
the reference silently merges such buffers with the default monoid add,
so only monoidal updates were ever distributed-correct there either.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..expr import (
    find_calls,
    parse_lambda,
    replace_calls,
    split_top_level,
    substitute_identifiers,
    tokenize,
    untokenize,
)
from ..functions.lambdas import LambdaRegistry, expand_sql

_map_counter = itertools.count()


@dataclass(frozen=True)
class MapAggSite:
    """A ``map_with`` aggregation lifted out for two-stage evaluation."""

    placeholder: str
    key_sql: str
    delta_sql: str
    filter_sql: str
    value_ddl: Optional[str]
    finisher: str  # finisher body with __sum/__count placeholders


@dataclass(frozen=True)
class BloomAggSite:
    """A ``small_bloom``/``big_bloom`` SQL aggregate lifted out for
    two-stage evaluation (reference registers these as
    TypedImperativeAggregates, impl/bloom/Parquet.scala:84-137; here
    they compile to the distributed ``bloom_from``/``big_bloom_from``
    builds and evaluate to the serialized bloom bytes)."""

    placeholder: str
    kind: str  # "small" | "big"
    value_sql: str
    expected_sql: str  # constant-foldable expressions, evaluated driver-side
    fpp_sql: str
    id_sql: Optional[str]  # big_bloom only


def _is_string_literal(text: str) -> bool:
    t = text.strip()
    return len(t) >= 2 and t[0] == "'" and t[-1] == "'"


def _literal_value(text: str) -> str:
    return text.strip()[1:-1]


def _parse_update_delta(param: str, body: str) -> str:
    """Match ``s + X`` / ``X + s`` (monoidal sum update) → X."""
    tokens = tokenize(body)
    parts = split_top_level(tokens, "+")
    if len(parts) == 2:
        left = untokenize(parts[0]).strip()
        right = untokenize(parts[1]).strip()
        for a, b in ((left, right), (right, left)):
            if a == param or a == f"({param})":
                return b
    raise ValueError(
        f"unsupported sum_with update {body!r}: only monoidal "
        "'s -> s + expr' forms distribute correctly (the reference merges "
        "partitions with the type's monoid add regardless of the lambda)"
    )


def _parse_sum_spec(
    text: str, registry: Optional[LambdaRegistry]
) -> Tuple[Optional[str], Optional[str], Optional[Tuple[str, str, Optional[str]]]]:
    """Returns (delta_sql, sum_ddl, map_spec) where map_spec =
    (key_sql, delta_sql, value_ddl)."""
    calls = find_calls(tokenize(text), lambda n: n in ("sum_with", "sumwith", "inc", "map_with", "mapwith", "return_sum", "returnsum"))
    if not calls or calls[0].name_index != 0:
        # allow leading whitespace
        tokens = tokenize(text)
        first = 0
        while first < len(tokens) and tokens[first].kind in ("ws", "comment"):
            first += 1
        if not calls or calls[0].name_index != first:
            raise ValueError(f"unrecognised aggregate sum spec: {text!r}")
    call = calls[0]
    name = call.name.lower()
    args = [a for a in call.args]
    if name in ("sum_with", "sumwith"):
        ddl = None
        if len(args) == 2 and _is_string_literal(args[0]):
            ddl, args = _literal_value(args[0]), args[1:]
        if len(args) != 1:
            raise ValueError(f"sum_with expects a lambda: {text!r}")
        lam = expand_sql(args[0], registry) if registry else args[0]
        params, body = parse_lambda(lam)
        if len(params) != 1:
            raise ValueError(f"sum_with lambda must have 1 parameter: {lam!r}")
        return _parse_update_delta(params[0], body), ddl, None
    if name == "inc":
        if len(args) == 0:
            return "1", None, None
        if len(args) == 1:
            return f"({args[0]})", None, None
        raise ValueError(f"inc expects 0 or 1 arguments: {text!r}")
    if name in ("map_with", "mapwith"):
        if len(args) != 2:
            raise ValueError(f"map_with expects (key, lambda): {text!r}")
        key_sql = args[0]
        lam = expand_sql(args[1], registry) if registry else args[1]
        params, body = parse_lambda(lam)
        if len(params) != 1:
            raise ValueError(f"map_with lambda must have 1 parameter: {lam!r}")
        delta = _parse_update_delta(params[0], body)
        return None, None, (key_sql, delta, None)
    raise ValueError(f"unrecognised aggregate sum spec: {text!r}")


def _parse_result_spec(text: str, registry: Optional[LambdaRegistry]) -> str:
    """Returns finisher body SQL with ``__sum`` / ``__count`` placeholders."""
    tokens = tokenize(text)
    calls = find_calls(
        tokens, lambda n: n in ("results_with", "resultswith", "meanf", "return_sum", "returnsum")
    )
    first = 0
    while first < len(tokens) and tokens[first].kind in ("ws", "comment"):
        first += 1
    if not calls or calls[0].name_index != first:
        raise ValueError(f"unrecognised aggregate result spec: {text!r}")
    call = calls[0]
    name = call.name.lower()
    args = list(call.args)
    if name in ("results_with", "resultswith"):
        if len(args) == 2 and _is_string_literal(args[0]):
            args = args[1:]
        if len(args) != 1:
            raise ValueError(f"results_with expects a lambda: {text!r}")
        lam = expand_sql(args[0], registry) if registry else args[0]
        params, body = parse_lambda(lam)
        if len(params) == 1:
            return substitute_identifiers(body, {params[0]: "__sum"})
        if len(params) == 2:
            return substitute_identifiers(
                body, {params[0]: "__sum", params[1]: "__count"}
            )
        raise ValueError(f"results_with lambda must have 1-2 parameters: {lam!r}")
    if name == "meanf":
        # '/' in Spark SQL is always double division — no ANSI div-by-zero
        return "(__sum / __count)"
    if name in ("return_sum", "returnsum"):
        return "__sum"
    raise ValueError(f"unrecognised aggregate result spec: {text!r}")


def compile_agg_expr(
    args: Tuple[str, ...], registry: Optional[LambdaRegistry] = None
) -> Tuple[Optional[str], Optional[MapAggSite]]:
    """Compile one ``agg_expr([ddl,] filter, sumSpec, resultSpec)`` call.

    Returns (sql, None) for scalar sums or (None, MapAggSite) for
    map_with aggregations (which need a sub-aggregation plan)."""
    args = tuple(args)
    ddl: Optional[str] = None
    if len(args) == 4 and _is_string_literal(args[0]):
        ddl, args = _literal_value(args[0]), args[1:]
    if len(args) != 3:
        raise ValueError(f"agg_expr expects [ddl,] filter, sum, result — got {args!r}")
    filter_sql, sum_text, result_text = args
    if registry is not None:
        filter_sql = expand_sql(filter_sql, registry)
    delta, sum_ddl, map_spec = _parse_sum_spec(sum_text, registry)
    finisher = _parse_result_spec(result_text, registry)
    eff_ddl = sum_ddl or ddl

    count_sql = f"count(CASE WHEN ({filter_sql}) THEN 1 END)"
    if map_spec is None:
        inner = f"CASE WHEN ({filter_sql}) THEN ({delta}) END"
        if eff_ddl:
            sum_sql = (
                f"coalesce(CAST(sum(CAST({inner} AS {eff_ddl})) AS {eff_ddl}), "
                f"CAST(0 AS {eff_ddl}))"
            )
        else:
            sum_sql = f"coalesce(sum({inner}), 0)"
        out = substitute_identifiers(finisher, {"__sum": sum_sql, "__count": count_sql})
        return f"({out})", None

    key_sql, mdelta, _ = map_spec
    value_ddl = None
    if eff_ddl and eff_ddl.upper().replace(" ", "").startswith("MAP<"):
        # MAP<K,V> — value type is the part after the top-level comma
        inner_t = eff_ddl.strip()[4:-1]
        parts = split_top_level(tokenize(inner_t))
        if len(parts) == 2:
            value_ddl = untokenize(parts[1]).strip()
    site = MapAggSite(
        placeholder=f"__qmap{next(_map_counter)}",
        key_sql=key_sql,
        delta_sql=mdelta,
        filter_sql=filter_sql,
        value_ddl=value_ddl,
        finisher=finisher,
    )
    return None, site


def compile_bloom_agg(name: str, args: Tuple[str, ...]) -> BloomAggSite:
    """``small_bloom(value, n, fpp)`` / ``big_bloom(value, n, fpp[, id])``
    → a lifted aggregation site. n/fpp must be constant-foldable
    (the reference eval()s them driver-side too, Parquet.scala:108-117)."""
    kind = "small" if name in ("small_bloom", "smallbloom") else "big"
    if kind == "small" and len(args) != 3:
        raise ValueError(
            f"small_bloom expects (value, expectedRows, fpp) — got {args!r}"
        )
    if kind == "big" and len(args) not in (3, 4):
        raise ValueError(
            f"big_bloom expects (value, expectedRows, fpp[, id]) — got {args!r}"
        )
    return BloomAggSite(
        placeholder=f"__qbloom{next(_map_counter)}",
        kind=kind,
        value_sql=args[0],
        expected_sql=args[1],
        fpp_sql=args[2],
        id_sql=args[3] if len(args) == 4 else None,
    )


AggSite = Union["MapAggSite", "BloomAggSite"]

_BLOOM_AGG_NAMES = ("small_bloom", "smallbloom", "big_bloom", "bigbloom")


def rewrite_agg_exprs(
    sql: str, registry: Optional[LambdaRegistry] = None
) -> Tuple[str, List[AggSite]]:
    """Replace every ``agg_expr(…)`` / ``small_bloom(…)`` /
    ``big_bloom(…)`` call in ``sql`` with compiled aggregate SQL
    (scalar forms) or a placeholder column reference (lifted forms,
    returned for two-stage planning)."""
    sites: List[AggSite] = []

    def expander(name: str, args: Tuple[str, ...]) -> Optional[str]:
        if name in _BLOOM_AGG_NAMES:
            site = compile_bloom_agg(name, args)
            sites.append(site)
            return site.placeholder
        if name not in ("agg_expr", "aggexpr"):
            return None
        scalar, site = compile_agg_expr(args, registry)
        if scalar is not None:
            return scalar
        assert site is not None
        sites.append(site)
        return site.placeholder

    return replace_calls(sql, expander), sites


def map_agg_column(df: DataFrame, site: MapAggSite) -> DataFrame:
    """Two-stage map aggregation: shuffle partial sums by key, then
    gather into one map — 1-row DataFrame with column
    ``site.placeholder``."""
    delta = F.expr(site.delta_sql)
    if site.value_ddl:
        delta = delta.cast(site.value_ddl)
    per_key = (
        df.filter(F.expr(site.filter_sql))
        .groupBy(F.expr(site.key_sql).alias("__k"))
        .agg(F.sum(delta).alias("__v"), F.count(F.lit(1)).alias("__n"))
    )
    if site.value_ddl:
        per_key = per_key.select(
            "__k", F.col("__v").cast(site.value_ddl).alias("__v"), "__n"
        )
    gathered = per_key.agg(
        # NULL keys cannot enter a Spark map (map_from_entries raises);
        # drop the NULL-key GROUP from the map while keeping its rows in
        # the filter-hit count — collect_list skips the NULL entries the
        # CASE produces
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.expr("CASE WHEN __k IS NOT NULL THEN struct(__k, __v) END")
                )
            )
        ).alias("__m"),
        F.coalesce(F.sum("__n"), F.lit(0)).alias("__c"),  # filter-hit count
    )
    out_sql = substitute_identifiers(site.finisher, {"__sum": "__m", "__count": "__c"})
    return gathered.select(F.expr(out_sql).alias(site.placeholder))


def bloom_agg_bytes(df: DataFrame, site: BloomAggSite) -> bytes:
    """Distributed bloom build for one lifted site → the serialized
    bloom bytes (driver-side). Small blooms build via per-partition
    numpy bitsets OR-merged on the driver (metadata-sized); big blooms
    write bucket files from executors and the value is only the
    file-root handle — nothing corpus-sized ever reaches the driver or
    the plan."""
    from ..sources.lookups import bloom_from, serialize_big_bloom, serialize_bloom

    spark = df.sparkSession
    params = spark.range(1).select(
        F.expr(site.expected_sql).cast("long").alias("n"),
        F.expr(site.fpp_sql).cast("double").alias("p"),
    ).head()
    expected, fpp = int(params["n"]), float(params["p"])
    if site.kind == "small":
        data = serialize_bloom(bloom_from(df, site.value_sql, expected, fpp))
    else:
        import os
        import uuid

        from ..sources.bigbloom import big_bloom_from, bloom_file_location

        if site.id_sql is not None:
            bloom_id = str(
                spark.range(1).select(F.expr(site.id_sql).cast("string")).head()[0]
            )
        else:
            bloom_id = uuid.uuid4().hex
        root = os.path.join(bloom_file_location(), bloom_id)
        data = serialize_big_bloom(
            big_bloom_from(df, site.value_sql, expected, root, fpp)
        )
    return data
