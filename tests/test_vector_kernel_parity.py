"""One Spark path per vector kernel, checked against its SQL spec.

For each kernel — LSH signature, IVF cell, JL projection, PQ code and
the default-weight classifier margin — three things must agree row for
row: the public Spark function (the numpy kernel behind an Arrow UDF),
``F.expr`` of the kernel's Spark SQL generator, and the DuckDB text
the oracles are built from. The inputs are the edge cases: a NULL
vector, short, long and empty rows, a NULL element, a NaN element, ±Inf
elements (alone and together), and exact ties (for the classifier:
NULL, empty and whitespace-only text, and a vertical tab)."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from quality_spark.llm.classifier import margin_sql, with_classifier_margin
from quality_spark.llm.pq import pq_code_expr, pq_codes_oracle_sql, pq_encode
from quality_spark.llm.similarity import (
    _normalized_centroids,
    ivf_assign,
    ivf_cell_sql,
    project_embeddings,
    projection_array_sql,
    signature_sql,
    with_lsh_bucket,
)

DIMS = 8
INF, NAN = math.inf, math.nan


def _row(*head):
    return list(head) + [0.25] * (DIMS - len(head))


VECTORS = [
    (1, None),                                   # NULL vector
    (2, [0.5, -0.25, 0.125]),                    # short row
    (3, _row(0.3, -0.7, 0.2) + [9.0, -9.0, 9.0]),  # long row
    (4, []),                                     # empty row
    (5, _row(0.3, None, 0.2)),                   # NULL element
    (6, _row(0.3, NAN, 0.2)),                    # NaN element
    (7, _row(INF)),                              # +Inf element
    (8, [-INF] + [0.0] * (DIMS - 1)),            # -Inf element alone
    (9, _row(INF, -INF)),                        # +Inf meets -Inf
    (10, [0.0] * DIMS),                          # every score ties
    (11, [0.5, 0.5, -0.5, -0.5, 0.5, 0.5, -0.5, -0.5]),  # tie on centroids 1/2
    (12, [0.1, -0.3, 0.7, 0.2, -0.9, 0.4, 0.05, -0.6]),  # plain row
    (13, _row(-0.2, 0.6, -0.4, 0.8)),            # plain row
]

#: centroid 1 and 2 are equal (an exact tie), every first component is
#: positive (row 8's dots are all -Inf), centroid 3 has a zero
CENTROIDS = [
    (0, [1.0, 0.2, -0.1, 0.3, 0.0, 0.5, -0.4, 0.1]),
    (1, [0.5, 0.5, -0.5, -0.5, 0.5, 0.5, -0.5, -0.5]),
    (2, [0.5, 0.5, -0.5, -0.5, 0.5, 0.5, -0.5, -0.5]),
    (3, [0.2, -0.6, 0.0, 0.4, -0.1, 0.3, 0.9, -0.2]),
]

#: m=2 subspaces of 4 dims; in subspace 0 codewords 0 and 1 are
#: mirror images (the zero slice ties) and 2 repeats 1
CODEBOOKS = [
    [[0.5, 0.0, 0.0, 0.0], [-0.5, 0.0, 0.0, 0.0], [-0.5, 0.0, 0.0, 0.0]],
    [[0.25, 0.25, 0.25, 0.25], [0.1, -0.3, 0.7, 0.2], [-0.4, 0.0, 0.3, 0.9]],
]

TEXTS = [
    (1, None),
    (2, ""),
    (3, "  \t\n  "),
    (4, "a"),
    (5, "a b"),
    (6, "  the cat\tsat on the\nmat  the cat "),
    (7, "héllo wörld — ünïcode"),
    (8, "a\x0bb c"),  # vertical tab: Java's \s, not DuckDB's
]


def _norm(x):
    """Comparable form: NaN as a string, lists as tuples, ints as ints."""
    if x is None:
        return None
    if isinstance(x, (list, tuple)):
        return tuple(_norm(e) for e in x)
    if isinstance(x, float):
        return "nan" if math.isnan(x) else x
    return int(x)


def _duck(sql_of_t: str, rows, col_type) -> dict:
    # through Arrow: DuckDB's parameter binding would turn NaN into NULL
    ids, vals = zip(*rows)
    con = duckdb.connect()
    con.register("src", pa.table({
        "id": pa.array(ids, pa.int32()), "v": pa.array(vals, col_type),
    }))
    con.execute("CREATE TABLE t AS SELECT * FROM src")
    return {r[0]: _norm(r[1]) for r in con.execute(sql_of_t).fetchall()}


def _spark(df, col) -> dict:
    return {r[0]: _norm(r[1]) for r in df.select("id", col).collect()}


def _vectors(spark):
    return spark.createDataFrame(VECTORS, "id int, v array<float>")


def _lsh(spark):
    df = _vectors(spark)
    fn = with_lsh_bucket(df, "v", planes=4, seed=7, out="out", dims=DIMS)
    sql = signature_sql("v", 4, 7, "spark", DIMS)
    duck = f"SELECT id, {signature_sql('v', 4, 7, 'duckdb', DIMS)} FROM t"
    return fn, df.select("id", F.expr(sql).alias("out")), duck


def _ivf(spark):
    df = _vectors(spark)
    cdf = spark.createDataFrame(CENTROIDS, "id int, v array<double>")
    cents = _normalized_centroids(cdf, "id", "v")
    fn = ivf_assign(df, cdf, id_col="id", vec_col="v", out="out")
    sql = ivf_cell_sql("v", cents, "spark")
    duck = f"SELECT id, {ivf_cell_sql('v', cents, 'duckdb')} FROM t"
    return fn, df.select("id", F.expr(sql).alias("out")), duck


def _proj(spark):
    df = _vectors(spark)
    fn = project_embeddings(df, out_dims=3, seed=11, vec_col="v", out="out", dims=DIMS)
    sql = projection_array_sql("v", 3, 11, "spark", DIMS)
    duck = f"SELECT id, {projection_array_sql('v', 3, 11, 'duckdb', DIMS)} FROM t"
    return fn, df.select("id", F.expr(sql).alias("out")), duck


def _pq(spark):
    df = _vectors(spark)
    fn = pq_encode(df, CODEBOOKS, vec_col="v", out_col="out")
    codes = pq_codes_oracle_sql(CODEBOOKS, table="t", vec_col="v", id_col="id")
    duck = (
        f"SELECT id, list(code ORDER BY mi) FROM ({codes}) GROUP BY id"
    )
    return fn, df.select("id", pq_code_expr("v", CODEBOOKS).alias("out")), duck


def _clf(spark):
    df = spark.createDataFrame(TEXTS, "id int, v string")
    fn = with_classifier_margin(df, "v", out="out", buckets=4096)
    sql = margin_sql("v", "spark", buckets=4096)
    duck = f"SELECT id, {margin_sql('v', 'duckdb', buckets=4096)} FROM t"
    return fn, df.select("id", F.expr(sql).alias("out")), duck


_FLOATS = pa.list_(pa.float32())
KERNELS = {
    "lsh": (_lsh, VECTORS, _FLOATS),
    "ivf": (_ivf, VECTORS, _FLOATS),
    "proj": (_proj, VECTORS, _FLOATS),
    "pq": (_pq, VECTORS, _FLOATS),
    "clf": (_clf, TEXTS, pa.string()),
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_kernel_equals_spark_sql_and_duckdb(spark, kernel):
    build, rows, col_type = KERNELS[kernel]
    fn, by_sql, duck_sql = build(spark)
    got = _spark(fn, "out")
    assert got == _spark(by_sql, "out")
    assert got == _duck(duck_sql, rows, col_type)
    assert len(got) == len(rows)
