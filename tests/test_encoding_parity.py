"""The one rule-result encoder and fold give the same integers in both
dialects: Spark's text (run by the Spark runners) and DuckDB's (run by
``DuckDBProcessor``), on every encoder branch and its edge values."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import types as T

from quality_spark.model import PASSED_INT
from quality_spark.results import encode_rule_sql, overall_result_sql

_DOUBLES = [
    "NULL", "'NaN'", "'Infinity'", "'-Infinity'", "0", "1", "-1", "-2", "7",
    "CAST(2 AS DOUBLE) / 3", "0.9999999", "1e12", "-1e12",
]
_FINITE = [v for v in _DOUBLES if not v.startswith("'")]
_INTS = ["NULL", "0", "1", "-1", "-2", "7"]

# (Spark type, SQL type name both engines parse, values as SQL text)
BRANCHES = [
    (T.BooleanType(), "BOOLEAN", ["NULL", "true", "false"]),
    (T.ByteType(), "TINYINT", _INTS),
    (T.ShortType(), "SMALLINT", _INTS),
    (T.IntegerType(), "INT", _INTS),
    (T.LongType(), "BIGINT", _INTS),
    (T.DoubleType(), "DOUBLE", _DOUBLES),
    (T.FloatType(), "FLOAT", _DOUBLES),
    (T.DecimalType(20, 7), "DECIMAL(20,7)", _FINITE),
    (T.StringType(), "STRING", ["NULL", "'PASS'", "'Maybe'", "'disabled'", "'nope'"]),
    (T.DateType(), "DATE", ["NULL", "'2024-01-31'"]),
]


def _spark_ints(spark, sqls):
    row = spark.sql(
        "SELECT " + ", ".join(f"{s} AS c{i}" for i, s in enumerate(sqls))
    ).collect()[0]
    return list(row)


def _duck_ints(sqls):
    return list(
        duckdb.sql(
            "SELECT " + ", ".join(f"{s} AS c{i}" for i, s in enumerate(sqls))
        ).fetchone()
    )


@pytest.mark.parametrize(
    "dtype,sql_type,values", BRANCHES, ids=[b[1] for b in BRANCHES]
)
def test_encoder_dialects_agree(spark, dtype, sql_type, values):
    rules = [f"CAST({v} AS {sql_type})" for v in values]
    spark_ints = _spark_ints(spark, [encode_rule_sql(r, dtype) for r in rules])
    duck_ints = _duck_ints([encode_rule_sql(r, dtype, "duckdb") for r in rules])
    assert spark_ints == duck_ints
    assert spark_ints[0] == 0  # NULL is Failed on every branch


def test_encoder_edge_values():
    """The values both dialects agree on are the reference's: JVM
    truncation and saturation, NaN Failed, the int family's sentinels."""
    rules = [f"CAST({v} AS DOUBLE)" for v in _DOUBLES]
    got = _duck_ints([encode_rule_sql(r, T.DoubleType(), "duckdb") for r in rules])
    assert got == [
        0, 0, 2147483647, -2147483648, 0, PASSED_INT, -1, -2, 700000,
        66666, 99999, 2147483647, -2147483648,
    ]
    ints = _duck_ints(
        [encode_rule_sql(f"CAST({v} AS INT)", T.IntegerType(), "duckdb") for v in _INTS]
    )
    assert ints == [0, 0, PASSED_INT, -1, -2, 0]
    strs = _duck_ints(
        [
            encode_rule_sql(v, T.StringType(), "duckdb")
            for v in ["'PASS'", "'Maybe'", "'disabled'", "'nope'"]
        ]
    )
    assert strs == [PASSED_INT, -1, -2, 0]


FOLDS = [
    [],
    [PASSED_INT],
    [0],
    [-1],
    [-2],
    [-1, -2, PASSED_INT],
    [66666],
    [99999],
    [50000],
    [49999],
    [80000],
    [79999, PASSED_INT],
    [PASSED_INT, 0, -1],
]


@pytest.mark.parametrize("probable_pass", [0.8, 0.5])
def test_fold_dialects_agree(spark, probable_pass):
    encs = [[f"CAST({v} AS INT)" for v in vs] for vs in FOLDS]
    spark_ints = _spark_ints(
        spark, [overall_result_sql(e, probable_pass) for e in encs]
    )
    duck_ints = _duck_ints(
        [overall_result_sql(e, probable_pass, "duckdb") for e in encs]
    )
    assert spark_ints == duck_ints
    # Failed dominates; a probability below the threshold fails
    want = [
        0 if any(v == 0 or (v not in (PASSED_INT, -1, -2) and v < probable_pass * PASSED_INT)
                 for v in vs) else PASSED_INT
        for vs in FOLDS
    ]
    assert spark_ints == want
