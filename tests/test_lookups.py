"""Map lookups, bloom filters, view loading (SURVEY §2.6, §2.2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from quality_spark import add_data_quality, rule_suite
from quality_spark.sources.lookups import (
    BloomFilter,
    bloom_from,
    load_bloom,
    lookup_join,
    map_contains,
    map_lookup,
    probability_in,
    register_bloom,
    register_map_lookup,
    save_bloom,
)
from quality_spark.sources.views import ViewConfig, ViewLoadError, load_views


@pytest.fixture(scope="module")
def nation_map(spark, sf_dir):
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    mapping = {r["n_nationkey"]: r["n_name"] for r in nat.collect()}
    register_map_lookup("nation", mapping, "string")
    return mapping


def test_map_lookup_column(spark, sf_dir, nation_map):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = cust.select(
        "c_nationkey", map_lookup("nation", F.col("c_nationkey")).alias("nname")
    ).collect()
    for r in out:
        assert r["nname"] == nation_map[r["c_nationkey"]]


def test_map_contains_and_missing(spark, nation_map):
    df = spark.createDataFrame([(0,), (9999,)], "k int")
    rows = df.select(
        "k",
        map_contains("nation", F.col("k")).alias("has"),
        map_lookup("nation", F.col("k")).alias("v"),
    ).collect()
    by_k = {r["k"]: r for r in rows}
    assert by_k[0]["has"] is True
    assert by_k[9999]["has"] is False and by_k[9999]["v"] is None


def test_map_lookup_in_rule_text(spark, sf_dir, nation_map):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    suite = rule_suite(
        (40, 1),
        [((1, 1), [((1, 1), "map_contains('nation', c_nationkey)")])],
    )
    df = add_data_quality(cust, suite)
    assert df.filter(F.col("DQ.overallResult") == 0).count() == 0


def test_lookup_join_is_broadcast(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = lookup_join(cust, nat, "c_nationkey", "n_nationkey", "n_name", "nation_name")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert out.filter(F.col("nation_name").isNull()).count() == 0


def test_bloom_params_sane():
    m, k = BloomFilter.params(1000, 0.01)
    assert m >= 9000 and 5 <= k <= 10


def test_bloom_membership(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bf = bloom_from(orders, "o_custkey", expected=10000, fpp=0.01)
    register_bloom(spark, "custkeys", bf)

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    present_keys = {r["o_custkey"] for r in orders.select("o_custkey").distinct().collect()}

    probed = cust.select(
        "c_custkey", probability_in(F.col("c_custkey"), "custkeys").alias("p")
    ).collect()
    for r in probed:
        if r["c_custkey"] in present_keys:
            assert r["p"] == pytest.approx(0.99), "present key must hit"
    # false-positive rate on definitely-absent keys stays near fpp
    absent = spark.range(1_000_000, 1_002_000).select(
        probability_in(F.col("id"), "custkeys").alias("p")
    )
    fp = absent.filter(F.col("p") > 0).count() / 2000.0
    assert fp < 0.05


def test_bloom_in_rule_text(spark, sf_dir):
    suite = rule_suite(
        (41, 1),
        [((1, 1), [((1, 1), "probability_in(c_custkey, 'custkeys')")])],
        probable_pass=0.5,
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = add_data_quality(cust, suite)
    # probability encodes as (1-fpp)*100000 for hits, 0 for misses
    enc = df.select(F.col("DQ.overallResult").alias("o")).groupBy("o").count().collect()
    vals = {r["o"] for r in enc}
    assert vals <= {0, 100000}


def test_bloom_save_load(tmp_path, spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bf = bloom_from(orders, "o_orderkey", expected=10000, fpp=0.01)
    save_bloom(bf, str(tmp_path / "bloom"))
    bf2 = load_bloom(str(tmp_path / "bloom"))
    assert bf2.m_bits == bf.m_bits and bf2.k == bf.k
    assert np.array_equal(bf2.bits, bf.bits)


def test_view_loading_dependency_order(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("v_orders_base")
    created = load_views(
        spark,
        [
            # declared out of dependency order on purpose
            ViewConfig("v_big_f", sql="SELECT * FROM v_big WHERE o_orderstatus = 'F'"),
            ViewConfig("v_big", sql="SELECT * FROM v_orders_base WHERE o_totalprice > 100000"),
        ],
    )
    assert created == ["v_big", "v_big_f"]
    assert spark.table("v_big_f").count() > 0


def test_view_loading_cycle_detected(spark):
    with pytest.raises(ViewLoadError):
        load_views(
            spark,
            [
                ViewConfig("v_c1", sql="SELECT * FROM v_c2"),
                ViewConfig("v_c2", sql="SELECT * FROM v_c1"),
            ],
        )


def test_large_map_compiles_to_udf(spark, sf_dir):
    """Past MAP_LITERAL_MAX the lookup ships the dict via closure
    broadcast (vectorized UDF) instead of inflating the plan with a
    MB-scale literal; missing keys still yield NULL."""
    from quality_spark.sources import lookups as L

    big = {i: i * 10 for i in range(L.MAP_LITERAL_MAX + 5)}
    L.register_map_lookup("bigmap_t", big, spark=spark)
    assert L._MAP_REGISTRY["bigmap_t"][1].startswith("__udf:")
    sql = L.map_lookup_sql("bigmap_t", "c_custkey")
    assert sql.startswith("q_map_bigmap_t(") and "map(" not in sql
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    got = cust.select(
        "c_custkey",
        F.expr(sql).alias("v"),
        F.expr(L.map_contains_sql("bigmap_t", "c_custkey")).alias("has"),
    ).collect()
    for r in got:
        if r["c_custkey"] in big:
            assert r["v"] == r["c_custkey"] * 10 and r["has"]
        else:
            assert r["v"] is None and not r["has"]


def test_udf_backed_map_with_non_identifier_name(spark):
    """Map names that are not SQL identifiers must still generate
    parseable lookup SQL on the UDF-backed (large-map) path."""
    from quality_spark.sources.lookups import (
        MAP_LITERAL_MAX,
        map_lookup,
        register_map_lookup,
    )

    big = {i: f"v{i}" for i in range(MAP_LITERAL_MAX + 1)}
    register_map_lookup("weird-name.1", big, "string", spark=spark)
    df = spark.range(0, 5).select(F.col("id"))
    got = {r["id"]: r["v"] for r in df.select(
        "id", map_lookup("weird-name.1", F.col("id")).alias("v")
    ).collect()}
    assert got == {i: f"v{i}" for i in range(5)}


def test_map_contains_null_valued_key(spark):
    """A key mapped to NULL is still CONTAINED (reference mapContains
    checks key presence, not value non-nullness) — both paths."""
    from quality_spark.sources.lookups import (
        MAP_LITERAL_MAX,
        map_contains,
        register_map_lookup,
    )

    register_map_lookup("null_vals", {1: None, 2: "x"}, "string")
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    got = {
        r["k"]: r["c"]
        for r in df.select("k", map_contains("null_vals", F.col("k")).alias("c")).collect()
    }
    assert got == {1: True, 2: True, 3: False}

    big = {i: (None if i % 2 else f"v{i}") for i in range(MAP_LITERAL_MAX + 2)}
    register_map_lookup("null_vals_big", big, "string", spark=spark)
    got2 = {
        r["k"]: r["c"]
        for r in df.select(
            "k", map_contains("null_vals_big", F.col("k")).alias("c")
        ).collect()
    }
    assert got2 == {1: True, 2: True, 3: True}


def test_sql_literal_special_values(spark):
    import datetime
    import decimal

    from quality_spark.sources.lookups import map_lookup, register_map_lookup

    register_map_lookup(
        "special_vals",
        {1: float("nan"), 2: float("inf"), 3: 2.5},
        "double",
    )
    df = spark.createDataFrame([(2,), (3,)], "k long")
    got = {
        r["k"]: r["v"]
        for r in df.select("k", map_lookup("special_vals", F.col("k")).alias("v")).collect()
    }
    assert got[2] == float("inf") and got[3] == 2.5

    register_map_lookup(
        "date_vals", {1: datetime.date(2024, 3, 1)}, "date"
    )
    one = spark.range(1, 2).select(
        map_lookup("date_vals", F.col("id")).alias("v")
    ).collect()[0]["v"]
    assert one == datetime.date(2024, 3, 1)
