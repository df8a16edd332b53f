"""Column profiling (`operators/profile.py`) — integer-exact stats,
histogram invariants, null handling, and the DuckDB oracle replay."""

from __future__ import annotations

import duckdb
import pytest

from quality_spark.operators.profile import (
    STAT_NAMES,
    profile_columns,
    profile_oracle_sql,
    profile_stats,
)


def _as_map(rows):
    return {(r["column"], r["stat"]): r["value"] for r in rows}


def test_profile_stats_known_values(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,)], "x double"
    )
    got = _as_map(profile_stats(df, ["x"]).collect())
    assert got[("x", "n")] == 3
    assert got[("x", "n_null")] == 1
    assert got[("x", "n_distinct")] == 3
    assert got[("x", "min")] == 1_000_000
    assert got[("x", "max")] == 3_000_000
    assert got[("x", "sum")] == 6_000_000
    assert got[("x", "mean")] == 2_000_000
    # sample stddev of (1,2,3) = 1 exactly -> 1_000_000 micros
    assert got[("x", "std")] == 1_000_000


def test_profile_single_row_std_null(spark):
    df = spark.createDataFrame([(5.0,)], "x double")
    got = _as_map(profile_stats(df, ["x"]).collect())
    assert got[("x", "std")] is None
    assert got[("x", "mean")] == 5_000_000


def test_profile_histogram_partition_of_rows(spark):
    """Bins partition the non-null rows: counts sum to n, every bin
    emitted, constant column lands wholly in bin 0."""
    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)], "x double"
    )
    out = _as_map(profile_columns(df, ["x"], bins=7).collect())
    hist = [out[("x", f"hist_{i}")] for i in range(7)]
    assert sum(hist) == 100
    assert all(h >= 0 for h in hist)

    const = spark.createDataFrame([(4.25,)] * 9, "x double")
    out2 = _as_map(profile_columns(const, ["x"], bins=4).collect())
    assert out2[("x", "hist_0")] == 9
    assert out2[("x", "hist_1")] == out2[("x", "hist_3")] == 0


def test_profile_all_null_column_skips_histogram(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    rows = profile_columns(df, ["x"], bins=4).collect()
    got = _as_map(rows)
    assert got[("x", "n")] == 0 and got[("x", "n_null")] == 2
    assert not any(r["stat"].startswith("hist_") for r in rows)


def test_profile_multi_column_one_pass_schema(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0)], "a double, b double"
    )
    rows = profile_columns(df, ["a", "b"], bins=2).collect()
    cols = {r["column"] for r in rows}
    assert cols == {"a", "b"}
    stats = {r["stat"] for r in rows if r["column"] == "a"}
    assert set(STAT_NAMES) <= stats


@pytest.mark.parametrize(
    "values",
    [
        [-5.5, -2.25, 3.0, 7.75, None],
        [-7.0, -2.0, 1.0],  # negative mean: truncation-vs-floor pin
        [0.001, 0.0005, 1e6, -1e6],
    ],
)
def test_profile_duckdb_oracle_parity(spark, values):
    """Every stat + histogram bin matches the DuckDB oracle replay
    bit-for-bit, including negative sums (both engines truncate
    integer division toward zero) and wide ranges."""
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = _as_map(profile_columns(df, ["x"], bins=4).collect())

    con = duckdb.connect()
    vals = ", ".join(f"({v!r})" if v is not None else "(NULL)" for v in values)
    con.execute(f"CREATE TABLE t AS SELECT CAST(x AS DOUBLE) AS x FROM (VALUES {vals}) v(x)")
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(profile_oracle_sql("t", ["x"], bins=4)).fetchall()
    }
    assert got == want


def test_profile_approx_matches_exact_except_distinct(spark, sf_dir):
    """approx=True (the 100 TB scale mode — no compact table, HLL
    n_distinct): every stat except n_distinct, and every histogram
    bin, must be BIT-IDENTICAL to exact mode; n_distinct within the
    documented HLL relative sd (generous 5x guard band)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    exact = _as_map(profile_columns(li, cols, bins=6).collect())
    approx = _as_map(profile_columns(li, cols, bins=6, approx=True).collect())
    assert set(exact) == set(approx)
    for k, v in exact.items():
        if k[1] == "n_distinct":
            assert approx[k] > 0
            assert abs(approx[k] - v) <= max(2, 0.25 * v), (k, v, approx[k])
        else:
            assert approx[k] == v, k


def test_profile_approx_null_and_allnull_columns(spark):
    """approx mode edge parity: a mixed-null column and an all-null
    column produce the same stat rows as exact mode (all-null:
    n_distinct 0, no histogram rows, NULL min/max/sum/mean/std)."""
    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (None, None)],
        "x double, y double",
    )
    exact = sorted(map(tuple, profile_columns(df, ["x", "y"], bins=3).collect()))
    approx = sorted(
        map(tuple, profile_columns(df, ["x", "y"], bins=3, approx=True).collect())
    )
    assert exact == approx  # tiny data: HLL is exact here too


def test_profile_sum_overflow_clamps_identically(spark):
    """ADVICE r08: a micro-sum past int64 must EMIT the clamped
    sentinel (9223372036854775807), not NULL (Spark) / an error
    (DuckDB). Internal DECIMAL accumulation and mean stay exact."""
    # two rows of 5e12 -> mics 5e18 each, sum 1e19 > int64 max
    df = spark.createDataFrame([(5.0e12,), (5.0e12,)], "x double")
    for mode in (False, True):
        got = _as_map(profile_columns(df, ["x"], bins=2, approx=mode).collect())
        assert got[("x", "sum")] == 9223372036854775807, mode
        assert got[("x", "mean")] == 5_000_000_000_000_000_000, mode
        assert got[("x", "n")] == 2
        # std numerator n*ssq - sum^2 = 1e38 would overflow
        # DECIMAL(38,0): the guard emits NULL in both engines
        assert got[("x", "std")] is None, mode

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT CAST(5e12 AS DOUBLE) AS x "
        "UNION ALL SELECT CAST(5e12 AS DOUBLE)"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(profile_oracle_sql("t", ["x"], bins=2)).fetchall()
    }
    assert want[("x", "sum")] == 9223372036854775807
    assert want[("x", "mean")] == 5_000_000_000_000_000_000


def test_profile_quantiles_known_values_and_oracle(spark):
    """Nearest-rank quantiles from the compact table: hand-checked
    ranks on 1..100 (rank = max(1, ceil(q*n))), all-null column emits
    no quantile rows, and the DuckDB oracle replays bit-for-bit."""
    df = spark.createDataFrame(
        [(float(i), None) for i in range(1, 101)], "x double, y double"
    )
    qs = (0.25, 0.5, 0.75, 0.99)
    rows = profile_columns(df, ["x", "y"], bins=2, quantiles=qs).collect()
    got = _as_map(rows)
    # rank(0.25*100)=25 -> 25th smallest = 25.0 -> 25_000_000 micros
    assert got[("x", "p25")] == 25_000_000
    assert got[("x", "p50")] == 50_000_000
    assert got[("x", "p75")] == 75_000_000
    assert got[("x", "p99")] == 99_000_000
    assert not any(
        r["stat"].startswith("p") and r["column"] == "y" for r in rows
    )

    con = duckdb.connect()
    vals = ", ".join(f"({i}.0, NULL)" for i in range(1, 101))
    con.execute(
        "CREATE TABLE t AS SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y "
        f"FROM (VALUES {vals}) v(x, y)"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            profile_oracle_sql("t", ["x", "y"], bins=2, quantiles=qs)
        ).fetchall()
    }
    assert _as_map(rows) == want


def test_profile_quantiles_approx_close_to_exact(spark, sf_dir):
    """approx mode quantiles come from approx_percentile over the same
    single raw-scan aggregate; with accuracy 10000 > n at sf0.001 the
    rank error is sub-1, so values must land within one distinct micro
    step of exact nearest-rank."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qs = (0.25, 0.5, 0.75)
    cols = ["l_quantity", "l_discount"]
    exact = _as_map(
        profile_columns(li, cols, bins=2, quantiles=qs).collect()
    )
    approx = _as_map(
        profile_columns(li, cols, bins=2, approx=True, quantiles=qs).collect()
    )
    for c in cols:
        lo, hi = exact[(c, "min")], exact[(c, "max")]
        step = max(1, (hi - lo) // 50)
        for q in ("p25", "p50", "p75"):
            assert abs(approx[(c, q)] - exact[(c, q)]) <= step, (c, q)


def test_profile_shards_merge_identity(spark, sf_dir):
    """profile_from_shards(merge of disjoint shards) must equal
    profile_columns(whole frame) BIT-FOR-BIT — stats, histograms, and
    nearest-rank quantiles — including a column with engineered nulls
    (the null count rides the artifact's mic-NULL rows, not a
    whole-frame count the merge could never replay)."""
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        profile_from_shards,
        profile_shard,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_tax",
        F.when(F.col("l_orderkey") % 7 == 0, None).otherwise(F.col("l_tax")),
    )
    cols = ["l_quantity", "l_extendedprice", "l_tax"]
    qs = (0.25, 0.5, 0.95)
    whole = sorted(
        tuple(r)
        for r in profile_columns(li, cols, bins=8, quantiles=qs).collect()
    )
    shards = [
        profile_shard(li.filter(F.col("l_orderkey") % 3 == p), cols)
        for p in range(3)
    ]
    got = sorted(
        tuple(r)
        for r in profile_from_shards(
            shards, cols, bins=8, quantiles=qs
        ).collect()
    )
    assert got == whole


def test_profile_quantiles_without_histograms(spark):
    """bins=0 with quantiles — the fused hist+bucket job (round 13)
    runs its bucket-totals branch alone: no hist_* rows, and the
    nearest-rank quantiles are identical to the bins>0 call (the
    histogram aggregate must not perturb the pick)."""
    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double"
    )
    qs = (0.25, 0.5, 0.99)
    rows0 = profile_columns(df, ["x"], bins=0, quantiles=qs).collect()
    assert not any(r["stat"].startswith("hist_") for r in rows0)
    got0 = {k: v for k, v in _as_map(rows0).items() if k[1].startswith("p")}
    rows8 = profile_columns(df, ["x"], bins=8, quantiles=qs).collect()
    got8 = {k: v for k, v in _as_map(rows8).items() if k[1].startswith("p")}
    assert got0 == got8 == {
        ("x", "p25"): 25_000_000,
        ("x", "p50"): 50_000_000,
        ("x", "p99"): 99_000_000,
    }


def test_profile_shards_hierarchical_and_parquet_roundtrip(spark, tmp_path):
    """Artifacts are plain 3-column frames: they survive a parquet
    round trip, and merges are associative — a merge of merged
    artifacts (day → month rollup shape) equals the flat merge."""
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        merge_profile_shards,
        profile_from_shards,
        profile_shard,
    )

    df = spark.createDataFrame(
        [(i, float(i % 5) if i % 4 else None) for i in range(40)],
        "id long, x double",
    )
    whole = sorted(
        tuple(r) for r in profile_columns(df, ["x"], bins=4).collect()
    )
    paths = []
    for p in range(3):
        out = str(tmp_path / f"s{p}")
        profile_shard(df.filter(F.col("id") % 3 == p), ["x"]).write.parquet(
            out
        )
        paths.append(out)
    back = [spark.read.parquet(p) for p in paths]
    m01 = merge_profile_shards(back[:2])
    got = sorted(
        tuple(r)
        for r in profile_from_shards([m01, back[2]], ["x"], bins=4).collect()
    )
    assert got == whole


def test_profile_shards_all_null_and_empty_shard(spark):
    """An all-null column and an empty shard must not derail the
    merge: stats say n=0/n_null=total for the null column, and an
    empty artifact is a no-op in the union."""
    from quality_spark.operators.profile import (
        profile_from_shards,
        profile_shard,
    )

    a = spark.createDataFrame([(None,), (None,)], "x double")
    b = spark.createDataFrame([], "x double")
    got = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_from_shards(
            [profile_shard(a, ["x"]), profile_shard(b, ["x"])], ["x"]
        ).collect()
    }
    assert got[("x", "n")] == 0
    assert got[("x", "n_null")] == 2
    assert got[("x", "n_distinct")] == 0
    assert got[("x", "min")] is None


def test_suggest_rules_self_pass_and_oracle_parity(spark, sf_dir):
    """The profile→rule loop (operators/suggest.py): suggested rule
    TEXTS must be byte-identical to the SQL oracle's assembly from
    the same stats, and the profiled data must pass its own suggested
    suite through the REAL runner (inclusive bounds; quantile band is
    soft) — including a column with nulls (range rule null-guarded,
    not_null suppressed) and negative values (sign formatting)."""
    import duckdb
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import profile_oracle_sql
    from quality_spark.operators.runner import add_data_quality
    from quality_spark.operators.suggest import (
        suggest_rules,
        suggested_rule_texts,
        suggested_rule_texts_oracle_sql,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_tax",
        F.when(F.col("l_orderkey") % 7 == 0, None).otherwise(
            -F.col("l_tax") - 0.5
        ),
    )
    cols = ["l_quantity", "l_tax"]
    qs = (0.25, 0.95)
    prof = profile_columns(li, cols, quantiles=qs)
    texts = suggested_rule_texts(prof, cols)
    kinds = {(c, k) for c, k, _ in texts}
    assert ("l_quantity", "not_null") in kinds
    assert ("l_tax", "not_null") not in kinds  # has nulls
    neg_range = [e for c, k, e in texts if c == "l_tax" and k == "range"][0]
    assert " >= -" in neg_range  # negative micro formatting exercised

    con = duckdb.connect()
    con.register("li_pd", li.toPandas())
    osql = suggested_rule_texts_oracle_sql(
        profile_oracle_sql("li_pd", cols, quantiles=qs),
        quantile_band=("p25", "p95"),
    )
    want = sorted((a, b, c) for a, b, c in con.execute(osql).fetchall())
    assert sorted(texts) == want

    out = add_data_quality(li, suggest_rules(prof, cols))
    flat = out.select(
        F.explode(F.col("DQ")["ruleSetResults"]).alias("sid", "set")
    ).select(F.explode(F.col("set")["ruleResults"]).alias("rid", "res"))
    assert flat.filter(~F.col("res").isin(100000, -1)).count() == 0


def test_profile_drift_metrics_and_edges(spark):
    """profile_drift: known-value metrics, NULL propagation for
    missing/zero baselines, range_breach on undercut min / new values
    where the baseline had none."""
    from quality_spark.operators.profile import (
        DRIFT_METRICS,
        profile_drift,
    )

    a = spark.createDataFrame(
        [(1.0, None), (2.0, None), (3.0, None), (None, None)],
        "x double, y double",
    )
    # current: doubled rows, one value below baseline min, y appears
    b = spark.createDataFrame(
        [(0.5, 7.0), (2.0, 7.0), (3.0, 7.0), (3.0, 7.0),
         (None, 7.0), (None, 7.0), (1.0, 7.0), (2.5, 7.0)],
        "x double, y double",
    )
    pa = profile_columns(a, ["x", "y"])
    pb = profile_columns(b, ["x", "y"])
    got = {
        (r["column"], r["metric"]): r["value"]
        for r in profile_drift(pa, pb).collect()
    }
    assert set(m for _, m in got) == set(DRIFT_METRICS)
    assert got[("x", "n_ratio_ppm")] == 2_000_000  # 6 vs 3
    # null rate: a = 1/4 -> 250000 ppm; b = 2/8 -> 250000 ppm
    assert got[("x", "null_rate_delta_ppm")] == 0
    assert got[("x", "min_delta")] == 500_000 - 1_000_000
    assert got[("x", "range_breach")] == 1  # 0.5 undercuts min 1.0
    # y: baseline all-null -> ratios NULL, breach 1 (new values)
    assert got[("y", "n_ratio_ppm")] is None
    assert got[("y", "range_breach")] == 1
    assert got[("y", "std_ratio_ppm")] is None


def test_profile_approx_shards_merge_and_roundtrip(spark, sf_dir):
    """Approx mergeable artifacts: every non-sketch stat from merged
    3-way shards (through a parquet round trip of the binary sketch)
    must be BIT-EQUAL to exact-mode profile_columns on the whole
    frame; the unioned-sketch n_distinct lands within HLL error."""
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        profile_from_approx_shards,
        profile_shard_approx,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_tax",
        F.when(F.col("l_orderkey") % 7 == 0, None).otherwise(F.col("l_tax")),
    )
    cols = ["l_quantity", "l_extendedprice", "l_tax"]
    import tempfile

    d = tempfile.mkdtemp()
    for p in range(3):
        profile_shard_approx(
            li.filter(F.col("l_orderkey") % 3 == p), cols
        ).write.mode("overwrite").parquet(f"{d}/s{p}")
    back = [spark.read.parquet(f"{d}/s{p}") for p in range(3)]
    got = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_from_approx_shards(back, cols).collect()
    }
    exact = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(li, cols).collect()
        if not r["stat"].startswith("hist")
    }
    for k, v in exact.items():
        if k[1] == "n_distinct":
            assert got[k] == 0 or abs(got[k] - v) / max(v, 1) < 0.08, (
                k, v, got[k],
            )
        else:
            assert got[k] == v, (k, v, got[k])


def test_profile_approx_shards_edges(spark):
    """All-null column + empty shard: n=0, n_null counted, sketch
    estimate forced to 0, min/max NULL."""
    from quality_spark.operators.profile import (
        profile_from_approx_shards,
        profile_shard_approx,
    )

    a = spark.createDataFrame([(None,), (None,)], "x double")
    b = spark.createDataFrame([], "x double")
    got = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_from_approx_shards(
            [profile_shard_approx(a, ["x"]), profile_shard_approx(b, ["x"])],
            ["x"],
        ).collect()
    }
    assert got[("x", "n")] == 0
    assert got[("x", "n_null")] == 2
    assert got[("x", "n_distinct")] == 0
    assert got[("x", "min")] is None and got[("x", "max")] is None


def test_profile_by_group_parity_and_identity(spark, sf_dir):
    """Segmented profile: every non-HLL stat must replay bit-for-bit
    in the DuckDB twin per group, NULL groups profile under a NULL
    key, and a constant group column reproduces the whole-frame
    profile's stat block exactly."""
    import duckdb
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        profile_by_group,
        profile_by_group_oracle_sql,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 11 == 0, None).otherwise(
            F.col("l_returnflag")
        ),
    )
    cols = ["l_quantity", "l_discount"]
    key = lambda t: (t[0] or "", t[1], t[2], -1 if t[3] is None else t[3])
    got = sorted(
        (
            tuple(r)
            for r in profile_by_group(li, "l_returnflag", cols)
            .filter("stat != 'n_distinct'")
            .collect()
        ),
        key=key,
    )
    con = duckdb.connect()
    con.register("li_pd", li.toPandas())
    want = sorted(
        (
            (g, c, s, None if v is None else int(v))
            for g, c, s, v in con.execute(
                profile_by_group_oracle_sql("li_pd", "l_returnflag", cols)
            ).fetchall()
        ),
        key=key,
    )
    assert got == want
    assert any(g is None for g, _, _, _ in got)  # NULL group profiled

    one = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_by_group(
            li.withColumn("g", F.lit("x")), "g", cols
        ).collect()
        if r["stat"] != "n_distinct"
    }
    whole = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(li, cols).collect()
        if r["stat"] in ("n", "n_null", "min", "max", "sum", "mean", "std")
    }
    assert one == whole


def test_profile_categorical_and_in_set_suggestion(spark, sf_dir):
    """Categorical profile: DuckDB rank/count/distinct parity (NULL
    as a rankable value), and the IN-set suggester — null-guarded
    where nulls were seen, REFUSED for columns whose cardinality
    exceeds max_card or whose top-k doesn't cover all values, and
    self-passing on the profiled data."""
    import duckdb
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        profile_categorical,
        profile_categorical_oracle_sql,
    )
    from quality_spark.operators.suggest import (
        suggested_in_set_rule_texts,
        suggested_in_set_rule_texts_oracle_sql,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_linestatus",
        F.when(F.col("l_orderkey") % 13 == 0, None).otherwise(
            F.col("l_linestatus")
        ),
    )
    cols = ["l_returnflag", "l_linestatus", "l_shipdate"]
    cp = profile_categorical(li, cols, top=10)
    key = lambda t: (t[0], t[3])
    got = sorted(
        (
            (r["column"], r["value"], r["cnt"], r["rank"], r["n_distinct"])
            for r in cp.collect()
        ),
        key=key,
    )
    con = duckdb.connect()
    con.register("li_pd", li.toPandas())
    want = sorted(
        (
            (c, v, int(n), int(rk), int(d))
            for c, v, n, rk, d in con.execute(
                profile_categorical_oracle_sql("li_pd", cols, top=10)
            ).fetchall()
        ),
        key=key,
    )
    assert got == want
    texts = suggested_in_set_rule_texts(cp, max_card=8)
    by_col = dict((c, e) for c, _, e in texts)
    assert "l_shipdate" not in by_col  # cardinality refusal
    assert by_col["l_linestatus"].startswith("l_linestatus IS NULL OR ")
    assert " IS NULL" not in by_col["l_returnflag"]
    osql = suggested_in_set_rule_texts_oracle_sql(
        profile_categorical_oracle_sql("li_pd", cols, top=10), max_card=8
    )
    assert sorted(texts) == sorted(
        (a, b, c) for a, b, c in con.execute(osql).fetchall()
    )
    for c, _, expr in texts:
        assert li.filter(f"NOT ({expr})").count() == 0


def test_profile_categorical_two_phase_pick_matches_brute_force(spark):
    """Round-13 regression: the exact two-phase top-k (salt-group
    candidates → total-order window over candidates only) must be
    bit-equal to a brute-force global rank — pinned on an engineered
    distribution whose tie groups straddle the top-k boundary and
    whose values spread across many salt groups, plus a rank-eligible
    NULL row."""
    from quality_spark.operators.profile import profile_categorical

    rows = []
    for i in range(400):
        v = f"v{i:03d}"
        # many exact ties (cnt cycles 43..49) so the value tiebreak
        # decides ranks right at the boundary
        for _ in range(49 - (i % 7)):
            rows.append((v,))
    for _ in range(45):
        rows.append((None,))
    df = spark.createDataFrame(rows, "c string").repartition(16)
    top = 15
    got = sorted(
        (r["value"], r["cnt"], r["rank"], r["n_distinct"])
        for r in profile_categorical(df, ["c"], top=top).collect()
    )
    # brute force: global counts, (cnt DESC, value ASC NULLS FIRST)
    counts: dict = {}
    for (v,) in rows:
        counts[v] = counts.get(v, 0) + 1
    ordered = sorted(
        counts.items(),
        key=lambda kv: (-kv[1], kv[0] is not None, kv[0] or ""),
    )
    n_distinct = sum(1 for v in counts if v is not None)
    want = sorted(
        (v, n, rk + 1, n_distinct)
        for rk, (v, n) in enumerate(ordered[:top])
    )
    assert got == want


def test_suggest_rules_with_categorical_suite(spark, sf_dir):
    """suggest_rules folds IN-set enum rules into the same suite
    (stable ids, kind slot 3) and the combined suite passes on its
    own data through the real runner."""
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import profile_categorical
    from quality_spark.operators.runner import add_data_quality
    from quality_spark.operators.suggest import suggest_rules

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity"]
    cat_cols = ["l_returnflag", "l_linestatus"]
    suite = suggest_rules(
        profile_columns(li, cols, quantiles=(0.25, 0.95)),
        cols,
        categorical_profile=profile_categorical(li, cat_cols, top=10),
        categorical_cols=cat_cols,
    )
    exprs = [r.expression.rule for rs in suite.rule_sets for r in rs.rules]
    assert any(e.startswith("l_returnflag IN (") for e in exprs)
    ids = [r.id.id for rs in suite.rule_sets for r in rs.rules]
    assert len(ids) == len(set(ids))  # no id collisions across kinds
    out = add_data_quality(li, suite)
    flat = out.select(
        F.explode(F.col("DQ")["ruleSetResults"]).alias("sid", "set")
    ).select(F.explode(F.col("set")["ruleResults"]).alias("rid", "res"))
    assert flat.filter(~F.col("res").isin(100000, -1)).count() == 0


def test_suggested_in_set_typed_columns_cast(spark):
    """ADVICE r9: with col_types, non-string categorical columns get
    an explicit CAST(c AS STRING) comparison (the profile values ARE
    strings), string columns stay bare, and the typed rule self-passes
    on the profiled data through a plain filter."""
    from quality_spark.operators.profile import profile_categorical
    from quality_spark.operators.suggest import (
        suggested_in_set_rule_texts,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (1, "a"), (None, None)],
        "code int, tag string",
    )
    cp = profile_categorical(df, ["code", "tag"], top=10)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    texts = dict(
        (c, e)
        for c, _, e in suggested_in_set_rule_texts(cp, 8, col_types=types)
    )
    assert texts["code"] == "code IS NULL OR CAST(code AS STRING) IN ('1', '2')"
    assert texts["tag"] == "tag IS NULL OR tag IN ('a', 'b')"
    for expr in texts.values():
        assert df.filter(f"NOT ({expr})").count() == 0
    # default (no col_types) behavior unchanged — bare column reference
    bare = dict(
        (c, e) for c, _, e in suggested_in_set_rule_texts(cp, 8)
    )
    assert bare["code"] == "code IS NULL OR code IN ('1', '2')"


def test_approx_shard_histogram_quantiles(spark, sf_dir):
    """Round-10 mergeable quantiles: fixed-bin histograms in the
    approx artifact (parquet round-trip included) yield nearest-rank
    quantile estimates whose error vs the exact quantile is < the
    documented bin width ceil(span/bins); the python arithmetic
    matches the DuckDB oracle replay bit-for-bit."""
    import math
    import tempfile

    import duckdb
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        approx_shard_quantiles_oracle_sql,
        profile_columns,
        profile_from_approx_shards,
        profile_shard_approx,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    qs = (0.25, 0.5, 0.75, 0.95)
    bins = 16
    exact = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_columns(li, cols, bins=0, quantiles=qs).collect()
    }
    ranges = {c: (exact[(c, "min")], exact[(c, "max")]) for c in cols}
    d = tempfile.mkdtemp()
    for p in range(3):
        profile_shard_approx(
            li.filter(F.col("l_orderkey") % 3 == p), cols,
            bins=bins, ranges=ranges,
        ).write.mode("overwrite").parquet(f"{d}/s{p}")
    back = [spark.read.parquet(f"{d}/s{p}") for p in range(3)]
    got = {
        (r["column"], r["stat"]): r["value"]
        for r in profile_from_approx_shards(back, cols, quantiles=qs)
        .collect()
    }
    # error bound vs exact nearest-rank quantiles
    for c in cols:
        span = ranges[c][1] - ranges[c][0] + 1
        width = math.ceil(span / bins)
        for q in qs:
            name = f"p{q * 100:g}"
            est, true = got[(c, name)], exact[(c, name)]
            assert est <= true < est + width + 1, (c, name, est, true, width)
    # non-sketch stats still bit-equal through the histogram variant
    for (c, s), v in exact.items():
        if s not in ("n_distinct",) and not s.startswith("p"):
            assert got[(c, s)] == v, (c, s, v, got[(c, s)])
    # oracle replay is bit-identical on the same data
    con = duckdb.connect()
    con.register("li_pd", li.select(*cols).toPandas())
    want = {
        (c, s): int(v)
        for c, s, v in con.execute(
            approx_shard_quantiles_oracle_sql("li_pd", cols, bins, qs)
        ).fetchall()
    }
    spark_q = {k: v for k, v in got.items() if k[1].startswith("p")}
    assert spark_q == want


def test_approx_shard_histogram_validation(spark):
    """bins>0 without ranges, mismatched (lo, span) across shards, and
    quantiles over histogram-less artifacts all fail fast."""
    import pytest

    from quality_spark.operators.profile import (
        profile_from_approx_shards,
        profile_shard_approx,
    )

    df = spark.createDataFrame([(1.0,), (2.0,), (5.0,)], "x double")
    with pytest.raises(ValueError, match="ranges"):
        profile_shard_approx(df, ["x"], bins=8)
    with pytest.raises(ValueError, match="missing"):
        profile_shard_approx(df, ["x"], bins=8, ranges={"y": (0, 1)})
    plain = profile_shard_approx(df, ["x"])
    with pytest.raises(ValueError, match="histogram"):
        profile_from_approx_shards([plain], ["x"], quantiles=(0.5,))
    a = profile_shard_approx(
        df, ["x"], bins=8, ranges={"x": (1_000_000, 5_000_000)}
    )
    b = profile_shard_approx(
        df, ["x"], bins=8, ranges={"x": (0, 5_000_000)}
    )
    with pytest.raises(ValueError, match="disagree"):
        profile_from_approx_shards([a, b], ["x"], quantiles=(0.5,))
    # bins=0 artifacts still merge fine without quantiles (back-compat)
    out = profile_from_approx_shards([plain], ["x"])
    assert {r["stat"] for r in out.collect()} >= {"n", "min", "max"}


def test_profile_psi_semantics_and_validation(spark, sf_dir):
    """PSI over fixed-bin artifacts: near-identical populations score
    ~0, an engineered location shift scores much higher, multi-shard
    sides merge before scoring, and mismatched ranges / missing
    histograms fail fast."""
    import pytest
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        profile_psi,
        profile_shard_approx,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rng = {"l_quantity": (1_000_000, 50_000_000)}
    mk = lambda d: profile_shard_approx(
        d, ["l_quantity"], bins=16, ranges=rng
    )
    a = mk(li.filter(F.col("l_orderkey") % 2 == 0))
    b = mk(li.filter(F.col("l_orderkey") % 2 == 1))
    same = {
        r["metric"]: r["value"]
        for r in profile_psi([a], [b], ["l_quantity"]).collect()
    }
    assert same["psi_micro"] < 20_000  # parity halves: ~identical
    shifted = mk(
        li.filter(F.col("l_orderkey") % 2 == 1).withColumn(
            "l_quantity", F.least(F.col("l_quantity") + 20, F.lit(50.0))
        )
    )
    shift = {
        r["metric"]: r["value"]
        for r in profile_psi([a], [shifted], ["l_quantity"]).collect()
    }
    assert shift["psi_micro"] > 250_000  # clear distribution shift
    # two-shard side == one merged side (counts add before scoring)
    a2 = [
        mk(li.filter((F.col("l_orderkey") % 4) == p)) for p in (0, 2)
    ]
    merged_side = {
        r["metric"]: r["value"]
        for r in profile_psi(a2, [b], ["l_quantity"]).collect()
    }
    assert merged_side == same
    bad = profile_shard_approx(
        li.limit(10), ["l_quantity"], bins=16,
        ranges={"l_quantity": (0, 50_000_000)},
    )
    with pytest.raises(ValueError, match="different|disagree"):
        profile_psi([a], [bad], ["l_quantity"]).collect()
    plain = profile_shard_approx(li.limit(10), ["l_quantity"])
    with pytest.raises(ValueError, match="histogram"):
        profile_psi([a], [plain], ["l_quantity"]).collect()


def test_categorical_psi_semantics_oracle_and_guard(spark, sf_dir):
    """Categorical PSI: parity halves score ~0, an engineered
    relabeling scores high, NULL is a MATCHING category (one domain
    row, not two), the DuckDB replay is bit-identical, and the
    max_card guard refuses data-sized domains."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    from quality_spark.operators.profile import (
        categorical_psi,
        categorical_psi_oracle_sql,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "l_linestatus",
        F.when(F.col("l_orderkey") % 13 == 0, None).otherwise(
            F.col("l_linestatus")
        ),
    )
    a = li.filter("l_orderkey % 2 = 0")
    b = li.filter("l_orderkey % 2 = 1")
    cols = ["l_returnflag", "l_linestatus", "l_shipdate"]
    got = {
        (r["column"], r["metric"]): r["value"]
        for r in categorical_psi(a, b, cols).collect()
    }
    assert got[("l_linestatus", "n_values")] == 3  # NULL matched once
    assert got[("l_returnflag", "psi_micro")] < 20_000
    con = duckdb.connect()
    con.register("li_pd", li.toPandas())
    want = {
        (c, m): int(v)
        for c, m, v in con.execute(
            categorical_psi_oracle_sql(
                "(SELECT * FROM li_pd WHERE l_orderkey % 2 = 0)",
                "(SELECT * FROM li_pd WHERE l_orderkey % 2 = 1)",
                cols,
            )
        ).fetchall()
    }
    assert got == want
    shifted = b.withColumn("l_returnflag", F.lit("Z"))
    s = {
        r["metric"]: r["value"]
        for r in categorical_psi(a, shifted, ["l_returnflag"]).collect()
    }
    assert s["psi_micro"] > 250_000
    with pytest.raises(ValueError, match="max_card"):
        categorical_psi(a, b, ["l_orderkey"], max_card=10)


def test_profiles_from_shard_groups_equals_per_group_profiles(spark):
    """The one-job multi-group path equals profiling each group on its
    own, on an integer, a decimal and a NULL-bearing double column —
    including a group whose double column is all NULL and a shard
    shared by two groups."""
    from quality_spark.operators.profile import (
        profile_from_shards,
        profile_shard,
        profiles_from_shard_groups,
    )

    rows = [
        (i, f"{(i * 37) % 1000 - 500}.{i % 100:02d}",
         None if i % 3 == 0 or i >= 30 else i / 7)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "i int, d string, x double").selectExpr(
        "i", "CAST(d AS DECIMAL(10, 2)) AS d", "x"
    )
    cols = ["i", "d", "x"]
    shards = [
        profile_shard(df.filter(f"i >= {lo} AND i < {hi}"), cols)
        for lo, hi in ((0, 10), (10, 20), (20, 30), (30, 40))
    ]
    groups = [[shards[0], shards[1]], [shards[3]], [shards[2], shards[1]]]
    got = profiles_from_shard_groups(groups, cols)
    want = [profile_from_shards(g, cols, bins=0) for g in groups]
    assert len(got) == len(groups)
    for g, w in zip(got, want):
        assert g.dtypes == w.dtypes
        assert sorted(g.collect()) == sorted(w.collect())
    by = _as_map(got[1].collect())
    assert by[("x", "n")] == 0 and by[("x", "n_null")] == 10
