"""Cross-column statistics (operators/stats.py, vocab.collocation_pmi,
relprofile.l_diversity_stats): known-value pins, NULL semantics, and
bit-level DuckDB oracle parity on real testdata."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quality_spark.llm.vocab import (
    collocation_pmi,
    collocation_pmi_oracle_sql,
)
from quality_spark.operators.relprofile import (
    l_diversity_oracle_sql,
    l_diversity_stats,
)
from quality_spark.operators.stats import (
    categorical_association,
    categorical_association_oracle_sql,
    categorical_entropy,
    categorical_entropy_oracle_sql,
    numeric_correlations,
    numeric_correlations_oracle_sql,
)


def _duck(sf_dir, tables=("lineitem", "orders", "documents")):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# --- numeric_correlations -------------------------------------------------


def test_corr_known_values(spark):
    # y = 2x exactly -> corr 1; z anti-correlated with x -> corr -1
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (2.0, 4.0, 2.0), (3.0, 6.0, 1.0)],
        "x double, y double, z double",
    )
    rows = {
        (r["col_x"], r["col_y"]): r
        for r in numeric_correlations(df, ["x", "y", "z"]).collect()
    }
    assert rows[("x", "y")]["corr"] == pytest.approx(1.0)
    assert rows[("x", "z")]["corr"] == pytest.approx(-1.0)
    assert rows[("y", "z")]["corr"] == pytest.approx(-1.0)
    assert all(r["n_pairs"] == 3 for r in rows.values())


def test_corr_null_pairwise_and_zero_variance(spark):
    # x-y shares only 2 complete rows; c is constant -> corr NULL
    df = spark.createDataFrame(
        [(1.0, None, 5.0), (2.0, 1.0, 5.0), (3.0, 2.0, 5.0), (None, 9.0, 5.0)],
        "x double, y double, c double",
    )
    rows = {
        (r["col_x"], r["col_y"]): r
        for r in numeric_correlations(df, ["x", "y", "c"]).collect()
    }
    assert rows[("x", "y")]["n_pairs"] == 2
    assert rows[("x", "y")]["corr"] == pytest.approx(1.0)
    assert rows[("x", "c")]["corr"] is None
    assert rows[("y", "c")]["corr"] is None


def test_corr_oracle_parity_real_data(spark, sf_dir):
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    got = sorted(
        (r["col_x"], r["col_y"], r["n_pairs"], r["corr"])
        for r in numeric_correlations(
            spark.read.parquet(f"{sf_dir}/lineitem.parquet"), cols
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in _duck(sf_dir)
        .execute(numeric_correlations_oracle_sql("lineitem", cols))
        .fetchall()
    )
    assert len(got) == 6
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        # bit-equal doubles (exact integer sums, fixed finisher order)
        assert g[3] == w[3]


# --- categorical_association ----------------------------------------------


def test_assoc_independent_and_identical(spark):
    # identical columns -> V == 1; independent 2x2 -> chi2 == 0
    same = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",)], "v string"
    ).selectExpr("v AS a", "v AS b")
    r = categorical_association(same, "a", "b").collect()[0]
    assert r["cramers_v"] == pytest.approx(1.0)
    assert r["dof"] == 4

    indep = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")] * 3,
        "a string, b string",
    )
    r = categorical_association(indep, "a", "b").collect()[0]
    assert r["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert r["n"] == 12 and r["n_cells"] == 4 and r["dof"] == 1


def test_assoc_nulls_excluded_and_degenerate(spark):
    df = spark.createDataFrame(
        [("x", "p"), ("x", None), (None, "q"), ("x", "p")],
        "a string, b string",
    )
    r = categorical_association(df, "a", "b").collect()[0]
    assert r["n"] == 2  # only complete rows
    assert r["dof"] == 0  # single category on each side
    assert r["cramers_v"] is None

    empty = spark.createDataFrame([], "a string, b string")
    r = categorical_association(empty, "a", "b").collect()[0]
    assert r["n"] == 0 and r["chi2"] == 0.0 and r["cramers_v"] is None


def test_assoc_oracle_parity_real_data(spark, sf_dir):
    got = categorical_association(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        "l_returnflag",
        "l_linestatus",
    ).collect()[0]
    want = (
        _duck(sf_dir)
        .execute(
            categorical_association_oracle_sql(
                "lineitem", "l_returnflag", "l_linestatus"
            )
        )
        .fetchall()[0]
    )
    assert tuple(got) == tuple(want)  # bit-equal incl. chi2/V doubles
    assert got["chi2"] > 0.0


# --- categorical_entropy ----------------------------------------------------


def test_entropy_known_values(spark):
    # uniform 4-way -> ln 4; constant -> 0; all-null -> NULL
    df = spark.createDataFrame(
        [("a", "k", None), ("b", "k", None), ("c", "k", None), ("d", "k", None)],
        "u string, c string, z string",
    )
    rows = {r["column"]: r for r in categorical_entropy(df, ["u", "c", "z"]).collect()}
    assert rows["u"]["entropy"] == pytest.approx(math.log(4.0))
    assert rows["u"]["n_distinct"] == 4
    assert rows["c"]["entropy"] == pytest.approx(0.0)
    assert rows["z"]["n"] == 0 and rows["z"]["entropy"] is None


def test_entropy_oracle_parity_real_data(spark, sf_dir):
    cols = ["l_returnflag", "l_linestatus"]
    got = sorted(
        tuple(r)
        for r in categorical_entropy(
            spark.read.parquet(f"{sf_dir}/lineitem.parquet"), cols
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in _duck(sf_dir)
        .execute(categorical_entropy_oracle_sql("lineitem", cols))
        .fetchall()
    )
    assert got == want  # bit-equal entropy doubles


# --- l_diversity_stats ------------------------------------------------------


def test_l_diversity_known_values(spark):
    # group (x): sensitive {s1, s2} -> l=2; group (y): {s1} twice -> l=1
    # group (z): all-NULL sensitive -> l=0
    df = spark.createDataFrame(
        [("x", "s1"), ("x", "s2"), ("y", "s1"), ("y", "s1"), ("z", None)],
        "qi string, s string",
    )
    r = l_diversity_stats(df, ["qi"], "s", l=2).collect()[0]
    assert r["n_rows"] == 5 and r["n_groups"] == 3
    assert r["min_l"] == 0
    assert r["n_groups_below_l"] == 2
    assert r["n_rows_below_l"] == 3


def test_l_diversity_validates_inputs(spark):
    df = spark.createDataFrame([("x", "s")], "qi string, s string")
    with pytest.raises(ValueError):
        l_diversity_stats(df, [], "s", l=2)
    with pytest.raises(ValueError):
        l_diversity_stats(df, ["qi"], "s", l=0)


def test_l_diversity_oracle_parity_real_data(spark, sf_dir):
    got = l_diversity_stats(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        ["o_orderstatus", "o_orderpriority"],
        "o_custkey",
        l=3,
    ).collect()[0]
    want = (
        _duck(sf_dir)
        .execute(
            l_diversity_oracle_sql(
                "orders",
                ["o_orderstatus", "o_orderpriority"],
                "o_custkey",
                l=3,
            )
        )
        .fetchall()[0]
    )
    assert tuple(got) == tuple(want)


# --- collocation_pmi --------------------------------------------------------


def test_collocation_known_values(spark):
    # "new york" always adjacent; "a b" pairs are incidental
    docs = spark.createDataFrame(
        [(1, "new york new york visit"), (2, "new york is big"),
         (3, "a b a b")],
        "doc_id bigint, text string",
    )
    out = collocation_pmi(docs, min_count=2, top=5).collect()
    got = {(r["w1"], r["w2"]): r for r in out}
    ny = got[("new", "york")]
    assert ny["pair_count"] == 3
    # N=13 tokens, c(new)=3, c(york)=3 -> pmi = ln(3*13/9)
    assert ny["n_tokens"] == 13
    assert ny["pmi"] == pytest.approx(math.log(3 * 13 / 9))
    # ordered by pmi desc: 'a b' (2*13/4) ranks above 'new york'
    assert out[0]["w1"] == "a" and out[0]["w2"] == "b"


def test_collocation_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "x y x y"), (2, ""), (3, "   "), (4, "solo")],
        "doc_id bigint, text string",
    )
    a = sorted(map(tuple, collocation_pmi(docs, 1, 10).collect()))
    assert a and all(r[0] in ("x", "y") for r in a)


def test_collocation_oracle_parity_real_data(spark, sf_dir):
    # JVM Math.log and libm ln can differ in the last ulp, so PMI
    # parity holds at the driver gate's 9-dp contract, not bit-level
    # (the counts and the ranking are exact — see docstring).
    def _norm(rows):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in rows
        )

    got = _norm(
        tuple(r)
        for r in collocation_pmi(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            min_count=3,
            top=15,
        ).collect()
    )
    want = _norm(
        _duck(sf_dir)
        .execute(collocation_pmi_oracle_sql(min_count=3, top=15))
        .fetchall()
    )
    assert len(got) == 15
    assert got == want


# --- grouped_linregress -----------------------------------------------------


def test_linregress_known_values(spark):
    from quality_spark.operators.stats import grouped_linregress

    # group g1: y = 3x + 1 exactly; g2: constant x -> NULL slope
    df = spark.createDataFrame(
        [("g1", 1.0, 4.0), ("g1", 2.0, 7.0), ("g1", 3.0, 10.0),
         ("g2", 5.0, 1.0), ("g2", 5.0, 2.0)],
        "g string, x double, y double",
    )
    rows = {r["g"]: r for r in grouped_linregress(df, ["g"], "x", "y").collect()}
    assert rows["g1"]["slope"] == pytest.approx(3.0)
    assert rows["g1"]["intercept"] == pytest.approx(1.0)
    assert rows["g1"]["r2"] == pytest.approx(1.0)
    assert rows["g2"]["slope"] is None
    assert rows["g2"]["intercept"] is None


def test_linregress_null_rows_and_constant_y(spark):
    from quality_spark.operators.stats import grouped_linregress

    df = spark.createDataFrame(
        [("g", 1.0, 2.0), ("g", 2.0, 2.0), ("g", 3.0, 2.0),
         ("g", None, 9.0), ("g", 4.0, None)],
        "g string, x double, y double",
    )
    r = grouped_linregress(df, ["g"], "x", "y").collect()[0]
    assert r["n"] == 3
    assert r["slope"] == pytest.approx(0.0)
    assert r["intercept"] == pytest.approx(2.0)
    assert r["r2"] is None  # zero y-variance


def test_linregress_oracle_parity_real_data(spark, sf_dir):
    from quality_spark.operators.stats import (
        grouped_linregress,
        grouped_linregress_oracle_sql,
    )

    got = sorted(
        map(
            tuple,
            grouped_linregress(
                spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
                ["l_returnflag"],
                "l_quantity",
                "l_extendedprice",
            ).collect(),
        )
    )
    want = sorted(
        tuple(r)
        for r in _duck(sf_dir)
        .execute(
            grouped_linregress_oracle_sql(
                "lineitem", ["l_returnflag"], "l_quantity", "l_extendedprice"
            )
        )
        .fetchall()
    )
    assert len(got) >= 2
    assert got == want  # bit-equal slope/intercept/r2 doubles


# --- fd_g3_error ------------------------------------------------------------


def test_fd_g3_known_values(spark):
    from quality_spark.operators.relprofile import fd_g3_error

    # lhs 'a': rhs values {x:2, y:1} -> delete 1; lhs 'b': consistent
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z"), ("b", "z")],
        "l string, r string",
    )
    r = fd_g3_error(df, ["l"], "r").collect()[0]
    assert r["n_rows"] == 5 and r["n_groups"] == 2
    assert r["n_violating_groups"] == 1
    assert r["g3_rows"] == 1
    assert r["confidence"] == pytest.approx(0.8)


def test_fd_g3_null_rhs_is_a_value_and_validation(spark):
    from quality_spark.operators.relprofile import fd_g3_error

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("a", None)], "l string, r string"
    )
    r = fd_g3_error(df, ["l"], "r").collect()[0]
    # NULL rhs is the majority value: keep 2, delete the 'x' row
    assert r["g3_rows"] == 1 and r["n_violating_groups"] == 1
    with pytest.raises(ValueError):
        fd_g3_error(df, [], "r")


def test_fd_g3_oracle_parity_real_data(spark, sf_dir):
    from quality_spark.operators.relprofile import (
        fd_g3_error,
        fd_g3_oracle_sql,
    )

    got = tuple(
        fd_g3_error(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            ["o_custkey"],
            "o_orderstatus",
        ).collect()[0]
    )
    want = tuple(
        _duck(sf_dir)
        .execute(fd_g3_oracle_sql("orders", ["o_custkey"], "o_orderstatus"))
        .fetchall()[0]
    )
    assert got == want
    assert got[3] > 0  # the FD is genuinely violated on real data


# --- cluster_balanced_sample -------------------------------------------------


def test_cluster_sample_caps_and_determinism(spark, sf_dir):
    from quality_spark.llm.sampling import cluster_balanced_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter("vec_id % 50 = 0")
    out = cluster_balanced_sample(emb, cents, per_cell=3, seed=7)
    rows = out.select("cell", "vec_id").collect()
    per = {}
    for r in rows:
        per.setdefault(r["cell"], []).append(r["vec_id"])
    assert all(len(v) <= 3 for v in per.values())
    assert len(per) > 1
    # partition-layout independence
    re = cluster_balanced_sample(
        emb.repartition(7), cents, per_cell=3, seed=7
    )
    assert sorted(map(tuple, re.select("cell", "vec_id").collect())) == sorted(
        map(tuple, rows)
    )
    # different seed -> (almost surely) different picks somewhere
    other = cluster_balanced_sample(emb, cents, per_cell=3, seed=8)
    assert sorted(
        map(tuple, other.select("cell", "vec_id").collect())
    ) != sorted(map(tuple, rows))


def test_cluster_sample_oracle_parity_and_validation(spark, sf_dir):
    import duckdb

    from quality_spark.llm.sampling import (
        cluster_balanced_sample,
        cluster_balanced_sample_oracle_sql,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = emb.filter("vec_id % 50 = 0")
    got = sorted(
        map(
            tuple,
            cluster_balanced_sample(emb, cents, per_cell=4, seed=3)
            .select("cell", "vec_id")
            .collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            cluster_balanced_sample_oracle_sql(per_cell=4, seed=3)
        ).fetchall()
    )
    assert got == want and len(got) > 0

    with pytest.raises(ValueError):
        cluster_balanced_sample(emb, cents, per_cell=0)


# --- mad_outlier_stats --------------------------------------------------------


def test_mad_known_values(spark):
    from quality_spark.operators.stats import mad_outlier_stats

    # values 1..9 plus a wild 1000: median 5.5-ish -> upper median 6
    # (even n pick), deviations from it, MAD, one obvious outlier
    df = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]], "x double"
    )
    r = mad_outlier_stats(df, ["x"], k_num=3, k_den=1).collect()[0]
    assert r["n"] == 10
    assert r["median_mic"] == 6_000_000  # upper median of 10 values
    # devs: |1..9,1000 - 6| -> counts {0:1, 1:2, 2:2, 3:2, 4:1, 5:1,
    # 994:1}; cum 1,3,5,7,... -> first cum >= 5.5 is dev 3
    assert r["mad_mic"] == 3_000_000
    # outliers: dev > 3*3 = 9 -> only the 1000 row
    assert r["n_outliers"] == 1


def test_mad_bucketed_pick_matches_brute_force(spark):
    """Round-13 regression: the exact two-phase bucketed rank pick
    (coarse buckets + cum_before + in-bucket window) must agree with
    a brute-force nearest-rank median/MAD on a distribution whose
    target lands PAST the first bucket (cum_before > 0) and whose
    range spans many buckets (shift > 0)."""
    import statistics

    from quality_spark.operators.stats import mad_outlier_stats

    # 10k distinct-ish values spread over ~5e9 micros of range plus a
    # heavy low cluster so the median sits mid-bucket-table
    vals = [float(v) for v in range(1, 2001)] * 2 + [
        float(v * 997) for v in range(1, 1001)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = mad_outlier_stats(df, ["x"], k_num=1, k_den=1).collect()[0]
    mics = sorted(int(round(v * 1_000_000)) for v in vals)
    n = len(mics)
    # upper-median nearest-rank pick: first cum >= (n+1)/2
    med = mics[(n + 1) // 2 - 1] if n % 2 == 1 else mics[n // 2]
    devs = sorted(abs(m - med) for m in mics)
    mad = devs[(n + 1) // 2 - 1] if n % 2 == 1 else devs[n // 2]
    assert r["n"] == n
    assert r["median_mic"] == med
    assert r["mad_mic"] == mad
    assert r["n_outliers"] == sum(1 for d in devs if d > mad)


def test_mad_nulls_and_all_null_column(spark):
    from quality_spark.operators.stats import mad_outlier_stats

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (None, None)], "x double, z double"
    )
    rows = {r["column"]: r for r in mad_outlier_stats(df, ["x", "z"]).collect()}
    assert rows["x"]["n"] == 2 and rows["x"]["median_mic"] == 2_000_000
    assert rows["z"]["n"] == 0 and rows["z"]["median_mic"] is None
    with pytest.raises(ValueError):
        mad_outlier_stats(df, [])
    with pytest.raises(ValueError):
        mad_outlier_stats(df, ["x"], k_den=0)


def test_mad_oracle_parity_real_data(spark, sf_dir):
    from quality_spark.operators.stats import (
        mad_outlier_oracle_sql,
        mad_outlier_stats,
    )

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    # k = 1x MAD: uniform-ish TPC-H columns have no 3-MAD outliers,
    # but half-ish of any distribution sits past 1 MAD
    got = sorted(
        map(
            tuple,
            mad_outlier_stats(
                spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
                cols,
                k_num=1,
            ).collect(),
        )
    )
    want = sorted(
        tuple(r)
        for r in _duck(sf_dir)
        .execute(mad_outlier_oracle_sql("lineitem", cols, k_num=1))
        .fetchall()
    )
    assert got == want
    assert any(r[4] > 0 for r in got)


# --- benford_stats ------------------------------------------------------------


def test_benford_known_values(spark):
    import math

    from quality_spark.operators.stats import benford_stats

    # 12 values: first digits 1x6, 2x3, 9x3; zeros/nulls excluded
    vals = [1.0, 10.0, 0.0015, 150.0, 19.0, -1.2, 2.0, 25.0, -2.0,
            9.0, 0.9, 0.00009, 0.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    # 0.00009 -> mic rounds to 90 -> digit 9; 0.0015 -> 1500 -> 1
    rows = benford_stats(df, ["x"]).collect()
    got = {r["digit"]: r["n_obs"] for r in rows}
    assert got == {1: 6, 2: 3, 9: 3}
    n = rows[0]["n"]
    assert n == 12
    # chi2 replay in python: observed {1:6,2:3,9:3}, others 0
    obs = {d: got.get(d, 0) for d in range(1, 10)}
    exp = {d: n * math.log10(1 + 1 / d) for d in range(1, 10)}
    chi2 = sum((obs[d] - exp[d]) ** 2 / exp[d] for d in range(1, 10))
    assert rows[0]["chi2"] == pytest.approx(chi2, rel=1e-12)


def test_benford_oracle_parity_real_data(spark, sf_dir):
    from quality_spark.operators.stats import (
        benford_oracle_sql,
        benford_stats,
    )

    cols = ["l_extendedprice", "o_totalprice"]
    # two tables -> run per column against its table
    li = benford_stats(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), ["l_extendedprice"]
    )
    od = benford_stats(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), ["o_totalprice"]
    )
    got = sorted(map(tuple, li.unionByName(od).collect()))
    con = _duck(sf_dir, tables=("lineitem", "orders"))
    want = sorted(
        tuple(r)
        for r in (
            con.execute(
                benford_oracle_sql("lineitem", ["l_extendedprice"])
            ).fetchall()
            + con.execute(
                benford_oracle_sql("orders", ["o_totalprice"])
            ).fetchall()
        )
    )
    assert got == want and len(got) >= 9


# --- transition_matrix --------------------------------------------------------


def test_transition_matrix_known_values(spark):
    from quality_spark.operators.analytics import transition_matrix

    rows = [
        (1, 1, "a", 100), (1, 2, "b", 101), (1, 3, "a", 102),
        (2, 4, "a", 200), (2, 5, "a", 201),
        (3, 6, "b", 300),  # single event: no pairs
    ]
    df = spark.createDataFrame(
        [(u, float(t), e, i) for u, t, e, i in rows],
        "user_id bigint, ts double, event_type string, event_id bigint",
    )
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in transition_matrix(df, ts_col="ts").collect()
    }
    assert out[("a", "b")]["n_transitions"] == 1
    assert out[("b", "a")]["n_transitions"] == 1
    assert out[("a", "a")]["n_transitions"] == 1
    assert out[("a", "b")]["n_from"] == 2
    assert out[("a", "b")]["p"] == pytest.approx(0.5)
    assert ("b", None) not in out


def test_transition_matrix_oracle_parity_real_data(spark, sf_dir):
    import duckdb

    from quality_spark.operators.analytics import (
        transition_matrix,
        transition_matrix_oracle_sql,
    )

    got = sorted(
        map(
            tuple,
            transition_matrix(
                spark.read.parquet(f"{sf_dir}/events.parquet")
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(transition_matrix_oracle_sql()).fetchall()
    )
    assert got == want and len(got) > 3


# --- corpus_report (composition recipe) ---------------------------------------


def test_corpus_report_sections_match_standalone_ops(spark, sf_dir):
    from quality_spark.llm.pipeline import corpus_report
    from quality_spark.operators.profile import profile_categorical

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = corpus_report(docs).collect()
    by_sec = {}
    for r in rep:
        by_sec.setdefault(r["section"], []).append(r)

    # volume: replay directly
    n_docs = docs.count()
    vol = {r["metric"]: r["value"] for r in by_sec["volume"]}
    assert vol["n_docs"] == n_docs
    assert vol["n_tokens"] > 0 and vol["n_chars"] > 0

    # lang section equals profile_categorical
    langs = {
        (r["value"] if r["value"] is not None else "<NULL>"): r["cnt"]
        for r in profile_categorical(docs, ["lang"], top=10).collect()
    }
    got_langs = {r["key"]: r["value"] for r in by_sec["lang"]}
    assert got_langs == langs

    # length: p50 present, micro-scaled, plausible
    length = {r["metric"]: r["value"] for r in by_sec["length"]}
    assert set(length) == {"mean", "p25", "p50", "p75", "p95"}
    assert length["p25"] <= length["p50"] <= length["p75"] <= length["p95"]

    # dup accounting equals a direct md5 groupBy
    from pyspark.sql import functions as F

    direct = (
        docs.select(F.md5(F.coalesce("text", F.lit(""))).alias("k"))
        .groupBy("k")
        .count()
        .filter("count > 1")
        .agg(
            F.count(F.lit(1)).alias("g"),
            F.coalesce(F.sum(F.expr("count - 1")), F.lit(0)).alias("s"),
        )
        .collect()[0]
    )
    dup = {r["metric"]: r["value"] for r in by_sec["dup"]}
    assert dup["dup_groups"] == direct["g"]
    assert dup["dup_surplus_rows"] == direct["s"]


def test_corpus_report_no_lang_column(spark):
    from quality_spark.llm.pipeline import corpus_report

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")],
        "doc_id bigint, text string",
    )
    rep = corpus_report(df, lang_col=None).collect()
    secs = {r["section"] for r in rep}
    assert "lang" not in secs
    vol = {r["metric"]: r["value"] for r in rep if r["section"] == "volume"}
    assert vol == {"n_docs": 3, "n_tokens": 6, "n_chars": 10, "n_empty": 1}
    dup = {r["metric"]: r["value"] for r in rep if r["section"] == "dup"}
    assert dup == {"dup_groups": 1, "dup_surplus_rows": 1}


# --- grouped_correlations ------------------------------------------------------


def test_grouped_correlations_known_and_parity(spark, sf_dir):
    from quality_spark.operators.stats import (
        grouped_correlations,
        grouped_correlations_oracle_sql,
    )

    # group g1: y = 2x -> corr 1; g2: y = -x -> corr -1
    df = spark.createDataFrame(
        [("g1", 1.0, 2.0), ("g1", 2.0, 4.0), ("g1", 3.0, 6.0),
         ("g2", 1.0, -1.0), ("g2", 2.0, -2.0), ("g2", 3.0, -3.0),
         (None, 1.0, 1.0), (None, 2.0, 3.0)],
        "g string, x double, y double",
    )
    rows = {
        (r["g"], r["col_x"], r["col_y"]): r["corr"]
        for r in grouped_correlations(df, ["g"], ["x", "y"]).collect()
    }
    assert rows[("g1", "x", "y")] == pytest.approx(1.0)
    assert rows[("g2", "x", "y")] == pytest.approx(-1.0)
    assert (None, "x", "y") in rows  # NULL group is a group

    got = sorted(
        map(
            tuple,
            grouped_correlations(
                spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
                ["l_returnflag"],
                ["l_quantity", "l_extendedprice", "l_discount"],
            ).collect(),
        ),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in _duck(sf_dir)
            .execute(
                grouped_correlations_oracle_sql(
                    "lineitem",
                    ["l_returnflag"],
                    ["l_quantity", "l_extendedprice", "l_discount"],
                )
            )
            .fetchall()
        ),
        key=str,
    )
    assert got == want and len(got) >= 6


# --- null_pattern_stats ---------------------------------------------------------


def test_null_patterns_known_values(spark):
    from quality_spark.operators.stats import null_pattern_stats

    df = spark.createDataFrame(
        [(1.0, "a", None), (2.0, "b", None), (None, None, None),
         (3.0, "c", 1.0)],
        "x double, y string, z double",
    )
    rows = {
        r["pattern"]: r for r in null_pattern_stats(df, ["x", "y", "z"]).collect()
    }
    assert rows["001"]["n_rows"] == 2 and rows["001"]["n_nulls"] == 1
    assert rows["111"]["n_rows"] == 1 and rows["111"]["n_nulls"] == 3
    assert rows["000"]["n_rows"] == 1 and rows["000"]["n_nulls"] == 0
    with pytest.raises(ValueError):
        null_pattern_stats(df, [])
    with pytest.raises(ValueError):
        null_pattern_stats(df, ["x"] * 31)


def test_null_patterns_oracle_parity_real_data(spark, sf_dir):
    from quality_spark.operators.stats import (
        null_pattern_oracle_sql,
        null_pattern_stats,
    )

    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    got = sorted(
        map(
            tuple,
            null_pattern_stats(
                spark.read.parquet(f"{sf_dir}/orders.parquet"), cols
            ).collect(),
        )
    )
    want = sorted(
        tuple(r)
        for r in _duck(sf_dir, tables=("orders",))
        .execute(null_pattern_oracle_sql("orders", cols))
        .fetchall()
    )
    assert got == want and len(got) >= 1


# --- mad_from_approx_shards -----------------------------------------------------


def test_approx_mad_error_bound_and_merge_identity(spark, sf_dir):
    from quality_spark.operators.profile import profile_shard_approx
    from quality_spark.operators.stats import (
        mad_from_approx_shards,
        mad_outlier_stats,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice"]
    # declared ranges from the data's true min/max (schema knowledge)
    import pyspark.sql.functions as F

    mm = li.agg(
        *[
            f
            for c in cols
            for f in (
                F.expr(
                    f"CAST(floor(CAST(min({c}) AS DOUBLE) * 1000000 + 0.5)"
                    f" AS BIGINT)"
                ).alias(f"lo_{c}"),
                F.expr(
                    f"CAST(floor(CAST(max({c}) AS DOUBLE) * 1000000 + 0.5)"
                    f" AS BIGINT)"
                ).alias(f"hi_{c}"),
            )
        ]
    ).collect()[0]
    ranges = {c: (mm[f"lo_{c}"], mm[f"hi_{c}"]) for c in cols}

    halves = [
        profile_shard_approx(li.filter("l_orderkey % 2 = 0"), cols, bins=512, ranges=ranges),
        profile_shard_approx(li.filter("l_orderkey % 2 = 1"), cols, bins=512, ranges=ranges),
    ]
    whole = [profile_shard_approx(li, cols, bins=512, ranges=ranges)]
    est_halves = {
        r["column"]: r for r in mad_from_approx_shards(halves, cols).collect()
    }
    est_whole = {
        r["column"]: r for r in mad_from_approx_shards(whole, cols).collect()
    }
    # merge identity: two shards == one shard of the union
    for c in cols:
        assert tuple(est_halves[c]) == tuple(est_whole[c])

    exact = {
        r["column"]: r for r in mad_outlier_stats(li, cols).collect()
    }
    for c in cols:
        e, a = exact[c], est_halves[c]
        w = a["bin_width_mic"]
        assert a["n_binned"] == e["n"]
        assert abs(a["median_mic_est"] - e["median_mic"]) <= w
        assert abs(a["mad_mic_est"] - e["mad_mic"]) <= 3 * w


def test_approx_mad_validations(spark):
    from quality_spark.operators.profile import profile_shard_approx
    from quality_spark.operators.stats import mad_from_approx_shards

    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    no_hist = profile_shard_approx(df, ["x"])  # bins=0
    with pytest.raises(ValueError):
        mad_from_approx_shards([no_hist], ["x"])
    with pytest.raises(ValueError):
        mad_from_approx_shards([], ["x"])
    a = profile_shard_approx(df, ["x"], bins=8, ranges={"x": (0, 10_000_000)})
    b = profile_shard_approx(df, ["x"], bins=8, ranges={"x": (0, 20_000_000)})
    with pytest.raises(ValueError):
        mad_from_approx_shards([a, b], ["x"]).collect()
    # same (lo, span) but differing bin counts: must raise the clear
    # per-column ValueError, not an opaque TypeError from zip_with
    # null-padding (ADVICE r10)
    c = profile_shard_approx(df, ["x"], bins=4, ranges={"x": (0, 10_000_000)})
    with pytest.raises(ValueError, match="disagree on bins"):
        mad_from_approx_shards([a, c], ["x"])


def test_mad_all_requested_columns_null(spark):
    """Every requested column entirely NULL must return the documented
    n=0 rows, not fail analysis on a 'CASE  END' expression."""
    from quality_spark.operators.stats import mad_outlier_stats

    df = spark.createDataFrame(
        [(None, None), (None, None)], "x double, y double"
    )
    rows = {
        r["column"]: r
        for r in mad_outlier_stats(df, ["x", "y"]).collect()
    }
    assert set(rows) == {"x", "y"}
    for r in rows.values():
        assert (r["n"], r["median_mic"], r["mad_mic"], r["n_outliers"]) == (
            0, None, None, 0,
        )


# --- corr shards (mergeable) ----------------------------------------------------


def test_corr_shards_merge_identity_and_parquet(spark, sf_dir, tmp_path):
    from quality_spark.operators.stats import (
        corr_from_shards,
        corr_shard,
        numeric_correlations,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    whole = sorted(map(tuple, numeric_correlations(li, cols).collect()))

    shards = [
        corr_shard(li.filter(f"l_orderkey % 3 = {i}"), cols)
        for i in range(3)
    ]
    merged = sorted(map(tuple, corr_from_shards(shards, cols).collect()))
    assert merged == whole  # bit-equal corr doubles

    # artifacts survive parquet (DECIMAL(38,0) columns round-trip)
    p = str(tmp_path / "cshards")
    for i, s in enumerate(shards):
        s.write.mode("overwrite").parquet(f"{p}/{i}")
    reread = [spark.read.parquet(f"{p}/{i}") for i in range(3)]
    again = sorted(map(tuple, corr_from_shards(reread, cols).collect()))
    assert again == whole

    with pytest.raises(ValueError):
        corr_from_shards([], cols)
