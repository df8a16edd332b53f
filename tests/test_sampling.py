"""Deterministic sampling / mixing (llm/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quality_spark.llm.sampling import (
    hash_sample,
    sample_cond_sql,
    stratified_hash_sample,
    weighted_mix,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_sample_deterministic_and_partition_invariant(spark, docs):
    a = {r["doc_id"] for r in hash_sample(docs, 0.5, "doc_id", seed=1).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(7), 0.5, "doc_id", seed=1).collect()
    }
    assert a == b and 0.3 < len(a) / 500 < 0.7


def test_hash_sample_rate_zero_one(spark, docs):
    assert hash_sample(docs, 0.0, "doc_id").count() == 0
    assert hash_sample(docs, 1.0, "doc_id").count() == docs.count()
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5, "doc_id")


def test_different_seeds_differ(spark, docs):
    a = {r["doc_id"] for r in hash_sample(docs, 0.5, "doc_id", seed=1).collect()}
    b = {r["doc_id"] for r in hash_sample(docs, 0.5, "doc_id", seed=2).collect()}
    assert a != b


def test_stratified_rates(spark, docs):
    out = stratified_hash_sample(
        docs, {"en": 0.0, "fr": 1.0}, "lang", "doc_id", default_rate=0.0
    )
    rows = out.collect()
    assert all(r["lang"] == "fr" for r in rows)
    assert len(rows) == docs.filter(F.col("lang") == "fr").count()


def test_weighted_mix_tags_and_counts(spark, docs):
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    out = weighted_mix([("a", a, 1.0), ("b", b, 0.0)], "doc_id").collect()
    assert {r["mix_source"] for r in out} == {"a"}
    assert len(out) == a.count()


def test_sample_cond_dialects_agree(spark, docs):
    import duckdb

    cond_s = sample_cond_sql("doc_id", 0.37, 9, "spark")
    cond_d = sample_cond_sql("doc_id", 0.37, 9, "duckdb")
    got = {r["doc_id"] for r in docs.filter(F.expr(cond_s)).collect()}
    exp = {
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF}/documents.parquet' WHERE {cond_d}"
        ).fetchall()
    }
    assert got == exp


# ---------------------------------------------------------------------------
# document filter pipeline (llm/pipeline.py)
# ---------------------------------------------------------------------------


def test_filter_pipeline_first_fail_wins_and_survivor_dedup(spark, docs):
    from quality_spark.llm.pipeline import filter_documents, filter_summary, kept_documents

    filtered = filter_documents(
        docs,
        min_tokens=30,
        min_quality=0.40,
        langs=["en", "fr", "de", "es"],
        dedup_key=F.substring("text", 1, 40),
    )
    rows = filtered.collect()
    # stage order: a too-short zh doc reports too_short, not lang
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        if r["drop_reason"] == "lang":
            assert r["lang"] not in ("en", "fr", "de", "es")
    # survivor-aware dedup: every duplicate has a kept row with the
    # same 40-char prefix and a smaller doc_id
    kept_pfx = {
        r["text"][:40]: r["doc_id"] for r in rows if r["drop_reason"] is None
    }
    for r in rows:
        if r["drop_reason"] == "duplicate":
            assert r["text"][:40] in kept_pfx
            assert kept_pfx[r["text"][:40]] < r["doc_id"]
    # accounting adds up
    total = filter_summary(filtered).agg(F.sum("n")).collect()[0][0]
    assert total == docs.count()
    assert kept_documents(filtered).count() == sum(
        1 for r in rows if r["drop_reason"] is None
    )


def test_filter_pipeline_stages_disable(spark, docs):
    from quality_spark.llm.pipeline import filter_documents

    out = filter_documents(docs, min_tokens=None, dedup_key=F.col("doc_id"))
    # only dedup active, keys unique -> everything kept
    assert out.filter(F.col("drop_reason").isNotNull()).count() == 0


def test_filter_pipeline_null_text_is_invalid(spark):
    from quality_spark.llm.pipeline import filter_documents

    df = spark.createDataFrame(
        [(1, "a real document " * 20, "en"), (2, None, "en"), (3, None, "en")],
        "doc_id long, text string, lang string",
    )
    rows = filter_documents(df, min_tokens=5).collect()
    reasons = {r["doc_id"]: r["drop_reason"] for r in rows}
    assert reasons[1] is None
    assert reasons[2] == "invalid" and reasons[3] == "invalid"


def test_text_stats_empty_doc_no_ansi_crash(spark):
    """Empty/whitespace/NULL text yields NULL ratios, not a
    DIVIDE_BY_ZERO abort under Spark 4's default ANSI mode."""
    from quality_spark.llm.textstats import with_text_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real text here")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_text_stats(df).collect()}
    assert rows[1]["stopword_ratio"] is None
    assert rows[2]["avg_token_len"] is None
    assert rows[4]["token_count"] == 3


def test_hash_sample_complement_and_null_keys(spark):
    """complement=True partitions exactly; NULL keys land
    deterministically on one side instead of vanishing from both
    (code-review regression)."""
    from quality_spark.llm.sampling import hash_sample

    df = spark.createDataFrame(
        [(i,) for i in range(200)] + [(None,)], "k long"
    )
    train = hash_sample(df, 0.7, "k", seed=3)
    test = hash_sample(df, 0.7, "k", seed=3, complement=True)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 201  # exact partition incl. the NULL row
    both = train.join(test, train["k"].eqNullSafe(test["k"]), "inner")
    assert both.count() == 0
    # rate=1.0 keeps EVERY row, NULL key included
    assert hash_sample(df, 1.0, "k").count() == 201


def test_temperature_rates_known_values():
    """T=2: rates realize the exact sqrt-tempered mixture; the
    scarcest flattened domain keeps rate 1.0; T=1 keeps everything."""
    from quality_spark.llm.sampling import temperature_rates

    counts = {"en": 900, "fr": 100, "sw": 25}
    r = temperature_rates(counts, 2.0)
    # q ∝ sqrt(n): 30, 10, 5 ; C = min(n/q) = min(30, 10, 5) = 5
    assert r["sw"] == 1.0
    assert abs(r["fr"] - 5 * 10 / 100) < 1e-12
    assert abs(r["en"] - 5 * 30 / 900) < 1e-12
    # expected kept sizes ∝ sqrt(n): 150, 50, 25
    r1 = temperature_rates(counts, 1.0)
    assert all(abs(v - 1.0) < 1e-12 for v in r1.values())


def test_temperature_sample_matches_duckdb(spark, sf_dir):
    """temperature_sample kept set == the DuckDB replay (sqrt rates +
    the same portable-hash threshold), proving cross-engine
    determinism at T=2."""
    import duckdb

    from quality_spark.llm.dedup import hash60_sql
    from quality_spark.llm.sampling import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = temperature_sample(docs, "lang", "doc_id", 2.0, seed=7)
    got = sorted(r["doc_id"] for r in kept.select("doc_id").collect())

    h = hash60_sql(
        "('7' || ':' || coalesce(CAST(doc_id AS VARCHAR), '<NULL>'))",
        "duckdb",
    )
    want = sorted(
        r[0]
        for r in duckdb.connect().execute(f"""
WITH n AS (SELECT lang, count(*)::DOUBLE AS n
           FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY lang),
c AS (SELECT min(n / sqrt(n)) AS c FROM n),
r AS (SELECT lang, least(1.0, (SELECT c FROM c) * sqrt(n) / n) AS rate FROM n)
SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet') d
JOIN r USING (lang)
WHERE (({h}) % 1000000) < CAST(round(rate * 1000000) AS BIGINT)
""").fetchall()
    )
    assert got == want and len(got) > 0
    assert len(got) < docs.count()  # it actually downsampled something


def test_dsir_known_values(spark):
    """DSIR diagnostics on a hand-checkable corpus: integer dot
    products against the two models, and the log weight separates a
    target-like doc from a raw-like doc."""
    import math

    from quality_spark.llm.dsir import (
        dsir_log_weights,
        hashed_gram_features,
        train_bucket_counts,
    )

    target = spark.createDataFrame(
        [(1, "alpha beta alpha")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(2, "gamma delta"), (3, "gamma gamma")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(10, "alpha beta"), (11, "gamma gamma"), (12, "")],
        "doc_id long, text string",
    )
    B = 1024
    tc = train_bucket_counts(hashed_gram_features(target, buckets=B))
    rc = train_bucket_counts(hashed_gram_features(raw, buckets=B))
    feats = hashed_gram_features(corpus, buckets=B)
    out = {
        r["doc_id"]: r
        for r in dsir_log_weights(feats, tc, rc, B).collect()
    }
    # doc 10 'alpha beta': grams = alpha, beta, 'alpha beta' (3)
    assert out[10]["n_grams"] == 3
    # target grams: alpha x2, beta, 'alpha beta', 'beta alpha' -> dot:
    # alpha*2 + beta*1 + 'alpha beta'*1 = 4 (assuming no bucket
    # collisions at B=1024 for these 7 distinct grams)
    assert out[10]["dot_target"] == 4 and out[10]["dot_raw"] == 0
    # doc 11 'gamma gamma': grams gamma, gamma, 'gamma gamma' ->
    # raw grams: gamma x3, delta, 'gamma delta', 'gamma gamma' ->
    # dot_raw = 3+3+1 = 7
    assert out[11]["dot_target"] == 0 and out[11]["dot_raw"] == 7
    assert out[10]["log_weight"] > 0 > out[11]["log_weight"]
    # empty doc: no grams -> no feature rows -> absent from output
    assert 12 not in out
    # closed-form check of doc 11's weight: N_t=5, N_r=6
    lw = 2 * (math.log(1 / (5 + B)) - math.log(4 / (6 + B))) + (
        math.log(1 / (5 + B)) - math.log(2 / (6 + B))
    )
    assert abs(out[11]["log_weight"] - lw) < 1e-9


def test_dsir_features_match_duckdb(spark, sf_dir):
    """The full DSIR integer pipeline (tokenize -> 1..2-grams ->
    portable hash buckets -> model joins -> per-doc dots) replays
    exactly in DuckDB over real documents."""
    import duckdb

    from quality_spark.llm.dsir import (
        dsir_log_weights,
        grams_sql,
        hashed_gram_features,
        train_bucket_counts,
    )
    from quality_spark.llm.dedup import hash60_sql

    B = 4096
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    tc = train_bucket_counts(hashed_gram_features(target, buckets=B))
    rc = train_bucket_counts(hashed_gram_features(corpus, buckets=B))
    got = sorted(
        (r["doc_id"], r["n_grams"], r["n_buckets"], r["dot_target"], r["dot_raw"])
        for r in dsir_log_weights(
            hashed_gram_features(corpus, buckets=B), tc, rc, B
        ).collect()
    )
    g1 = grams_sql("text", 1, "duckdb")
    g2 = grams_sql("text", 2, "duckdb")
    h = hash60_sql("g", "duckdb")
    sql = f"""
WITH base AS (SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')),
grams AS (
  SELECT doc_id, unnest(list_concat({g1}, {g2})) AS g FROM base
),
b AS (SELECT doc_id, ({h}) % {B} AS bucket FROM grams),
feats AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
tmodel AS (SELECT bucket, sum(cnt) AS t FROM feats WHERE doc_id % 10 = 0 GROUP BY 1),
rmodel AS (SELECT bucket, sum(cnt) AS r FROM feats WHERE doc_id % 10 != 0 GROUP BY 1)
SELECT f.doc_id, sum(f.cnt) AS n_grams, count(*) AS n_buckets,
       sum(f.cnt * coalesce(t.t, 0)) AS dot_target,
       sum(f.cnt * coalesce(r.r, 0)) AS dot_raw
FROM feats f
LEFT JOIN tmodel t USING (bucket) LEFT JOIN rmodel r USING (bucket)
WHERE f.doc_id % 10 != 0
GROUP BY 1
"""
    want = sorted(
        (r[0], r[1], r[2], r[3], r[4])
        for r in duckdb.connect().execute(sql).fetchall()
    )
    assert got == want and len(got) > 100


def test_cap_per_group_tie_break_by_id(spark):
    from quality_spark.llm.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "g", 1.0) for i in range(10)], "doc_id bigint, grp string, score double"
    )
    kept = cap_per_group(df, "grp", 3, "score", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]


def test_weighted_sample_es_properties(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling: exact n rows, DuckDB
    replay bit-equal, nested-sample property (the first m of a size-n
    sample IS the size-m sample), non-positive/NULL weights excluded,
    and an overwhelming weight is always drawn first."""
    import duckdb

    from pyspark.sql import functions as F

    from quality_spark.llm.sampling import (
        weighted_sample,
        weighted_sample_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s20 = weighted_sample(docs, "n_chars", 20, "doc_id", seed=11)
    got = sorted((r["doc_id"], r["sample_rank"]) for r in s20.collect())
    assert len(got) == 20
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        (int(a), int(b))
        for a, b in con.execute(
            weighted_sample_oracle_sql(
                "documents", "n_chars", 20, "doc_id", 11, columns="doc_id"
            )
        ).fetchall()
    )
    assert got == want

    s10 = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in weighted_sample(docs, "n_chars", 10, "doc_id", seed=11).collect()
    )
    assert s10 == sorted(x for x in got if x[1] <= 10)

    mixed = docs.withColumn(
        "w",
        F.when(F.col("doc_id") == 42, 1e12)
        .when(F.col("doc_id") % 5 == 0, None)
        .when(F.col("doc_id") % 7 == 0, -1.0)
        .otherwise(F.col("n_chars").cast("double")),
    )
    sb = weighted_sample(mixed, "w", 5, "doc_id", seed=3).collect()
    ids = {r["doc_id"] for r in sb}
    assert 42 in ids and len(sb) == 5
    assert all(i % 5 != 0 or i == 42 for i in ids)  # NULL-weight rows out


def test_weighted_sample_per_group_oracle(spark, sf_dir):
    """Per-group ES sampling: exactly n per group, DuckDB replay
    bit-equal."""
    import duckdb

    from quality_spark.llm.sampling import (
        weighted_sample_per_group,
        weighted_sample_per_group_oracle_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = sorted(
        (r["lang"], r["doc_id"])
        for r in weighted_sample_per_group(
            docs, "lang", "n_chars", 4, "doc_id", seed=5
        ).collect()
    )
    import collections

    per = collections.Counter(g for g, _ in plain)
    assert all(v == 4 for v in per.values())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        (a, int(b))
        for a, b in con.execute(
            weighted_sample_per_group_oracle_sql(
                "documents", "lang", "n_chars", 4, "doc_id", 5,
                columns="lang, doc_id",
            )
        ).fetchall()
    )
    assert plain == want


def _wf_ref(counts, weights, budget):
    """From-scratch waterfilling reference: exact integer saturation
    prefix in n/w order + the two-integer round-half-up cut."""
    items = sorted(
        ((d, counts[d], weights[d]) for d in counts if d in weights),
        key=lambda t: (t[1] / t[2], t[0]),
    )
    s_prev, w_from = 0, sum(w for _, _, w in items)
    flags = []
    for _, n, w in items:
        flags.append(n * w_from <= (budget - s_prev) * w)
        s_prev += n
        w_from -= w
    s_k = sum(n for (_, n, _), f in zip(items, flags) if f)
    w_unsat = sum(w for (_, _, w), f in zip(items, flags) if not f)
    cuts = {}
    for (d, n, w), f in zip(items, flags):
        if f:
            cuts[d] = (1_000_000, True)
        else:
            num, den = (budget - s_k) * w, w_unsat * n
            cuts[d] = ((2 * 1_000_000 * num + den) // (2 * den), False)
    return cuts



def test_token_budget_plan_vs_reference_and_invariants(spark):
    """token_budget_plan must reproduce the from-scratch waterfilling
    reference exactly (saturation flags + integer cuts) across
    regimes: budget 0, tiny, mid (mixed saturation), >= corpus. The
    planned token total Σ(sat n + unsat n·cut/1e6) must land within
    rounding distance of the budget whenever some domain is
    unsaturated."""
    import random

    from quality_spark.llm.sampling import token_budget_plan

    rng = random.Random(13)
    counts = {f"d{i}": rng.randint(1, 2000) for i in range(12)}
    weights = {f"d{i}": rng.randint(1, 9) for i in range(12)}
    rows = []
    rid = 0
    for d, n in counts.items():
        left = n
        while left > 0:
            t = min(left, rng.randint(1, 97))
            rows.append((rid, d, t))
            rid += 1
            left -= t
    df = spark.createDataFrame(rows, "id long, dom string, tok long")
    total = sum(counts.values())
    for budget in (0, 37, total // 3, total, total * 2):
        got = {
            r["domain"]: (r["cut"], r["saturated"])
            for r in token_budget_plan(
                df, "dom", weights, budget, token_count_expr="tok"
            ).collect()
        }
        want = _wf_ref(counts, weights, budget)
        assert got == want, (budget, got, want)
        planned = sum(
            counts[d] if sat else counts[d] * cut / 1_000_000
            for d, (cut, sat) in got.items()
        )
        if any(not sat for _, sat in got.values()):
            assert abs(planned - min(budget, total)) <= len(counts), (
                budget,
                planned,
            )
        else:
            assert budget >= total


def test_token_budget_sample_drops_unweighted_and_replays(spark):
    """Rows of a domain absent from the weights are dropped (rate 0);
    the kept set is the deterministic hash filter at the plan's cut
    — replayed here from the plan frame itself."""
    from quality_spark.llm.dedup import hash60_sql
    from quality_spark.llm.sampling import (
        token_budget_plan,
        token_budget_sample,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "zz", 10) for i in range(200)],
        "id long, dom string, tok long",
    )
    weights = {"a": 1}
    kept = token_budget_sample(
        df, "dom", "id", weights, budget=300, seed=4, token_count_expr="tok"
    )
    ids = sorted(r["id"] for r in kept.collect())
    assert all(i % 2 for i in ids)  # zz rows all dropped
    cut = token_budget_plan(
        df, "dom", weights, 300, token_count_expr="tok"
    ).collect()[0]["cut"]
    h = hash60_sql("concat('4', ':', CAST(id AS STRING))", "spark")
    want = sorted(
        r["id"]
        for r in df.filter(F.col("dom") == "a")
        .filter(F.expr(f"({h}) % 1000000 < {cut}"))
        .collect()
    )
    assert ids == want


def test_token_budget_plan_rejects_oversized_inputs(spark):
    """ADVICE r9: the docstring's planning-time guards must both
    exist — weights > 1e9 AND budget > 1e15 raise before any job."""
    import pytest

    from quality_spark.llm.sampling import token_budget_plan

    df = spark.createDataFrame([(1, "a", 5)], "id long, dom string, tok long")
    with pytest.raises(ValueError, match="weights"):
        token_budget_plan(df, "dom", {"a": 10**9 + 1}, 100,
                          token_count_expr="tok")
    with pytest.raises(ValueError, match="budget"):
        token_budget_plan(df, "dom", {"a": 1}, 10**15 + 1,
                          token_count_expr="tok")


def test_keep_top_fraction_known_and_parity(spark, sf_dir):
    """keep_top_fraction: exact per-group cut with ties kept, NULL
    scores never qualifying; DuckDB parity on real documents."""
    import duckdb

    from quality_spark.llm.sampling import (
        keep_top_fraction,
        keep_top_fraction_oracle_sql,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 5.0), ("a", 2, 4.0), ("a", 3, 3.0), ("a", 4, 3.0),
            ("a", 5, 1.0), ("b", 6, 9.0), ("b", 7, None), ("b", 8, 2.0),
        ],
        "g string, id long, s double",
    )
    # 40% of a's 5 scored rows = ceil(2.0) = 2 -> threshold 4.0;
    # 40% of b's 2 non-null = ceil(0.8) = 1 -> threshold 9.0
    got = sorted(
        r["id"] for r in keep_top_fraction(df, "s", (2, 5), by=["g"]).collect()
    )
    assert got == [1, 2, 6]
    # ties at the threshold all kept: 60% of a = 3 -> thr 3.0, ids 1-4;
    # b: ceil(2*3/5) = 2 -> both scored rows
    got = sorted(
        r["id"] for r in keep_top_fraction(df, "s", (3, 5), by=["g"]).collect()
    )
    assert got == [1, 2, 3, 4, 6, 8]
    # global (by=None), frac=1 keeps every non-null-scored row
    assert sorted(
        r["id"] for r in keep_top_fraction(df, "s", (1, 1)).collect()
    ) == [1, 2, 3, 4, 5, 6, 8]
    assert keep_top_fraction(df, "s", (0, 5)).count() == 0
    import pytest

    with pytest.raises(ValueError, match="rational"):
        keep_top_fraction(df, "s", (-1, 5))
    with pytest.raises(ValueError, match="1e6"):
        keep_top_fraction(df, "s", (1, 10**7))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        map(
            tuple,
            keep_top_fraction(
                docs, "n_chars", (1, 10), by=["lang"]
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                keep_top_fraction_oracle_sql(
                    "documents", "n_chars", (1, 10), by=["lang"]
                )
            ).fetchall(),
        )
    )
    assert len(got) > 0 and got == want


def test_bucketed_cut_and_percentile_match_brute_force(spark):
    """Round-13 regression: the bucketed two-phase threshold pick
    (keep_top_fraction) and the bucketed exact prefix sum
    (with_group_percentile) must match a brute-force Python
    computation on a distribution that spreads across many
    width_bucket buckets and hits every fallback: heavy ties, a
    single-value group, negative scores, NaN scores (Spark sorts NaN
    above every finite double), and NULL scores."""
    import math

    from quality_spark.llm.sampling import (
        keep_top_fraction,
        with_group_percentile,
    )

    rows = []
    # group 'wide': 500 distinct-ish scores over a wide range with
    # tie blocks — candidates span many of the 4096 buckets
    for i in range(500):
        s = float((i * 37) % 991) - 200.0
        for _ in range(1 + (i % 3)):
            rows.append(("wide", len(rows), s))
    # group 'one': a single distinct value (degenerate bucketing)
    for _ in range(7):
        rows.append(("one", len(rows), 5.5))
    # group 'nan': NaN above finite scores, plus NULLs
    for s in (1.0, 2.0, float("nan"), float("nan"), None, 3.0):
        rows.append(("nan", len(rows), s))
    df = spark.createDataFrame(rows, "g string, id long, s double")

    def brute(frac):
        num, den = frac
        keep = set()
        bys: dict = {}
        for g, i, s in rows:
            if s is not None:
                bys.setdefault(g, []).append((s, i))
        for g, pairs in bys.items():
            # Spark desc order: NaN first (largest)
            ordered = sorted(
                pairs,
                key=lambda p: (
                    0 if math.isnan(p[0]) else 1,
                    -p[0] if not math.isnan(p[0]) else 0,
                ),
            )
            keep_n = -(-len(ordered) * num // den)  # ceil
            thr = ordered[keep_n - 1][0]
            for s, i in pairs:
                # Spark: NaN >= NaN is true, NaN >= finite is true
                ge = (
                    True
                    if math.isnan(s)
                    else (False if math.isnan(thr) else s >= thr)
                )
                if ge:
                    keep.add(i)
        return keep

    for frac in ((1, 10), (1, 3), (2, 3), (1, 1)):
        got = sorted(
            r["id"]
            for r in keep_top_fraction(df, "s", frac, by=["g"]).collect()
        )
        assert got == sorted(brute(frac)), f"frac={frac}"

    # percentile: strictly-smaller count / group n (NaN: every finite
    # score is strictly smaller; two NaNs tie with each other)
    gotp = {
        r["id"]: r["pct_rank"]
        for r in with_group_percentile(df, "s", by=["g"]).collect()
    }
    bys: dict = {}
    for g, i, s in rows:
        if s is not None:
            bys.setdefault(g, []).append((s, i))
    for g, pairs in bys.items():
        n = len(pairs)
        for s, i in pairs:
            lt = sum(
                1
                for t, _ in pairs
                if (not math.isnan(t))
                and (math.isnan(s) or t < s)
            )
            assert gotp[i] == lt / n, f"id={i} s={s}"
    for g, i, s in rows:
        if s is None:
            assert gotp[i] is None


def test_group_percentile_known_and_parity(spark, sf_dir):
    import duckdb

    from quality_spark.llm.sampling import (
        with_group_percentile,
        with_group_percentile_oracle_sql,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 20.0), ("a", 4, 40.0),
            ("b", 5, 7.0), ("b", 6, None),
        ],
        "g string, id long, s double",
    )
    got = {
        r["id"]: r["pct_rank"]
        for r in with_group_percentile(df, "s", by=["g"]).collect()
    }
    # a: 10 -> 0/4; the 20-tie -> 1/4 both; 40 -> 3/4. b: 7 -> 0/1
    assert got == {1: 0.0, 2: 0.25, 3: 0.25, 4: 0.75, 5: 0.0, 6: None}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gotd = sorted(
        (r["doc_id"], r["pct_rank"])
        for r in with_group_percentile(
            docs, "n_chars", by=["lang"]
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                with_group_percentile_oracle_sql(
                    "documents", "n_chars", by=["lang"],
                    select="t.doc_id",
                )
            ).fetchall(),
        )
    )
    assert len(gotd) > 0 and gotd == want
