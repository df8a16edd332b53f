"""DSIR-style importance weighting — domain-matched data selection.

Beyond-reference LLM-pipeline surface: the published DSIR method
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", NeurIPS — public paper) selects raw-corpus documents
whose hashed-n-gram profile looks like a small TARGET domain: fit two
bag-of-hashed-n-grams multinomials (target and raw), then weight each
raw doc by its log importance ratio

    log w(doc) = sum_f c_f(doc) * (log p_target(f) - log p_raw(f))

with add-1 smoothed bucket probabilities. Selection = top-k or
Gumbel-perturbed resampling over the weights; this module produces
the weights and exact integer diagnostics, and the existing
``sampling`` operators do the final cut.

100 TB design: featurization is a pure per-row projection (token
split -> gram strings -> portable 60-bit hash -> bucket) + one
map-side-combined groupBy(id, bucket); the two model tables are at
most ``buckets`` rows (fixed, e.g. 10^4-10^6) so the scoring joins
broadcast; per-doc reduction is one more combinable groupBy. No UDFs,
no driver data paths except the two scalar totals (metadata-sized).

Determinism: bucket ids use the portable md5 hash (``dedup.hash60_sql``)
so a DuckDB oracle replays the pipeline bit-for-bit; the integer
columns (gram counts, distinct buckets, count-weighted dot products
against both models) drive the oracle gate, and the float log-weight
is a pure scalar map of pinned integers (cross-engine ln() may differ
in the last ulp, so it stays out of the hash gate).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash60_sql, tokens_sql

__all__ = [
    "grams_sql",
    "hashed_gram_features",
    "train_bucket_counts",
    "dsir_log_weights",
    "dsir_pipeline",
]


def grams_sql(text: str, k: int, dialect: str) -> str:
    """Word k-gram strings with BAG semantics (duplicates kept —
    multinomial counts need multiplicity; contrast ``shingles_sql``'s
    set semantics for Jaccard). Empty/short docs yield empty lists."""
    toks = tokens_sql(text, dialect)
    if dialect == "spark":
        body = (
            f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
            f"i -> array_join(slice({toks}, i, {k}), ' '))"
        )
        return f"(CASE WHEN size({toks}) < {k} THEN array() ELSE {body} END)"
    body = (
        f"list_transform(range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string({toks}[i:i+{k - 1}], ' '))"
    )
    return f"(CASE WHEN len({toks}) < {k} THEN []::VARCHAR[] ELSE {body} END)"


def grams_from_tokens_sql(toks_col: str, k: int) -> str:
    """Spark k-gram bags over an already-materialized token-array
    COLUMN — same staging rule as ``dedup.shingles_from_tokens_sql``:
    inlining the tokenizer inside the per-position lambda re-splits
    the text once per gram position (~n_tokens x per row; measured
    6.3 s -> 0.6 s for the sf0.1 explode)."""
    body = (
        f"transform(sequence(1, greatest(size({toks_col}) - {k - 1}, 1)), "
        f"i -> array_join(slice({toks_col}, i, {k}), ' '))"
    )
    return f"(CASE WHEN size({toks_col}) < {k} THEN array() ELSE {body} END)"


def hashed_gram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    max_n: int = 2,
) -> DataFrame:
    """(id_col, bucket, cnt): hashed bag of 1..max_n-grams per doc —
    the DSIR feature map. Tokens are staged into their own projection
    (CollapseProject leaves the expensive multi-referenced split
    alone), then one explode over the concatenated gram arrays + one
    map-side-combined groupBy; the corpus is scanned once."""
    if buckets <= 0 or max_n <= 0:
        raise ValueError("buckets and max_n must be positive")
    toked = df.select(
        F.col(id_col), F.expr(tokens_sql(text_col, "spark")).alias("__qs_toks")
    )
    gram_arrays = [
        grams_from_tokens_sql("__qs_toks", k) for k in range(1, max_n + 1)
    ]
    all_grams = "concat(" + ", ".join(gram_arrays) + ")"
    bucket = f"(({hash60_sql('g', 'spark')}) % {buckets})"
    return (
        toked.select(F.col(id_col), F.explode(F.expr(all_grams)).alias("g"))
        .select(F.col(id_col), F.expr(bucket).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bucket_counts(feats: DataFrame) -> DataFrame:
    """(bucket, total) model table from a feature frame — at most
    ``buckets`` rows regardless of corpus size (broadcast-sized)."""
    return feats.groupBy("bucket").agg(F.sum("cnt").alias("total"))


def dsir_log_weights(
    corpus_feats: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc importance diagnostics + log weight:
    ``(id_col, n_grams, n_buckets, dot_target, dot_raw, log_weight)``.

    log_weight uses add-1 smoothing: p(f) = (count_f + 1) / (N + B)
    for each model, so unseen buckets contribute finite mass. The two
    model totals are the only driver-side scalars (two 1-row aggs).
    dot_target / dot_raw are exact integer count dot-products against
    the model tables — they pin the feature/join pipeline for the
    oracle gate independent of float log rounding. Both model tables
    (<= ``buckets`` rows) are hinted as broadcast sides."""
    n_t = target_counts.agg(F.sum("total")).collect()[0][0] or 0
    n_r = raw_counts.agg(F.sum("total")).collect()[0][0] or 0
    t = target_counts.withColumnRenamed("total", "t_cnt")
    r = raw_counts.withColumnRenamed("total", "r_cnt")
    t, r = F.broadcast(t), F.broadcast(r)
    joined = (
        corpus_feats.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .select(
            F.col(id_col),
            "cnt",
            F.coalesce("t_cnt", F.lit(0)).alias("tc"),
            F.coalesce("r_cnt", F.lit(0)).alias("rc"),
        )
    )
    log_term = F.log((F.col("tc") + F.lit(1.0)) / F.lit(float(n_t + buckets))) - F.log(
        (F.col("rc") + F.lit(1.0)) / F.lit(float(n_r + buckets))
    )
    return joined.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("int").alias("n_buckets"),
        F.sum(F.col("cnt") * F.col("tc")).cast("bigint").alias("dot_target"),
        F.sum(F.col("cnt") * F.col("rc")).cast("bigint").alias("dot_raw"),
        F.sum(F.col("cnt") * log_term).alias("log_weight"),
    )


def dsir_pipeline(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10_000,
    max_n: int = 2,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """One-call DSIR scoring with the RIGHT materialization: the raw
    model derives from the corpus features, which also feed the
    scoring joins and the totals — left lazy, every reference
    re-explodes the corpus, so the tokenize+hash pass runs ~5x
    (measured 14.5 s -> ~2 s at sf0.1 once checkpointed). The model
    tables (<= ``buckets`` rows, metadata-sized) and the corpus
    feature frame are all localCheckpointed.

    ``n_partitions`` repartitions the inputs before featurizing —
    the tokenize+hash pass is ~100x the scan cost, so a small input
    arriving as one split would otherwise run it on one core (at real
    scale the scan produces thousands of splits and this is a no-op;
    the same stand-in bench.py uses for lineitem)."""
    if n_partitions:
        corpus = corpus.repartition(n_partitions, F.col(id_col))
        target = target.repartition(n_partitions, F.col(id_col))
    feats = hashed_gram_features(corpus, text_col, id_col, buckets, max_n)
    feats = feats.localCheckpoint()
    tc = train_bucket_counts(
        hashed_gram_features(target, text_col, id_col, buckets, max_n)
    ).localCheckpoint()
    rc = train_bucket_counts(feats).localCheckpoint()
    return dsir_log_weights(feats, tc, rc, buckets, id_col)
