"""N-gram language-model scoring — the CCNet-style quality filter.

Beyond-reference LLM-pipeline surface (SURVEY §7 phase 9): the
standard corpus-quality signal behind CCNet/CC-Net-style filtering is
"how surprising is this document under a reference language model".
This module implements the n-gram flavor with add-k smoothing
(public, textbook: Jurafsky & Martin ch. 3) as PURE DataFrame
operations — training is two groupBy counts, scoring is two joins and
an aggregation; no Python runs per row anywhere.

Scale design: the LM tables are (gram, count) DataFrames — millions
of rows at most after ``min_count`` pruning, so the score-side joins
broadcast when small and shuffle-join on the gram key otherwise
(Spark's planner picks; both sides are plain equi-joins). Scoring a
100 TB corpus is one explode (bigrams), two joins against the LM, one
groupBy(doc) — all map-side combinable.

Determinism: the per-doc INTEGER aggregates (bigram count, unseen
count, summed pair/context counts) are exact and drive the oracle
gate; the floating log-probability / perplexity columns are pure
scalar maps of those pinned integers (unit-tested under tolerance —
cross-engine ln() may differ in the last ulp).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "train_bigram_lm",
    "score_with_bigram_lm",
    "train_bigram_lm_kn",
    "score_with_bigram_lm_kn",
]


def _doc_bigrams(df: DataFrame, text_col: str) -> DataFrame:
    """(original columns..., w1, w2) — one row per adjacent word pair;
    docs with fewer than two words contribute no rows."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    pairs = F.arrays_zip(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))).alias("w1"),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))).alias("w2"),
    )
    return (
        df.withColumn("__qs_pair", F.explode(pairs))
        .withColumn("w1", F.col("__qs_pair.w1"))
        .withColumn("w2", F.col("__qs_pair.w2"))
        .drop("__qs_pair")
    )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> Tuple[DataFrame, DataFrame, int]:
    """Train: returns ``(pair_counts, context_counts, vocab_size)``
    where pair_counts = (w1, w2, pair_count), context_counts =
    (w1, ctx_count) — two shuffles, map-side combined — and
    vocab_size = number of distinct words (the add-k denominator).
    ``min_count`` prunes rare pairs (the LM-size knob at corpus
    scale)."""
    grams = _doc_bigrams(df.select(F.col(text_col)), text_col)
    pair_counts = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= int(min_count))
    )
    ctx_counts = grams.groupBy("w1").agg(
        F.count(F.lit(1)).alias("ctx_count")
    )
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    vocab = (
        df.select(F.explode(words).alias("w")).distinct().count()
    )
    return pair_counts, ctx_counts, int(vocab)


def score_with_bigram_lm(
    docs: DataFrame,
    pair_counts: DataFrame,
    ctx_counts: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Per-doc LM score: ``(id_col, n_bigrams, n_unseen, sum_pair,
    sum_ctx, avg_logprob, perplexity)``.

    P(w2|w1) = (pair_count + k) / (ctx_count + k * vocab_size) —
    add-k smoothing, so unseen pairs (and unseen contexts) get finite
    probability. The integer columns are exact (they pin the
    join/count pipeline for the oracle gate); avg_logprob =
    mean ln P over the doc's bigrams, perplexity = exp(-avg_logprob).
    Docs with <2 words keep a row with n_bigrams=0 and NULL scores.

    The two LM tables carry no broadcast hint: AQE picks the join
    strategy from their actual sizes (plan-pinned in
    tests/test_plans.py)."""
    grams = _doc_bigrams(docs.select(id_col, text_col), text_col)
    joined = (
        grams.join(pair_counts, ["w1", "w2"], "left")
        .join(ctx_counts, ["w1"], "left")
        .select(
            id_col,
            F.coalesce(F.col("pair_count"), F.lit(0)).alias("pc"),
            F.coalesce(F.col("ctx_count"), F.lit(0)).alias("cc"),
        )
    )
    kv = float(k) * int(vocab_size)
    scored = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum((F.col("pc") == 0).cast("int")).cast("int").alias("n_unseen"),
        F.sum("pc").cast("bigint").alias("sum_pair"),
        F.sum("cc").cast("bigint").alias("sum_ctx"),
        F.avg(
            F.log((F.col("pc") + F.lit(float(k))) / (F.col("cc") + F.lit(kv)))
        ).alias("avg_logprob"),
    )
    base = docs.select(F.col(id_col)).distinct()
    return (
        base.join(scored, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_unseen", F.lit(0)).alias("n_unseen"),
            F.coalesce("sum_pair", F.lit(0)).alias("sum_pair"),
            F.coalesce("sum_ctx", F.lit(0)).alias("sum_ctx"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("perplexity"),
        )
    )


def train_bigram_lm_kn(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
):
    """Kneser-Ney training (interpolated bigram KN — Jurafsky &
    Martin ch. 3.7, public textbook): on top of the add-k tables,
    KN needs the CONTINUATION statistics — for each word, in how many
    distinct bigram TYPES does it appear as the continuation
    (N1+(·,w2)), and for each context, how many distinct continuations
    it licenses (N1+(w1,·)) — plus the total number of distinct bigram
    types. Returns ``(pair_counts, ctx_counts, cont_counts,
    fanout_counts, n_bigram_types)`` where cont_counts = (w2,
    cont_count), fanout_counts = (w1, fanout). All four tables are
    vocabulary-bounded (broadcast-sized after min_count pruning);
    three map-side-combined groupBys over one bigram explode."""
    grams = _doc_bigrams(df.select(F.col(text_col)), text_col)
    pair_counts = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= int(min_count))
    )
    ctx_counts = grams.groupBy("w1").agg(
        F.count(F.lit(1)).alias("ctx_count")
    )
    # continuation/fanout stats are over bigram TYPES, computed from
    # the (already aggregated, vocab²-bounded) pair table — never a
    # second corpus pass
    cont_counts = pair_counts.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cont_count")
    )
    fanout_counts = pair_counts.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("fanout")
    )
    n_types = pair_counts.count()
    return pair_counts, ctx_counts, cont_counts, fanout_counts, int(n_types)


def score_with_bigram_lm_kn(
    docs: DataFrame,
    pair_counts: DataFrame,
    ctx_counts: DataFrame,
    cont_counts: DataFrame,
    fanout_counts: DataFrame,
    n_bigram_types: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per doc:
    ``(id_col, n_bigrams, n_unseen, sum_cont, sum_fanout,
    avg_logprob, perplexity)``.

    P_KN(w2|w1) = max(c(w1,w2) - d, 0)/c(w1)
                  + d * N1+(w1,·)/c(w1) * P_cont(w2),
    P_cont(w2) = (N1+(·,w2) + 1) / (n_bigram_types + 1)  (add-1 so an
    unseen continuation keeps finite mass); an unseen CONTEXT backs
    off to P_cont(w2) alone — as does a context with NO SURVIVING
    pairs (fc=0 with cc>0, reachable only when ``min_count > 1``
    pruned every pair of a seen context: both interpolation terms are
    then 0, and ln(0) is NULL in non-ANSI Spark, which would silently
    drop the bigram from avg_logprob while n_bigrams still counts it;
    with min_count=1 every seen context has fc >= 1, so the branch is
    unreachable and scores are bit-identical). The integer columns
    (bigram count,
    unseen-pair count, summed continuation/fanout counts) pin the
    four-table join pipeline exactly for the oracle; the float
    avg_logprob/perplexity are scalar maps of those pinned integers.

    Four left joins against vocabulary-bounded tables, each hinted as
    the broadcast side, + one map-side-combined groupBy — the doc
    stream never shuffles on a gram key."""
    d = float(discount)
    t, c, n, fo = (
        F.broadcast(x)
        for x in (pair_counts, ctx_counts, cont_counts, fanout_counts)
    )
    grams = _doc_bigrams(docs.select(id_col, text_col), text_col)
    joined = (
        grams.join(t, ["w1", "w2"], "left")
        .join(c, ["w1"], "left")
        .join(n.withColumnRenamed("w2", "w2_"), F.col("w2") == F.col("w2_"), "left")
        .drop("w2_")
        .join(fo.withColumnRenamed("w1", "w1_"), F.col("w1") == F.col("w1_"), "left")
        .drop("w1_")
        .select(
            id_col,
            F.coalesce("pair_count", F.lit(0)).alias("pc"),
            F.coalesce("ctx_count", F.lit(0)).alias("cc"),
            F.coalesce("cont_count", F.lit(0)).alias("nc"),
            F.coalesce("fanout", F.lit(0)).alias("fc"),
        )
    )
    p_cont = (F.col("nc") + F.lit(1.0)) / F.lit(float(n_bigram_types + 1))
    p_kn = F.when(
        (F.col("cc") > 0) & (F.col("fc") > 0),
        F.greatest(F.col("pc") - F.lit(d), F.lit(0.0)) / F.col("cc")
        + F.lit(d) * F.col("fc") / F.col("cc") * p_cont,
    ).otherwise(p_cont)
    scored = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum((F.col("pc") == 0).cast("int")).cast("int").alias("n_unseen"),
        F.sum("nc").cast("bigint").alias("sum_cont"),
        F.sum("fc").cast("bigint").alias("sum_fanout"),
        F.avg(F.log(p_kn)).alias("avg_logprob"),
    )
    base = docs.select(F.col(id_col)).distinct()
    return (
        base.join(scored, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_unseen", F.lit(0)).alias("n_unseen"),
            F.coalesce("sum_cont", F.lit(0)).alias("sum_cont"),
            F.coalesce("sum_fanout", F.lit(0)).alias("sum_fanout"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("perplexity"),
        )
    )
