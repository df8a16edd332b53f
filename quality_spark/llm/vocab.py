"""Corpus-level vocabulary statistics: token frequencies, top-k, and
coverage — the standard pre-tokenizer corpus analysis pass.

Plan shape: explode staged tokens (one regex split per document — see
dedup.shingles_from_tokens_sql on why staging matters) → one
``groupBy(token)`` count with map-side partial aggregation (Zipf-law
heavy hitters like "the" collapse to one partial row per task BEFORE
the shuffle, so skew never materializes) → top-k via
``ORDER BY count DESC LIMIT k`` (Spark's TakeOrdered — a per-partition
heap + driver merge, no global sort shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens_sql


def _exploded_tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.select(
        F.expr(tokens_sql(text_col, "spark")).alias("_toks")
    ).select(F.explode("_toks").alias("token"))


def vocab_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n_occurrences, n_docs is deliberately separate — see
    :func:`vocab_doc_frequency`)."""
    return (
        _exploded_tokens(df, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("occurrences"))
    )


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Top-k tokens by occurrence (ties broken by token ASC so the
    result is deterministic and oracle-comparable)."""
    return (
        vocab_counts(df, text_col)
        .orderBy(F.col("occurrences").desc(), F.col("token"))
        .limit(k)
    )


def vocab_doc_frequency(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(token, n_docs containing it) — document frequency for IDF-style
    weighting. Distinct (doc, token) first (map-side combine on the
    exploded pairs), then count per token."""
    pairs = df.select(
        F.col(id_col), F.expr(tokens_sql(text_col, "spark")).alias("_toks")
    ).select(id_col, F.explode(F.array_distinct("_toks")).alias("token"))
    return pairs.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_frequency")
    )


def vocab_topk_oracle_sql(k: int, table: str = "documents") -> str:
    return f"""
WITH toks AS (
  SELECT unnest({tokens_sql('text', 'duckdb')}) AS token
  FROM {table}
)
SELECT token, CAST(count(*) AS BIGINT) AS occurrences
FROM toks GROUP BY token
ORDER BY occurrences DESC, token LIMIT {k}
"""


def vocab_doc_frequency_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    return f"""
WITH pairs AS (
  SELECT {id_col},
         unnest(list_distinct({tokens_sql('text', 'duckdb')})) AS token
  FROM {table}
)
SELECT token, CAST(count(*) AS BIGINT) AS doc_frequency
FROM pairs GROUP BY token
"""


def tfidf_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Smoothed TF-IDF per (doc, token):
    ``tf * (ln((n_docs + 1) / (doc_freq + 1)) + 1)`` (the sklearn
    smooth-idf convention, public docs).

    Plan: per-doc term counts (one (doc, token) shuffle, map-side
    combined) joined to the document-frequency table on token, with
    n_docs carried as a broadcast 1-row aggregate (no driver action).
    The DF table is O(vocab) — typically broadcastable; Spark/AQE picks
    broadcast vs shuffle join by its size stats.
    """
    tf = (
        df.select(F.col(id_col), F.expr(tokens_sql(text_col, "spark")).alias("_toks"))
        .select(id_col, F.explode("_toks").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = vocab_doc_frequency(df, text_col, id_col)
    n_docs = df.groupBy().agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n_docs))
    return scored.select(
        id_col,
        "token",
        "tf",
        "doc_frequency",
        (
            F.col("tf").cast("double")
            * (
                F.log(
                    (F.col("_n_docs") + 1).cast("double")
                    / (F.col("doc_frequency") + 1).cast("double")
                )
                + F.lit(1.0)
            )
        ).alias("tfidf"),
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k keywords per document by TF-IDF (ties: token ASC)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        tfidf_scores(df, text_col, id_col)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def tfidf_scores_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    toks = tokens_sql("text", "duckdb")
    return f"""
WITH tf AS (
  SELECT {id_col}, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, unnest({toks}) AS token FROM {table})
  GROUP BY 1, 2
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS doc_frequency
  FROM (SELECT {id_col}, unnest(list_distinct({toks})) AS token FROM {table})
  GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM {table})
SELECT tf.{id_col}, tf.token, tf.tf, dfreq.doc_frequency,
       CAST(tf.tf AS DOUBLE) *
         (ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfreq.doc_frequency + 1 AS DOUBLE))
          + 1.0) AS tfidf
FROM tf JOIN dfreq USING (token), n
"""


def collocation_pmi(
    df: DataFrame,
    min_count: int = 5,
    top: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top collocations by pointwise mutual information (Church &
    Hanks 1990): adjacent token bigrams scored by

        PMI(w1, w2) = ln( c(w1,w2) * N / (c(w1) * c(w2)) )

    with N = total token count — the standard corpus-analysis pass
    for multi-word expressions / boilerplate phrase discovery.

    Returns the top-``top`` bigrams with ``c(w1,w2) >= min_count`` as
    (w1, w2, pair_count, w1_count, w2_count, n_tokens, pmi), ordered
    by (pmi DESC, w1, w2) — a total order over exact counts, so the
    top-k SET is deterministic. The one caveat on cross-engine PMI
    values: the ``ln`` is JVM ``Math.log`` here and libm ``ln`` in the
    DuckDB oracle, which may differ in the LAST ULP — parity holds at
    the driver gate's 9-dp rounding (counts and ranking are exact).

    Plan shape: the staged token frame is localCheckpointed, so the
    corpus tokenizes exactly once for the bigram and unigram passes;
    each pass is one combinable groupBy (Zipf heavy-hitters collapse
    map-side). The bigram→count joins run AFTER the min_count cut, and
    the final cut is ``ORDER BY … LIMIT top`` → TakeOrderedAndProject,
    never a global sort. The public call materializes through (the
    result is <= top rows — metadata) and RELEASES the vocab-sized
    unigram cache and the token checkpoint before returning a literal
    frame; `_collocation_pmi_lazy` exposes the plan for callers that
    want to own their lifecycle. No driver collect on any data-sized
    path.

    Exactness bound: counts enter the PMI as doubles, and the products
    ``c(w1,w2)*N`` / ``c(w1)*c(w2)`` are exact while < 2^53 (N up to
    ~94M tokens is always safe; beyond, the products round at 1 ulp —
    document-scale corpora hit this long after the ranking is stable).
    """
    from ..plans.blocks import release_local_checkpoint

    cut, uni, staged = _collocation_pmi_lazy(df, min_count, top, text_col)
    # The result is <= `top` rows (metadata) — collect it through so
    # the vocab-sized `uni` cache and the token checkpoint can be
    # released here instead of leaking for the session lifetime
    # (ADVICE r10). The literal frame keeps the exact schema and row
    # order.
    rows = cut.collect()
    schema = cut.schema
    uni.unpersist(blocking=True)
    release_local_checkpoint(staged)
    return df.sparkSession.createDataFrame(rows, schema)


def _collocation_pmi_lazy(
    df: DataFrame,
    min_count: int = 5,
    top: int = 20,
    text_col: str = "text",
):
    """Lazy plan builder behind :func:`collocation_pmi` — returns
    (top-k frame, persisted unigram frame, checkpointed token frame).
    The caller owns their release; the public wrapper collects through
    and releases both."""
    staged = df.select(
        F.expr(tokens_sql(text_col, "spark")).alias("_toks")
    ).localCheckpoint()
    # uni has THREE consumers (w1 join, w2 join, the N total) and
    # Catalyst's per-branch pruning makes their subtrees canonically
    # different — without the persist the corpus tokenizes once PER
    # consumer (measured: 4 scans lazy). Persisted it is the vocab
    # aggregate: bounded by |vocab|, MEMORY_AND_DISK spills not OOMs.
    uni = (
        staged.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    bi = (
        staged.filter(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 2), "
                    "i -> named_struct('w1', _toks[i], 'w2', _toks[i + 1]))"
                )
            ).alias("_b")
        )
        .groupBy("_b.w1", "_b.w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= int(min_count))
    )
    tot = uni.groupBy().agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_tokens")
    )
    scored = (
        bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "w1_count"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "w2_count"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "pair_count", "w1_count", "w2_count", "n_tokens",
            F.expr(
                "ln((CAST(pair_count AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
                " / (CAST(w1_count AS DOUBLE) * CAST(w2_count AS DOUBLE)))"
            ).alias("pmi"),
        )
    )
    cut = scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(int(top))
    return cut, uni, staged


def collocation_pmi_oracle_sql(
    min_count: int = 5, top: int = 20, table: str = "documents"
) -> str:
    """DuckDB replay of :func:`collocation_pmi` — same tokenizer,
    same fixed-order PMI arithmetic, same total order."""
    toks = tokens_sql("text", "duckdb")
    return f"""
WITH staged AS (SELECT {toks} AS _toks FROM {table}),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(_toks) AS w FROM staged) GROUP BY 1
),
bi AS (
  SELECT b.w1, b.w2, CAST(count(*) AS BIGINT) AS pair_count
  FROM (
    SELECT unnest(list_transform(range(1, len(_toks)),
             i -> struct_pack(w1 := _toks[i], w2 := _toks[i + 1]))) AS b
    FROM staged WHERE len(_toks) >= 2
  )
  GROUP BY 1, 2
  HAVING count(*) >= {int(min_count)}
),
tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens FROM uni)
SELECT b.w1, b.w2, b.pair_count,
       u1.c AS w1_count, u2.c AS w2_count, t.n_tokens,
       ln((CAST(b.pair_count AS DOUBLE) * CAST(t.n_tokens AS DOUBLE))
          / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) AS pmi
FROM bi b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN tot t
ORDER BY pmi DESC, b.w1, b.w2
LIMIT {int(top)}
"""
