"""BM25 ranked retrieval over a document corpus — the lexical-search
primitive a training-data pipeline uses for decontamination lookups,
quality-by-relevance scoring, and seed-set expansion (find documents
"like these queries" at corpus scale).

Scoring is Lucene-convention Okapi BM25 (public: Robertson & Zaragoza
2009, "The Probabilistic Relevance Framework: BM25 and Beyond"):

    idf(t)  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))          (>= 0)
    s(q, d) = sum_{t in q}  idf(t) * tf_td * (k1 + 1)
                            / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

Plan shape:

- The query set is METADATA (a handful of strings) — it becomes a
  broadcast (query_id, token) table. The corpus-side explode is
  filtered by an inner join against that broadcast table, so only
  postings for query terms survive the explode; everything else dies
  map-side before any shuffle.
- Per-(doc, token) term frequencies: ONE groupBy shuffle over the
  surviving postings (a tiny fraction of total tokens for realistic
  query sets), with map-side partial aggregation.
- Corpus stats (N, avgdl) are a 1-row aggregate carried via broadcast
  crossJoin — no driver collect on any data-sized path.
- Document frequency per query term is derived FROM the postings
  aggregate (``postings.groupBy(token).count()`` — postings holds
  exactly one row per (doc, matching-token), so the count IS df).
  No separate corpus pass: postings is persisted (it is the tiny
  broadcast-prefiltered aggregate) and both consumers read the cache.
- Final score: one groupBy (query_id, doc) over the joined postings.

Net: the corpus is tokenized at most TWICE per scoring run (the
1-row stats aggregate and the postings pass) and two data-sized
shuffles (tf groupBy, final score groupBy), both over
broadcast-prefiltered postings. No all-pairs, no driver loops.
The reference engine has no retrieval operator; this extends the
rebuilt surface for LLM-corpus workflows (SURVEY §2 'beyond-reference'
block).
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import fsio
from .dedup import WS_RUN, tokens_sql

# The corpus tokenizer's whitespace run (tokens_sql), so query-side
# tokens can always match corpus-side tokens. Plain str.split() would
# split on ALL Unicode whitespace (NBSP, ideographic space, ...) and
# mint query terms the corpus tokenizer can never produce.
_ASCII_WS = re.compile(WS_RUN)


def _split_query(qtext: str) -> list[str]:
    """Tokenize a query string with the corpus tokenizer's exact
    whitespace rule (ASCII/Java '\\s', not Unicode whitespace)."""
    return sorted({t for t in _ASCII_WS.split(qtext) if t})


def _query_terms(
    spark: SparkSession, queries: Sequence[tuple[int, str]]
) -> DataFrame:
    """(query_id, token, n_query_terms) — distinct tokens per query,
    tokenized with the same whitespace rule as the corpus side."""
    rows = []
    for qid, qtext in queries:
        toks = _split_query(qtext)
        for t in toks:
            rows.append((int(qid), t, len(toks)))
    return spark.createDataFrame(
        rows, "query_id bigint, token string, n_query_terms int"
    )


def bm25_scores(
    spark: SparkSession,
    df: DataFrame,
    queries: Sequence[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every matching document against every query.

    Returns (query_id, doc_id, n_terms_matched, score) — one row per
    (query, doc) pair with at least one matching term. No top-k cut
    here (rank ties under float round-off are the caller's policy;
    compose with ``bm25_topk`` for the heap-based cut).

    Scan budget (plan-pinned in tests/test_plans.py): the corpus is
    tokenized at most twice — once for the 1-row (N, avgdl) stats
    aggregate and once for the postings pass; document frequencies
    come from the postings aggregate itself (one row per
    (doc, matching-token), so ``groupBy(token).count()`` IS df — the
    old third array_distinct-explode pass was provably redundant).
    A caller whose ``df`` is an expensive upstream pipeline rather
    than a raw parquet read checkpoints it before the call.
    """
    qterms = F.broadcast(_query_terms(spark, queries))

    # Stage tokens once; keep per-doc length BEFORE any filtering.
    staged = df.select(
        F.col(id_col),
        F.expr(tokens_sql(text_col, "spark")).alias("_toks"),
    ).select(
        id_col,
        "_toks",
        F.size("_toks").cast("bigint").alias("dl"),
    )

    # Corpus stats: 1-row aggregate, broadcast. (Catalyst prunes
    # _toks here; the tokenize itself remains because dl derives
    # from it — this is tokenize pass 1 of <=2.)
    stats = staged.select(id_col, "dl").groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
        F.avg(F.col("dl").cast("double")).alias("_avgdl"),
    )

    # Postings for query terms only: broadcast-join kills non-query
    # tokens before the tf shuffle. (Tokenize pass 2 of <=2.)
    # Persisted because TWO consumers read it (the score join and the
    # df aggregate below) and Catalyst's per-branch column pruning
    # makes their subtrees canonically different, so exchange reuse
    # cannot collapse them — without the persist the corpus would be
    # tokenized a third time. Postings is the broadcast-PREFILTERED
    # aggregate (one row per (doc, matching query term)) — bounded by
    # sum_t df_t, tiny relative to the corpus, and the default
    # MEMORY_AND_DISK level spills rather than OOMs if a stop-wordy
    # query matches everything.
    postings = (
        staged.select(id_col, "dl", F.explode("_toks").alias("token"))
        .join(qterms.select("token").distinct(), "token")
        .groupBy(id_col, "token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.max("dl").alias("dl"),
        )
        .persist()
    )

    # Document frequency per query term, derived FROM postings: one
    # row per (doc, token) with tf >= 1, so count(*) per token is
    # exactly |{d : tf_td > 0}| — the old separate
    # array_distinct-explode corpus pass was provably redundant.
    # Result is O(|query vocab|) rows — broadcast back.
    dfreq = postings.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )

    scored = (
        postings.join(qterms, "token")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
    )
    return _fold_term_scores(scored, k1, b, id_col)


def _fold_term_scores(
    scored: DataFrame, k1: float, b: float, id_col: str
) -> DataFrame:
    """Shared BM25 score finisher — the inline (`bm25_scores`) and
    persisted-index (`bm25_scores_indexed`) paths both end here, so
    their score doubles cannot drift. Input columns: query_id,
    ``id_col``, token, tf, dl, df, _n_docs, _avgdl.

    Per-(query, doc) term scores sum in ASCENDING TOKEN ORDER
    (sort_array + left fold) — a plain double sum() is
    partition-order-dependent, and sf1's near-copy corpus exposed
    sub-1e-9 score divergence that flipped rank ties between
    engines; the ordered fold makes every score double bit-equal to
    the oracle's identically-ordered fold (matched terms per pair
    <= |query terms|, so the collected list is metadata-sized)."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs").cast("double") - F.col("df") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    denom = F.col("tf").cast("double") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl").cast("double") / F.col("_avgdl")
    )
    term_score = idf * F.col("tf").cast("double") * F.lit(k1 + 1.0) / denom
    return (
        scored.select(
            "query_id", F.col(id_col), "token", term_score.alias("_s")
        )
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
            F.expr(
                "aggregate(sort_array(collect_list("
                "named_struct('t', token, 's', _s))), 0.0D, "
                "(acc, x) -> acc + x.s)"
            ).alias("score"),
        )
    )


def bm25_topk(
    spark: SparkSession,
    df: DataFrame,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    scores: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """Top-k docs per query (score DESC, doc_id ASC tiebreak).

    One per-query window over the post-score table (one row per
    MATCHING (query, doc) pair). A broad query can match much of the
    corpus, but Spark's ``InferWindowGroupLimit`` plans a partial
    ``WindowGroupLimit`` below the exchange (k ≤
    ``spark.sql.optimizer.windowGroupLimitThreshold``), so each map
    task ships at most k rows per query — the same shape as
    ``sampling.cap_per_group``, plan-pinned in tests/test_plans.py.

    ``scores``: pass an already-built :func:`bm25_scores` frame to cut
    on (callers that need both the full scores AND the top-k should
    compute scores once — ideally persisted/localCheckpointed — and
    hand it here instead of paying a second scoring run)."""
    from pyspark.sql import Window

    id_col = kw.get("id_col", "doc_id")
    scored = scores if scores is not None else bm25_scores(spark, df, queries, **kw)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def write_bm25_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> None:
    """Persist a BM25 inverted index — the lexical counterpart of
    `pq.write_pq_index` (round 10): repeated querying should prune a
    stored postings table, not re-tokenize the corpus per call.

    Layout under ``path``:

    - ``postings/`` — one row per (doc, token): (token, ``id_col``,
      tf, dl), written ``partitionBy(bucket)`` with
      ``bucket = pmod(xxhash64(token), buckets)`` — a query's scan
      prunes WHOLE DIRECTORIES down to the buckets its terms hash to
      (PartitionFilters, plan-pinned). ``dl`` is denormalized onto
      every posting so scoring needs NO join against a corpus-sized
      doc-length table.
    - ``tokens/`` — (token, df) per distinct token, same bucket
      partitioning (document frequencies are pre-counted at build so
      the query path never re-aggregates a stop-wordy term's full
      posting list just to learn its df).
    - ``meta.json`` — id_col, buckets, and the exact integer corpus
      stats (n_docs, sum_dl); avgdl is re-derived as the same IEEE
      division Spark's ``avg`` performs, so indexed scores are
      bit-equal to the inline path's.

    Build cost: the corpus tokenizes exactly twice (the 1-row stats
    aggregate and the postings pass — the `bm25_scores` budget);
    ``tokens/`` derives from reading back the just-written postings,
    never a third tokenize. One groupBy shuffle on (doc, token), one
    on token. At 100 TB both outputs are token-count-sized — far
    smaller than the corpus — and every downstream query is a pruned
    scan.

    The store works on any Hadoop filesystem the data does, and a
    rebuild in place is crash-safe: both through the index-store
    protocol of `sources.fsio`."""
    spark = df.sparkSession
    fsio.reset_index_store(path, ("postings", "tokens"))
    stats_row, postings = _bm25_postings(df, text_col, id_col, buckets)
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        fsio.join(path, "postings")
    )
    # df per token FROM the written postings (one row per (doc,
    # token) with tf >= 1 -> count(*) per token IS df); reading back
    # avoids a third corpus tokenize. Schema passed explicitly (the
    # read-back layout: data columns then the partition column) so an
    # empty corpus still writes a valid, readable index.
    from pyspark.sql.types import StructType

    rb = StructType(
        [f for f in postings.schema.fields if f.name != "bucket"]
        + [postings.schema["bucket"]]
    )
    written = spark.read.schema(rb).parquet(fsio.join(path, "postings"))
    (
        written.groupBy("bucket", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(fsio.join(path, "tokens"))
    )
    meta = {
        "id_col": id_col,
        "buckets": int(buckets),
        "n_docs": int(stats_row["n_docs"]),
        "sum_dl": int(stats_row["sum_dl"]),
    }
    fsio.commit_meta(path, meta)


def _bm25_postings(df: DataFrame, text_col: str, id_col: str, buckets: int):
    """(corpus stats row, postings frame) of a batch — the one builder
    of the staged tokens, the 1-row (n_docs, sum_dl) aggregate and the
    bucketed per-(doc, token) postings, for builds and appends."""
    staged = df.select(
        F.col(id_col),
        F.expr(tokens_sql(text_col, "spark")).alias("_toks"),
    ).select(
        id_col, "_toks", F.size("_toks").cast("bigint").alias("dl")
    )
    stats_row = (
        staged.select("dl")
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
        )
        .collect()[0]
    )
    postings = (
        staged.select(id_col, "dl", F.explode("_toks").alias("token"))
        .groupBy(id_col, "token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.max("dl").alias("dl"),
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("token"), F.lit(int(buckets)))
        )
    )
    return stats_row, postings


def append_bm25_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    epoch: Optional[int] = None,
) -> bool:
    """Fold a NEW batch of documents into an existing
    `write_bm25_index` store — the daily-ingest shape: the history is
    never re-tokenized. The batch's postings append into the same
    bucket directories (two tokenize passes over the BATCH only, the
    build budget), the per-token df table rebuilds from one pass over
    the combined postings (token-count-sized — far smaller than any
    corpus scan), and meta's exact integer stats add.

    The result is IDENTICAL to rebuilding from the union (pinned by
    tests): postings rows are per-(doc, token) and the score fold is
    order-insensitive by construction (ascending-token sort), so
    append order cannot matter. Caller contract: batch doc ids are
    disjoint from the store's (re-ingesting a doc would double its
    postings — pair with `streaming/recipes.py` first-seen dedup
    upstream); appends are not concurrent-safe (one writer, like the
    corpus store).

    The append runs under the pending sentinel of `sources.fsio`
    (fail-loud: silently stale df/N would mis-score without any
    error), which here holds the new meta and is renamed over
    meta.json as the commit. ``epoch`` makes it EXACTLY-ONCE for
    streaming (`streaming.recipes.bm25_appends_to_store`): an epoch
    already in the ledger returns False untouched. Returns True when
    the batch was applied."""
    spark = df.sparkSession
    meta = _read_bm25_meta(path)
    if epoch is not None and fsio.epoch_applied(path, epoch):
        return False  # replayed epoch: already committed
    pending = fsio.join(path, fsio.PENDING)
    stats_row, postings = _bm25_postings(
        df, text_col, meta["id_col"], meta["buckets"]
    )
    meta["n_docs"] = int(meta["n_docs"]) + int(stats_row["n_docs"])
    meta["sum_dl"] = int(meta["sum_dl"]) + int(stats_row["sum_dl"])
    fsio.write_json(pending, meta)
    postings.write.mode("append").partitionBy("bucket").parquet(
        fsio.join(path, "postings")
    )
    # df must re-count per token over the COMBINED postings (a token's
    # rows all live in one bucket, but the batch may touch every
    # bucket) — one postings read, never a history re-tokenize
    combined = spark.read.parquet(fsio.join(path, "postings"))
    (
        combined.groupBy("bucket", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(fsio.join(path, "tokens"))
    )
    if epoch is not None:
        fsio.record_epoch(path, epoch)
    fsio.replace(pending, fsio.join(path, fsio.META))
    return True


def compact_bm25_index(spark, path: str) -> None:
    """Rewrite ``postings/`` and ``tokens/`` into one file per bucket
    — the small-files maintenance of `compact_pq_index`, for the
    lexical store (every `append_bm25_index` adds a file per touched
    bucket). Rows are EXACTLY preserved (pinned by tests); df/meta
    are untouched, so scores are bit-equal before and after. Each
    table is swapped in by the staged compaction of `sources.fsio`."""
    _read_bm25_meta(path)  # refuses an already-broken store
    for table in ("postings", "tokens"):
        fsio.swap_compacted(
            spark, path, table, "bucket", {"op": "compact", "table": table}
        )


def _read_bm25_meta(path: str) -> dict:
    return fsio.read_index_meta(path, "bm25", "postings")


def bm25_scores_indexed(
    spark: SparkSession,
    path: str,
    queries: Sequence[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 scoring against a PERSISTED `write_bm25_index` store —
    same output schema and BIT-EQUAL scores to `bm25_scores` on the
    corpus the index was built from (shared `_fold_term_scores`
    finisher; the gate pins the equivalence against the same oracle).

    Plan shape: query-term buckets are computed with the engine's own
    ``xxhash64`` over the metadata-sized term list (hash parity by
    construction — no driver reimplementation to drift), then BOTH
    scans (postings, tokens) prune on ``bucket`` (PartitionFilters,
    plan-pinned) and broadcast-join against the query terms. No
    corpus tokenize, no full postings scan, no data-sized shuffle —
    the only shuffle is the final per-(query, doc) fold over matched
    postings."""
    meta = _read_bm25_meta(path)
    if meta["n_docs"] == 0:
        raise ValueError(f"bm25 index at {path} was built on 0 documents")
    id_col = meta["id_col"]
    qterms = F.broadcast(_query_terms(spark, queries))
    # probe buckets: |distinct terms| rows -> metadata collect
    probe = (
        _query_terms(spark, queries)
        .select("token")
        .distinct()
        .select(
            F.pmod(F.xxhash64("token"), F.lit(meta["buckets"])).alias("b")
        )
        .distinct()
        .collect()
    )
    bs = sorted(int(r["b"]) for r in probe)
    postings = (
        spark.read.parquet(fsio.join(path, "postings"))
        .filter(F.col("bucket").isin(bs))
        .join(qterms.select("token").distinct(), "token")
    )
    dfreq = (
        spark.read.parquet(fsio.join(path, "tokens"))
        .filter(F.col("bucket").isin(bs))
        .join(qterms.select("token").distinct(), "token")
        .select("token", "df")
    )
    # avgdl re-derived exactly as Spark's avg(double) would: a double
    # sum of integer dl values is exact below 2^53, divided by the
    # double count — identical to the inline path's stats aggregate.
    avgdl = float(meta["sum_dl"]) / float(meta["n_docs"])
    scored = (
        postings.join(qterms, "token")
        .join(F.broadcast(dfreq), "token")
        .withColumn("_n_docs", F.lit(int(meta["n_docs"])).cast("bigint"))
        .withColumn("_avgdl", F.lit(avgdl))
    )
    return _fold_term_scores(scored, k1, b, id_col)


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k against a persisted BM25 index — `bm25_topk`'s cut over
    `bm25_scores_indexed` (same rank semantics: score DESC, id ASC)."""
    meta = _read_bm25_meta(path)
    return bm25_topk(
        spark,
        None,
        queries,
        k=k,
        scores=bm25_scores_indexed(spark, path, queries, k1=k1, b=b),
        id_col=meta["id_col"],
    )


def bm25_oracle_sql(
    queries: Sequence[tuple[int, str]],
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`bm25_scores` (same tokenizer, same
    Lucene idf) for the driver's side-by-side gate."""
    toks = tokens_sql("text", "duckdb")
    qrows = []
    for qid, qtext in queries:
        uniq = _split_query(qtext)
        for t in uniq:
            esc = t.replace("'", "''")
            qrows.append(f"({int(qid)}, '{esc}', {len(uniq)})")
    qvalues = ", ".join(qrows)
    return f"""
WITH qterms(query_id, token, n_query_terms) AS (VALUES {qvalues}),
staged AS (
  SELECT {id_col}, {toks} AS _toks FROM {table}
),
lens AS (
  SELECT {id_col}, CAST(len(_toks) AS BIGINT) AS dl FROM staged
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         avg(CAST(dl AS DOUBLE)) AS avgdl
  FROM lens
),
postings AS (
  SELECT {id_col}, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT {id_col}, unnest(_toks) AS token FROM staged)
  WHERE token IN (SELECT DISTINCT token FROM qterms)
  GROUP BY 1, 2
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT {id_col}, unnest(list_distinct(_toks)) AS token FROM staged)
  WHERE token IN (SELECT DISTINCT token FROM qterms)
  GROUP BY 1
)
SELECT q.query_id, p.{id_col},
       CAST(count(*) AS INT) AS n_terms_matched,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(
         ln(1.0 + (CAST(st.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
         * CAST(p.tf AS DOUBLE) * {k1 + 1.0!r}
         / (CAST(p.tf AS DOUBLE)
            + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(l.dl AS DOUBLE) / st.avgdl))
         ORDER BY token
       )), (x, y) -> x + y) AS score
FROM postings p
JOIN qterms q USING (token)
JOIN dfreq d USING (token)
JOIN lens l USING ({id_col})
CROSS JOIN stats st
GROUP BY 1, 2
"""


def rrf_fuse(
    lists: dict,
    k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of named ranked lists — the standard way a training-data pipeline
    combines lexical (BM25) and semantic (embedding) retrieval into one
    hybrid ranking without score calibration:

        rrf(q, d) = sum_over_lists 1 / (k + rank_list(q, d))

    ``lists`` maps a list name to a DataFrame that already carries an
    integer ``rank_col`` per (query, doc) — compose with ``bm25_topk``
    / ``similarity.cosine_topk``, both of which emit deterministic
    ``row_number`` ranks. Docs absent from a list simply contribute no
    term (the standard RRF convention); ``n_lists`` reports how many
    lists surfaced the doc so callers can require consensus.

    Determinism note (oracle-replayable): rrf scores are IEEE doubles
    built from integer ranks — with TWO lists the sum is a single
    commutative addition, so the result is bit-identical regardless of
    aggregation order. For 3+ lists Spark's partial-aggregate order is
    not fixed; ranks and the top cut remain stable (ties break on
    ``id_col``) but last-ulp score equality across engines is only
    guaranteed for <=2 lists.

    Plan shape (100 TB): a union of per-list rank tables (each already
    top-k'd, so tiny relative to the corpus) -> ONE groupBy
    (query, doc) with map-side combine -> optional per-query top
    window. No corpus-sized shuffle happens here; the expensive part is
    the upstream retrieval, not the fusion.

    ``top``: keep the best ``top`` fused docs per query
    (rrf DESC, n_lists DESC, id ASC), emitting ``fused_rank``.
    """
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = []
    for name, ldf in lists.items():
        parts.append(
            ldf.select(
                F.col(query_col),
                F.col(id_col),
                (
                    F.lit(1.0)
                    / (F.lit(float(k)) + F.col(rank_col).cast("double"))
                ).alias("_rr"),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy(query_col, id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_lists"),
        F.sum("_rr").alias("rrf_score"),
    )
    if top is None:
        return fused
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_score").desc(), F.col("n_lists").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= top)
    )


def matched_terms_rank(
    spark: SparkSession,
    df: DataFrame,
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Integer-exact lexical ranking for oracle-gated fusion: docs
    ranked per query by (terms matched DESC, total matched tf DESC,
    doc length ASC, id ASC) — every key an integer, so the ranking is
    bit-reproducible in any engine (unlike BM25, whose ln() idf is
    correctly-rounded-ish and can flip near-ties across engines; use
    ``bm25_topk`` when parity across engines is not required).

    Same broadcast-prefiltered postings shape as ``bm25_scores``:
    non-query tokens die before the shuffle."""
    from pyspark.sql import Window

    qterms = F.broadcast(_query_terms(spark, queries))
    staged = df.select(
        F.col(id_col),
        F.expr(tokens_sql(text_col, "spark")).alias("_toks"),
    ).select(
        id_col, "_toks", F.size("_toks").cast("bigint").alias("dl")
    )
    per_doc = (
        staged.select(id_col, "dl", F.explode("_toks").alias("token"))
        .join(qterms.select("query_id", "token"), "token")
        .groupBy("query_id", id_col)
        .agg(
            F.countDistinct("token").cast("int").alias("n_terms_matched"),
            F.count(F.lit(1)).cast("bigint").alias("matched_tf"),
            F.max("dl").alias("dl"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_terms_matched").desc(),
        F.col("matched_tf").desc(),
        F.col("dl").asc(),
        F.col(id_col),
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def matched_terms_rank_oracle_sql(
    queries: Sequence[tuple[int, str]],
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`matched_terms_rank`."""
    toks = tokens_sql("text", "duckdb")
    qrows = []
    for qid, qtext in queries:
        uniq = _split_query(qtext)
        for t in uniq:
            esc = t.replace("'", "''")
            qrows.append(f"({int(qid)}, '{esc}')")
    qvalues = ", ".join(qrows)
    return f"""
WITH qterms(query_id, token) AS (VALUES {qvalues}),
staged AS (SELECT {id_col}, {toks} AS _toks FROM {table}),
posted AS (
  SELECT s.{id_col}, CAST(len(s._toks) AS BIGINT) AS dl, u.token
  FROM staged s, unnest(s._toks) AS u(token)
),
per_doc AS (
  SELECT q.query_id, p.{id_col},
         CAST(count(DISTINCT p.token) AS INT) AS n_terms_matched,
         CAST(count(*) AS BIGINT) AS matched_tf,
         max(p.dl) AS dl
  FROM posted p JOIN qterms q ON q.token = p.token
  GROUP BY 1, 2
)
SELECT query_id, {id_col}, n_terms_matched, matched_tf, dl,
       CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id
    ORDER BY n_terms_matched DESC, matched_tf DESC, dl ASC, {id_col}
  ) AS rnk FROM per_doc
) WHERE rnk <= {int(k)}
"""


def _index_id_col(index_path: str) -> str:
    """The id column name a write_pq_index store was built with."""
    return fsio.read_json(fsio.join(index_path, fsio.META))["id_col"]


def retrieve(
    spark: SparkSession,
    docs: DataFrame,
    embeddings: DataFrame,
    queries: Sequence[tuple[int, str]],
    query_vectors: DataFrame,
    k: int = 10,
    depth: int = 50,
    rrf_k: int = 60,
    lexical: str = "bm25",
    semantic: str = "exact",
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    centroid_stride: int = 50,
    codebooks=None,
    rerank: int = 0,
    pq_m: int = 4,
    pq_ksub: int = 16,
    pq_iters: int = 2,
    index_path: Optional[str] = None,
    bm25_index_path: Optional[str] = None,
) -> DataFrame:
    """End-to-end HYBRID retrieval — the composition a training-data
    pipeline actually runs: a lexical ranked list (BM25 by default,
    ``lexical='matched_terms'`` for the integer-exact variant) and a
    semantic ranked list (exact cosine top-k over an embedding table),
    fused with reciprocal-rank fusion::

        from quality_spark.llm.retrieval import retrieve
        hits = retrieve(
            spark,
            docs,                         # (doc_id, text)
            embeddings,                   # (vec_id, embedding), vec_id == doc_id
            queries=[(1, "spark shuffle join")],
            query_vectors=embeddings.filter("vec_id = 1"),
            k=10,          # fused results per query
            depth=50,      # per-list candidates before fusion
        )
        # -> (query_id, doc_id, n_lists, rrf_score, fused_rank)

    ``queries`` and ``query_vectors`` pair by query id: entry ``(qid,
    text)`` fuses with the vector row whose ``vec_id_col`` == qid.

    Plan shape: the lexical leg tokenizes the corpus at most twice
    (``bm25_scores`` scan budget) and shuffles only
    broadcast-prefiltered postings; the semantic leg broadcasts the
    query vectors so the embedding scan is one pass; both lists are
    top-``depth`` cut BEFORE fusion, so ``rrf_fuse`` touches
    |queries| x depth x 2 rows — metadata. ``semantic='ivf'`` swaps
    the exact cosine scan for IVF-Flat ANN (`similarity.ivf_flat_topk`
    — nprobe/centroid_stride tune the recall/cost point), same output
    shape.
    ``semantic='ivfpq'`` goes one further — IVF cell pruning + PQ ADC
    over the surviving candidates (`pq.ivf_pq_topk`): the
    compressed-index path for corpora whose raw vectors don't fit
    hot storage. Pass trained ``codebooks`` (``pq.pq_train``) to
    reuse an index across calls, or let this train them inline
    (``pq_m``/``pq_ksub``/``pq_iters``); ``rerank=R`` re-ranks the
    top-R ADC candidates by exact L2. Query vectors are collected
    (|queries| rows — metadata) since the PQ distance tables are
    per-query literals. ``semantic='ivfpq_idx'`` (round 10) reads a
    PERSISTED ``pq.write_pq_index`` store at ``index_path`` instead:
    the semantic leg becomes a partition-pruned codes scan — the
    repeated-querying deployment shape (``rerank`` works here too,
    round 11: the refine stage joins the top-R candidates back to the
    ``embeddings`` frame for exact L2)."""
    from .similarity import cosine_topk, ivf_flat_topk

    if lexical == "matched_terms":
        lex = matched_terms_rank(
            spark, docs, queries, k=depth, text_col=text_col, id_col=id_col
        )
    elif lexical == "bm25_idx":
        # PERSISTED-index lexical leg (round 10): `bm25_index_path`
        # names a write_bm25_index store — pruned postings scan, no
        # corpus tokenize; scores bit-equal to lexical='bm25'.
        if bm25_index_path is None:
            raise ValueError(
                "lexical='bm25_idx' needs bm25_index_path= (write_bm25_index)"
            )
        lex = bm25_topk_indexed(spark, bm25_index_path, queries, k=depth)
        id_idx = _read_bm25_meta(bm25_index_path)["id_col"]
        if id_idx != id_col:
            lex = lex.withColumnRenamed(id_idx, id_col)
    else:
        lex = bm25_topk(
            spark,
            docs,
            queries,
            k=depth,
            text_col=text_col,
            id_col=id_col,
        )
    if semantic == "ivfpq_idx":
        # PERSISTED-index semantic leg (round 10): `index_path` names
        # a write_pq_index store — the scan prunes to the probed
        # cells, no re-encode, no full embedding pass; equal results
        # to semantic='ivfpq' with the same codebooks/centroids.
        from .pq import ivf_pq_topk_indexed

        if index_path is None:
            raise ValueError(
                "semantic='ivfpq_idx' needs index_path= (write_pq_index)"
            )
        qrows = query_vectors.select(vec_id_col, vec_col).collect()
        qseq = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]
        if not qseq:
            raise ValueError("semantic='ivfpq_idx' needs >= 1 query vector")
        sem_ranked = ivf_pq_topk_indexed(
            spark, index_path, qseq, k=depth, nprobe=nprobe,
            rerank=rerank, vectors=embeddings if rerank else None,
            vec_col=vec_col,
        ).select(
            "query_id",
            F.col(_index_id_col(index_path)).alias("neighbor_id"),
            "rank",
        )
    elif semantic == "ivfpq":
        from .pq import ivf_pq_topk, pq_train

        qrows = query_vectors.select(vec_id_col, vec_col).collect()
        qseq = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]
        if not qseq:
            raise ValueError("semantic='ivfpq' needs >= 1 query vector")
        dims = len(qseq[0][1])
        if codebooks is None:
            codebooks = pq_train(
                embeddings, m=pq_m, ksub=pq_ksub, iters=pq_iters,
                vec_col=vec_col, dims=dims,
            )
        sem_ranked = ivf_pq_topk(
            embeddings,
            codebooks,
            qseq,
            k=depth,
            nprobe=nprobe,
            centroid_stride=centroid_stride,
            id_col=vec_id_col,
            vec_col=vec_col,
            rerank=rerank,
        ).select(
            "query_id", F.col(vec_id_col).alias("neighbor_id"), "rank"
        )
    elif semantic == "ivf":
        sem_ranked = ivf_flat_topk(
            embeddings,
            query_vectors,
            k=depth,
            nprobe=nprobe,
            centroid_stride=centroid_stride,
            id_col=vec_id_col,
            vec_col=vec_col,
        )
    else:
        sem_ranked = cosine_topk(
            embeddings,
            query_vectors,
            k=depth,
            id_col=vec_id_col,
            vec_col=vec_col,
        )
    sem = sem_ranked.select(
        "query_id", F.col("neighbor_id").alias(id_col), "rank"
    )
    return rrf_fuse(
        {"lex": lex.select("query_id", id_col, "rank"), "sem": sem},
        k=rrf_k,
        id_col=id_col,
        top=k,
    )
