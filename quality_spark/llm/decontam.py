"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation/benchmark set.

The standard contamination check (GPT-3 appendix C; Dodge et al. 2021
C4 analysis): a training document is contaminated if it shares at
least one word n-gram (n=13 classically) with any benchmark document.

Plan shape, for a large corpus vs a benchmark of at most a few
million grams:

- benchmark side: explode distinct n-grams, ``distinct()`` — tiny by
  definition, and explicitly ``broadcast()`` so the corpus-side join is
  a map-side hash probe with NO corpus shuffle;
- corpus side: explode distinct n-grams (set semantics per doc — one
  hit per shared gram), inner-join the broadcast gram set, then one
  ``groupBy(doc)`` count with map-side partial aggregation;
- left-join the per-doc hit counts back onto the corpus keys (both
  sides keyed by doc id).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles_sql


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-corpus-document contamination: ``contaminated_grams`` =
    number of DISTINCT word n-grams shared with the benchmark set, and
    a boolean ``contaminated`` flag."""
    from .dedup import shingles_from_tokens_sql, tokens_sql

    # two-step tokens→shingles projection (the inlined tokenizer form
    # re-splits the text per shingle position — see
    # dedup.shingles_from_tokens_sql)
    def _grams(df: DataFrame, *keep: str) -> DataFrame:
        return df.select(
            *keep, F.expr(tokens_sql(text_col, "spark")).alias("_toks")
        ).select(
            *keep,
            F.explode(F.expr(shingles_from_tokens_sql("_toks", n))).alias("gram"),
        )

    c_grams = _grams(corpus, id_col)
    b_grams = F.broadcast(_grams(benchmark).distinct())
    hits = (
        c_grams.join(b_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("contaminated_grams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("contaminated_grams"), F.lit(0).cast("bigint")).alias(
                "contaminated_grams"
            ),
            (F.coalesce(F.col("contaminated_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_flags_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    expected: Optional[int] = None,
    fpp: float = 0.001,
    bloom_name: str = "qs_decontam_bloom",
) -> DataFrame:
    """Bloom-prefiltered decontamination — the 100 TB path for when
    the benchmark gram set outgrows a comfortable broadcast hash join
    (tens of millions of grams): build a BLOOM over the benchmark's
    distinct grams (bits instead of rows — a 100 M-gram set at
    fpp=0.001 is ~180 MB of bitset vs several GB of broadcast hash
    table), prefilter the corpus gram stream through it (a pure
    per-row projection, zero shuffle — ~(1-fpp) of non-matching grams
    drop before any join), then exact-join only the survivors.

    False positives are eliminated by the exact join, so the result
    is IDENTICAL to :func:`contamination_flags` — same rows, same
    oracle; the bloom only changes how much data reaches the join.
    ``expected`` defaults to a counted pass over the benchmark grams
    (one extra metadata-light job; pass it when known).

    The registered bloom uses the probe machinery of
    ``sources/lookups`` (Arrow-vectorized probe UDF over JVM
    xxhash64 pairs)."""
    from ..sources.lookups import bloom_from, probability_in, register_bloom
    from .dedup import shingles_from_tokens_sql, tokens_sql

    def _grams(df: DataFrame, *keep: str) -> DataFrame:
        return df.select(
            *keep, F.expr(tokens_sql(text_col, "spark")).alias("_toks")
        ).select(
            *keep,
            F.explode(F.expr(shingles_from_tokens_sql("_toks", n))).alias("gram"),
        )

    b_grams = _grams(benchmark).distinct()
    if expected is None:
        expected = max(b_grams.count(), 1)
    bf = bloom_from(b_grams, "gram", expected=expected, fpp=fpp)
    register_bloom(corpus.sparkSession, bloom_name, bf)
    # probability_in returns the membership PROBABILITY (0.0 = surely
    # absent, fpp-scaled otherwise — reference semantics); > 0 is the
    # boolean might-contain test
    c_grams = _grams(corpus, id_col).filter(
        probability_in("gram", bloom_name) > 0
    )
    hits = (
        c_grams.join(F.broadcast(b_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("contaminated_grams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("contaminated_grams"), F.lit(0).cast("bigint")).alias(
                "contaminated_grams"
            ),
            (F.coalesce(F.col("contaminated_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_oracle_sql(
    n: int,
    corpus_where: str,
    benchmark_where: str,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: same distinct-shingle explode + join + count."""
    grams = shingles_sql("text", n, "duckdb")
    return f"""
WITH c AS (
  SELECT {id_col}, unnest({grams}) AS gram FROM {table} WHERE {corpus_where}
), b AS (
  SELECT DISTINCT unnest({grams}) AS gram FROM {table} WHERE {benchmark_where}
), hits AS (
  SELECT c.{id_col}, CAST(count(*) AS BIGINT) AS contaminated_grams
  FROM c JOIN b ON c.gram = b.gram GROUP BY 1
)
SELECT d.{id_col},
       coalesce(h.contaminated_grams, 0) AS contaminated_grams,
       coalesce(h.contaminated_grams, 0) > 0 AS contaminated
FROM (SELECT {id_col} FROM {table} WHERE {corpus_where}) d
LEFT JOIN hits h ON d.{id_col} = h.{id_col}
"""
