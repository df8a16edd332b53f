"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB): every candidate-generation step is a *banded
self-join* — rows only meet when they share an LSH band / simhash
chunk, so the shuffle is keyed by small band hashes and the quadratic
blow-up is confined to near-duplicate clusters. Signatures are pure
JVM expressions (split/transform/array_min/xxhash64); no UDFs.

Hash modes: ``fast`` uses xxhash64 (JVM, default); ``portable`` uses a
60-bit md5-prefix hash computable identically in DuckDB
(``CAST(conv(substring(md5(x),1,15),16,10)``  ↔  ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``)
so the correctness oracle can replay the whole pipeline.
"""

from __future__ import annotations

from functools import reduce as functools_reduce
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# portable hash + shingles (spark & duckdb dialects)
# ---------------------------------------------------------------------------


def hash60_sql(x: str, dialect: str, mode: str = "portable") -> str:
    if mode == "fast":
        if dialect != "spark":
            raise ValueError("fast mode is Spark-only (xxhash64)")
        return f"(xxhash64({x}) & 1152921504606846975)"
    if dialect == "spark":
        return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


#: The whitespace run every tokenizer splits on: the ASCII ``\s`` of
#: Java and Python, spelled out because DuckDB's ``\s`` (RE2) leaves
#: out the vertical tab ``\x0B``.
WS_RUN = r"[ \t\n\x0B\f\r]+"


def tokens_sql(text: str, dialect: str) -> str:
    if dialect == "spark":
        ws = WS_RUN.replace("\\", "\\\\")  # Spark unescapes string literals
        return f"filter(split({text}, '{ws}'), t -> t != '')"
    return f"list_filter(string_split_regex({text}, '{WS_RUN}'), t -> t != '')"


def shingles_sql(text: str, k: int, dialect: str) -> str:
    """Distinct word k-gram strings (set semantics for Jaccard).

    A doc with NO tokens (empty/whitespace-only text) gets an EMPTY
    set — NOT a single '' shingle. The '' form gave every such doc an
    identical minhash signature, collapsing all of them into ONE
    constant LSH bucket per band: the exact quadratic candidate
    blow-up the NULL-text guard exists to prevent, triggered by the
    most common degenerate rows in a scrubbed web corpus."""
    toks = tokens_sql(text, dialect)
    if dialect == "spark":
        body = (
            f"array_distinct(transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
            f"i -> array_join(slice({toks}, i, {k}), ' ')))"
        )
        return f"(CASE WHEN size({toks}) = 0 THEN array() ELSE {body} END)"
    body = (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string({toks}[i:i+{k - 1}], ' ')))"
    )
    return f"(CASE WHEN len({toks}) = 0 THEN []::VARCHAR[] ELSE {body} END)"


def shingles_from_tokens_sql(toks_col: str, k: int) -> str:
    """Spark shingles over an already-materialized token-array COLUMN.

    ``shingles_sql`` inlines the tokenizer expression inside the
    per-index lambda, so the regex split re-evaluates for every shingle
    position (~n_tokens x per row; measured 4.4s -> 0.5s at sf0.1 for
    the two-step form).  Callers should project the token array in one
    select, then this in the next — CollapseProject keeps expensive
    multi-referenced expressions in their own Project."""
    body = (
        f"array_distinct(transform(sequence(1, greatest(size({toks_col}) - {k - 1}, 1)), "
        f"i -> array_join(slice({toks_col}, i, {k}), ' ')))"
    )
    # same empty-tokens guard as shingles_sql (see its docstring);
    # cheap here because the token array is a materialized column
    return f"(CASE WHEN size({toks_col}) = 0 THEN array() ELSE {body} END)"


def bucket_candidate_pairs(
    sig: DataFrame,
    bucket_cols: Tuple[str, ...],
    id_col: str = "id",
    payload_cols: Tuple[str, ...] = (),
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Distinct ``(id_a < id_b)`` candidate pairs of rows sharing a
    bucket, from a (bucket..., id[, payload...]) frame.

    Shape chosen for scale (round 4 — replaces the former bucket
    self-join): ONE shuffle on the bucket key, then pairs expand
    JVM-side from a per-bucket sorted array.  The self-join form
    evaluated the signature projection TWICE (Spark plans no
    ReusedExchange across the join inputs — measured 4 ArrowEvalPython
    nodes for the embedding variant) and shuffled both sides; this
    evaluates it once and shuffles ids only.  The per-bucket pair count
    is quadratic in bucket size under BOTH forms — that is the LSH
    recall/cost dial (planes/bands), not a plan property.

    ``payload_cols`` ride along per id and come back as ``<col>_a`` /
    ``<col>_b`` (e.g. the simhash value needed to verify the pair);
    keep them scalar-small — wide payloads should join back by id
    after the dedup instead.

    ``max_bucket_size`` drops buckets larger than the cap BEFORE pair
    expansion — the standard skew guard at corpus scale: a degenerate
    bucket (empty-ish signatures, boilerplate collisions) contributes
    O(size²) pairs of near-zero precision and can dominate the whole
    job; candidates lost this way are exactly the ones every other
    member already generates elsewhere or verification would reject.
    Documented recall trade: pairs whose ONLY collision is the dropped
    bucket are lost.  None (default) keeps exact parity with the
    unguarded pipeline."""
    item = F.struct(F.col(id_col).alias("id"), *[F.col(c) for c in payload_cols])
    # a NULL bucket key never forms candidates (the equi-join this
    # replaces was NULL-rejecting; groupBy would pool all NULLs into
    # one giant bucket — e.g. every NULL-text doc pairing with every
    # other)
    nn = sig.filter(
        functools_reduce(
            lambda acc, c: acc & F.col(c).isNotNull(),
            bucket_cols,
            F.lit(True),
        )
    )
    buckets = (
        nn.groupBy(*[F.col(c) for c in bucket_cols])
        .agg(F.array_sort(F.collect_list(item)).alias("__items"))
        .filter(F.size("__items") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__items") <= max_bucket_size)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(__items, (x, i) -> "
                "transform(slice(__items, i + 2, size(__items)), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("__p")
    )
    return (
        pairs.select(
            F.col("__p.a.id").alias("id_a"),
            F.col("__p.b.id").alias("id_b"),
            *[F.col(f"__p.a.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(f"__p.b.{c}").alias(f"{c}_b") for c in payload_cols],
        )
        # strict guard, same as the replaced `a.id < b.id` join
        # condition: duplicate ids in one bucket must NOT emit a
        # self-pair (id, id), and a NULL id must never appear in a
        # pair (NULL < x is NULL -> filtered)
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def with_shingles(
    df: DataFrame, text_col: str, k: int, out: str = "shingles"
) -> DataFrame:
    """Two-step (tokens, then k-grams) shingle projection — the fast
    Spark path; one regex split per row."""
    toks = tokens_sql(text_col, "spark")
    return df.select("*", F.expr(toks).alias("__toks")).select(
        "*", F.expr(shingles_from_tokens_sql("__toks", k)).alias(out)
    ).drop("__toks")


def _perm_coeffs(num_perm: int) -> List[Tuple[int, int, int]]:
    """Deterministic universal-hash coefficients < 2^30 per permutation."""
    import hashlib

    out = []
    for p in range(num_perm):
        d = hashlib.md5(f"qs-minhash-{p}".encode()).digest()
        a = (int.from_bytes(d[0:4], "big") | 1) & ((1 << 30) - 1)
        b = int.from_bytes(d[4:8], "big") & ((1 << 30) - 1)
        c = int.from_bytes(d[8:12], "big") & ((1 << 30) - 1)
        out.append((a | 1, b, c))
    return out


_MERSENNE61 = (1 << 61) - 1


def shingle_hashes_sql(shingles: str, dialect: str, mode: str = "portable") -> str:
    """Base 60-bit hash of every shingle — computed ONCE; permutations
    mix these values instead of re-hashing."""
    mapfn = "transform" if dialect == "spark" else "list_transform"
    return f"{mapfn}({shingles}, s -> {hash60_sql('s', dialect, mode)})"


def minhash_sqls(hashes: str, num_perm: int, dialect: str, mode: str = "portable") -> List[str]:
    """One min-hash per permutation over a precomputed hash array.

    Permutations are overflow-free universal mixes
    ``(hi·a + lo·b + c) mod (2^61-1)`` of the base hash's 30-bit halves
    — portable to DuckDB (whose integer ops are checked, so wrap-around
    multiply tricks are off the table) and ~num_perm× cheaper than
    hashing per permutation."""
    mapfn = "transform" if dialect == "spark" else "list_transform"
    minfn = "array_min" if dialect == "spark" else "list_min"
    out = []
    for a, b, c in _perm_coeffs(num_perm):
        mix = f"(((h >> 30) * {a} + (h & 1073741823) * {b} + {c}) % {_MERSENNE61})"
        out.append(f"{minfn}({mapfn}({hashes}, h -> {mix}))")
    return out


def band_sqls(
    minhash_cols: List[str], bands: int, dialect: str, mode: str = "portable"
) -> List[str]:
    """Hash each band's minhash slice to one bucket value.

    NULL-propagating concatenation (NOT concat_ws, which skips NULLs):
    a NULL minhash (doc with no text) must yield NULL band hashes so
    the inner band self-join drops those docs. With concat_ws every
    NULL-text doc's bands collapsed to hash60('') — a single constant
    bucket whose self-join is quadratic in the NULL count, exactly the
    blow-up banding exists to prevent. Non-null band values are
    byte-identical to before (same separators, same positions)."""
    rows = len(minhash_cols) // bands
    out = []
    for b in range(bands):
        slice_cols = minhash_cols[b * rows : (b + 1) * rows]
        casts = [f"CAST({c} AS STRING)" for c in slice_cols]
        if dialect == "spark":
            parts: List[str] = []
            for i, c in enumerate(casts):
                if i:
                    parts.append("':'")
                parts.append(c)
            joined = f"concat({', '.join(parts)})"
        else:
            joined = " || ':' || ".join(casts)  # || propagates NULL
            joined = f"({joined})"
        out.append(hash60_sql(joined, dialect, mode))
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Hash-groupBy exact duplicate groups: (content_hash, n_docs,
    keeper_id). One shuffle on the hash; survives any scale."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.col(id_col)).alias("keeper_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id document per identical text."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str, score_col: str
) -> DataFrame:
    """Keep the HIGHEST-``score_col`` document per identical text
    (ties: lowest id) — the standard curation policy when duplicate
    groups span sources of different quality, e.g. keep the copy with
    the best quality score or the longest metadata. Same plan shape as
    :func:`exact_dedup`: one window keyed by the text hash — per-group
    sorts only, group size = duplication factor, never corpus-sized."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Corpus-wide PARAGRAPH-level exact dedup (the C4/RefinedWeb
    cleaning step): every document splits into paragraphs on ``sep``,
    each distinct paragraph keeps only its FIRST occurrence corpus-wide
    (lowest (id, position) — boilerplate headers/footers repeated
    across a crawl vanish from all but one document), and each document
    is rebuilt from its surviving paragraphs in original order
    (documents whose every paragraph was seen elsewhere come back as
    '' — kept, not dropped, so row counts are stable for downstream
    accounting).

    Plan shape: one posexplode projection, ONE shuffle keyed by the
    paragraph text for the first-occurrence window (per-group sort is
    duplication-factor-sized, never corpus-sized), one groupBy(id) to
    reassemble, one left join back to preserve paragraph-less rows.
    At 100 TB, key the window by ``xxhash64(para)`` with a secondary
    exact comparison if shuffling full paragraph text dominates; the
    exact-text key here is collision-proof by construction. Empty
    segments (leading/trailing/double separators) are dropped before
    dedup, like C4's line filter."""
    import re as _re

    out_col = out_col or text_col
    paras = df.select(
        F.col(id_col).alias("__pid"),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("__pos", "__para"),
    ).filter(F.length("__para") > 0)
    w = Window.partitionBy("__para").orderBy("__pid", "__pos")
    kept = (
        paras.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    rebuilt = kept.groupBy("__pid").agg(
        F.concat_ws(
            sep,
            F.expr(
                "transform(array_sort(collect_list(struct(__pos, __para))), "
                "x -> x.__para)"
            ),
        ).alias("__rebuilt")
    )
    joined = df.join(rebuilt, F.col(id_col) == F.col("__pid"), "left")
    if out_col == text_col:
        keep_cols = [c for c in df.columns if c != text_col]
    else:
        keep_cols = list(df.columns)
    return joined.select(
        *keep_cols,
        F.coalesce(F.col("__rebuilt"), F.lit("")).alias(out_col),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs
# ---------------------------------------------------------------------------


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    mode: str = "fast",
    id_col: str = "doc_id",
) -> DataFrame:
    """Adds ``shingles``, ``mh`` (array of minhashes), and ``band_0..n``.

    Shape: explode shingles -> hash once per shingle -> ``groupBy(id)``
    with ``num_perm`` MIN aggregates -> left join back.  Everything runs
    in whole-stage codegen with map-side partial aggregation, so the
    shuffle carries one row of ``num_perm`` longs per document.  The
    array-HOF formulations (``array_min(transform(...))`` per perm, or
    one ``aggregate`` pass) are 3-16x slower here: higher-order lambdas
    evaluate interpreted, and Catalyst's projection collapse clones the
    expensive hash transform into every use.  Docs with no shingles get
    ``mh = NULL`` (left join), matching ``list_min([]) -> NULL`` on the
    oracle side."""
    shingled = with_shingles(df, text_col, k, out="shingles")
    # explode_OUTER, then drop the null rows above the Generate: plain
    # explode makes InferFiltersFromGenerate push a `size(shingles) > 0`
    # filter BELOW it, and that filter re-inlines the whole shingle
    # expression in its un-factored one-projection form (regex split
    # re-evaluated per shingle index — measured 5s of the old 8s here).
    # Outer explode infers no filter; `s IS NOT NULL` on the generator
    # output is free and equivalent.
    hashed = (
        shingled.select(
            F.col(id_col).alias("__mh_id"), F.explode_outer("shingles").alias("s")
        )
        .filter(F.col("s").isNotNull())
        .select("__mh_id", F.expr(hash60_sql("s", "spark", mode)).alias("h"))
    )
    mixes = [
        f"(shiftright(h, 30) * {a} + (h & 1073741823) * {b} + {c}) % {_MERSENNE61}"
        for a, b, c in _perm_coeffs(num_perm)
    ]
    mh_agg = (
        hashed.groupBy("__mh_id")
        .agg(*[F.min(F.expr(m)).alias(f"__mh_{i}") for i, m in enumerate(mixes)])
        .select(
            "__mh_id", F.array(*[f"__mh_{i}" for i in range(num_perm)]).alias("mh")
        )
    )
    out = shingled.join(
        mh_agg, shingled[id_col] == mh_agg["__mh_id"], "left"
    ).drop("__mh_id")
    mh_cols = [f"mh[{i}]" for i in range(num_perm)]
    band_cols = band_sqls(mh_cols, bands, "spark", mode)
    return out.select(
        "*", *[F.expr(s).alias(f"band_{b}") for b, s in enumerate(band_cols)]
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.3,
    block_col: Optional[Column] = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard over candidate pairs.

    Without ``block_col`` this is all-pairs within the input — the
    verification/oracle path, O(n^2); cap the input.  At scale pass a
    blocking column (length bucket, language, LSH band, ...): pairs form
    only within a block, turning the crossJoin into a shuffle join on
    the block key.  ``minhash_lsh_pairs`` is this operator with LSH
    bands as the block.

    Round 14 (performance; identical rows by construction):

    - ``|A∪B| = |A| + |B| - |A∩B|`` for the distinct shingle arrays,
      so the jaccard needs ONE array traversal (intersect), not two —
      the sizes are equal as integers, so the double division is
      bit-identical to the array_union form.
    - the authored join condition orders the cheap predicates first
      (id <, then the size-ratio bound, then the jaccard) and carries
      the threshold itself, so the optimizer has no separate filter to
      push ahead of them: pre-round-14 the pushed ``jaccard >=
      threshold`` evaluated the array ops for EVERY ordered candidate
      pair before the id< check ran. The size-ratio bound never drops
      a qualifying pair: |A∩B| <= min and |A∪B| >= max, and correctly
      rounded IEEE division is monotone in each operand, so jaccard <=
      min/max — a pair with min/max < threshold cannot reach it. (Both
      empty: ratio = NaN = the old jaccard itself, false either way.)
    - the all-pairs (no block_col) path hash-repartitions the probe
      side by id across the session's cores: the capped input
      otherwise sits in 1-2 scan partitions and the whole O(n^2)
      evaluation runs on 1-2 cores."""
    base = with_shingles(df, text_col, k, out="__sh").select(
        F.col(id_col).alias("id"),
        F.col("__sh").alias("sh"),
        F.size(F.col("__sh")).cast("double").alias("__n"),
        (block_col if block_col is not None else F.lit(0)).alias("blk"),
    )
    probe = base
    if block_col is None:
        spark = df.sparkSession
        probe = base.repartition(
            int(spark.sparkContext.defaultParallelism), F.col("id")
        )
    a, b = probe.alias("a"), base.alias("b")
    jac = (
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / (
            F.col("a.__n") + F.col("b.__n")
            - F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        )
    )
    ratio = F.least("a.__n", "b.__n") / F.greatest("a.__n", "b.__n")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.id") < F.col("b.id"))
        & (ratio >= F.lit(float(threshold)))
        & (jac >= F.lit(float(threshold))),
    )
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        jac.alias("jaccard"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    mode: str = "fast",
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs sharing ≥1 LSH band,
    verified with exact shingle-set Jaccard ≥ threshold.

    The band join shuffles on (band_index, band_hash) — candidates are
    co-located, everything else never meets. Jaccard is recomputed only
    for candidates (array_intersect on the two shingle sets)."""
    sig = with_minhash(df, text_col, k, num_perm, bands, mode, id_col=id_col).select(
        F.col(id_col).alias("id"),
        F.array(*[F.col(f"band_{b}") for b in range(bands)]).alias("bands"),
    )
    exploded = sig.select(
        "id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    # Ids-only band bucketing: the single shuffle and the dedup carry
    # (band, id) rows, never the shingle arrays — the payload joins
    # back AFTER the candidate set is deduped (at scale: small
    # candidate table vs corpus-sized shuffle of shingle sets), and the
    # signature projection is evaluated once (bucket_candidate_pairs).
    cand = bucket_candidate_pairs(
        exploded, ("band_idx", "band_hash"), max_bucket_size=max_bucket_size
    )
    sh_df = with_shingles(df, text_col, k, out="__sh").select(
        F.col(id_col).alias("id"), F.col("__sh").alias("sh")
    )
    fetched = (
        cand.join(sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    ).alias("jaccard")
    return (
        fetched.select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Incremental MinHash index — dedup a new batch against a persisted
# corpus without recomputing the corpus
# ---------------------------------------------------------------------------


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    mode: str = "fast",
    partitions: Optional[int] = None,
    save_mode: str = "overwrite",
) -> None:
    """Persist the exploded band signatures (id, band_idx, band_hash)
    as the corpus's standing near-dup index.

    The incremental-ingest workflow at corpus scale: signatures are
    computed ONCE per document ever (here, at index build / append
    time), and each new shard joins its own few signatures against the
    stored index instead of re-shingling 100 TB per ingest.  Rows are
    repartitioned by (band_idx, band_hash) before writing so index
    files are bucket-clustered.  Append a new shard's signatures to the
    standing index with ``save_mode='append'`` after deduping it (see
    :func:`minhash_dedup_against_index`)."""
    sig = with_minhash(df, text_col, k, num_perm, bands, mode, id_col=id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("band_idx", "band_hash"),
    ).filter(F.col("band_hash").isNotNull())
    out = sig.repartition(
        *([partitions] if partitions else []), F.col("band_idx"), F.col("band_hash")
    )
    out.write.mode(save_mode).parquet(path)


def minhash_dedup_against_index(
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    mode: str = "fast",
    within_batch: bool = True,
) -> DataFrame:
    """(new_id, matched_id) candidate near-dup hits of a NEW batch:
    against the persisted corpus index, and (``within_batch``) among
    the batch itself — band-level candidates, the cheap first stage of
    incremental ingest dedup (verify survivors with exact Jaccard via
    :func:`minhash_lsh_pairs` semantics if band precision is not
    enough; band parameters must match the index build).

    Scale shape: the new batch is tiny next to the corpus, so its
    exploded signatures are hinted as the BROADCAST side — the index
    is probed in place with NO shuffle of the corpus (the plan shows a
    BroadcastHashJoin over the index scan).
    ``matched_id`` is NULL-free; within-batch hits keep id_a < id_b
    ordering convention in (new_id, matched_id)."""
    spark = new_df.sparkSession
    new_sig = with_minhash(
        new_df, text_col, k, num_perm, bands, mode, id_col=id_col
    ).select(
        F.col(id_col).alias("new_id"),
        F.posexplode(
            F.array(*[F.col(f"band_{b}") for b in range(bands)])
        ).alias("band_idx", "band_hash"),
    ).filter(F.col("band_hash").isNotNull())
    index = spark.read.parquet(index_path)
    vs_index = (
        index.join(F.broadcast(new_sig), ["band_idx", "band_hash"])
        .filter(F.col("id") != F.col("new_id"))
        .select("new_id", F.col("id").alias("matched_id"))
    )
    if not within_batch:
        return vs_index.dropDuplicates(["new_id", "matched_id"])
    within = bucket_candidate_pairs(
        new_sig.withColumnRenamed("new_id", "id"), ("band_idx", "band_hash")
    ).select(F.col("id_a").alias("new_id"), F.col("id_b").alias("matched_id"))
    return vs_index.unionByName(within).dropDuplicates(["new_id", "matched_id"])


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_sql(
    text: str, dialect: str, bits: int = 32, mode: str = "portable"
) -> str:
    """Classic simhash over whitespace tokens: bit b of the output is 1
    iff sum over tokens of ±1 (token-hash bit b) is positive."""
    toks = tokens_sql(text, dialect)
    mapfn = "transform" if dialect == "spark" else "list_transform"
    sumfn = (
        "aggregate({arr}, 0L, (acc, x) -> acc + x)"
        if dialect == "spark"
        else "list_sum({arr})"
    )
    h = hash60_sql("t", dialect, mode)
    terms = []
    for b in range(bits):
        arr = f"{mapfn}({toks}, t -> CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
        tot = sumfn.format(arr=arr)
        terms.append(f"(CASE WHEN ({tot}) > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    mode: str = "fast",
    out: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode tokens -> hash ONCE per token -> ``bits`` conditional
    sums per doc -> rebuild the signature -> join back.

    The inline ``simhash_sql`` expression recomputes the token hash for
    every bit (Catalyst clones the transform 32x: 10s vs 1.5s at sf0.1);
    this shape hashes once and keeps the per-bit +/-1 sums in codegen'd
    partial aggregation, shuffling one row of ``bits`` ints per doc.
    Docs with no tokens get signature 0, matching the inline form."""
    # explode_outer + null filter: see with_minhash — avoids the
    # InferFiltersFromGenerate re-inlining of the tokenizer below the
    # Generate.
    hashed = (
        df.select(
            F.col(id_col).alias("__sh_id"),
            F.explode_outer(F.expr(tokens_sql(text_col, "spark"))).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select("__sh_id", F.expr(hash60_sql("t", "spark", mode)).alias("h"))
    )
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    sig_sql = " + ".join(
        f"(CASE WHEN __b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0L END)"
        for b in range(bits)
    )
    sig = (
        hashed.groupBy("__sh_id")
        .agg(*aggs)
        .select("__sh_id", F.expr(f"({sig_sql})").alias(out))
    )
    return (
        df.join(sig, df[id_col] == sig["__sh_id"], "left")
        .drop("__sh_id")
        .withColumn(out, F.coalesce(F.col(out), F.lit(0)))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    mode: str = "fast",
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """(id_a, id_b, hamming ≤ max_hamming) via chunk banding: with 4
    chunks, any pair within hamming 3 shares an identical chunk
    (pigeonhole) — full recall without a quadratic join."""
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    sh = with_simhash(df, text_col, bits, mode, id_col=id_col).select(
        F.col(id_col).alias("id"), "simhash"
    )
    chunks = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"(simhash >> {c * chunk_bits}) & {(1 << chunk_bits) - 1}"
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    cand = bucket_candidate_pairs(
        chunks, ("chunk_idx", "chunk_val"), payload_cols=("simhash",),
        max_bucket_size=max_bucket_size,
    )
    ham = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    ).alias("hamming")
    return cand.select("id_a", "id_b", ham).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every id appearing in ``pairs``, where
    ``component`` is the smallest id reachable through the pair graph —
    the clustering step that turns near-dup PAIRS into dedup GROUPS.

    Iterative min-label propagation (the standard distributed CC): each
    round every node takes the min of its own label and its neighbors'.
    Rounds needed = graph diameter, and near-dup clusters are shallow
    (a dup cluster's diameter is small by construction), so a handful
    of shuffle-join rounds suffice at any corpus size. Each round
    ``localCheckpoint``s to cut lineage — without it the plan doubles
    per iteration. Raises if not converged within ``max_iter`` (which
    for near-dup graphs signals pathological chaining, worth seeing)."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )
    from ..plans.blocks import release_local_checkpoint

    comp_type = labels.schema["component"].dataType
    from pyspark.sql import Observation

    for _ in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("id").alias("b"), "component"), "b"
        ).select(
            F.col("a").alias("id"),
            F.col("component"),
            F.lit(None).cast(comp_type).alias("__old"),
        )
        # eager checkpoint: measured equal to lazy (the convergence
        # count re-reads the same blocks either way), and eager blocks
        # can't be silently recomputed from lost lineage mid-round.
        # Round 13: the previous label rides through the aggregation as
        # ``__old`` (max() sees exactly the one non-null labels row per
        # id), so the convergence check needs no join of new labels
        # against old. Round 14: the convergence count rides the
        # CHECKPOINT job itself as an observed metric — the separate
        # filter-count pass over the new checkpoint's blocks is gone
        # (one fewer job and one fewer |V|-row read per round, at any
        # scale), and ``__old`` no longer needs to be materialized in
        # the checkpoint blocks. max(__old) sees exactly the one
        # non-null labels row per id, so the observed count equals the
        # old filter-count bit for bit.
        obs = Observation()
        new_labels = (
            labels.select(
                "id", "component", F.col("component").alias("__old")
            )
            .union(nbr)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("component") != F.col("__old"), True)
                ).alias("changed"),
            )
            .select("id", "component")
            .localCheckpoint()
        )
        changed = int(obs.get["changed"])
        # the old round's checkpoint has no readers left — free its
        # blocks (round-10 hygiene: plain unpersist() cannot release
        # checkpoint blocks and they otherwise accumulate one dead
        # state copy per round for the whole session; see
        # plans/blocks.py)
        release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            release_local_checkpoint(edges)
            return labels.select("id", "component")
    release_local_checkpoint(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        f"the pair graph has a path longer than {max_iter}; raise max_iter"
    )


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: Optional[str] = None,
) -> DataFrame:
    """df + ``keep`` boolean: one keeper per near-dup component; rows
    in no pair keep themselves. The standard final step of
    minhash/simhash/embedding dedup.

    Default keeper = smallest id. With ``score_col`` the keeper is the
    component row with the HIGHEST score (tie → smallest id), elected
    in two stages — max score per component, then min id among the
    max-score rows — so the tie-break works for ANY orderable id type
    (string doc ids included; a single max_by over (score, −id) would
    need numeric ids). NULL scores sort lowest (``max`` skips them);
    an all-NULL-score component elects its smallest id."""
    comp = connected_components(pairs, id_a, id_b)
    if score_col is None:
        keep = (
            F.col("component").isNull()
            | (F.col(id_col) == F.col("component"))
        )
        return (
            df.join(comp.withColumnRenamed("id", id_col), id_col, "left")
            .select(*df.columns, keep.alias("keep"))
        )
    scored = df.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("__score")
    ).join(comp, "id")
    best = scored.groupBy("component").agg(
        F.max("__score").alias("__best")
    )
    keepers = (
        scored.join(best, "component")
        .filter(
            F.col("__score").eqNullSafe(F.col("__best"))
            | F.col("__best").isNull()
        )
        .groupBy("component")
        .agg(F.min("id").alias("__keeper"))
    )
    elected = comp.join(keepers, "component").withColumnRenamed(
        "id", id_col
    )
    keep = F.col("__keeper").isNull() | (F.col(id_col) == F.col("__keeper"))
    return (
        df.join(elected, id_col, "left")
        .select(*df.columns, keep.alias("keep"))
    )


def dedup_near(
    df: DataFrame,
    method: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: Optional[str] = None,
    **method_kw,
) -> DataFrame:
    """One-call near-duplicate dedup — the dedup counterpart of
    ``retrieval.retrieve()``: candidate pairs by ``method``, connected
    components, one keeper per component, return the KEPT rows of
    ``df`` (same schema).

    - ``method='minhash'`` — banded-LSH candidates + exact-Jaccard
      verify (`minhash_lsh_pairs`; probabilistic recall at tunable
      bands/perms — the web-scale default),
    - ``method='jaccard'`` — prefix-filtered EXACT threshold join
      (`operators.fuzzy.jaccard_pairs`; complete by construction —
      when a missed near-dup is not acceptable),
    - ``method='simhash'`` — hamming-banded pairs (`simhash_pairs`;
      full recall at the hamming threshold by pigeonhole).

    ``score_col`` elects the best-scoring component member instead of
    the smallest id (keep the longest/highest-quality variant).
    Extra ``method_kw`` pass through to the pair operator
    (threshold/bands/num_perm/max_hamming/...).

    100 TB: pair generation is the respective operator's documented
    one-shuffle shape; components iterate shuffle joins to cluster
    diameter (shallow for dup clusters); the keep join is one
    broadcast-or-shuffle join on ids. Nothing here collects."""
    if method == "minhash":
        pairs = minhash_lsh_pairs(
            df, id_col=id_col, text_col=text_col, **method_kw
        )
    elif method == "jaccard":
        from ..operators.fuzzy import jaccard_pairs

        pairs = jaccard_pairs(
            df, text_col=text_col, id_col=id_col, **method_kw
        )
    elif method == "simhash":
        pairs = simhash_pairs(
            df, id_col=id_col, text_col=text_col, **method_kw
        )
    else:
        raise ValueError(
            f"method must be minhash|jaccard|simhash, got {method!r}"
        )
    flagged = dedup_keep_list(
        df, pairs.select("id_a", "id_b"), id_col, score_col=score_col
    )
    return flagged.filter(F.col("keep")).drop("keep")


def window_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
) -> DataFrame:
    """Cross-document EXACT-substring duplication signal (round 7 —
    the sliding-window flavor of Lee et al. 2022's "Deduplicating
    Training Data Makes Language Models Better", public): every
    length-``n`` token window is hashed; a window is DUPLICATED when
    the identical window appears in more than one document. Output per
    doc: ``n_windows`` (DISTINCT windows in the doc — within-doc
    repeats are intra-doc repetition, repetition.py's domain),
    ``n_dup_windows`` (of those, shared with any other doc), and
    ``dup_window_fraction``. Complements
    :func:`paragraph_dedup` (structural paragraphs) by catching
    copy-paste spans that cross paragraph boundaries.

    Scale shape: one explode (windows), one groupBy(window-hash) with
    map-side combine, one join back on the hash — the same
    two-shuffle budget as the other dedup signals; no all-pairs
    anything. Window identity uses xxhash64 of the joined tokens —
    64-bit collisions overcount duplication at the birthday bound
    (~4B distinct windows), acceptable for a filtering SIGNAL (the
    actual dedup decision stays with the exact/minhash operators)."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = df.select(F.col(id_col), toks.alias("__qs_toks"))
    nwin = F.size("__qs_toks") - (n - 1)
    # guard: sequence(1, 0) DESCENDS to [1, 0] — short docs must yield
    # an empty window list, not a slice(start=0) error
    positions = F.when(nwin >= 1, F.sequence(F.lit(1), nwin)).otherwise(
        F.array().cast("array<int>")
    )
    wins = base.select(
        id_col,
        F.explode(
            F.transform(
                positions,
                lambda i: F.xxhash64(
                    F.array_join(F.slice("__qs_toks", i, n), " ")
                ),
            )
        ).alias("__qs_whash"),
    )
    # distinct (doc, window) first: a window repeated WITHIN one doc is
    # intra-doc repetition (repetition.py's domain), not cross-doc dup
    doc_wins = wins.distinct()
    counts = doc_wins.groupBy("__qs_whash").agg(
        F.count(F.lit(1)).alias("__qs_ndocs")
    )
    per_doc = (
        doc_wins.join(counts, "__qs_whash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_windows"),
            F.sum((F.col("__qs_ndocs") > 1).cast("int"))
            .cast("int")
            .alias("n_dup_windows"),
        )
    )
    return (
        df.select(id_col).distinct()
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.col("n_dup_windows") / F.col("n_windows"),
            ).alias("dup_window_fraction"),
        )
    )


def paragraph_dedup_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    hash_fn=None,
) -> DataFrame:
    """GLOBAL paragraph-level exact dedup (the Dolma/CCNet boilerplate
    scrub): split every document into paragraphs, keep only the FIRST
    occurrence of each distinct paragraph corpus-wide (ordered by
    (id, paragraph index)), drop every later repeat — including
    repeats inside the same document — and reassemble the survivors
    in original order.

    Returns one row per input doc: (id_col, text_dedup, n_paras,
    n_kept). Documents reduced to zero paragraphs come back with
    empty text, not a dropped row.

    Plan: exactly two shuffles — (1) first-occurrence
    election as a map-side-combined groupBy(paragraph) min_by (NOT a
    window: the ubiquitous-boilerplate paragraph would otherwise sort
    millions of rows inside one window partition; min_by aggregates
    with partial combine so skew collapses on the map side), and
    (2) the per-doc reassembly groupBy. The election join is keyed on
    the paragraph hash, not the text, so the wide payload shuffles
    once.

    Plan note (VERDICT r07 #3): the exploded paragraph frame feeds
    THREE consumers (election, kept-join probe side, per-doc stats),
    so the lazy plan scans the corpus three times — pinned in
    tests/test_plans.py. A caller whose input is an expensive upstream
    pipeline checkpoints (or writes out) ``df`` before the call.

    Collision safety (ADVICE r07): because this operator MUTATES
    corpus text, the election carries the winning paragraph's TEXT and
    the kept filter fails OPEN — a paragraph whose 64-bit xxhash64
    collides with a DIFFERENT earlier paragraph is KEPT (its own later
    repeats also escape dedup on that astronomically-rare key), never
    silently deleted. ``sep`` is treated as a LITERAL separator: it is
    Pattern.quote()-d for the split so the same string splits and
    rejoins ('|', '. ' etc. are safe)."""
    qsep = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    hash_fn = hash_fn or F.xxhash64  # injectable for collision tests
    paras = df.select(
        F.col(id_col).alias("__pd_id"),
        F.posexplode(F.split(F.col(text_col), qsep)).alias(
            "__pd_idx", "__pd_text"
        ),
    ).withColumn("__pd_hash", hash_fn("__pd_text"))
    firsts = paras.groupBy("__pd_hash").agg(
        F.min(F.struct("__pd_id", "__pd_idx", "__pd_text")).alias(
            "__pd_first"
        )
    )
    kept = (
        paras.join(firsts, "__pd_hash")
        .filter(
            (
                (F.col("__pd_id") == F.col("__pd_first.__pd_id"))
                & (F.col("__pd_idx") == F.col("__pd_first.__pd_idx"))
            )
            # fail-open on hash collision: different text, same hash
            | (F.col("__pd_text") != F.col("__pd_first.__pd_text"))
        )
    )
    stats = paras.groupBy(F.col("__pd_id")).agg(
        F.count("*").alias("n_paras")
    )
    rebuilt = kept.groupBy("__pd_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pd_idx", "__pd_text"))),
                lambda s: s["__pd_text"],
            ),
        ).alias("text_dedup"),
        F.count("*").alias("n_kept"),
    )
    return (
        stats.join(rebuilt, "__pd_id", "left")
        .select(
            F.col("__pd_id").alias(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def remove_dup_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    verify_text: bool = True,
) -> DataFrame:
    """Cross-document exact-substring REMOVAL — the transform half of
    :func:`window_dup_stats` (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", public): every length-``n``
    token window that appears in MORE THAN ONE document is removed
    from every doc except the window's first occurrence (smallest
    (id, pos)); the first copy survives so the corpus keeps exactly
    one instance of each duplicated span. Windows repeated only
    WITHIN one doc are intra-doc repetition (repetition.py's domain)
    and are kept, matching window_dup_stats' convention.

    Output: (id, ``text_dedup``, ``n_tokens``, ``n_removed_tokens``).
    ``text_dedup`` is the surviving tokens rejoined with single
    spaces — the operator is whitespace-normalizing by construction
    (it works on the token sequence, not raw bytes), like BPE apply.

    ``verify_text=True`` (default): window election groups on
    (xxhash64, window text) and removal requires text equality with
    the elected copy — a 64-bit hash collision can never delete a
    unique span (fail-open), and a DuckDB oracle grouping on the text
    alone replays the result exactly. The shuffle carries the n-token
    window strings (~n x text volume). ``verify_text=False`` is the
    100 TB scale path: group on the 8-byte hash only (shuffle shrinks
    ~n*avg_token x), accepting birthday-bound mis-removal (~4B
    distinct windows for a 50% chance of ONE collision) — the same
    documented tradeoff as window_dup_stats.

    Scale shape: explode windows -> one groupBy election (map-side
    combine) -> join back -> explode covered token indices (only for
    removed windows, O(dup_windows * n) rows) -> one anti-join against
    posexploded tokens -> per-doc reassembly groupBy. Four shuffles,
    all linear in their inputs; no all-pairs, no driver collect. The
    reassembly collect_list is per-doc sized (a doc fits in one task
    by definition — it arrived in one parquet cell)."""
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = df.select(F.col(id_col), toks.alias("__ds_toks"))
    nwin = F.size("__ds_toks") - (n - 1)
    positions = F.when(nwin >= 1, F.sequence(F.lit(1), nwin)).otherwise(
        F.array().cast("array<int>")
    )
    wins = base.select(
        id_col,
        F.explode(
            F.transform(
                positions,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("__ds_toks", i, n), " ").alias(
                        "wtext"
                    ),
                ),
            )
        ).alias("__w"),
    ).select(
        id_col,
        F.col("__w.pos").alias("__ds_pos"),
        F.xxhash64("__w.wtext").alias("__ds_whash"),
        *([F.col("__w.wtext").alias("__ds_wtext")] if verify_text else []),
    )
    group_keys = ["__ds_whash"] + (["__ds_wtext"] if verify_text else [])
    elect = wins.groupBy(*group_keys).agg(
        F.min(F.struct(F.col(id_col), F.col("__ds_pos"))).alias("__ds_first"),
        F.countDistinct(id_col).alias("__ds_ndocs"),
    )
    dup_wins = (
        wins.join(elect, group_keys)
        .filter(
            (F.col("__ds_ndocs") > 1)
            & ~(
                (F.col(id_col) == F.col(f"__ds_first.{id_col}"))
                & (F.col("__ds_pos") == F.col("__ds_first.__ds_pos"))
            )
        )
    )
    covered = dup_wins.select(
        id_col,
        F.explode(
            F.sequence(F.col("__ds_pos"), F.col("__ds_pos") + (n - 1))
        ).alias("__ds_tokidx"),
    ).distinct()
    toks_idx = base.select(
        id_col, F.posexplode("__ds_toks").alias("__ds_idx0", "__ds_tok")
    ).select(
        id_col,
        (F.col("__ds_idx0") + 1).alias("__ds_tokidx"),
        "__ds_tok",
    )
    kept = toks_idx.join(covered, [id_col, "__ds_tokidx"], "left_anti")
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__ds_tokidx", "__ds_tok"))
                ),
                lambda s: s["__ds_tok"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("bigint").alias("__ds_nkept"),
    )
    return (
        base.select(
            id_col, F.size("__ds_toks").cast("bigint").alias("n_tokens")
        )
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("__ds_nkept", F.lit(0))).alias(
                "n_removed_tokens"
            ),
        )
    )


def remove_dup_substrings_oracle_sql(
    n: int = 20,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`remove_dup_substrings` (verify_text
    semantics: election and removal keyed on the window TEXT)."""
    toks = tokens_sql(text_col, "duckdb")
    return f"""
WITH base AS (SELECT {id_col}, {toks} AS t FROM {table}),
wins AS (
  SELECT b.{id_col}, CAST(u.i AS INT) AS pos,
         array_to_string(b.t[CAST(u.i AS INT):CAST(u.i AS INT)+{n - 1}], ' ') AS wtext
  FROM base b, UNNEST(range(1, greatest(len(b.t) - {n - 1}, 0) + 1)) AS u(i)
),
cnt AS (
  SELECT wtext, count(DISTINCT {id_col}) AS ndocs FROM wins GROUP BY 1
),
firsts AS (
  SELECT wtext, {id_col} AS f_id, pos AS f_pos FROM (
    SELECT wtext, {id_col}, pos,
           row_number() OVER (PARTITION BY wtext ORDER BY {id_col}, pos) AS rn
    FROM wins
  ) WHERE rn = 1
),
dupw AS (
  SELECT w.{id_col}, w.pos
  FROM wins w JOIN cnt USING (wtext) JOIN firsts f USING (wtext)
  WHERE cnt.ndocs > 1 AND NOT (w.{id_col} = f.f_id AND w.pos = f.f_pos)
),
covered AS (
  SELECT DISTINCT {id_col}, CAST(u.x AS INT) AS tokidx
  FROM dupw, UNNEST(range(pos, pos + {n})) AS u(x)
),
tokd AS (
  SELECT b.{id_col}, CAST(u.i AS INT) AS tokidx, b.t[CAST(u.i AS INT)] AS tok
  FROM base b, UNNEST(range(1, len(b.t) + 1)) AS u(i)
),
kept AS (
  SELECT k.{id_col}, k.tokidx, k.tok FROM tokd k
  ANTI JOIN covered c ON k.{id_col} = c.{id_col} AND k.tokidx = c.tokidx
),
agg AS (
  SELECT {id_col}, string_agg(tok, ' ' ORDER BY tokidx) AS text_dedup,
         CAST(count(*) AS BIGINT) AS nkept
  FROM kept GROUP BY 1
)
SELECT b.{id_col}, coalesce(a.text_dedup, '') AS text_dedup,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       CAST(len(b.t) AS BIGINT) - coalesce(a.nkept, 0) AS n_removed_tokens
FROM base b LEFT JOIN agg a USING ({id_col})
"""
