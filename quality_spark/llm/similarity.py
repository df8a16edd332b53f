"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products run as JVM ``aggregate(zip_with(...))`` (no UDF); the
  query side is broadcast so the big side never shuffles.
- ``lsh_bucket_topk``: random-hyperplane LSH variant — the 100 TB path.
  Hyperplane weights are pseudo-random ±1 derived from xxhash64 of
  (plane, dim), so signatures are deterministic, need no model state,
  and compute JVM-side. Candidates meet only within a bucket
  (hash-partitioned join), then exact cosine re-ranks.
- ``embedding_near_dup_pairs``: cosine ≥ τ near-duplicate detection via
  the same LSH bucketing (used for embedding-based dedup).

Vector kernels — LSH signatures, IVF cell, JL projection — have ONE
Spark path each: a numpy kernel behind an Arrow pandas UDF. Their SQL
text generators (:func:`signature_sql`, :func:`ivf_cell_sql`,
:func:`projection_array_sql`) are the spec: the DuckDB oracles are built
from them, and the tests check the kernels against ``F.expr`` of the
Spark text and against the DuckDB text row for row. The kernels
accumulate over dims in the SQL fold's order, so every double (and
every sign bit or argmax) is the same on all three.

NaN rule, shared by all three: a NaN element is handled exactly as a
NULL element, and a NaN dot product or projection as a NULL one. Arrow
hands a NULL array element to numpy as NaN, so no kernel needs to tell
the two apart; the SQL texts map NaN to NULL with
``nullif(x, CAST('NaN' AS DOUBLE))`` (NaN = NaN is true in Spark and
DuckDB), because both engines sort NaN above every number.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(_dot(a, a))


def _norm_prod(a: Column, b: Column) -> Column:
    """Denominator for cosine: NULL (never 0) when either vector has
    zero norm — a bare division would ABORT the job under Spark 4's
    default ANSI mode the first time a padding/failed-encode zero
    vector appears. NULL cosine then fails threshold filters and sorts
    after real scores, which is the behavior a degenerate vector
    deserves."""
    return F.nullif(a * b, F.lit(0.0))


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    return df.select("*", _norm(vec_col).alias(out))


def _l2_dist(a: str, b: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
            f"* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"0.0D, (acc, v) -> acc + v)"
        )
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbors for each query row:
    (query_id, neighbor_id, <score>, rank). Norms are precomputed on
    both sides; the (small) query side broadcasts, so the corpus scan
    is a single pass with no shuffle until the per-query top-k.

    ``metric``: 'cosine' (score column ``cosine``, descending),
    'dot' (inner product, column ``dot``, descending — the MIPS
    ranking for unnormalized embeddings), or 'l2' (Euclidean distance,
    column ``l2_dist``, ASCENDING — smaller is closer). Ties break on
    neighbor_id in every metric."""
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
    )
    qs = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            _norm(vec_col).alias("__qn"),
        )
    )
    joined = corpus.crossJoin(qs)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    if metric == "cosine":
        score = (
            _dot("__qv", "__cv") / _norm_prod(F.col("__qn"), F.col("__cn"))
        ).alias("cosine")
        order = F.col("cosine").desc()
    elif metric == "dot":
        score = _dot("__qv", "__cv").alias("dot")
        order = F.col("dot").desc()
    elif metric == "l2":
        score = _l2_dist("__qv", "__cv").alias("l2_dist")
        order = F.col("l2_dist").asc()
    else:
        raise ValueError(f"metric must be cosine/dot/l2, got {metric!r}")
    scored = joined.select("query_id", "neighbor_id", score)
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x memory
    cut for corpus-scale ANN (a 100 TB float32 embedding store becomes
    25 TB; dequantized cosine loses <1% recall at 64+ dims). Pure
    Column expressions (one aggregate for the max-abs scale, one
    transform for the codes), whole-stage codegen, no shuffle.

    ``q_i = floor(x_i / scale * 127 + 0.5)`` with scale = max|x| —
    explicit half-up rounding, NOT round(): engines disagree on
    half-even vs half-away, floor(+0.5) is the same everywhere. A
    zero vector gets scale NULL and an all-zero code array (dequant
    reproduces the zero vector exactly)."""
    scale = F.expr(
        f"nullif(aggregate({vec_col}, 0.0D, "
        f"(a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))), 0.0D)"
    )
    out = df.withColumn(scale_col, scale)
    codes = F.expr(
        f"transform({vec_col}, x -> CAST(coalesce("
        f"floor(CAST(x AS DOUBLE) / {scale_col} * 127.0 + 0.5D), 0.0D"
        f") AS INT))"
    )
    return out.withColumn(q_col, codes)


def dequantize_expr(q_col: str, scale_col: str) -> Column:
    """array<double> reconstruction: x̂_i = q_i * scale / 127 (exact
    zeros when scale is NULL)."""
    return F.expr(
        f"transform({q_col}, v -> CAST(v AS DOUBLE) * "
        f"coalesce({scale_col}, 0.0D) / 127.0)"
    )


def quantized_cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k over the int8-QUANTIZED corpus: both sides quantize,
    dequantize, and rank with the same metric machinery as
    :func:`cosine_topk` — the accuracy/memory trade made measurable
    (compare against the float top-k) and oracle-checkable (the whole
    pipeline is deterministic arithmetic)."""
    def dq(x: DataFrame) -> DataFrame:
        return quantize_embeddings(x, vec_col).withColumn(
            "__dq", dequantize_expr("q", "q_scale")
        )

    return cosine_topk(
        dq(df), dq(queries), k=k, id_col=id_col, vec_col="__dq",
        metric=metric,
    )


def plane_weights(planes: int, seed: int, dims: int) -> list:
    """Pseudo-random ±1 hyperplane weights, derived driver-side from the
    low bit of a 60-bit md5 prefix of ``"{seed}:{plane}:{dim}"``.

    Bit-identical to the former in-SQL ``portable`` derivation
    (``hash60_sql`` low bit), but computed ONCE on the driver and
    inlined as array literals: the weights depend only on (seed, plane,
    dim) — never on data — so hashing them per row per element was pure
    waste (measured 6.3s -> 0.7s for 32 signatures at sf0.1).  Python
    md5 == md5() in both Spark and DuckDB, so both dialects inline the
    same literals and the oracle replays the pipeline exactly."""
    import hashlib

    out = []
    for p in range(planes):
        row = []
        for d in range(dims):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:15], 16) & 1 else -1.0)
        out.append(row)
    return out


def signature_sql(
    vec: str,
    planes: int,
    seed: int,
    dialect: str = "spark",
    dims: int = 64,
) -> str:
    """LSH bit-signature SQL: sign of projection onto pseudo-random ±1
    hyperplanes, weights inlined as literals (see ``plane_weights``) —
    portable by construction across Spark and DuckDB dialects. A plane's
    bit is 1 iff its projection is > 0; a NULL projection (NULL vector,
    row shorter than ``dims``, NULL element) and a NaN one (NaN element,
    or +Inf meeting -Inf) give bit 0."""
    ws = plane_weights(planes, seed, dims)
    bits = []
    for p in range(planes):
        if dialect == "spark":
            lit = "array(" + ", ".join(f"{w}D" for w in ws[p]) + ")"
            proj = (
                f"aggregate(zip_with(slice({vec}, 1, {dims}), {lit}, "
                f"(x, wt) -> CAST(x AS DOUBLE) * wt), 0.0D, (acc, v) -> acc + v)"
            )
            one = f"CAST({1 << p} AS BIGINT)"
        else:
            lit = "[" + ", ".join(str(w) for w in ws[p]) + "]"
            raw = (
                f"list_sum(list_transform(range(1, {dims} + 1), "
                f"i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i]))"
            )
            # NULL-propagation parity with the Spark fold: Spark's
            # aggregate() NULLs the whole projection when the vector is
            # shorter than dims (zip_with NULL-pads) or has a NULL
            # element, sending every bit to 0 — DuckDB's list_sum would
            # silently SKIP the NULLs and emit partial-dot bits instead
            proj = (
                f"(CASE WHEN len({vec}) >= {dims} AND "
                f"len(list_filter({vec}[1:{dims}], x -> x IS NULL)) = 0 "
                f"THEN {raw} ELSE NULL END)"
            )
            one = f"CAST({1 << p} AS BIGINT)"
        bits.append(
            f"(CASE WHEN nullif({proj}, CAST('NaN' AS DOUBLE)) > 0 "
            f"THEN {one} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _infer_dims(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dims from column {vec_col!r}")
    return int(row["d"])


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    planes: int = 8,
    seed: int = 7,
    out: str = "lsh_bucket",
    dims: Optional[int] = None,
) -> DataFrame:
    """Adds the one-table LSH signature of :func:`signature_sql`."""
    dims = dims or _infer_dims(df, vec_col)
    sig = _signatures_arrow_udf(planes, 1, seed, dims)(F.col(vec_col))[0]
    return df.select("*", sig.alias(out))


def _signatures_arrow_udf(planes: int, tables: int, seed: int, dims: int):
    """All per-table signatures in ONE Arrow-vectorized pandas UDF —
    table ``t`` is :func:`signature_sql` with seed ``seed + 1000·t``.

    float32 components widen to float64 exactly, ±1 weights multiply
    exactly, and the accumulation loops over dims IN FOLD ORDER
    (vectorized over rows), so every partial double sum — and therefore
    every sign bit — equals the Spark and DuckDB folds. numpy's pairwise
    reduction (np.dot / .sum()) would round differently and could flip
    a near-zero projection's sign. A NaN sum fails ``> 0``, which is
    the module's NaN rule for a bit.

    ~100× faster than the interpreted HOF lambda fold: tables×planes
    projections per row become dims×(tables·planes) fused row-batch
    FMAs per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = np.concatenate(
        [np.array(plane_weights(planes, seed + 1000 * t, dims)) for t in range(tables)]
    )  # (tables*planes) × dims, entries ±1.0

    zero_sig = [0] * tables

    @pandas_udf(T.ArrayType(T.LongType()))
    def sigs(v):  # type: ignore[no-untyped-def]
        out = np.empty(len(v), dtype=object)
        full_idx, full_rows = [], []
        for i, x in enumerate(v):
            # a NULL or short vector has a NULL projection: every bit 0,
            # so signature 0 in every table (NOT a NULL array, which
            # posexplode would silently drop from every table); a long
            # one is sliced to dims like the SQL
            if x is None or len(x) < dims:
                out[i] = zero_sig
            else:
                full_idx.append(i)
                full_rows.append(np.asarray(x[:dims], dtype=np.float64))
        if full_rows:
            M = np.stack(full_rows)  # n × dims
            acc = np.zeros((M.shape[0], W.shape[0]))
            for d in range(dims):
                acc += M[:, d : d + 1] * W[:, d]
            bits = (acc > 0).astype(np.int64)
            shifted = bits << np.arange(planes, dtype=np.int64)[None, :].repeat(
                tables, axis=0
            ).reshape(1, -1)
            table_sigs = shifted.reshape(-1, tables, planes).sum(axis=2)
            for i, r in zip(full_idx, table_sigs):
                out[i] = r.tolist()
        return pd.Series(out)

    return sigs


def _with_lsh_tables(
    df: DataFrame, vec_col: str, planes: int, tables: int, seed: int,
    dims: Optional[int] = None,
) -> DataFrame:
    """Multi-table SRP-LSH (OR-amplification): one signature per table;
    a pair is a candidate if ANY table agrees. Output exploded to
    (table_idx, sig) so the join shuffles on small keys."""
    dims = dims or _infer_dims(df, vec_col)
    sigs = _signatures_arrow_udf(planes, tables, seed, dims)(F.col(vec_col))
    return df.select("*", F.posexplode(sigs).alias("table_idx", "sig"))


def lsh_bucket_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    seed: int = 7,
    dims: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to rows sharing an LSH
    bucket in ANY of the hash tables, then exact cosine re-rank. At
    scale, corpus and queries shuffle on (table, signature) — no cross
    join ever happens; tables×planes tunes the recall/cost point. The
    bucket join and the pair dedup carry ids only; vectors join back
    once the candidate set is deduped. Pass ``dims`` explicitly to skip
    the one-row inference job (and its full-scan risk on filtered
    views)."""
    dims = dims or _infer_dims(df, vec_col)
    corpus = _with_lsh_tables(df, vec_col, planes, tables, seed, dims).select(
        F.col(id_col).alias("neighbor_id"), "table_idx", "sig"
    )
    qs = _with_lsh_tables(queries, vec_col, planes, tables, seed, dims).select(
        F.col(id_col).alias("query_id"), "table_idx", "sig"
    )
    cand = (
        corpus.join(qs, ["table_idx", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cvecs = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(vec_col).alias("__qn"),
    )
    joined = cand.join(cvecs, "neighbor_id").join(qvecs, "query_id")
    cos = (_dot("__qv", "__cv") / _norm_prod(F.col("__qn"), F.col("__cn"))).alias("cosine")
    scored = joined.select("query_id", "neighbor_id", cos)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
    seed: int = 7,
    dims: Optional[int] = None,
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """(id_a, id_b, cosine ≥ threshold) within multi-table LSH buckets.
    High-cosine pairs collide in some table with probability
    1-(1-(1-θ/π)^planes)^tables; candidates verify with exact cosine,
    so there are no false positives — only the standard recall
    trade-off. The bucket self-join carries (table, sig, id) only;
    vectors join back after the candidate dedup, so the wide payload
    shuffles once per candidate, not once per bucket collision. Pass
    ``dims`` explicitly to skip the one-row inference job."""
    from .dedup import bucket_candidate_pairs

    dims = dims or _infer_dims(df, vec_col)
    sig = _with_lsh_tables(df, vec_col, planes, tables, seed, dims).select(
        F.col(id_col).alias("id"), "table_idx", "sig"
    )
    # one shuffle on (table, sig), pairs expanded within each bucket —
    # the signature UDF evaluates ONCE (the former self-join planned it
    # per side: 4 ArrowEvalPython nodes, no ReusedExchange)
    cand = bucket_candidate_pairs(
        sig, ("table_idx", "sig"), max_bucket_size=max_bucket_size
    )
    vecs = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), _norm(vec_col).alias("n")
    )
    fetched = cand.join(
        vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")),
        "id_a",
    ).join(
        vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")),
        "id_b",
    )
    cos = (
        F.expr(
            "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        / _norm_prod(F.col("na"), F.col("nb"))
    ).alias("cosine")
    return fetched.select("id_a", "id_b", cos).filter(F.col("cosine") >= threshold)


def brute_force_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact O(n²) variant — oracle/baseline only; use the LSH variant
    at scale."""
    sig = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), _norm(vec_col).alias("n")
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = a.join(b, F.col("a.id") < F.col("b.id"))
    cos = (
        F.expr(
            "aggregate(zip_with(a.v, b.v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        / _norm_prod(F.col("a.n"), F.col("b.n"))
    ).alias("cosine")
    return cand.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos
    ).filter(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# IVF-Flat approximate nearest neighbor
# ---------------------------------------------------------------------------


def _normalized_centroids(centroids: DataFrame, id_col: str, vec_col: str) -> list:
    """Collect + L2-normalize centroid vectors driver-side. Centroids
    are small by contract (an IVF list count is ~sqrt(corpus) and the
    table is built offline); collecting them is metadata-sized, like a
    rule suite."""
    import math

    rows = centroids.select(F.col(id_col), F.col(vec_col)).collect()
    out = []
    for r in rows:
        v = [float(x) for x in r[1]]
        n = math.sqrt(sum(x * x for x in v))
        out.append((int(r[0]), [x / n for x in v] if n > 0 else v))
    out.sort(key=lambda t: t[0])
    return out


def _d(x: float) -> str:
    """A DOUBLE literal DuckDB parses to the EXACT double ``x`` (a bare
    decimal literal goes through DECIMAL and can be a last ulp off)."""
    return f"CAST('{x!r}' AS DOUBLE)"


def ivf_cell_sql(vec: str, cents: list, dialect: str = "spark") -> str:
    """Cell assignment as a PURE PROJECTION: argmax over an inlined
    normalized-centroid literal of dot(vec, c_hat) (vec's own norm is
    constant across centroids, so dot with normalized centroids ranks
    identically to cosine). No join, no shuffle.

    The fold starts from (cid -1, score -1e308) and takes a centroid
    only when its dot is strictly greater, so ties keep the lowest cid
    (centroids are cid-sorted). A NULL dot never wins, and a NaN dot is
    NULL (module NaN rule), so a NULL vector, a row whose length is not
    the centroid dims (zip_with pads the shorter side with NULL), and a
    NULL or NaN element all give cell -1."""
    if not cents:
        return "CAST(-1 AS BIGINT)"
    nan = "CAST('NaN' AS DOUBLE)"
    if dialect == "spark":
        lit = "array(" + ", ".join(
            f"named_struct('cid', {cid}L, 'v', array("
            + ", ".join(f"{x!r}D" for x in v) + "))"
            for cid, v in cents
        ) + ")"
        dot = (
            f"aggregate(zip_with(CAST(__qs_c.v AS ARRAY<DOUBLE>), {vec}, "
            f"(w, x) -> w * CAST(x AS DOUBLE)), 0.0D, (acc, t) -> acc + t)"
        )
        # score every centroid ONCE in a transform, then fold for the
        # argmax — the single-fold form evaluates the dot twice per
        # centroid (both CASE branches)
        scored = (
            f"transform({lit}, __qs_c -> named_struct("
            f"'cid', __qs_c.cid, 's', nullif({dot}, {nan})))"
        )
        return (
            f"aggregate({scored}, named_struct('cid', -1L, 's', "
            f"CAST(-1.0e308 AS DOUBLE)), (__qs_acc, __qs_x) -> "
            f"CASE WHEN __qs_x.s > __qs_acc.s THEN __qs_x "
            f"ELSE __qs_acc END).cid"
        )
    lit = "[" + ", ".join(
        f"{{'cid': CAST({cid} AS BIGINT), 'v': ["
        + ", ".join(_d(x) for x in v) + "]}"
        for cid, v in cents
    ) + "]"
    return _ivf_argmax_duckdb(vec, lit)


def _ivf_argmax_duckdb(vec: str, cent_list: str) -> str:
    """The DuckDB argmax fold of :func:`ivf_cell_sql` over
    ``cent_list``, a list of {'cid', 'v'} structs in cid order."""
    nan = "CAST('NaN' AS DOUBLE)"
    # DuckDB's list_sum skips NULL terms, so the NULL-element and
    # length cases are guarded explicitly to match zip_with's NULL dot
    dot = (
        f"(CASE WHEN len({vec}) = len(__qs_c.v) AND "
        f"len(list_filter({vec}, x -> x IS NULL)) = 0 THEN "
        f"list_sum(list_transform(range(1, len(__qs_c.v) + 1), "
        f"i -> __qs_c.v[i] * CAST({vec}[i] AS DOUBLE))) END)"
    )
    scored = (
        f"list_transform({cent_list}, __qs_c -> "
        f"{{'cid': __qs_c.cid, 's': nullif({dot}, {nan})}})"
    )
    init = f"[{{'cid': CAST(-1 AS BIGINT), 's': {_d(-1.0e308)}}}]"
    return (
        f"list_reduce(list_concat({init}, {scored}), (__qs_a, __qs_b) -> "
        f"CASE WHEN __qs_b.s > __qs_a.s THEN __qs_b ELSE __qs_a END).cid"
    )


def ivf_cell_oracle_sql(vec: str, cent_table: str) -> str:
    """DuckDB :func:`ivf_cell_sql` over the centroids of a table (or
    CTE) ``cent_table`` with columns (cid, ch), ``ch`` the normalized
    DOUBLE vector — for oracles whose centroids come from the data
    rather than a driver-side literal."""
    cent_list = (
        f"(SELECT list({{'cid': CAST(cid AS BIGINT), 'v': ch}} "
        f"ORDER BY cid) FROM {cent_table})"
    )
    return _ivf_argmax_duckdb(vec, cent_list)


def _ivf_cell_arrow_udf(cents: list, dims: int):
    """The Spark kernel of :func:`ivf_cell_sql`: float32 components
    widen exactly, the per-centroid dot accumulates over dims IN FOLD
    ORDER (vectorized over rows), NaN dots drop to -inf, and argmax
    keeps the FIRST maximum (== the strict ``>`` fold over cid-sorted
    centroids) if it beats the fold's -1e308 start. Rows whose length
    differs from ``dims`` in either direction, and NULL vectors, get
    cell -1; a NULL element arrives as NaN and so gets -1 too."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([v for _, v in cents])  # nlist × dims

    @pandas_udf(T.LongType())
    def cell(v):  # type: ignore[no-untyped-def]
        out = np.full(len(v), -1, dtype=np.int64)
        full_idx, full_rows = [], []
        for i, x in enumerate(v):
            if x is not None and len(x) == dims:
                full_idx.append(i)
                full_rows.append(np.asarray(x, dtype=np.float64))
        if full_rows:
            M = np.stack(full_rows)  # n × dims
            acc = np.zeros((M.shape[0], C.shape[0]))
            for d in range(dims):
                acc += M[:, d : d + 1] * C[:, d]
            acc[np.isnan(acc)] = -np.inf
            best = np.argmax(acc, axis=1)
            ok = acc[np.arange(len(best)), best] > -1.0e308
            out[np.array(full_idx)[ok]] = cids[best[ok]]
        return pd.Series(out)

    return cell


def _ivf_cell_col(vec_col: str, cents: list) -> Column:
    """The IVF cell column of ``vec_col`` (see :func:`ivf_cell_sql`)."""
    if not cents:
        return F.lit(-1).cast("bigint")
    return _ivf_cell_arrow_udf(cents, len(cents[0][1]))(F.col(vec_col))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """Adds the IVF cell id column (see :func:`ivf_cell_sql`)."""
    cents = _normalized_centroids(centroids, id_col, vec_col)
    return df.select("*", _ivf_cell_col(vec_col, cents).alias(out))


def ivf_flat_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: Optional[DataFrame] = None,
    k: int = 5,
    nprobe: int = 2,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat ANN: corpus rows are inverted-listed by nearest
    centroid (pure projection, no shuffle); each query probes its
    ``nprobe`` nearest cells; candidates meet in a join keyed by the
    small cell id and re-rank with exact cosine.

    ``centroids`` defaults to every ``centroid_stride``-th corpus row —
    the operator takes any centroid table (real deployments run
    offline k-means; centroid quality tunes recall, the mechanism is
    identical). At scale: centroids broadcast as a literal, the
    candidate join shuffles on cell id, ~corpus/nlist rows meet per
    probe — the standard IVF cost model."""
    if centroids is None:
        centroids = df.filter(F.col(id_col) % centroid_stride == 0)
    cents = _normalized_centroids(centroids, id_col, vec_col)
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
        _ivf_cell_col(vec_col, cents).alias("cell"),
    )
    # query side is small: score all centroids and keep nprobe per
    # query via a window (same ordering as the corpus argmax:
    # score DESC, cid ASC — so probe #1 is exactly the corpus cell)
    cent_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            [(cid, v) for cid, v in cents], "cid long, ch array<double>"
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(vec_col).alias("__qn"),
    )
    scored_cells = q.crossJoin(cent_df).select(
        "query_id",
        "__qv",
        "__qn",
        "cid",
        F.expr(
            "aggregate(zip_with(ch, __qv, (w, x) -> w * CAST(x AS DOUBLE)), "
            "0.0D, (acc, t) -> acc + t)"
        ).alias("__score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("cid")
    )
    probes = (
        scored_cells.withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", "__qn", F.col("cid").alias("cell"))
    )
    cand = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cos = (_dot("__qv", "__cv") / _norm_prod(F.col("__qn"), F.col("__cn"))).alias("cosine")
    scored = cand.select("query_id", "neighbor_id", cos)
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Lloyd's k-means for IVF centroid tables, DataFrame-native:
    each iteration assigns cells with the IVF cell kernel
    (:func:`ivf_cell_sql` — no shuffle on the corpus)
    and recomputes means with ONE posexplode → groupBy(cell, dim)
    aggregation (map-side combined; shuffle carries k × dims partial
    rows per task). Only the k × dims centroid matrix ever reaches the
    driver. Initialization is deterministic (k lowest-id vectors), so
    runs are reproducible modulo float-sum merge order.

    Returns the centroid list usable as ``ivf_flat_topk``'s
    ``centroids`` input (via a DataFrame) or :func:`ivf_cell_sql`.
    Iterative and order-sensitive in its float sums — deliberately NOT
    oracle-gated; invariants are pinned in tests instead."""
    import math

    first = (
        df.orderBy(id_col)
        .limit(k)
        .select(id_col, vec_col)
        .collect()
    )
    cents = []
    for i, r in enumerate(first):
        v = [float(x) for x in r[1]]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append((i, [x / n for x in v]))
    if not cents:
        return []

    for _ in range(iters):
        assigned = df.select(
            _ivf_cell_col(vec_col, cents).alias("cell"),
            F.col(vec_col).alias("v"),
            _norm(vec_col).alias("_vn"),
        )
        # SPHERICAL k-means update: average the L2-NORMALIZED vectors
        # (x / row_norm), not the raw ones — assignment maximizes
        # cosine, so the update must too; a raw mean lets one
        # large-norm outlier drag the centroid and the cosine
        # objective can regress. Unassigned rows (cell -1) form a group
        # no centroid reads: a filter on the cell would be pushed below
        # the projection and run the kernel a second time
        means = (
            assigned.filter(F.col("_vn") > 0)
            .select("cell", "_vn", F.posexplode("v").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg(F.col("x").cast("double") / F.col("_vn")).alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("m")))
                ).alias("ms")
            )
            .collect()
        )
        new_cents = dict()
        for r in means:
            v = [float(e["m"]) for e in r["ms"]]
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            new_cents[int(r["cell"])] = [x / n for x in v]
        # empty cells keep their previous centroid
        cents = [(cid, new_cents.get(cid, old)) for cid, old in cents]
    return cents


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: Optional[int] = None,
) -> DataFrame:
    """Semantic near-duplicate removal in the SemDeDup shape (Abbas et
    al. 2023, arXiv:2303.09540 — public): every embedding is assigned
    to its nearest centroid as a PURE PROJECTION (:func:`ivf_cell_sql`
    — no shuffle on the corpus scan),
    and within each cluster an item is marked a duplicate when some
    smaller-id member has cosine >= threshold with it. Deterministic
    keep policy: smallest id in a duplicate neighborhood always
    survives; ``dup_of`` records the smallest such neighbor.

    Returns ``(id_col, cell, is_kept, dup_of)`` — one row per input
    row (rows with no valid assignment get cell -1 and are kept).

    100 TB design: the ONLY corpus shuffle is the within-cluster
    self-join keyed on cell; pair expansion is bounded per cluster
    (~n/k for balanced centroids). ``max_cluster_size`` is the skew
    guard — a runaway cluster (a degenerate centroid attracting
    everything) is NOT exploded into O(c²) pairs: its members are all
    kept verbatim, same contract as ``bucket_candidate_pairs``'s
    ``max_bucket_size``. The centroid table is metadata-sized by
    contract (IVF list count ~ sqrt(corpus)) and is inlined/broadcast,
    never joined. Plan note: the lazy plan evaluates the cell
    assignment once per self-join side plus once for the final output
    (three corpus scans); at real scale materialize
    ``ivf_assign(df, centroids)`` to storage first and feed the
    (id, cell, vec) table here — assignment is scan-speed, so the
    write is the cheap way to make the two join sides and the output
    read one precomputed column instead of recomputing the argmax.

    Reference scope note: the reference engine (sparkutils/quality) has
    no embedding operators; this is part of the training-data-pipeline
    surface the build brief adds on top of SURVEY §2.
    """
    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col, out="__sd_cell"
    )
    sides = assigned.select(
        F.col(id_col).alias("id"),
        F.col("__sd_cell").alias("cell"),
        F.col(vec_col).alias("v"),
        _norm(vec_col).alias("n"),
    ).filter(F.col("cell") >= 0)
    if max_cluster_size is not None:
        # skew guard: oversized cells never reach the pair join
        sizes = sides.groupBy("cell").agg(F.count("*").alias("__cnt"))
        sides = (
            sides.join(F.broadcast(sizes.filter(F.col("__cnt") <= max_cluster_size)),
                       "cell", "inner")
            .drop("__cnt")
        )
    a = sides.select(
        F.col("cell"), F.col("id").alias("id_a"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = sides.select(
        F.col("cell"), F.col("id").alias("id_b"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    cos = (
        F.expr(
            "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        / _norm_prod(F.col("na"), F.col("nb"))
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= F.lit(float(threshold)))
        .groupBy(F.col("id_b").alias("__dup_id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.select(F.col(id_col), F.col("__sd_cell").alias("cell"))
        .join(dropped, F.col(id_col) == F.col("__dup_id"), "left")
        .select(
            id_col,
            "cell",
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
        )
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------


def _projectable_sql(vec: str, dims: int, dialect: str) -> str:
    """TRUE iff the first ``dims`` elements of ``vec`` exist and are
    neither NULL nor NaN — the rows the JL projection projects."""
    if dialect == "spark":
        return (
            f"size({vec}) >= {dims} AND NOT exists(slice({vec}, 1, {dims}), "
            f"x -> x IS NULL OR isnan(x))"
        )
    return (
        f"len({vec}) >= {dims} AND len(list_filter({vec}[1:{dims}], "
        f"x -> x IS NULL OR isnan(x))) = 0"
    )


def projection_sql(
    vec: str,
    out_dims: int,
    seed: int,
    dialect: str = "spark",
    dims: int = 64,
) -> list:
    """Per-output-dim SQL expressions for the JL random projection
    y_j = (1/sqrt(out_dims)) * <x, w_j> with deterministic ±1 weights
    (:func:`plane_weights` — the same md5-derived matrix both engines
    inline as literals, so a DuckDB oracle replays the projection
    EXACTLY: same literals, same ascending-dim fold order, bit-equal
    doubles). Achlioptas 2003 (public) shows ±1 entries satisfy the JL
    lemma with the same distortion guarantees as Gaussians. The DuckDB
    terms are NULL for an unprojectable row (see
    :func:`projection_array_sql`), because its list_sum would skip NULL
    elements instead."""
    import math

    ws = plane_weights(out_dims, seed, dims)
    scale = 1.0 / math.sqrt(out_dims)
    out = []
    for j in range(out_dims):
        if dialect == "spark":
            lit = "array(" + ", ".join(f"{w}D" for w in ws[j]) + ")"
            proj = (
                f"aggregate(zip_with(slice({vec}, 1, {dims}), {lit}, "
                f"(x, wt) -> CAST(x AS DOUBLE) * wt), 0.0D, (acc, v) -> acc + v)"
            )
        else:
            lit = "[" + ", ".join(str(w) for w in ws[j]) + "]"
            raw = (
                f"list_sum(list_transform(range(1, {dims} + 1), "
                f"i -> CAST({vec}[i] AS DOUBLE) * ({lit})[i]))"
            )
            proj = (
                f"(CASE WHEN {_projectable_sql(vec, dims, dialect)} "
                f"THEN {raw} ELSE NULL END)"
            )
        # a NaN component (+Inf meeting -Inf) is NULL, as Arrow hands
        # the kernel's NaN back to Spark
        out.append(f"nullif(({proj}) * {scale!r}, CAST('NaN' AS DOUBLE))")
    return out


def projection_array_sql(
    vec: str,
    out_dims: int,
    seed: int,
    dialect: str = "spark",
    dims: int = 64,
) -> str:
    """The whole projected vector: :func:`projection_sql`'s terms as one
    array, or NULL (not an array of NULLs) for a NULL vector, a row
    shorter than ``dims``, or a NULL or NaN element among the first
    ``dims``. ±Inf elements project to ±Inf, or to a NULL component
    where +Inf meets -Inf."""
    terms = ", ".join(projection_sql(vec, out_dims, seed, dialect, dims))
    arr = f"array({terms})" if dialect == "spark" else f"[{terms}]"
    return (
        f"(CASE WHEN {_projectable_sql(vec, dims, dialect)} "
        f"THEN {arr} ELSE NULL END)"
    )


def _projection_arrow_udf(out_dims: int, seed: int, dims: int):
    """The Spark kernel of :func:`projection_array_sql`: float32 inputs
    widen exactly, each output dim accumulates over input dims in
    ascending fold order (vectorized over rows), and the 1/sqrt(k)
    scale multiplies once at the end, exactly like the SQL form. A NULL
    element arrives as NaN, so one isnan check covers both; a NaN
    component goes back to Spark as NULL."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    W = np.array(plane_weights(out_dims, seed, dims))  # k × dims
    scale = 1.0 / math.sqrt(out_dims)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(v):  # type: ignore[no-untyped-def]
        out = [None] * len(v)
        full_idx, full_rows = [], []
        for i, x in enumerate(v):
            if x is None or len(x) < dims:
                continue
            a = np.asarray(x[:dims], dtype=np.float64)
            if not np.isnan(a).any():
                full_idx.append(i)
                full_rows.append(a)
        if full_rows:
            M = np.stack(full_rows)  # n × dims
            acc = np.zeros((M.shape[0], out_dims))
            for d in range(dims):
                acc += M[:, d : d + 1] * W[:, d]
            acc *= scale
            for r, i in enumerate(full_idx):
                out[i] = acc[r].tolist()
        return pd.Series(out, dtype=object)

    return proj


def project_embeddings(
    df: DataFrame,
    out_dims: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
    out: str = "proj",
    dims: Optional[int] = None,
) -> DataFrame:
    """Adds a JL random-projection column (array<double>, length
    ``out_dims``; see :func:`projection_array_sql`): the standard
    embedding-compression step before near-dup / ANN at corpus scale —
    64→16 dims cuts every downstream shuffle's vector payload 4× while
    pairwise distances distort by only ~(1±ε) with
    ε ≈ sqrt(8·ln(n)/out_dims) (JL lemma).

    PURE PROJECTION: no shuffle, no join — one Arrow batch per
    partition."""
    dims = dims or _infer_dims(df, vec_col)
    return df.select(
        "*", _projection_arrow_udf(out_dims, seed, dims)(F.col(vec_col)).alias(out)
    )
