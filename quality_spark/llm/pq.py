"""Product quantization (PQ) for embedding columns — the standard
compressed-ANN representation (public: Jégou, Douze, Schmid 2011,
"Product Quantization for Nearest Neighbor Search"; the IVF-PQ layout
popularized by FAISS).

A D-dim vector is split into ``m`` subvectors of ``D/m`` dims; each
subvector is replaced by the id of its nearest codeword in a per-
subspace codebook of ``ksub`` entries. A 64-dim float32 embedding
(256 bytes) becomes ``m`` small ints (8 bytes at m=8/ksub≤256) — a
32× compression that turns a 100 TB embedding store into ~3 TB of
codes, scanned at memory-bandwidth speed. Query-time scoring is ADC
(asymmetric distance computation): the query stays full-precision,
per-subspace distance tables are precomputed once per query
(``m × ksub`` doubles — metadata), and a candidate's approximate
distance is ``m`` table lookups + adds.

Spark-first shapes:

- **Encode** is a PURE PROJECTION — no shuffle, no join. Its spec is
  :func:`pq_code_expr` (codebooks inlined as literals, like
  `similarity.ivf_cell_sql`), replayed in DuckDB by
  :func:`pq_codes_oracle_sql`; Spark runs the numpy kernel of
  :func:`_pq_encode_arrow_udf` (fold-order accumulation, first-min
  ties), which tests check against both texts row for row. A
  subspace codes -1 unless its best distance is below 1e308, so a
  NULL, NaN or ±Inf element, or a slice the row is too short for,
  codes -1 (the NaN rule of `similarity`: NaN is handled as NULL).
- **ADC scoring** is another pure projection: the per-query distance
  tables are embedded as array literals and summed IN SUBSPACE ORDER
  (left-to-right adds), so a DuckDB oracle replays every double
  bit-for-bit.
- **Training** (`pq_train`) is Lloyd's per subspace, all ``m``
  subspaces in ONE posexplode → groupBy pass per iteration; only the
  ``m × ksub × dsub`` codebook matrix reaches the driver (metadata,
  like rule suites). Iterative float sums → deliberately NOT
  oracle-gated (invariants pinned in tests), mirroring
  `similarity.kmeans_centroids`.
- The driver-gated legs use PROCEDURAL codebooks + queries
  (deterministic md5-derived values, generated by the same Python
  helpers that build the oracle SQL) so both engines see identical
  literals at any scale factor.

The reference engine has no vector-search surface; this extends the
rebuilt repo's LLM-pipeline block (SURVEY §2 'beyond-reference').
"""

from __future__ import annotations

import hashlib
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import fsio
from .similarity import _d, ivf_cell_oracle_sql

Codebooks = List[List[List[float]]]  # [m][ksub][dsub]


# ---------------------------------------------------------------------------
# procedural codebooks / queries (metadata shared with the oracle)
# ---------------------------------------------------------------------------


def _unit_stream(tag: str, n: int, seed: int) -> List[float]:
    """n deterministic values in [-1, 1), 6-dp rounded so their repr
    is short and bit-identical as a literal in any engine."""
    out: List[float] = []
    i = 0
    while len(out) < n:
        h = hashlib.md5(f"{seed}:{tag}:{i}".encode()).digest()
        for off in range(0, 16, 4):
            u = int.from_bytes(h[off : off + 4], "big")
            out.append(round(u / 2**31 - 1.0, 6))
            if len(out) == n:
                break
        i += 1
    return out


def pq_codebooks_procedural(
    m: int, ksub: int, dsub: int, seed: int = 0, spread: float = 0.25
) -> Codebooks:
    """Deterministic pseudo-random codebooks (quality of a random
    quantizer — fine for gates and as `pq_train` init; train for
    production recall). `spread` scales codewords to the data's
    component range."""
    return [
        [
            [
                round(x * spread, 6)
                for x in _unit_stream(f"cb:{mi}:{ki}", dsub, seed)
            ]
            for ki in range(ksub)
        ]
        for mi in range(m)
    ]


def pq_queries_procedural(
    n: int, dims: int, seed: int = 1, spread: float = 0.25
) -> List[Tuple[int, List[float]]]:
    return [
        (qi, [round(x * spread, 6) for x in _unit_stream(f"q:{qi}", dims, seed)])
        for qi in range(n)
    ]


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _codeword_array_literal(book: List[List[float]]) -> str:
    parts = []
    for code, vec in enumerate(book):
        arr = ", ".join(f"{x!r}D" for x in vec)
        parts.append(f"named_struct('code', {code}, 'v', array({arr}))")
    return "array(" + ", ".join(parts) + ")"


def pq_code_expr(vec_col: str, codebooks: Codebooks) -> Column:
    """``array<int>`` of per-subspace nearest-codeword ids as one
    Catalyst expression. Per subspace: squared-L2 to every codeword
    via a zip_with fold over the vector SLICE (dims accumulate in
    ascending order), argmin keeps the FIRST minimum (strict ``<``) so
    ties break to the lowest code on every engine. A subspace codes -1
    when no distance is below the fold's 1e308 start: NULL (missing or
    NULL element), NaN and +Inf distances never win."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = []
    for mi in range(m):
        lit = _codeword_array_literal(codebooks[mi])
        sub = f"slice({vec_col}, {mi * dsub + 1}, {dsub})"
        dist = (
            f"aggregate(zip_with(CAST(__qs_c.v AS ARRAY<DOUBLE>), {sub}, "
            f"(w, x) -> (w - CAST(x AS DOUBLE)) * (w - CAST(x AS DOUBLE))), "
            f"0.0D, (acc, t) -> acc + t)"
        )
        scored = (
            f"transform({lit}, __qs_c -> "
            f"named_struct('code', __qs_c.code, 's', ({dist})))"
        )
        fold = (
            f"aggregate({scored}, "
            f"named_struct('code', -1, 's', CAST(1.0e308 AS DOUBLE)), "
            f"(__qs_a, __qs_x) -> CASE WHEN __qs_x.s < __qs_a.s "
            f"THEN __qs_x ELSE __qs_a END).code"
        )
        codes.append(fold)
    return F.expr("array(" + ", ".join(codes) + ")")


def _pq_encode_arrow_udf(codebooks: Codebooks, dims: int):
    """The Spark kernel of :func:`pq_code_expr`: per-codeword distances
    accumulate dim-by-dim in fold order (vectorized across rows), and
    argmin keeps the first minimum (strict ``<`` fold == np.argmin's
    first minimum) if it is below the fold's 1e308 start. Validity is
    per subspace, as in the SQL: a short row still encodes its complete
    leading subspaces and a long row ignores its tail. Missing and NULL
    elements are NaN here, so their distances are NaN and fail the
    1e308 test, as the SQL's NULL distances do."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]  # ksub×dsub

    @pandas_udf("array<int>")
    def enc(v):  # type: ignore[no-untyped-def]
        n = len(v)
        mat = np.full((n, dims), np.nan, dtype=np.float64)
        for i, a in enumerate(v):
            if a is not None:
                take = min(len(a), dims)
                mat[i, :take] = a[:take]
        out = np.full((n, m), -1, dtype=np.int32)
        for mi in range(m):
            sub = mat[:, mi * dsub : (mi + 1) * dsub]
            book = books[mi]
            ksub = book.shape[0]
            dists = np.zeros((n, ksub), dtype=np.float64)
            for ki in range(ksub):
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dsub):
                    diff = book[ki, d] - sub[:, d]
                    acc = acc + diff * diff
                dists[:, ki] = acc
            best = np.argmin(dists, axis=1)
            ok = dists[np.arange(n), best] < 1.0e308
            out[ok, mi] = best[ok].astype(np.int32)
        return pd.Series([r.tolist() for r in out])

    return enc


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Adds the ``array<int>`` PQ code of :func:`pq_code_expr`."""
    dims = len(codebooks) * len(codebooks[0][0])
    return df.withColumn(
        out_col, _pq_encode_arrow_udf(codebooks, dims)(F.col(vec_col))
    )


# ---------------------------------------------------------------------------
# ADC scoring
# ---------------------------------------------------------------------------


def _distance_tables(
    codebooks: Codebooks, query: Sequence[float]
) -> List[List[float]]:
    """dt[m][code] = squared-L2(query subvector, codeword), computed
    in plain Python float (sequential adds) — a literal both engines
    share, so cross-engine float drift is structurally impossible."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = []
    for mi in range(m):
        qs = [float(x) for x in query[mi * dsub : (mi + 1) * dsub]]
        row = []
        for vec in codebooks[mi]:
            acc = 0.0
            for d in range(dsub):
                diff = vec[d] - qs[d]
                acc += diff * diff
            row.append(acc)
        out.append(row)
    return out


def pq_adc_scores(
    df: DataFrame,
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    code_col: str = "pq_code",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, query_id, adc) for every (row, query) pair — approx
    squared-L2 as m table lookups + LEFT-TO-RIGHT adds (a pure
    projection per query; the per-query branches union). No top-k cut
    here: rank policy belongs to the caller, and the full-score shape
    is what the order-insensitive gate can hash."""
    legs = []
    for qid, qvec in queries:
        dts = _distance_tables(codebooks, qvec)
        terms = []
        for mi, row in enumerate(dts):
            arr = ", ".join(f"{x!r}D" for x in row)
            terms.append(
                f"element_at(array({arr}), element_at({code_col}, {mi + 1}) + 1)"
            )
        adc = " + ".join(terms)
        legs.append(
            df.select(
                F.col(id_col),
                F.lit(int(qid)).cast("bigint").alias("query_id"),
                F.expr(adc).alias("adc"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def pq_adc_topk(
    df: DataFrame,
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    k: int = 10,
    code_col: str = "pq_code",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k per query by ADC distance ASC (id ASC tiebreak). The
    window key has cardinality |queries| — see `bm25_topk` for the
    giant-match-set escape hatches."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col(id_col))
    return (
        pq_adc_scores(df, codebooks, queries, code_col, id_col)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    dims: int = 64,
    seed: int = 0,
) -> Codebooks:
    """Per-subspace Lloyd's k-means from the procedural init. Each
    iteration: assign codes with the inlined-codebook projection (no
    shuffle on the corpus), then ONE posexplode → groupBy(m, code,
    dim) mean over raw subvector components (map-side combined;
    shuffle carries ≤ m × ksub × dsub partial rows per task). Empty
    clusters keep their previous codeword. Only the codebook matrix
    reaches the driver."""
    dsub = dims // m
    books = pq_codebooks_procedural(m, ksub, dsub, seed)
    for _ in range(iters):
        enc = pq_encode(df, books, vec_col, "_code")
        means = (
            enc.select("_code", F.posexplode(vec_col).alias("d", "x"))
            .filter(F.element_at("_code", (F.col("d") / dsub).cast("int") + 1) >= 0)
            .select(
                (F.col("d") / dsub).cast("int").alias("mi"),
                F.element_at("_code", (F.col("d") / dsub).cast("int") + 1).alias(
                    "code"
                ),
                (F.col("d") % dsub).alias("dj"),
                F.col("x").cast("double").alias("x"),
            )
            .groupBy("mi", "code", "dj")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault((int(r["mi"]), int(r["code"])), {})[int(r["dj"])] = float(
                r["mu"]
            )
        books = [
            [
                [new[(mi, ki)].get(dj, old[dj]) for dj in range(dsub)]
                if (mi, ki) in new
                else old
                for ki, old in enumerate(book)
            ]
            for mi, book in enumerate(books)
        ]
    return books


def quantization_error(
    df: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error — the training objective;
    test invariant: trained ≤ procedural."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    enc = pq_encode(df, codebooks, vec_col, "_code")
    err_terms = []
    for mi in range(m):
        lit = _codeword_array_literal(codebooks[mi])
        sub = f"slice({vec_col}, {mi * dsub + 1}, {dsub})"
        rec = f"element_at({lit}, element_at(_code, {mi + 1}) + 1).v"
        err_terms.append(
            f"aggregate(zip_with(CAST({rec} AS ARRAY<DOUBLE>), {sub}, "
            f"(w, x) -> (w - CAST(x AS DOUBLE)) * (w - CAST(x AS DOUBLE))), "
            f"0.0D, (acc, t) -> acc + t)"
        )
    total = " + ".join(err_terms)
    row = (
        enc.filter(F.element_at("_code", 1) >= 0)
        .select(F.expr(total).alias("e"))
        .groupBy()
        .agg(F.avg("e").alias("mse"))
        .collect()
    )
    return float(row[0]["mse"]) if row else float("nan")


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def pq_codes_oracle_sql(
    codebooks: Codebooks, table: str = "embeddings",
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> str:
    """DuckDB replay of :func:`pq_code_expr` → one row per
    (id, m, code). Codewords go through the same VALUES-literal +
    row_number(argmin) shape the IVF oracle uses; distances accumulate
    with the same ascending-dim sequential list_sum. list_sum skips
    NULL terms, so a slice with a missing or NULL element gets a NULL
    distance explicitly, as zip_with's NULL padding gives in Spark; a
    subspace whose best distance is not below 1e308 codes -1."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    rows = []
    for mi, book in enumerate(codebooks):
        for code, vec in enumerate(book):
            # string-cast each element: DuckDB parses bare decimal
            # literals as DECIMAL first, and DECIMAL→DOUBLE can be a
            # last-ulp off the shortest-repr double Spark's `…D` form
            # yields; VARCHAR→DOUBLE is the exact same parse
            arr = ", ".join(_d(x) for x in vec)
            rows.append(f"({mi}, {code}, [{arr}]::DOUBLE[])")
    values = ", ".join(rows)
    terms = (
        f"list_transform(range(1, {dsub} + 1), i -> "
        f"(cb.v[i] - CAST(e.{vec_col}[cb.mi * {dsub} + i] AS DOUBLE)) "
        f"* (cb.v[i] - CAST(e.{vec_col}[cb.mi * {dsub} + i] AS DOUBLE)))"
    )
    return f"""
WITH cb(mi, code, v) AS (VALUES {values}),
dists AS (
  SELECT {id_col}, mi, code,
         CASE WHEN list_count(t) = {dsub} THEN list_sum(t) END AS d
  FROM (SELECT e.{id_col}, cb.mi, cb.code, {terms} AS t
        FROM {table} e CROSS JOIN cb)
),
scored AS (
  SELECT {id_col}, mi, code, d,
         row_number() OVER (
           PARTITION BY {id_col}, mi ORDER BY d ASC NULLS LAST, code
         ) AS rn
  FROM dists
)
SELECT {id_col}, mi, CASE WHEN d < {_d(1.0e308)} THEN code ELSE -1 END AS code
FROM scored WHERE rn = 1
"""


def pq_adc_oracle_sql(
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB replay of encode + :func:`pq_adc_scores`: pivot the
    per-subspace codes to columns, then the SAME left-to-right adds
    over the SAME Python-computed distance-table literals."""
    m = len(codebooks)
    codes = pq_codes_oracle_sql(codebooks, table, vec_col, id_col)
    pivot_cols = ", ".join(
        f"max(CASE WHEN mi = {mi} THEN code END) AS c{mi}" for mi in range(m)
    )
    legs = []
    for qid, qvec in queries:
        dts = _distance_tables(codebooks, qvec)
        terms = []
        for mi, row in enumerate(dts):
            arr = ", ".join(_d(x) for x in row)  # see _d: exact parse
            terms.append(f"([{arr}]::DOUBLE[])[c{mi} + 1]")
        adc = " + ".join(terms)
        legs.append(
            f"SELECT {id_col}, CAST({int(qid)} AS BIGINT) AS query_id, "
            f"{adc} AS adc FROM pivoted"
        )
    union = " UNION ALL ".join(legs)
    return f"""
WITH codes AS MATERIALIZED ({codes}),
pivoted AS (
  SELECT {id_col}, {pivot_cols} FROM codes GROUP BY {id_col}
)
{union}
"""


# ---------------------------------------------------------------------------
# IVF-PQ composed retrieval (round 9)
# ---------------------------------------------------------------------------


def _adc_case_expr(
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    code_col: str,
) -> Column:
    """CASE query_id WHEN qid THEN <per-query ADC literal expr> —
    ONE expression scoring a (candidate row, query_id) pair, so the
    candidate stream needs no per-query re-scan and no explode: the
    distance tables of ALL queries ride along as literals and only
    the matching branch evaluates per row. Same subspace-ordered
    left-to-right adds as `pq_adc_scores` (oracle bit-exact)."""
    branches = None
    for qid, qvec in queries:
        dts = _distance_tables(codebooks, qvec)
        terms = []
        for mi, row in enumerate(dts):
            arr = ", ".join(f"{x!r}D" for x in row)
            terms.append(
                f"element_at(array({arr}), element_at({code_col}, {mi + 1}) + 1)"
            )
        expr = F.expr(" + ".join(terms))
        cond = F.col("query_id") == int(qid)
        branches = (
            F.when(cond, expr) if branches is None else branches.when(cond, expr)
        )
    return branches


def _raw_centroids(centroids: DataFrame, id_col: str, vec_col: str) -> list:
    """Collect RAW (unnormalized) centroid vectors driver-side —
    metadata-sized, like `similarity._normalized_centroids`."""
    rows = centroids.select(F.col(id_col), F.col(vec_col)).collect()
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)


def _normalize_cents(raw: list) -> list:
    """The exact normalization `_normalized_centroids` applies —
    shared here so raw + normalized views come from ONE collect."""
    import math

    out = []
    for cid, v in raw:
        n = math.sqrt(sum(x * x for x in v))
        out.append((cid, [x / n for x in v] if n > 0 else v))
    return out


def _corpus_codes(
    df: DataFrame,
    codebooks: Codebooks,
    cents: list,
    raw: list,
    id_col: str,
    vec_col: str,
    by_residual: bool,
) -> DataFrame:
    """The IVF-PQ corpus pass — ONE pure projection producing
    (id, cell, __code): the IVF cell (`similarity.ivf_cell_sql`) and
    the PQ code (:func:`pq_code_expr`) of the raw vector, or of the
    cell-centered residual when ``by_residual``. Shared by the inline
    ``ivf_pq_topk`` path and ``write_pq_index`` so a persisted index
    holds exactly the codes the inline path would compute."""
    from .similarity import _ivf_cell_col

    dims = len(codebooks) * len(codebooks[0][0])
    encode = _pq_encode_arrow_udf(codebooks, dims)
    cell_col = _ivf_cell_col(vec_col, cents)
    if by_residual:
        map_lit = "map(" + ", ".join(
            f"{cid}L, array({', '.join(f'{x!r}D' for x in vec)})"
            for cid, vec in raw
        ) + ")"
        resid = F.expr(
            f"zip_with(element_at({map_lit}, cell), {vec_col}, "
            f"(c, x) -> CAST(x AS DOUBLE) - c)"
        )
        base = df.select(
            F.col(id_col),
            cell_col.alias("cell"),
            F.col(vec_col),
        ).select(F.col(id_col), "cell", resid.alias("__resid"))
        return base.select(
            F.col(id_col), "cell", encode(F.col("__resid")).alias("__code")
        )
    return df.select(
        F.col(id_col), cell_col.alias("cell"),
        encode(F.col(vec_col)).alias("__code"),
    )


def _probe_cells_driver(
    cents: list,
    queries: Sequence[Tuple[int, Sequence[float]]],
    nprobe: int,
) -> dict:
    """qid → nprobe cell ids, scored driver-side with the identical
    ascending-dim sequential dot the in-engine fold computes (score
    DESC, cid ASC) — so engine-picked and driver-picked probes always
    agree (pinned)."""
    out: dict = {}
    for qid, qv in queries:
        scoredc = []
        for cid, ch in cents:
            acc = 0.0
            for wi, xi in zip(ch, qv):
                acc += wi * float(xi)
            scoredc.append((-acc, cid))
        scoredc.sort()
        out[int(qid)] = [cid for _, cid in scoredc[: int(nprobe)]]
    return out


def _residual_adc_case_expr(
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    rawmap: dict,
    probe_cells: dict,
    code_col: str,
) -> Column:
    """ADC for residual codes: per-(query, probed cell) distance
    tables over the query's cell-centered residual, selected by a
    CASE over (query_id, cell) — |q|·nprobe·m·ksub double literals,
    metadata-sized for bounded query batches."""
    branches = None
    for qid, qv in queries:
        for cell in probe_cells[int(qid)]:
            craw = rawmap[cell]
            q_resid = [float(a) - b for a, b in zip(qv, craw)]
            dts = _distance_tables(codebooks, q_resid)
            terms = []
            for mi, row in enumerate(dts):
                arr = ", ".join(f"{x!r}D" for x in row)
                terms.append(
                    f"element_at(array({arr}), "
                    f"element_at({code_col}, {mi + 1}) + 1)"
                )
            cond = (F.col("query_id") == int(qid)) & (
                F.col("cell") == int(cell)
            )
            expr = F.expr(" + ".join(terms))
            branches = (
                F.when(cond, expr)
                if branches is None
                else branches.when(cond, expr)
            )
    return branches


def write_pq_index(
    df: DataFrame,
    codebooks: Codebooks,
    path: str,
    centroids: Optional[DataFrame] = None,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
    record_stats: bool = False,
) -> None:
    """Persist an IVF-PQ index (VERDICT r09 next #5 — the deployment
    shape the inline path's docstring describes): ONE corpus pass
    computes (id, cell, pq_code) via the shared ``_corpus_codes``
    projection and writes it ``partitionBy(cell)`` under
    ``path/codes`` — so a later query's scan prunes WHOLE FILES down
    to its nprobe probed cells (PartitionFilters, plan-pinned) and
    never re-encodes the corpus. Centroids (raw, exact doubles) and
    codebooks persist to ``path/meta.json`` (JSON round-trips python
    floats exactly via repr semantics), making the index
    self-contained: ``ivf_pq_topk_indexed(spark, path, queries)``
    needs nothing else and returns exactly what the inline
    ``ivf_pq_topk`` returns on the same corpus (test- and
    gate-pinned).

    This retires the inline path's per-call encode projection AND its
    plan-size caveat for repeated querying: ADC tables are still
    per-query literals, but the corpus-sized work (cell assignment +
    encode) is paid once at build time.

    The store works on any Hadoop filesystem the data does, and a
    rebuild in place is crash-safe: both through the index-store
    protocol of `sources.fsio`.

    ``record_stats=True`` additionally stores the build-time corpus
    ``quantization_error`` and vector count in meta.json — the
    baseline `pq_drift_report` compares streamed batches against to
    decide when frozen centroids/codebooks need a re-train (one extra
    corpus aggregate at build time)."""
    fsio.reset_index_store(path, ("codes",))
    if centroids is None:
        centroids = df.filter(F.col(id_col) % centroid_stride == 0)
    raw = _raw_centroids(centroids, id_col, vec_col)
    cents = _normalize_cents(raw)
    corpus = _corpus_codes(
        df, codebooks, cents, raw, id_col, vec_col, by_residual
    )
    (
        corpus.select(
            F.col(id_col), F.col("cell"), F.col("__code").alias("pq_code")
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(fsio.join(path, "codes"))
    )
    meta = {
        "id_col": id_col,
        "by_residual": bool(by_residual),
        "codebooks": [
            [[float(x) for x in w] for w in book] for book in codebooks
        ],
        "centroids_raw": [
            [int(cid), [float(x) for x in v]] for cid, v in raw
        ],
    }
    if record_stats:
        meta["build_qe"] = quantization_error(df, codebooks, vec_col)
        meta["n_vecs"] = df.count()
    fsio.commit_meta(path, meta)


def append_pq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    epoch: Optional[int] = None,
    record_stats: bool = False,
) -> bool:
    """Fold a NEW batch of vectors into an existing `write_pq_index`
    store — the semantic twin of `retrieval.append_bm25_index`
    (VERDICT r10 next #5): a growing corpus no longer re-writes the
    whole IVF-PQ store. ONLY the batch is encoded (one batch pass
    through the shared ``_corpus_codes`` projection); its (id, cell,
    pq_code) rows APPEND into the same cell-partitioned directories,
    so reader pruning is unchanged and
    ``ivf_pq_topk_indexed`` returns EXACTLY what a full rebuild with
    the same centroids would (pinned by tests: append == rebuild
    bit-equal — per-row encoding under frozen parameters cannot
    depend on what else is in the store).

    Centroids and codebooks are FROZEN — they are read from the
    store's meta.json, never refit. That is the correct incremental
    contract (refitting would silently re-home every EXISTING code),
    but it means drifting data degrades recall rather than erroring:
    monitor `quantization_error` on each batch against the build-time
    corpus error and RE-TRAIN (pq_train + write_pq_index from the
    full corpus) when it climbs materially — e.g. batch error
    persistently >1.5x the build-time error, the same trigger
    published IVF practice uses for re-clustering.

    Caller contract mirrors the BM25 store: batch ids disjoint from
    the store's (a re-ingested id would appear twice in every probed
    cell's candidates); one writer at a time. The append runs under
    the pending sentinel of `sources.fsio` (an interrupted append
    leaves a store every reader refuses: restore the previous snapshot
    or rebuild). ``epoch`` makes it EXACTLY-ONCE for streaming
    (`streaming.recipes.pq_appends_to_store`): an epoch already in the
    store's ledger returns False without touching the store. Returns
    True when the batch was applied."""
    meta = _read_pq_meta(path)
    if epoch is not None and fsio.epoch_applied(path, epoch):
        return False  # replayed epoch: already committed
    pending = fsio.join(path, fsio.PENDING)
    fsio.write_json(pending, {"op": "append", "epoch": epoch})
    raw = meta["centroids_raw"]
    cents = _normalize_cents(raw)
    corpus = _corpus_codes(
        df, meta["codebooks"], cents, raw, meta["id_col"], vec_col,
        meta["by_residual"],
    )
    (
        corpus.select(
            F.col(meta["id_col"]), F.col("cell"),
            F.col("__code").alias("pq_code"),
        )
        .write.mode("append")
        .partitionBy("cell")
        .parquet(fsio.join(path, "codes"))
    )
    if epoch is not None:
        stats = {}
        if record_stats:
            # per-epoch drift evidence for pq_drift_report: batch MSE
            # under the FROZEN codebooks + batch size
            stats[str(int(epoch))] = {
                "qe": quantization_error(df, meta["codebooks"], vec_col),
                "n": df.count(),
            }
        fsio.record_epoch(path, epoch, stats)
    fsio.delete(pending)
    return True


def pq_drift_report(path: str):
    """Per-epoch drift evidence from a streamed
    (`pq_appends_to_store(..., monitor_qe=True)`) store: list of
    {epoch, qe, n, ratio_vs_build} ascending by epoch, where
    ratio_vs_build = batch quantization error / the build-time corpus
    error recorded by ``write_pq_index(record_stats=True)`` (None
    when the build didn't record one). The documented re-train
    trigger is a ratio persistently above ~1.5 — frozen
    centroids/codebooks degrade RECALL silently, never correctness,
    so this report is the operational signal, not a gate. Reads only
    meta.json + the ledger (no data scan)."""
    build_qe = _read_pq_meta(path).get("build_qe")
    led = fsio.read_ledger(path)
    out = []
    for ep in led["applied"]:
        st = led.get("stats", {}).get(str(ep))
        if st is None:
            out.append(
                {"epoch": ep, "qe": None, "n": None, "ratio_vs_build": None}
            )
            continue
        out.append(
            {
                "epoch": ep,
                "qe": st["qe"],
                "n": st["n"],
                "ratio_vs_build": (
                    st["qe"] / build_qe if build_qe else None
                ),
            }
        )
    return out


def compact_pq_index(spark, path: str) -> None:
    """Rewrite the store's ``codes/`` into one file per cell — the
    small-files maintenance append-heavy stores need (every
    `append_pq_index` adds a file per touched cell; thousands of
    appends mean thousands of tiny files per cell and a
    task-per-file scan). Codes rows are EXACTLY preserved (pinned by
    tests): compaction is a read + repartition(cell) + rewrite,
    nothing is re-encoded, swapped in by the staged compaction of
    `sources.fsio`. The epoch ledger is untouched — replayed epochs
    stay skipped after compaction."""
    _read_pq_meta(path)  # refuses an already-broken store
    fsio.swap_compacted(spark, path, "codes", "cell", {"op": "compact"})


def _read_pq_meta(path: str) -> dict:
    """Load + normalize the store's meta.json, REFUSING a store with
    an interrupted append/rebuild (`fsio.read_index_meta`)."""
    meta = fsio.read_index_meta(path, "pq", "codes")
    meta["centroids_raw"] = [
        (int(cid), [float(x) for x in v]) for cid, v in meta["centroids_raw"]
    ]
    return meta


def read_pq_index(spark, path: str):
    """(codes DataFrame, meta dict) — codes read lazily (cell is the
    partition column, so filters on it prune directories). Refuses a
    store with an interrupted append/rebuild (`_read_pq_meta`)."""
    meta = _read_pq_meta(path)
    codes = spark.read.parquet(fsio.join(path, "codes"))
    return codes, meta


def ivf_pq_topk_indexed(
    spark,
    path: str,
    queries: Sequence[Tuple[int, Sequence[float]]],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 0,
    vectors: Optional[DataFrame] = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k against a PERSISTED index (``write_pq_index``):
    probe cells are picked driver-side from the stored centroids
    (identical arithmetic to the in-engine fold), the codes scan is
    filtered to exactly those cells — partition pruning, no
    re-encode, no full-corpus pass — and the ADC scoring + top-k
    window are the same expressions as the inline path, so results
    are EQUAL to ``ivf_pq_topk(df, …)`` on the corpus the index was
    built from.

    ``rerank`` (round 11) adds the FAISS refine stage: the index
    stores codes, not raw vectors, so rerank REQUIRES ``vectors`` —
    the (id, vec) corpus frame — and joins only the top-``rerank``
    ADC candidates against it (a broadcast of <= |queries| x rerank
    rows onto the vectors scan; with the vectors parquet partitioned
    or bucketed by id that join prunes too). The refine finisher is
    `_refine_exact`, shared verbatim with the inline path, so
    ``ivf_pq_topk_indexed(…, rerank=N, vectors=df)`` equals
    ``ivf_pq_topk(df, …, rerank=N)`` exactly (pinned)."""
    from pyspark.sql import Window

    if rerank and int(rerank) > 0 and vectors is None:
        raise ValueError(
            "rerank requires vectors: the index stores pq codes, not "
            "raw embeddings — pass the (id, vec) corpus frame"
        )
    codes, meta = read_pq_index(spark, path)
    raw = meta["centroids_raw"]
    cents = _normalize_cents(raw)
    codebooks = meta["codebooks"]
    id_col = meta["id_col"]
    probe_cells = _probe_cells_driver(cents, queries, nprobe)
    all_cells = sorted({c for cs in probe_cells.values() for c in cs})
    probes = spark.createDataFrame(
        [
            (int(qid), c)
            for qid, _ in queries
            for c in probe_cells[int(qid)]
        ],
        "query_id bigint, cell bigint",
    )
    pruned = codes.filter(F.col("cell").isin(all_cells))
    cand = pruned.join(F.broadcast(probes), "cell")
    if meta["by_residual"]:
        adc = _residual_adc_case_expr(
            codebooks, queries, dict(raw), probe_cells, "pq_code"
        )
    else:
        adc = _adc_case_expr(codebooks, queries, "pq_code")
    scored = cand.select("query_id", F.col(id_col), adc.alias("adc"))
    wr = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col(id_col))
    if rerank and int(rerank) > 0:
        cand_r = (
            scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= int(rerank))
            .drop("rank")
        )
        return _refine_exact(vectors, cand_r, queries, id_col, vec_col, k)
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= int(k))
    )


def ivf_pq_topk(
    df: DataFrame,
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    centroids: Optional[DataFrame] = None,
    k: int = 10,
    nprobe: int = 2,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ: coarse cell pruning + ADC rescoring over the surviving
    candidates only — the standard FAISS inverted-file layout (Jégou
    et al. 2011 §V; the non-residual ``by_residual=False`` variant:
    codes quantize RAW vectors, so the same codebooks serve encode,
    flat ADC, and IVF-PQ). This is the composition that lets PQ's 32×
    compression pay at query time: ``pq_adc_topk`` scans every code,
    ``ivf_pq_topk`` scans ~``nprobe/nlist`` of them.

    Plan shape (100 TB): the corpus pass is ONE pure projection —
    the IVF cell (`similarity.ivf_cell_sql`) and the PQ code
    (:func:`pq_code_expr`) — then one broadcast semi-join against the
    (query, probed-cell) table (|queries| × nprobe rows) keeps only
    candidates in probed cells, and a single CASE-over-query_id ADC
    expression scores them (distance tables are literals; no explode,
    no per-query re-scan, no corpus-keyed shuffle — only the final
    per-query top-k window moves candidate rows). Real deployments
    store (cell, pq_code) once (`pq_encode` + partitionBy(cell)) and
    skip the projection; pass such a frame as ``df`` with
    ``vec_col``-derived columns precomputed and the scan prunes whole
    files on cell.

    Probe selection runs IN-ENGINE (the same zip_with fold as
    `ivf_flat_topk`, score DESC / cid ASC), so the DuckDB oracle
    replays it bit-for-bit from the same literals.

    With ``nprobe >= nlist`` the result is EXACTLY
    ``pq_adc_topk(df, codebooks, queries, k)`` — pruning off, no
    recall loss (pinned in tests). Returns (query_id, ``id_col``,
    adc, rank); ADC is squared L2 on raw vectors, rank ties break on
    ``id_col``.

    ``by_residual=True`` is the FAISS-DEFAULT IVF-PQ variant: codes
    quantize the RESIDUAL ``x − c_cell`` (the raw centroid of the
    row's cell) instead of the raw vector, which centers every cell's
    distribution near the origin so the same codebook budget buys a
    finer quantization — train codebooks on residuals
    (``pq_train`` over a residual-projected frame). The residual is
    one more literal projection (a cell→raw-centroid map literal +
    zip_with subtract), still zero shuffles; query-side ADC tables
    become per-(query, probed-cell) literals (|q|·nprobe·m·ksub
    doubles — metadata) selected by a CASE over (query_id, cell), and
    probe cells are picked driver-side with the identical
    ascending-dim dot the in-engine fold computes (the DuckDB oracle
    recomputes them in SQL and must agree bit-for-bit — pinned)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if centroids is None:
        centroids = df.filter(F.col(id_col) % centroid_stride == 0)
    raw = _raw_centroids(centroids, id_col, vec_col)
    cents = _normalize_cents(raw)

    if by_residual:
        rawmap = dict(raw)
        corpus = _corpus_codes(
            df, codebooks, cents, raw, id_col, vec_col, by_residual=True
        )
        # probe cells driver-side (cents are already collected
        # metadata); ascending-dim sequential dot == the engine fold
        probe_cells = _probe_cells_driver(cents, queries, nprobe)
        probes = spark.createDataFrame(
            [
                (int(qid), c)
                for qid, _ in queries
                for c in probe_cells[int(qid)]
            ],
            "query_id bigint, cell bigint",
        )
        cand = corpus.join(F.broadcast(probes), "cell")
        scored = cand.select(
            "query_id",
            F.col(id_col),
            _residual_adc_case_expr(
                codebooks, queries, rawmap, probe_cells, "__code"
            ).alias("adc"),
        )
    else:
        corpus = _corpus_codes(
            df, codebooks, cents, raw, id_col, vec_col, by_residual=False
        )

        cent_df = F.broadcast(
            spark.createDataFrame(
                [(cid, v) for cid, v in cents], "cid long, ch array<double>"
            )
        )
        qdf = spark.createDataFrame(
            [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
            "query_id bigint, qv array<double>",
        )
        scored_cells = qdf.crossJoin(cent_df).select(
            "query_id",
            "cid",
            F.expr(
                "aggregate(zip_with(ch, qv, (w, x) -> w * x), "
                "0.0D, (acc, t) -> acc + t)"
            ).alias("__score"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("__score").desc(), F.col("cid")
        )
        probes = (
            scored_cells.withColumn("__pr", F.row_number().over(w))
            .filter(F.col("__pr") <= int(nprobe))
            .select("query_id", F.col("cid").alias("cell"))
        )

        cand = corpus.join(F.broadcast(probes), "cell")
        scored = cand.select(
            "query_id",
            F.col(id_col),
            _adc_case_expr(codebooks, queries, "__code").alias("adc"),
        )
    wr = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col(id_col))
    if rerank and int(rerank) > 0:
        cand_r = (
            scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= int(rerank))
            .drop("rank")
        )
        return _refine_exact(df, cand_r, queries, id_col, vec_col, k)
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= int(k))
    )


def _refine_exact(
    vectors: DataFrame,
    cand_r: DataFrame,
    queries: Sequence[Tuple[int, Sequence[float]]],
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """FAISS 'refine' stage, shared VERBATIM by the inline and
    persisted-index paths so their reranked results are identical by
    construction: keep the top-`rerank` ADC candidates (``cand_r``:
    query_id, id, adc — <= |queries| x rerank rows, broadcast onto
    the vectors scan) and re-rank by EXACT squared L2 against
    per-query vector literals (ascending-dim fold, oracle
    bit-replayable). Output gains an `l2sq` column."""
    from pyspark.sql import Window

    exact = None
    for qid, qv in queries:
        arr = ", ".join(f"{float(x)!r}D" for x in qv)
        fold = (
            f"aggregate(zip_with({vec_col}, array({arr}), "
            f"(x, q) -> (CAST(x AS DOUBLE) - q) * (CAST(x AS DOUBLE) - q)), "
            f"0.0D, (acc, t) -> acc + t)"
        )
        cond = F.col("query_id") == int(qid)
        exact = (
            F.when(cond, F.expr(fold))
            if exact is None
            else exact.when(cond, F.expr(fold))
        )
    refined = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(cand_r), id_col)
        .select("query_id", id_col, "adc", exact.alias("l2sq"))
    )
    wr2 = Window.partitionBy("query_id").orderBy(
        F.col("l2sq"), F.col(id_col)
    )
    return (
        refined.withColumn("rank", F.row_number().over(wr2).cast("int"))
        .filter(F.col("rank") <= int(k))
    )


def ivf_pq_oracle_sql(
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    k: int = 10,
    nprobe: int = 2,
    centroid_stride: int = 50,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    by_residual: bool = False,
    rerank: int = 0,
    centroid_table: str = None,
) -> str:
    """DuckDB replay of :func:`ivf_pq_topk`: centroid normalization +
    corpus cell (`similarity.ivf_cell_oracle_sql`) recomputed from the
    table, probe selection from the same query-vector literals,
    PQ codes via :func:`pq_codes_oracle_sql`, ADC via the same
    Python-computed distance-table literals in subspace order.
    ``centroid_table`` (default: ``table``) bounds the centroid pool —
    pass an id-anchored subquery so nlist (and with it the oracle's
    corpus × nlist argmax cost) stays CONSTANT as the corpus scales,
    mirroring a Spark caller who passes an explicit ``centroids``
    frame.

    ``by_residual=True``: codes and ADC distances use the residual
    ``x − c_cell``; the per-(query, cell) distance tables are computed
    IN-SQL with the exact IEEE tree Python's `_distance_tables` uses
    ((codeword − (q − c)) squared, dims ascending), and the m table
    lookups are summed by m explicit JOINS in subspace order so the
    add sequence matches Spark's left-to-right CASE expression."""
    if centroid_table is None:
        centroid_table = table
    if by_residual:
        return _ivf_pq_residual_oracle_sql(
            codebooks, queries, k, nprobe, centroid_stride,
            table, vec_col, id_col, rerank, centroid_table,
        )
    m = len(codebooks)
    nrm = (
        f"sqrt(list_sum(list_transform({vec_col}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    qrows = ", ".join(
        f"({int(qid)}, [{', '.join(_d(float(x)) for x in qv)}]::DOUBLE[])"
        for qid, qv in queries
    )
    dot_ch_q = (
        "list_sum(list_transform(range(1, len(c.ch) + 1), "
        "i -> c.ch[i] * q.v[i]))"
    )
    codes = pq_codes_oracle_sql(codebooks, table, vec_col, id_col)
    pivot_cols = ", ".join(
        f"max(CASE WHEN mi = {mi} THEN code END) AS c{mi}" for mi in range(m)
    )
    whens = []
    for qid, qvec in queries:
        dts = _distance_tables(codebooks, qvec)
        terms = []
        for mi, row in enumerate(dts):
            arr = ", ".join(_d(x) for x in row)
            terms.append(f"([{arr}]::DOUBLE[])[p.c{mi} + 1]")
        whens.append(f"WHEN {int(qid)} THEN {' + '.join(terms)}")
    adc_case = f"CASE cd.query_id {' '.join(whens)} END"
    return f"""
WITH cent AS MATERIALIZED (
  SELECT {id_col} AS cid,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE) / {nrm}) AS ch
  FROM {centroid_table} WHERE {id_col} % {int(centroid_stride)} = 0
),
cellof AS MATERIALIZED (
  SELECT {id_col}, {ivf_cell_oracle_sql(vec_col, 'cent')} AS cell FROM {table}
),
qv(query_id, v) AS (VALUES {qrows}),
qprobe AS MATERIALIZED (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {dot_ch_q} DESC, c.cid) AS rn
    FROM qv q CROSS JOIN cent c
  ) WHERE rn <= {int(nprobe)}
),
codes AS MATERIALIZED ({codes}),
pivoted AS MATERIALIZED (SELECT {id_col}, {pivot_cols} FROM codes GROUP BY {id_col}),
cand AS (
  SELECT p.query_id, t.{id_col}
  FROM qprobe p JOIN cellof t ON t.cell = p.cell
),
scored AS (
  SELECT cd.query_id, cd.{id_col}, {adc_case} AS adc
  FROM cand cd JOIN pivoted p USING ({id_col})
){_ivf_pq_final_sql(k, rerank, table, vec_col, id_col)}"""


def _ivf_pq_final_sql(
    k: int, rerank: int, table: str, vec_col: str, id_col: str
) -> str:
    """Final block shared by both oracle variants: plain ADC rank, or
    the FAISS refine stage (top-`rerank` by ADC, exact squared-L2
    re-rank with the same ascending-dim IEEE fold Spark computes)."""
    if not rerank:
        return f"""
SELECT query_id, {id_col}, adc, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc, {id_col}
  ) AS rnk FROM scored
) WHERE rnk <= {int(k)}
"""
    l2 = (
        f"list_sum(list_transform(range(1, len(e.{vec_col}) + 1), "
        f"i -> (CAST(e.{vec_col}[i] AS DOUBLE) - q.v[i])"
        f" * (CAST(e.{vec_col}[i] AS DOUBLE) - q.v[i])))"
    )
    return f""",
adc_top AS (
  SELECT query_id, {id_col}, adc FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adc, {id_col}
    ) AS rnk FROM scored
  ) WHERE rnk <= {int(rerank)}
),
refined AS (
  SELECT a.query_id, a.{id_col}, a.adc, {l2} AS l2sq
  FROM adc_top a
  JOIN {table} e USING ({id_col})
  JOIN qv q ON q.query_id = a.query_id
)
SELECT query_id, {id_col}, adc, l2sq, CAST(rnk AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY l2sq, {id_col}
  ) AS rnk FROM refined
) WHERE rnk <= {int(k)}
"""


def _ivf_pq_residual_oracle_sql(
    codebooks: Codebooks,
    queries: Sequence[Tuple[int, Sequence[float]]],
    k: int,
    nprobe: int,
    centroid_stride: int,
    table: str,
    vec_col: str,
    id_col: str,
    rerank: int = 0,
    centroid_table: str = None,
) -> str:
    """Residual-variant replay — see :func:`ivf_pq_oracle_sql`."""
    if centroid_table is None:
        centroid_table = table
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    nrm = (
        f"sqrt(list_sum(list_transform({vec_col}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    qrows = ", ".join(
        f"({int(qid)}, [{', '.join(_d(float(x)) for x in qv)}]::DOUBLE[])"
        for qid, qv in queries
    )
    dot_ch_q = (
        "list_sum(list_transform(range(1, len(c.ch) + 1), "
        "i -> c.ch[i] * q.v[i]))"
    )
    cb_rows = []
    for mi, book in enumerate(codebooks):
        for code, vec in enumerate(book):
            arr = ", ".join(_d(x) for x in vec)
            cb_rows.append(f"({mi}, {code}, [{arr}]::DOUBLE[])")
    cb_values = ", ".join(cb_rows)
    # residual element i of subspace mi (1-indexed within subspace)
    rel = f"cb.mi * {dsub} + i"
    rdiff = (
        f"(cb.v[i] - (CAST(e.{vec_col}[{rel}] AS DOUBLE)"
        f" - CAST(cr.cv[{rel}] AS DOUBLE)))"
    )
    rdist = (
        f"list_sum(list_transform(range(1, {dsub} + 1), "
        f"i -> {rdiff} * {rdiff}))"
    )
    qdiff = f"(cb.v[i] - (q.v[{rel}] - CAST(cr.cv[{rel}] AS DOUBLE)))"
    qdist = (
        f"list_sum(list_transform(range(1, {dsub} + 1), "
        f"i -> {qdiff} * {qdiff}))"
    )
    pivot_cols = ", ".join(
        f"max(CASE WHEN mi = {mi} THEN code END) AS c{mi}" for mi in range(m)
    )
    dt_joins = " ".join(
        f"JOIN dtab d{mi} ON d{mi}.query_id = cd.query_id"
        f" AND d{mi}.cell = cd.cell AND d{mi}.mi = {mi}"
        f" AND d{mi}.code = p.c{mi}"
        for mi in range(m)
    )
    adc = " + ".join(f"d{mi}.d" for mi in range(m))
    return f"""
WITH cent AS MATERIALIZED (
  SELECT {id_col} AS cid,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE) / {nrm}) AS ch
  FROM {centroid_table} WHERE {id_col} % {int(centroid_stride)} = 0
),
centraw AS MATERIALIZED (
  SELECT {id_col} AS cid, {vec_col} AS cv
  FROM {centroid_table} WHERE {id_col} % {int(centroid_stride)} = 0
),
cellof AS MATERIALIZED (
  SELECT {id_col}, {ivf_cell_oracle_sql(vec_col, 'cent')} AS cell FROM {table}
),
qv(query_id, v) AS (VALUES {qrows}),
qprobe AS MATERIALIZED (
  SELECT query_id, cid AS cell FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {dot_ch_q} DESC, c.cid) AS rn
    FROM qv q CROSS JOIN cent c
  ) WHERE rn <= {int(nprobe)}
),
cb(mi, code, v) AS (VALUES {cb_values}),
codes AS MATERIALIZED (
  SELECT {id_col}, mi, code FROM (
    SELECT e.{id_col}, cb.mi, cb.code,
           row_number() OVER (PARTITION BY e.{id_col}, cb.mi
                              ORDER BY {rdist} ASC, cb.code) AS rn
    FROM {table} e
    JOIN cellof cf ON cf.{id_col} = e.{id_col}
    JOIN centraw cr ON cr.cid = cf.cell
    CROSS JOIN cb
  ) WHERE rn = 1
),
pivoted AS MATERIALIZED (SELECT {id_col}, {pivot_cols} FROM codes GROUP BY {id_col}),
dtab AS MATERIALIZED (
  SELECT q.query_id, cr.cid AS cell, cb.mi, cb.code, {qdist} AS d
  FROM qv q CROSS JOIN centraw cr CROSS JOIN cb
),
cand AS (
  SELECT p2.query_id, p2.cell, t.{id_col}
  FROM qprobe p2 JOIN cellof t ON t.cell = p2.cell
),
scored AS (
  SELECT cd.query_id, cd.{id_col}, {adc} AS adc
  FROM cand cd
  JOIN pivoted p USING ({id_col})
  {dt_joins}
){_ivf_pq_final_sql(k, rerank, table, vec_col, id_col)}"""
