"""Temporal event operators: sessionization and as-of join.

Event-pipeline staples the DataFrame API doesn't ship directly
(as-of join) or ships as a primitive worth wrapping with the
engine's conventions (session_window). Both are pure compositions of
built-in operators — no UDFs, one shuffle each:

- ``sessionize``: Spark's native ``session_window`` aggregation —
  shuffles once on the session keys, merges windows inside the
  aggregation (works identically in Structured Streaming with a
  watermark).
- ``asof_join``: the union + sorted-window-fill formulation: tag both
  sides, union, one shuffle on the join keys, sort within partition by
  (ts, side, tie), then ``last(right_payload, ignoreNulls)`` over an
  unbounded-preceding frame gives every left row the most recent
  right row at-or-before its timestamp. This is the scale-correct
  shape — a naive range join explodes to |left|x|right| per key,
  while this shuffles |left|+|right| rows exactly once. DuckDB's
  native ASOF JOIN is the oracle twin.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("user_id",),
    gap: str = "30 minutes",
    aggs: Optional[Sequence[Column]] = None,
) -> DataFrame:
    """Group events into sessions separated by >= ``gap`` of silence.

    Output: key cols + ``session_start`` / ``session_end`` (end = last
    event + gap, Spark's session_window convention) + the caller's
    aggregates (default: ``n_events``). Streaming-ready: add a
    watermark on ``ts_col`` upstream and the same code runs
    incrementally with bounded state.
    """
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("n_events")]
    win = F.session_window(F.col(ts_col), gap)
    out = df.groupBy(*key_cols, win).agg(*aggs)
    return out.select(
        *key_cols,
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[c for c in out.columns if c not in (*key_cols, "session_window")],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Optional[Sequence[str]] = None,
    tie_col: Optional[str] = None,
    prefix: str = "asof_",
) -> DataFrame:
    """LEFT as-of join: for every left row, the single most recent
    right row with the same keys and ``right_ts <= left_ts``
    (inclusive); no match -> nulls.

    Ties on ``right_ts`` break by ``tie_col`` (largest wins; required
    when right timestamps can repeat, otherwise the match would be
    nondeterministic). Right payload columns arrive prefixed.

    Scale bound: one shuffle on the keys, then a per-key ordered
    window — each key sorts in ONE task, so per-key row volume is the
    unit of parallelism. With few hot keys and deep history (one
    instrument, billions of ticks), pre-split the time axis: run the
    join per coarse time bucket with the latest right row per key
    carried across the bucket boundary (the same banding idea
    ``interval_join`` uses for ranges); key-partitioned layouts with
    many keys need nothing.
    """
    right_cols = list(
        right_cols
        if right_cols is not None
        else [c for c in right.columns if c not in key_cols]
    )
    keys = list(key_cols)
    tie = (
        F.col(tie_col).cast("long")
        if tie_col is not None
        else F.lit(0).cast("long")
    )
    # SQL comparison semantics: a NULL right timestamp can never satisfy
    # right_ts <= left_ts, and NULL keys never equi-join — drop such
    # right rows up front (otherwise NULLS FIRST ordering would place
    # them at the head of every frame and last() would match them).
    right_clean = right.filter(F.col(right_ts).isNotNull())
    for k in key_cols:
        right_clean = right_clean.filter(F.col(k).isNotNull())
    r = right_clean.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        tie.alias("__tie"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__r"),
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(2**63 - 1).cast("long").alias("__tie"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    u = r.select("*", F.lit(None).cast(l.schema["__l"].dataType).alias("__l")).unionByName(l)
    # right rows (__side 0) sort before left rows at equal ts, so the
    # inclusive at-or-before match sees them; among right ties the
    # largest __tie is the last in frame order and wins
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts"), F.col("__side"), F.col("__tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.select(
        "__side", "__l", F.last("__r", ignorenulls=True).over(w).alias("__m")
    ).filter(F.col("__side") == 1)
    return matched.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in right_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    max_dist: float,
    key_cols: Sequence[str] = (),
    prefix: str = "r_",
) -> DataFrame:
    """Banded numeric range join: pairs with
    ``|left_val - right_val| <= max_dist`` (plus optional equi keys).

    Values bucket at ``max_dist`` granularity; the left side explodes to
    its bucket and both neighbors, so every qualifying pair meets in an
    equi-join keyed by (keys..., bucket) and the exact distance filter
    runs post-join. The shuffle is banded — |L|*3 + |R| rows keyed by
    small ints — never a cross join; fan-in per bucket is the data's
    own density at ``max_dist`` resolution.
    """
    if max_dist <= 0:
        raise ValueError("max_dist must be positive")
    keys = list(key_cols)
    lb = F.floor(F.col(left_val) / F.lit(float(max_dist)))
    l = left.select(
        "*",
        F.explode(F.array(lb - 1, lb, lb + 1)).alias("__bucket"),
    )
    r = right.select(
        *[F.col(c).alias(f"{prefix}{c}") for c in right.columns],
        F.floor(F.col(right_val) / F.lit(float(max_dist))).alias("__bucket"),
    )
    on = [l["__bucket"] == r["__bucket"]] + [
        l[k] == r[f"{prefix}{k}"] for k in keys
    ]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    joined = l.join(r, cond).drop("__bucket")
    dist_ok = (
        F.abs(F.col(left_val) - F.col(f"{prefix}{right_val}")) <= max_dist
    )
    return joined.filter(dist_ok)


def time_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    resolutions: Sequence[str] = ("hour", "day"),
    aggs: Optional[Sequence[Column]] = None,
) -> DataFrame:
    """Multi-resolution time-bucket rollup (hypertable continuous-
    aggregate pattern): one pass over the data produces a row per
    (resolution, bucket_start) via GROUPING SETS — Spark's Expand feeds
    every input row to each resolution's partial aggregate, so N
    resolutions still scan and shuffle once (map-side combined), not N
    times. ``resolutions`` are ``date_trunc`` units in coarseness
    order."""
    if aggs is None:
        aggs = [F.count(F.lit(1)).alias("n_events")]
    bucket_cols = [
        F.date_trunc(res, F.col(ts_col)).alias(f"__b_{res}") for res in resolutions
    ]
    base = df.select("*", *bucket_cols)
    sets = [[F.col(f"__b_{res}")] for res in resolutions]
    grouped = base.groupingSets(
        sets, *[F.col(f"__b_{res}") for res in resolutions]
    ).agg(
        *aggs,
        *[F.grouping(f"__b_{res}").alias(f"__g_{res}") for res in resolutions],
    )
    # identify the grouping set by grouping() flags, NOT by which bucket
    # is non-null: a NULL input timestamp makes every bucket NULL, and
    # null-pattern dispatch would collapse those rows into an
    # indistinguishable resolution=NULL pair
    res_case = F.coalesce(
        *[
            F.when(F.col(f"__g_{res}") == 0, F.lit(res))
            for res in resolutions
        ]
    )
    bucket = F.coalesce(
        *[
            F.when(F.col(f"__g_{res}") == 0, F.col(f"__b_{res}"))
            for res in resolutions
        ]
    )
    out_aggs = [
        c
        for c in grouped.columns
        if not c.startswith("__b_") and not c.startswith("__g_")
    ]
    return grouped.select(
        res_case.alias("resolution"), bucket.alias("bucket_start"), *out_aggs
    )


def interval_join(
    left: "DataFrame",
    right: "DataFrame",
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    granularity: float,
    key_cols: Sequence[str] = (),
    prefix: str = "r_",
) -> "DataFrame":
    """Banded interval-OVERLAP join: pairs where
    ``[l_start, l_end]`` and ``[r_start, r_end]`` intersect (closed
    intervals: touching endpoints overlap), plus optional equi keys.

    100 TB design: both sides explode to the time buckets their
    interval covers at ``granularity`` resolution, qualifying pairs
    meet in an equi-join keyed by (keys..., bucket), and the exact
    overlap predicate runs post-join. Duplicate elimination is FREE —
    a pair is emitted only in the single bucket containing
    ``greatest(l_start, r_start)`` (the overlap's left edge), which
    lies in both intervals' bucket ranges exactly once, so no
    ``distinct`` shuffle is needed. Shuffle volume is
    sum(span/granularity + 1) rows per side keyed by small longs —
    never a cross join; pick ``granularity`` near the typical span so
    the per-interval explode stays O(1). Long outlier intervals fan
    out proportionally to their span (data-inherent at any fixed
    resolution); cap or split them upstream if they dominate.

    Columns are NUMERIC (cast timestamps to epoch seconds first —
    keeps the bucket arithmetic portable to the SQL oracle)."""
    if granularity <= 0:
        raise ValueError("granularity must be positive")
    keys = list(key_cols)
    g = F.lit(float(granularity))

    def buckets(s, e):
        return F.sequence(
            F.floor(F.col(s) / g).cast("long"),
            F.floor(F.col(e) / g).cast("long"),
        )

    l = left.select("*", F.explode(buckets(l_start, l_end)).alias("__bucket"))
    r = right.select(
        *[F.col(c).alias(f"{prefix}{c}") for c in right.columns]
    ).select(
        "*",
        F.explode(buckets(f"{prefix}{r_start}", f"{prefix}{r_end}")).alias(
            "__rbucket"
        ),
    )
    cond = l["__bucket"] == r["__rbucket"]
    for k in keys:
        cond = cond & (l[k] == r[f"{prefix}{k}"])
    joined = l.join(r, cond)
    ls, le = F.col(l_start), F.col(l_end)
    rs, re_ = F.col(f"{prefix}{r_start}"), F.col(f"{prefix}{r_end}")
    overlap = (ls <= re_) & (rs <= le)
    # emit only in the bucket holding the overlap's left edge
    once = F.col("__bucket") == F.floor(F.greatest(ls, rs) / g).cast("long")
    return joined.filter(overlap & once).drop("__bucket", "__rbucket")


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    ts_col: str = "ts",
    order_cols: Optional[Sequence[str]] = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: fold a batch of keyed
    updates into a versioned history table.

    The survivor frame is localCheckpointed: three output branches
    consume it (close join, untouched anti-join, new versions), and
    lazily each would RE-EXECUTE the two window shuffles over
    cur ∪ updates — the checkpoint runs them once (plan-pinned: the
    merged plan contains zero Window nodes).

    ``dim`` is the existing SCD2 table (``keys… attrs… valid_from
    valid_to``, ``valid_to IS NULL`` marking each key's current row —
    at most one per key, the SCD2 invariant). ``updates`` carries
    ``keys… attrs…`` plus ``ts_col``. Semantics, identical in the
    DuckDB twin:

    - updates for a key apply in ``order_cols`` order (default
      ``[ts_col]``; pass a tie-breaker column — the order tuple must
      be UNIQUE per key or version chains are not well-defined);
    - an update creates a new version only if any attr IS DISTINCT
      FROM the previous version's value (the current dim row, or the
      preceding surviving update) — no-op updates vanish;
    - a key's current row is closed (``valid_to`` = first new
      version's ``valid_from``) iff it has a surviving update; new
      versions chain ``valid_to`` = next version's ``valid_from``,
      the last staying NULL (current);
    - history rows (``valid_to`` non-NULL) pass through untouched, as
      do current rows with no effective change; keys new to ``dim``
      bootstrap their chain from the first update.

    Updates are assumed to postdate the current row's ``valid_from``
    (the streaming-ingest contract); out-of-order history rewrites
    need a full rebuild, not a merge.

    Plan: ONE window shuffle on the keys over cur ∪ updates
    (change detection), a second over survivors (chain linking — same
    key partitioning, AQE-reusable), and one join of current rows
    against first-change keys. No driver data, no UDFs; batch shape is
    exactly what a ``foreachBatch`` handler wants."""
    keys = list(keys)
    attrs = list(attrs)
    if not keys or not attrs:
        raise ValueError("keys and attrs must be non-empty")
    order_cols = list(order_cols) if order_cols else [ts_col]
    for c in keys + attrs + [ts_col] + order_cols:
        if c not in updates.columns:
            raise ValueError(f"updates missing column {c!r}")
    utypes = dict(updates.dtypes)
    ts_type = utypes[ts_col]

    cur = dim.filter(F.col(valid_to).isNull())
    hist = dim.filter(F.col(valid_to).isNotNull()).select(
        *keys, *attrs, valid_from, valid_to
    )

    u = updates.select(
        *keys,
        *attrs,
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(f"__o_{c}") for c in order_cols],
        F.lit(1).alias("__seq"),
    )
    c0 = cur.select(
        *keys,
        *attrs,
        F.lit(None).cast(ts_type).alias("__ts"),
        *[F.lit(None).cast(utypes[c]).alias(f"__o_{c}") for c in order_cols],
        F.lit(0).alias("__seq"),
    )
    w = Window.partitionBy(*keys).orderBy(
        F.asc("__seq"), *[F.asc(f"__o_{c}") for c in order_cols]
    )
    differs = None
    for a in attrs:
        d = ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
        differs = d if differs is None else (differs | d)
    first = F.lag(F.col("__seq")).over(w).isNull()
    sv = (
        c0.unionByName(u)
        .withColumn("__keep", (F.col("__seq") == 1) & (first | differs))
        .filter(F.col("__keep"))
    )
    w2 = Window.partitionBy(*keys).orderBy(
        *[F.asc(f"__o_{c}") for c in order_cols]
    )
    svo = sv.select(
        *keys,
        *attrs,
        F.col("__ts").alias(valid_from),
        F.lead("__ts").over(w2).alias(valid_to),
        F.row_number().over(w2).alias("__rn"),
    )
    svo = svo.localCheckpoint()
    fc = svo.filter(F.col("__rn") == 1).select(
        *keys, F.col(valid_from).alias("__fc")
    )
    closed = cur.join(fc, keys).select(
        *keys, *attrs, valid_from, F.col("__fc").alias(valid_to)
    )
    untouched = cur.join(fc, keys, "left_anti").select(
        *keys, *attrs, valid_from, valid_to
    )
    return (
        hist.unionByName(closed)
        .unionByName(untouched)
        .unionByName(svo.select(*keys, *attrs, valid_from, valid_to))
    )


def scd2_apply_oracle_sql(
    dim_sql: str,
    updates_sql: str,
    keys: Sequence[str],
    attrs: Sequence[str],
    ts_col: str = "ts",
    order_cols: Optional[Sequence[str]] = None,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    ts_sqltype: str = "TIMESTAMP",
    order_sqltypes: Optional[Sequence[str]] = None,
) -> str:
    """DuckDB twin of :func:`scd2_apply` over any two relations.
    ``ts_sqltype`` types the current rows' NULL pseudo-timestamp;
    ``order_sqltypes`` types the NULL pseudo-order columns (defaults
    to ``ts_sqltype`` for each — pass the real types when order_cols
    mixes in a non-timestamp tie-breaker)."""
    keys = list(keys)
    attrs = list(attrs)
    order_cols = list(order_cols) if order_cols else [ts_col]
    otypes = (
        list(order_sqltypes)
        if order_sqltypes
        else [ts_sqltype] * len(order_cols)
    )
    if len(otypes) != len(order_cols):
        raise ValueError("order_sqltypes and order_cols differ in length")
    ks = ", ".join(keys)
    ats = ", ".join(attrs)
    null_orders = ", ".join(
        f"CAST(NULL AS {t}) AS __o_{c}" for c, t in zip(order_cols, otypes)
    )
    u_orders = ", ".join(f"{c} AS __o_{c}" for c in order_cols)
    wo = ", ".join(f"__o_{c}" for c in order_cols)
    differs = " OR ".join(
        f"({a} IS DISTINCT FROM lag({a}) OVER w)" for a in attrs
    )
    return f"""
WITH cur AS MATERIALIZED (
  SELECT * FROM ({dim_sql}) WHERE {valid_to} IS NULL
),
hist AS (
  SELECT {ks}, {ats}, {valid_from}, {valid_to}
  FROM ({dim_sql}) WHERE {valid_to} IS NOT NULL
),
allr AS MATERIALIZED (
  SELECT {ks}, {ats}, CAST(NULL AS {ts_sqltype}) AS __ts,
         {null_orders}, 0 AS __seq
  FROM cur
  UNION ALL
  SELECT {ks}, {ats}, {ts_col} AS __ts, {u_orders}, 1 AS __seq
  FROM ({updates_sql})
),
marked AS (
  SELECT *,
         (lag(__seq) OVER w IS NULL) AS __first,
         ({differs}) AS __differs
  FROM allr
  WINDOW w AS (PARTITION BY {ks} ORDER BY __seq, {wo})
),
svo AS MATERIALIZED (
  SELECT {ks}, {ats},
         __ts AS {valid_from},
         lead(__ts) OVER w2 AS {valid_to},
         row_number() OVER w2 AS __rn
  FROM marked
  WHERE __seq = 1 AND (__first OR __differs)
  WINDOW w2 AS (PARTITION BY {ks} ORDER BY {wo})
),
fc AS (
  SELECT {ks}, {valid_from} AS __fc FROM svo WHERE __rn = 1
)
SELECT {ks}, {ats}, {valid_from}, {valid_to} FROM hist
UNION ALL
SELECT {', '.join('cur.' + k for k in keys)},
       {', '.join('cur.' + a for a in attrs)},
       cur.{valid_from}, fc.__fc AS {valid_to}
FROM cur JOIN fc USING ({ks})
UNION ALL
SELECT {ks}, {ats}, {valid_from}, {valid_to} FROM cur
WHERE NOT EXISTS (
  SELECT 1 FROM fc
  WHERE {' AND '.join(f'fc.{k} = cur.{k}' for k in keys)}
)
UNION ALL
SELECT {ks}, {ats}, {valid_from}, {valid_to} FROM svo
"""
