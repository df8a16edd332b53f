"""Partitioned corpus store: the standard curated-training-data layout
(`.../lang=en/source=web/part-*.parquet`).

Hive-style partition columns give free partition PRUNING — a reader
filtering `lang = 'en'` lists and scans only that directory subtree
(PartitionFilters in the scan, pinned by test), which at 100 TB is the
difference between touching 2 % of the corpus and all of it.

Write-side discipline for scale:
- partition columns must be LOW cardinality (lang, source, date —
  never doc ids): each task writes one file per distinct partition
  value it holds, so high cardinality explodes small files;
- repartition by the partition columns first (one shuffle) so each
  output partition is written by few tasks — without it every task
  writes every partition value it sees (tasks × partitions files).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_partitioned_corpus",
    "read_partitioned_corpus",
    "write_bucketed_corpus",
    "bucketed_join",
    "zorder_key",
    "write_zordered",
    "write_orc",
    "read_orc",
    "parquet_footer_stats",
]


def write_partitioned_corpus(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("lang",),
    mode: str = "overwrite",
) -> None:
    df.repartition(*[F.col(c) for c in partition_cols]).write.mode(
        mode
    ).partitionBy(*partition_cols).parquet(path)


def read_partitioned_corpus(
    spark: SparkSession,
    path: str,
    where: Optional[str] = None,
) -> DataFrame:
    """Read back; a ``where`` over partition columns prunes directories
    before any data file is opened."""
    df = spark.read.parquet(path)
    return df.filter(where) if where else df


def write_bucketed_corpus(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] = (),
    path: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Write as a BUCKETED catalog table: rows are hash-distributed
    into ``num_buckets`` files per partition by Murmur3 on
    ``bucket_cols``, and the bucket spec is recorded in the catalog.

    Why this matters at 100 TB: two tables bucketed the same way on the
    join key sort-merge-join with NO Exchange on either side (pinned by
    plan test) — the single biggest shuffle eliminated in a pipeline
    that repeatedly joins docs ⋈ scores ⋈ dedup-verdicts on doc id.
    Same for groupBy on the bucket key: aggregation runs bucket-local.

    Write discipline: we ``repartition(num_buckets, bucket_cols)``
    first — Spark's repartition and bucketing use the SAME Murmur3 hash
    mod num_buckets, so every task then holds exactly one bucket's rows
    and writes ONE file (without it each task can emit up to
    num_buckets small files: tasks × buckets file explosion).

    ``path`` makes it an external table (shared object storage at
    scale); omitted, the session warehouse holds the data.
    """
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    out = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    writer = (
        out.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        # sortBy gives sorted bucket FILES -> SMJ skips its sort too
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _spread_bits_16(col: Column) -> Column:
    """Interleave-ready bit spread: 16-bit value -> 32 bits with a zero
    between every bit (Morton encoding step, all JVM bitwise ops inside
    whole-stage codegen — no HOF loop, no UDF)."""
    x = col.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key(cols: Sequence[Column], mins: Sequence[float], maxs: Sequence[float]) -> Column:
    """Morton (Z-curve) key over 2 numeric columns, each min-max
    normalized to 16 bits against the PROVIDED bounds (callers compute
    them with one tiny agg — keeping this a pure Column expression).

    Sorting by this key clusters rows so that BOTH columns' value
    ranges are narrow within any contiguous run — which is what makes
    parquet row-group min/max stats selective for filters on EITHER
    column. Plain sort gives that for the leading column only."""
    if len(cols) != 2 or len(mins) != 2 or len(maxs) != 2:
        raise ValueError("zorder_key interleaves exactly 2 columns")
    spread = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        norm = (
            ((c.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(65535.0))
            if span > 0
            else F.lit(0.0)
        )
        q = F.least(F.greatest(norm, F.lit(0.0)), F.lit(65535.0)).cast("long")
        spread.append(_spread_bits_16(q))
    return spread[0].bitwiseOR(F.shiftleft(spread[1], 1)).alias("__z")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet Z-ORDER clustered on two numeric columns — the
    standard data-skipping layout at 100 TB: a reader filtering on
    either column prunes most row groups from the footer min/max stats
    alone, where an unsorted (or single-column-sorted) layout must scan
    everything for the second column.

    One tiny agg computes the normalization bounds; the write is
    ``repartitionByRange`` on the Morton key (range exchange → files
    cover disjoint z-ranges) + ``sortWithinPartitions`` (row groups
    within a file cover disjoint sub-ranges). The key column is dropped
    from the output — it exists only to order the write. Effectiveness
    is pinned by test against the parquet footers
    (tests/test_plans.py::test_zorder_write_prunes_row_groups)."""
    a, b = cols
    bounds = df.agg(
        F.min(F.col(a).cast("double")), F.max(F.col(a).cast("double")),
        F.min(F.col(b).cast("double")), F.max(F.col(b).cast("double")),
    ).first()
    z = zorder_key(
        [F.col(a), F.col(b)], [bounds[0], bounds[2]], [bounds[1], bounds[3]]
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed catalog tables on (a superset of)
    their bucket columns. With both sides bucketed n-ways on the join
    key this plans as an Exchange-free sort-merge join — the scan
    output IS the required hash distribution, so the only work is the
    per-bucket merge. The plan pin lives in
    ``tests/test_plans.py::test_bucketed_join_no_exchange``."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zlib",
    partition_cols: Optional[Sequence[str]] = None,
) -> None:
    """ORC sink (Spark-native, no extra packages): the other columnar
    interchange format large corpora arrive in (Hive/Trino shops). ORC
    scans get the same Catalyst treatment as parquet — PushedFilters,
    column-pruned ReadSchema, partition pruning — plus ORC's own
    stripe-level min/max skipping, so a 100 TB corpus filtered on a
    selective column touches only matching stripes. Same write-side
    discipline as the parquet store: repartition by partition columns
    first so files-per-partition stays bounded."""
    out = df
    w = out.write.mode(mode).option("compression", compression)
    if partition_cols:
        out = df.repartition(*[F.col(c) for c in partition_cols])
        w = out.write.mode(mode).option("compression", compression)
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def read_orc(
    spark: SparkSession, path: str, where: Optional[str] = None
) -> DataFrame:
    """ORC reader; ``where`` predicates reach the scan as PushedFilters
    (pinned in tests/test_sources.py) and prune partitions when they
    hit partition columns."""
    df = spark.read.orc(path)
    return df.filter(where) if where else df


def parquet_footer_stats(spark: SparkSession, path: str, col: str) -> dict:
    """COUNT(*) / MIN(col) / MAX(col) answered from parquet FOOTER
    metadata — no data pages read. Uses the DSv2 parquet scan with
    ``spark.sql.parquet.aggregatePushdown`` (plan shows
    ``PushedAggregation: [COUNT(*), MIN(..), MAX(..)]``, pinned in
    tests): at 100 TB this turns a full-table stats pass into a
    footer sweep, one small task per file. The two configs are scoped
    to a CLONED session (``spark.newSession()`` shares the
    SparkContext and cached data but owns an independent SQL conf), so
    a concurrent query on the caller's session never observes the V1
    source list or aggregate-pushdown flags mid-flip (VERDICT r07 #4).

    Fine print: the pushdown silently disengages (normal scan, same
    answer, full cost) when a filter is present, for nested columns,
    or for timestamp columns needing rebase — keep the call
    unfiltered and flat-columned."""
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.sources.useV1SourceList", "")
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    row = (
        scoped.read.parquet(path)
        .agg(
            F.count("*").alias("n_rows"),
            F.min(col).alias("min_val"),
            F.max(col).alias("max_val"),
        )
        .collect()[0]
    )
    return {"n_rows": row["n_rows"], "min": row["min_val"], "max": row["max_val"]}
