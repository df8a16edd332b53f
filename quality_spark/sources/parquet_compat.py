"""Reading parquet written with TIMESTAMP(NANOS).

Spark's vectorized parquet reader rejects nanosecond timestamps
([PARQUET_TYPE_ILLEGAL]); the supported path is
``spark.sql.legacy.parquet.nanosAsLong`` which surfaces them as raw
nanos-since-epoch LongType.  :func:`read_parquet_compat` detects such
columns from the parquet footer (a metadata-only read, no data pulled
to the driver), enables the conf, and converts the longs back to
microsecond timestamps executor-side — scalable to any input size, at
the cost of truncating sub-microsecond precision.
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio


def _nanos_columns_jvm(spark: SparkSession, path: str) -> List[str]:
    """Footer nanos detection through the JVM parquet reader — works on
    any Hadoop filesystem (round 12: the pyarrow path below needs a
    locally readable file, which an s3a://hdfs:// input is not). Still
    metadata-only: one footer of the first data file."""
    target = fsio.first_file(path, ".parquet")
    if target is None:
        return []
    jvm = spark._jvm
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        target, spark._jsc.hadoopConfiguration()
    )
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        schema = rdr.getFileMetaData().getSchema()
        out = []
        for i in range(schema.getFieldCount()):
            t = schema.getType(i)
            if not t.isPrimitive():
                continue
            ann = t.getLogicalTypeAnnotation()
            if ann is None:
                continue
            if "Timestamp" not in ann.getClass().getSimpleName():
                continue
            if ann.getUnit().toString() == "NANOS":
                out.append(t.getName())
        return out
    finally:
        rdr.close()


def _nanos_columns(path: str) -> List[str]:
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    p = path
    if os.path.isdir(p):
        # recurse: hive-partitioned layouts (lang=en/part-*.parquet)
        # keep their data files in subdirectories
        first = None
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".parquet"):
                    first = os.path.join(root, f)
                    break
            if first:
                break
        if first is None:
            return []
        p = first
    schema = pq.read_schema(p)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet_compat(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that tolerates TIMESTAMP(NANOS) columns,
    converting them to microsecond timestamps."""
    # Footer detection dispatch (ADVICE r12): a session is passed in,
    # so the JVM reader is ALWAYS usable — and it resolves schemeless
    # paths through fs.defaultFS exactly as spark.read.parquet will
    # (on an HDFS-default cluster a bare "/data/x.parquet" is an HDFS
    # path that the pyarrow-on-local-path branch would miss or fail
    # on). The pyarrow branch remains only as a fallback for local
    # paths when the JVM probe itself fails (e.g. a path readable by
    # the driver but not yet by the Hadoop conf's filesystem).
    try:
        nanos = _nanos_columns_jvm(spark, path)
    except Exception:  # noqa: BLE001 — fall back, never for URIs
        if "://" in path:
            raise
        nanos = _nanos_columns(path)
    if not nanos:
        return spark.read.parquet(path)
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        # schema inference happens HERE (eagerly) and the inferred
        # long schema sticks to the DataFrame, so the conf can be
        # restored immediately — leaving it set would silently turn
        # every later plain spark.read.parquet of a nanos file into
        # raw-long columns with no diagnostic (pinned by test)
        df = spark.read.parquet(path)
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
    # pyarrow also reports INT96 timestamps as timestamp[ns], but Spark
    # reads those natively — only convert columns Spark surfaced as longs.
    long_cols = {f.name for f in df.schema.fields if f.dataType.simpleString() == "bigint"}
    for c in nanos:
        if c in long_cols:
            # `div` is integer division; `/` would be double arithmetic and
            # epoch-nanos (~1.7e18) exceed double's 53-bit mantissa, making
            # ~13% of timestamps land 1 µs off.
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df
