"""Bucketed, file-backed "big bloom" — blooms larger than executor
memory / the 2 GB byte-array ceiling.

Reference: impl/bloom/parquet/Bucketed.scala:49-307 and
BloomModel.scala:36-99 (bucket files 0..N under a root dir,
memory-mapped at read time).

Build path (all distributed, nothing driver-side but metadata):

1. hash the key expression JVM-side (two xxhash64 seeds);
2. route each row to ``pmod(h1, buckets)`` and shuffle by bucket;
3. per task, build one partial bitset per bucket seen (mapInPandas);
4. ``groupBy(bucket)`` + applyInPandas OR-merges the partials of each
   bucket and writes ``bucket_<i>.npy`` straight to shared storage from
   the executor — per-bucket bitsets never co-reside anywhere.

Probe path: a vectorized pandas UDF memory-maps only the bucket files
it actually touches (per-process LRU cache), so executors page in just
the probed regions — the reference's mmap readback, idiomatically.

Sizing: each bucket holds ``expected/buckets`` keys at the requested
fpp; choose ``buckets`` so one bucket bitset (~``-n ln p / ln^2 2 / 8``
bytes) fits comfortably in a task's memory.

FILESYSTEM CONTRACT (round 12, explicit): this store is mmap-based BY
DESIGN (the reference's readback model), so ``root_dir`` must be a
POSIX path visible to every executor — a mounted shared filesystem
(NFS/Lustre, or an object store through a FUSE mount like s3fs/
goofys/dbfs). URI-scheme paths (``s3a://``, ``hdfs://``) cannot be
mmap'd and are REFUSED at build time rather than failing later inside
an executor task. This is deliberately different from the PQ/BM25
index stores (whose data goes through Spark writers and sidecars
through `sources.fsio`): a bloom probe's whole point is paging in
only the touched bits, which requires mmap, which requires a mount.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Dict, Iterator, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lookups import (
    BloomFilter,
    _hash_cols,
    _mark_registered,
    _registered,
    _sql_ident,
)

__all__ = [
    "BigBloom",
    "big_bloom_from",
    "bloom_file_location",
    "load_big_bloom",
    "register_big_bloom",
    "set_bloom_file_location",
]

#: default root for file-backed blooms (reference
#: ``com.sparkutils.quality.bloomFileLocation``) — on a cluster set
#: this to a POSIX-MOUNTED shared path (NFS, or s3fs/goofys/dbfs FUSE
#: mount) before building; URI schemes are refused (module docstring,
#: FILESYSTEM CONTRACT).
_BLOOM_FILE_LOCATION: Union[str, None] = None


def set_bloom_file_location(path: str) -> None:
    global _BLOOM_FILE_LOCATION
    _BLOOM_FILE_LOCATION = path


def bloom_file_location() -> str:
    if _BLOOM_FILE_LOCATION is not None:
        return _BLOOM_FILE_LOCATION
    import tempfile

    return os.path.join(tempfile.gettempdir(), "quality_spark_blooms")


@dataclass(frozen=True)
class BigBloom:
    """Handle to a bucketed bloom on (shared) storage."""

    root: str
    buckets: int
    m_bits: int  # per bucket
    k: int
    fpp: float

    def bucket_path(self, b: int) -> str:
        return os.path.join(self.root, f"bucket_{b}.npy")


def big_bloom_from(
    df: DataFrame,
    expr_sql: str,
    expected: int,
    root_dir: str,
    fpp: float = 0.01,
    buckets: int = 8,
) -> BigBloom:
    """Build a bucketed bloom over ``expr_sql`` values into ``root_dir``."""
    if "://" in root_dir:
        raise ValueError(
            f"big_bloom_from root_dir {root_dir!r} is a URI — this "
            "store is mmap-based and needs a POSIX path visible to "
            "every executor (mount the object store via FUSE: s3fs/"
            "goofys/dbfs). See the module docstring's FILESYSTEM "
            "CONTRACT."
        )
    per_bucket = max(1, expected // buckets)
    m_bits, k = BloomFilter.params(per_bucket, fpp)
    n_bytes = m_bits // 8
    os.makedirs(root_dir, exist_ok=True)

    # bucket from h1's HIGH bits: bucket = h1 % buckets would correlate
    # bucket routing with the h1 % m_bits bit index (all keys of a bucket
    # share h1's residue), observed to inflate fpp ~6x.
    hashed = df.select(*_hash_cols(expr_sql)).select(
        "__h1",
        "__h2",
        F.pmod(F.shiftrightunsigned(F.col("__h1"), 33), F.lit(buckets))
        .cast("int")
        .alias("__bucket"),
    )

    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        partial: Dict[int, BloomFilter] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for b, grp in pdf.groupby("__bucket"):
                bf = partial.get(b)
                if bf is None:
                    bf = partial.setdefault(
                        b, BloomFilter(np.zeros(n_bytes, dtype=np.uint8), m_bits, k, fpp)
                    )
                h1 = grp["__h1"].to_numpy().astype(np.int64).view(np.uint64)
                h2 = grp["__h2"].to_numpy().astype(np.int64).view(np.uint64)
                bf.add_hashes(h1, h2)
        for b, bf in partial.items():
            yield pd.DataFrame({"__bucket": [int(b)], "bits": [bf.bits.tobytes()]})

    partials = (
        hashed.repartition(buckets, "__bucket")
        .mapInPandas(build_partials, schema="__bucket int, bits binary")
    )

    def merge_write(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["__bucket"].iloc[0])
        merged = np.zeros(n_bytes, dtype=np.uint8)
        for blob in pdf["bits"]:
            merged |= np.frombuffer(blob, dtype=np.uint8)
        np.save(os.path.join(root_dir, f"bucket_{b}.npy"), merged)
        return pd.DataFrame({"__bucket": [b], "nnz": [int(np.unpackbits(merged).sum())]})

    written = (
        partials.groupBy("__bucket")
        .applyInPandas(merge_write, schema="__bucket int, nnz long")
        .collect()
    )
    seen = {r["__bucket"] for r in written}
    # buckets with no rows still need a (zero) file for uniform readback
    for b in range(buckets):
        if b not in seen:
            np.save(os.path.join(root_dir, f"bucket_{b}.npy"), np.zeros(n_bytes, dtype=np.uint8))

    bb = BigBloom(root_dir, buckets, m_bits, k, fpp)
    with open(os.path.join(root_dir, "meta.json"), "w") as fh:
        json.dump(
            {"buckets": buckets, "m_bits": m_bits, "k": k, "fpp": fpp}, fh
        )
    return bb


def load_big_bloom(root_dir: str) -> BigBloom:
    if "://" in root_dir:
        raise ValueError(
            f"load_big_bloom root_dir {root_dir!r} is a URI — this "
            "store is mmap-based and needs a POSIX path visible to "
            "every executor (mount the object store via FUSE). See "
            "the module docstring's FILESYSTEM CONTRACT."
        )
    with open(os.path.join(root_dir, "meta.json")) as fh:
        meta = json.load(fh)
    return BigBloom(root_dir, meta["buckets"], meta["m_bits"], meta["k"], meta["fpp"])


_MMAP_CACHE: Dict[Tuple[str, int], np.ndarray] = {}


def _bucket_bits(root: str, b: int) -> np.ndarray:
    # cache key includes the file's (mtime_ns, size): rebuilding a bloom
    # at the same root invalidates long-lived executors' mmaps instead
    # of silently serving stale bits; the os.stat per probe batch is
    # noise next to the probe itself
    path = os.path.join(root, f"bucket_{b}.npy")
    st = os.stat(path)
    key = (root, b, st.st_mtime_ns, st.st_size)
    arr = _MMAP_CACHE.get(key)
    if arr is None:
        # drop superseded generations of this bucket before caching
        for k in [k for k in _MMAP_CACHE if k[:2] == (root, b)]:
            del _MMAP_CACHE[k]
        arr = np.load(path, mmap_mode="r")
        _MMAP_CACHE[key] = arr
    return arr


def register_big_bloom(spark: SparkSession, name: str, bb: BigBloom) -> None:
    """Register for ``probability_in(x, 'name')`` — same SQL surface as
    in-memory blooms."""
    if _registered(spark, name, bb):  # idempotent, like register_bloom
        return
    root, buckets, m_bits, k, fpp = bb.root, bb.buckets, bb.m_bits, bb.k, bb.fpp
    hit = 1.0 - fpp

    @F.pandas_udf("double")
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        u1 = h1.to_numpy().astype(np.int64).view(np.uint64)
        u2 = h2.to_numpy().astype(np.int64).view(np.uint64)
        bucket = (u1 >> np.uint64(33)) % np.uint64(buckets)  # matches build side
        out = np.zeros(len(u1), dtype=np.float64)
        for b in np.unique(bucket):
            mask = bucket == b
            bf = BloomFilter(_bucket_bits(root, int(b)), m_bits, k, fpp)
            ok = bf.might_contain(u1[mask], u2[mask])
            out[mask] = np.where(ok, hit, 0.0)
        return pd.Series(out)

    spark.udf.register(f"q_bloom_{_sql_ident(name)}", probe)
    _mark_registered(spark, name, bb)
