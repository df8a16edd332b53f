"""Broadcast map lookups and bloom-filter membership.

Reference surface: ``map_lookup``/``map_contains``
(impl/mapLookup/MapLookupExpression.scala:49-76, model.scala:17-82) and
``probability_in`` over blooms built with ``small_bloom``/``big_bloom``
(impl/bloom/BloomFilterExpression.scala:84-177, Parquet.scala:60-137).

Spark-first design:

- maps load driver-side (lookup tables are small by contract) and are
  emitted as MAP literals — pure JVM ``element_at``, no UDF, no join,
  works identically in batch/streaming. Large dimension joins should
  use a broadcast join instead (``lookup_join`` helper).
- blooms hash JVM-side with two ``xxhash64`` seeds (double hashing
  g_i = h1 + i*h2); bit-set building is a vectorized numpy pass per
  partition via ``mapInPandas``, partials OR-merged on the driver.
  Probing broadcasts the byte array and checks k bits per row in a
  vectorized pandas UDF registered as ``q_bloom_<name>`` so rule SQL
  text can call ``probability_in(expr, 'name')``. At 1000-executor
  scale the bytes travel once per executor (Spark broadcast), exactly
  like the reference's driver-built bloom maps.
"""

from __future__ import annotations

import math
import weakref
from dataclasses import dataclass
from typing import Dict, Iterator, Optional, Tuple, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsio import _active_spark

# ---------------------------------------------------------------------------
# Map lookups
# ---------------------------------------------------------------------------

_MAP_REGISTRY: Dict[str, Tuple[Dict, str]] = {}  # name -> (dict, value_ddl)

#: up to this many entries the lookup inlines as a MAP literal
#: (codegen'd GetMapValue — fastest, but the literal lives in the plan
#: text); past it the lookup compiles to a vectorized pandas UDF whose
#: dict ships once per executor via closure broadcast, keeping the plan
#: metadata-sized however big the map is.
MAP_LITERAL_MAX = 10_000


def _sql_literal(v) -> str:
    import datetime
    import decimal
    import math as _math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):
        # repr(nan/inf) is not SQL; Spark & DuckDB both accept the cast
        if _math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if _math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return f"{v}BD"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP'{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE'{v.isoformat()}'"
    raise ValueError(f"unsupported literal type {type(v)} for map lookup")


def _infer_value_ddl(mapping: Dict) -> str:
    for v in mapping.values():
        if v is None:
            continue
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, int):
            return "bigint"
        if isinstance(v, float):
            return "double"
        return "string"
    return "string"


def _sql_ident(name: str) -> str:
    """Map an arbitrary registry name to a valid SQL function-name
    suffix (user map/bloom names like 'nations-low' must still produce
    parseable generated SQL)."""
    import re as _re

    return _re.sub(r"\W", "_", name)


def register_map_lookup(
    name: str,
    mapping: Dict,
    value_ddl: Optional[str] = None,
    spark: Optional[SparkSession] = None,
) -> None:
    mapping = dict(mapping)
    if len(mapping) > MAP_LITERAL_MAX:
        spark = spark or _active_spark()
        if spark is None:
            raise ValueError(
                f"map {name!r} has {len(mapping)} entries (> {MAP_LITERAL_MAX}); "
                "the UDF-backed lookup needs an active SparkSession — pass spark="
            )
        ddl = value_ddl or _infer_value_ddl(mapping)

        @F.pandas_udf(ddl)
        def probe(keys: pd.Series) -> pd.Series:
            got = keys.map(mapping)
            # object dtype with None, not NaN: integer/bool targets
            # reject non-finite floats on the Arrow conversion
            return got.astype(object).where(pd.notna(got), None)

        key_set = frozenset(mapping)

        @F.pandas_udf("boolean")
        def has(keys: pd.Series) -> pd.Series:
            return keys.map(lambda k: k in key_set)

        spark.udf.register(f"q_map_{_sql_ident(name)}", probe)
        spark.udf.register(f"q_map_has_{_sql_ident(name)}", has)
        _MAP_REGISTRY[name] = (mapping, f"__udf:{ddl}")
    else:
        _MAP_REGISTRY[name] = (mapping, value_ddl or "")


def load_maps(
    spark: SparkSession, configs: DataFrame | list
) -> None:
    """Load lookup maps from a config frame with columns
    (name, sql | token, key, value) — reference loadMapConfigs/loadMaps
    (impl/mapLookup/model.scala:44-82). ``sql`` runs and its (key, value)
    expressions are collected driver-side."""
    rows = configs.collect() if isinstance(configs, DataFrame) else configs
    for row in rows:
        src = spark.sql(row["sql"]) if row["sql"] else spark.table(row["token"])
        kv = src.select(
            F.expr(row["key"]).alias("k"), F.expr(row["value"]).alias("v")
        )
        value_ddl = kv.schema.fields[1].dataType.simpleString()
        mapping = {r["k"]: r["v"] for r in kv.collect()}
        register_map_lookup(row["name"], mapping, value_ddl)


def _map_entry(name: str) -> Tuple[Dict, str]:
    if name not in _MAP_REGISTRY:
        raise KeyError(
            f"map lookup {name!r} not registered; call register_map_lookup/load_maps"
        )
    return _MAP_REGISTRY[name]


def _map_literal_sql(name: str) -> str:
    mapping, value_ddl = _map_entry(name)
    if not mapping:
        return f"CAST(map() AS MAP<STRING,{value_ddl or 'STRING'}>)"
    parts = []
    for k, v in mapping.items():
        parts.append(f"{_sql_literal(k)}, {_sql_literal(v)}")
    return f"map({', '.join(parts)})"


def map_lookup_sql(name: str, key_sql: str) -> str:
    _, value_ddl = _map_entry(name)
    if value_ddl.startswith("__udf:"):
        return f"q_map_{_sql_ident(name)}(({key_sql}))"
    return f"element_at({_map_literal_sql(name)}, ({key_sql}))"


def map_contains_sql(name: str, key_sql: str) -> str:
    """KEY membership, not value-is-not-null: a key mapped to NULL is
    still contained (reference mapContains checks presence)."""
    mapping, value_ddl = _map_entry(name)
    if value_ddl.startswith("__udf:"):
        return f"q_map_has_{_sql_ident(name)}(({key_sql}))"
    return f"array_contains(map_keys({_map_literal_sql(name)}), ({key_sql}))"


def map_lookup(name: str, key: Union[Column, str]) -> Column:
    key_sql = key if isinstance(key, str) else _col_sql(key)
    return F.expr(map_lookup_sql(name, key_sql))


def map_contains(name: str, key: Union[Column, str]) -> Column:
    key_sql = key if isinstance(key, str) else _col_sql(key)
    return F.expr(map_contains_sql(name, key_sql))


def lookup_join(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str,
    value: str,
    out: str,
) -> DataFrame:
    """Broadcast-join lookup for dimensions too large for a literal map
    — the 100 TB-scale path (broadcast hash join, no shuffle of df)."""
    d = F.broadcast(dim.select(F.col(dim_key).alias("__k"), F.col(value).alias(out)))
    return df.join(d, df[key] == d["__k"], "left").drop("__k")


from ..expr import sql_of_column as _col_sql  # canonical bridge


# ---------------------------------------------------------------------------
# Bloom filters
# ---------------------------------------------------------------------------

_H1_SEED = 0x9747B28C
_H2_SEED = 0x41C64E6D


@dataclass
class BloomFilter:
    """Double-hashed bloom: bit i of ``bits`` set for g = h1 + j*h2 (mod m)."""

    bits: np.ndarray  # uint8 array of m_bits/8 bytes
    m_bits: int
    k: int
    fpp: float

    @staticmethod
    def params(expected: int, fpp: float) -> Tuple[int, int]:
        m = max(64, int(math.ceil(-expected * math.log(fpp) / (math.log(2) ** 2))))
        m = (m + 7) // 8 * 8
        k = max(1, int(round(m / expected * math.log(2)))) if expected else 1
        return m, k

    def indices(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) bit positions for rows of h1/h2 (uint64 views).

        Overflow-free double hashing: g_j = (h1%m + j*(h2%m)) % m. Both
        operands are reduced mod m FIRST, so every intermediate stays
        below k*m << 2^63."""
        m = np.uint64(self.m_bits)
        ks = np.arange(self.k, dtype=np.uint64)
        g = (h1 % m)[:, None] + ks[None, :] * (h2 % m)[:, None]
        return (g % m).astype(np.int64)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        idx = self.indices(h1, h2).ravel()
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def might_contain(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        idx = self.indices(h1, h2)
        present = (self.bits[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
        return present.all(axis=1)


def _hash_cols(expr_sql: str) -> list:
    e = F.expr(expr_sql).cast("string")
    return [
        F.xxhash64(e, F.lit(_H1_SEED)).alias("__h1"),
        F.xxhash64(e, F.lit(_H2_SEED)).alias("__h2"),
    ]


def bloom_from(
    df: DataFrame, expr_sql: str, expected: int, fpp: float = 0.01
) -> BloomFilter:
    """Build a bloom over ``expr_sql`` values: hashes JVM-side, one
    numpy bitset per partition via mapInPandas, OR-merged on the driver
    (streamed — one partial in memory at a time)."""
    m_bits, k = BloomFilter.params(expected, fpp)
    hashed = df.select(*_hash_cols(expr_sql))
    n_bytes = m_bits // 8

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter(np.zeros(n_bytes, dtype=np.uint8), m_bits, k, fpp)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                h1 = pdf["__h1"].to_numpy().astype(np.int64).view(np.uint64)
                h2 = pdf["__h2"].to_numpy().astype(np.int64).view(np.uint64)
                bf.add_hashes(h1, h2)
        if any_rows:
            yield pd.DataFrame({"bits": [bf.bits.tobytes()]})

    partials = hashed.mapInPandas(build, schema="bits binary")
    merged = np.zeros(n_bytes, dtype=np.uint8)
    # toLocalIterator schedules ONE SEQUENTIAL JOB PER PARTITION (each
    # re-running its scan split) — measured 17-26 s for a 24 KB bloom
    # over 32 partitions. Collect in one parallel job when the DRIVER
    # can hold every partial at once (partitions × bitset bounded);
    # otherwise keep the streamed one-partial-at-a-time path.
    n_parts = max(hashed.rdd.getNumPartitions(), 1)
    if n_bytes * n_parts <= 256 << 20:
        for row in partials.collect():
            merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    else:
        for row in partials.toLocalIterator():
            merged |= np.frombuffer(row["bits"], dtype=np.uint8)
    return BloomFilter(merged, m_bits, k, fpp)


_BLOOM_REGISTRY: Dict[str, BloomFilter] = {}

#: (session-id, name) -> (session weakref, bloom weakref).  The
#: weakrefs guard against CPython id() recycling: if the session (or
#: bloom) that created an entry was garbage-collected and a NEW object
#: reuses the same id(), the dead entry must not shadow it — the new
#: session never received the UDF (ADVICE r5 low).
_BLOOM_REGISTERED: Dict[tuple, tuple] = {}


def _registered(spark: SparkSession, name: str, handle) -> bool:
    """Whether ``handle`` is already registered as ``name`` in this
    live session (probe-many callers re-register defensively; UDF
    creation + catalog write cost ~0.2 s)."""
    prior = _BLOOM_REGISTERED.get((id(spark), name))
    return prior is not None and prior[0]() is spark and prior[1]() is handle


def _mark_registered(spark: SparkSession, name: str, handle) -> None:
    _BLOOM_REGISTRY[name] = handle
    _BLOOM_REGISTERED[(id(spark), name)] = (weakref.ref(spark), weakref.ref(handle))


def register_bloom(spark: SparkSession, name: str, bf: BloomFilter) -> None:
    """Register for Column + SQL-text use: ``probability_in(x, 'name')``
    probes through an Arrow-vectorized pandas UDF over JVM-computed
    xxhash64 pairs (the bitset test is one vectorized numpy gather per
    batch). Idempotent per session and bloom."""
    if _registered(spark, name, bf):
        return
    bits, m_bits, k, fpp = bf.bits, bf.m_bits, bf.k, bf.fpp
    hit = 1.0 - fpp

    @F.pandas_udf("double")
    def probe_udf(h1: pd.Series, h2: pd.Series) -> pd.Series:
        local = BloomFilter(np.frombuffer(bits.tobytes(), dtype=np.uint8), m_bits, k, fpp)
        u1 = h1.to_numpy().astype(np.int64).view(np.uint64)
        u2 = h2.to_numpy().astype(np.int64).view(np.uint64)
        ok = local.might_contain(u1, u2)
        return pd.Series(np.where(ok, hit, 0.0))

    spark.udf.register(f"q_bloom_{_sql_ident(name)}", probe_udf)
    _mark_registered(spark, name, bf)


def load_blooms(spark: SparkSession, configs: DataFrame | list) -> None:
    """Config rows (name, sql | token, value, numberOfElements,
    expectedFPP[, bigBloom]) → build + register (reference:
    impl/bloom/model.scala:149-177; the bigBloom flag at :152,165
    selects the bucketed file-backed build)."""
    rows = configs.collect() if isinstance(configs, DataFrame) else configs
    for row in rows:
        src = spark.sql(row["sql"]) if row["sql"] else spark.table(row["token"])
        try:
            big = bool(row["bigBloom"])
        except (KeyError, ValueError, IndexError, TypeError):
            big = False
        if big:
            import os

            from .bigbloom import big_bloom_from, bloom_file_location, register_big_bloom

            root = os.path.join(bloom_file_location(), str(row["name"]))
            bb = big_bloom_from(
                src, row["value"], row["numberOfElements"], root,
                row["expectedFPP"],
            )
            register_big_bloom(spark, row["name"], bb)
        else:
            bf = bloom_from(
                src, row["value"], row["numberOfElements"], row["expectedFPP"]
            )
            register_bloom(spark, row["name"], bf)


def probability_in_sql(expr_sql: str, name: str) -> str:
    if name not in _BLOOM_REGISTRY:
        raise KeyError(f"bloom {name!r} not registered; call register_bloom/load_blooms")
    e = f"CAST(({expr_sql}) AS STRING)"
    return (
        f"q_bloom_{_sql_ident(name)}(xxhash64({e}, {_H1_SEED}), xxhash64({e}, {_H2_SEED}))"
    )


def probability_in(expr: Union[Column, str], name: str) -> Column:
    e = expr if isinstance(expr, str) else _col_sql(expr)
    return F.expr(probability_in_sql(e, name))


def save_bloom(bf: BloomFilter, path: str) -> None:
    """Persist to a directory (shared storage at scale — the big-bloom
    file layout, reference BloomModel.scala:36-99). Round 12: I/O goes
    through `sources.fsio`, so the path may live on any Hadoop
    filesystem (file://, hdfs://, s3a://, …) — small blooms are
    driver-sized, so the bits travel as one buffer."""
    import io

    from . import fsio

    fsio.makedirs(path)
    fsio.write_json(
        fsio.join(path, "meta.json"),
        {"m_bits": bf.m_bits, "k": bf.k, "fpp": bf.fpp},
    )
    buf = io.BytesIO()
    np.save(buf, bf.bits)
    fsio.write_bytes(fsio.join(path, "bits.npy"), buf.getvalue())


def load_bloom(path: str) -> BloomFilter:
    import io

    from . import fsio

    meta = fsio.read_json(fsio.join(path, "meta.json"))
    bits = np.load(io.BytesIO(fsio.read_bytes(fsio.join(path, "bits.npy"))))
    return BloomFilter(bits, meta["m_bits"], meta["k"], meta["fpp"])


# ---------------------------------------------------------------------------
# Bloom aggregate wire format — the binary value a small_bloom/big_bloom
# SQL aggregate evaluates to (reference: the serialized bloom bytes of
# impl/bloom/Parquet.scala:60-137; this engine defines its own header +
# payload layout). Small blooms carry the whole bitset; big blooms carry
# only the file-root handle (the bitsets stay on shared storage).
# ---------------------------------------------------------------------------

_SMALL_BLOOM_MAGIC = b"QSBF1\x00"
_BIG_BLOOM_MAGIC = b"QSBB1\x00"


def serialize_bloom(bf: BloomFilter) -> bytes:
    import json

    header = json.dumps(
        {"m_bits": bf.m_bits, "k": bf.k, "fpp": bf.fpp}
    ).encode("utf-8")
    return (
        _SMALL_BLOOM_MAGIC
        + len(header).to_bytes(4, "big")
        + header
        + bf.bits.tobytes()
    )


def serialize_big_bloom(bb) -> bytes:
    import json

    header = json.dumps(
        {
            "root": bb.root,
            "buckets": bb.buckets,
            "m_bits": bb.m_bits,
            "k": bb.k,
            "fpp": bb.fpp,
        }
    ).encode("utf-8")
    return _BIG_BLOOM_MAGIC + len(header).to_bytes(4, "big") + header


def bloom_lookup(data: bytes):
    """Deserialize a small/big bloom aggregate value into a probe-able
    handle — ``BloomFilter`` or ``BigBloom`` (reference ``bloomLookup``,
    impl/bloom/BloomFilterLookupImports.scala:138-190). Pair with
    ``register_bloom_bytes`` for SQL-text probing."""
    import json

    data = bytes(data)
    magic, rest = data[:6], data[6:]
    hlen = int.from_bytes(rest[:4], "big")
    meta = json.loads(rest[4 : 4 + hlen].decode("utf-8"))
    if magic == _SMALL_BLOOM_MAGIC:
        bits = np.frombuffer(data[10 + hlen :], dtype=np.uint8).copy()
        return BloomFilter(bits, meta["m_bits"], meta["k"], meta["fpp"])
    if magic == _BIG_BLOOM_MAGIC:
        from .bigbloom import BigBloom

        return BigBloom(
            meta["root"], meta["buckets"], meta["m_bits"], meta["k"], meta["fpp"]
        )
    raise ValueError(f"not a serialized bloom (magic {magic!r})")


def register_bloom_bytes(spark: SparkSession, name: str, data: bytes) -> None:
    """``bloom_lookup`` + registration under ``name`` so rule SQL can
    call ``probability_in(x, 'name')``."""
    handle = bloom_lookup(data)
    if isinstance(handle, BloomFilter):
        register_bloom(spark, name, handle)
    else:
        from .bigbloom import register_big_bloom

        register_big_bloom(spark, name, handle)
