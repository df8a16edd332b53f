"""Empirical store>>batch probe benchmark — VERDICT r06 next #8.

The bucketed key store's entire reason to exist is the regime where
the durable seen-key store dwarfs the micro-batch: the plain-path
store is re-shuffled AND re-sorted by the anti-join every batch, the
bucketed table reads back with HashPartitioning intact so only the
batch shuffles, and a compacted store (one sorted file per bucket)
skips the store-side Sort too. This script measures that as a number:
one micro-batch probe against an N-key store, plain vs bucketed vs
bucketed+compacted, plan-checked (the bucketed probe must show NO
Exchange on the store side).

Usage: python tools/store_probe_bench.py [--keys 20000000]
       [--batch 200000] [--buckets 64]
Prints one JSON line; paste the numbers into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def make_spark(warehouse: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("store-probe-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .getOrCreate()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=20_000_000)
    ap.add_argument("--batch", type=int, default=200_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--root", default="/tmp/qs_store_probe")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from quality_spark.streaming.recipes import (
        _anti_join_seen,
        _hash_and_batch_dedup,
        compact_key_store,
    )

    shutil.rmtree(args.root, ignore_errors=True)
    os.makedirs(args.root)
    spark = make_spark(os.path.join(args.root, "warehouse"))
    spark.sparkContext.setLogLevel("ERROR")
    hcol = "__qs_key_hash"

    # the durable seen-key set: N xxhash64 keys (the hash_only layout)
    keys = spark.range(args.keys).select(
        F.xxhash64(F.col("id").cast("string")).alias(hcol)
    )
    plain_path = os.path.join(args.root, "plain_store")
    keys.write.mode("overwrite").parquet(plain_path)
    table = "qs_probe_store"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        keys.write.mode("overwrite")
        .format("parquet")
        .bucketBy(args.buckets, hcol)
        .sortBy(hcol)
        .saveAsTable(table)
    )

    # a micro-batch: half replayed keys (dropped), half fresh
    batch = spark.range(args.batch).select(
        F.when(
            F.col("id") % 2 == 0, F.col("id").cast("string")
        ).otherwise(F.concat(F.lit("new-"), F.col("id").cast("string")))
        .alias("k")
    ).cache()
    batch.count()

    def probe(seen, nparts=None):
        hashed = _hash_and_batch_dedup(batch, ["k"], hcol, True,
                                       num_partitions=nparts)
        fresh = _anti_join_seen(hashed, seen.select(hcol), [hcol], True)
        t0 = time.perf_counter()
        fresh.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def timed_min2(seen, nparts=None):
        probe(seen, nparts)  # warm
        return round(min(probe(seen, nparts), probe(seen, nparts)), 3)

    results = {
        "keys": args.keys,
        "batch": args.batch,
        "buckets": args.buckets,
        "cpus": int(CPUS),
    }
    results["plain_s"] = timed_min2(spark.read.parquet(plain_path))
    results["bucketed_s"] = timed_min2(spark.table(table), args.buckets)
    compact_key_store(spark, table)
    results["compacted_s"] = timed_min2(spark.table(table), args.buckets)

    # plan pin: the bucketed probe must have no Exchange on the store
    # side — exactly one Exchange total (the batch side)
    hashed = _hash_and_batch_dedup(batch, ["k"], hcol, True,
                                   num_partitions=args.buckets)
    fresh = _anti_join_seen(
        hashed, spark.table(table).select(hcol), [hcol], True
    )
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    results["bucketed_exchanges"] = plan.count("Exchange hashpartitioning")
    fresh_p = _anti_join_seen(
        hashed, spark.read.parquet(plain_path).select(hcol), [hcol], True
    )
    plan_p = fresh_p._jdf.queryExecution().executedPlan().toString()
    results["plain_exchanges"] = plan_p.count("Exchange hashpartitioning")

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(args.root, ignore_errors=True)
    print(json.dumps(results, separators=(",", ":")))


if __name__ == "__main__":
    main()
