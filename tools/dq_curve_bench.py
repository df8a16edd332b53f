"""DQ suite-size eval curve — ONE methodology for every document.

VERDICT r07 #2: SURVEY/SCALE/BENCH quoted three different per-rule
eval numbers (flat ~9 ns vs 17 ns at 1000 rules) because they came
from different sessions/methodologies. This tool measures the
150/500/1000/2000-rule eval curve with EXACTLY bench.py's methodology
— same session config, same repartition(CPUS), same one-warmup
min-of-2 noop-sink eval, same baseline subtraction — and prints one
JSON table. SCALE.md and SURVEY.md quote THIS table; BENCH_r{N}'s
dq{150,500,1000}_eval keys are the same measurement run by the driver.

It also decomposes the biggest point: the STAGE-ONLY projection
(encoded rules -> INT columns, no struct assembly) is timed next to
the full staged pipeline, attributing any superlinear term to either
rule evaluation or the assemble-from-references step.

Run: python tools/dq_curve_bench.py   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS — defaults sf0.1 / 32)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def timed(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    from bench import gen_wide_suite, make_spark

    from quality_spark import add_data_quality
    from quality_spark.operators.runner import _encoded_sqls

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_rows = li.count()
    li = li.repartition(int(CPUS))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def eval_min2(df):
        noop(df)  # warmup
        return min(timed(lambda: noop(df)), timed(lambda: noop(df)))

    base = eval_min2(li)
    out = {
        "sf_dir": SF_DIR,
        "cpus": int(CPUS),
        "rows": n_rows,
        "baseline_eval_sec": round(base, 3),
        "points": [],
    }
    for n_rules in (150, 500, 1000, 2000):
        suite = gen_wide_suite(n_rules)
        dq = add_data_quality(li, suite)
        sec = eval_min2(dq)
        ns = (sec - base) * 1e9 / n_rows / n_rules
        out["points"].append(
            {
                "rules": n_rules,
                "eval_sec": round(sec, 3),
                "ns_per_row_rule": round(ns, 2),
            }
        )
        print(
            f"POINT rules={n_rules} eval={sec:.3f}s "
            f"ns/row/rule={ns:.2f}",
            file=sys.stderr,
        )

    # decomposition at the top point: stage-only vs full staged
    suite = gen_wide_suite(2000)
    enc = _encoded_sqls(suite, li)
    from pyspark.sql import functions as F

    flat = [s for ss in enc for s in ss]
    stage_only = li.select(
        "*",
        *[F.expr(s).cast("int").alias(f"__c{i}") for i, s in enumerate(flat)],
    )
    so = eval_min2(stage_only)
    full = eval_min2(add_data_quality(li, suite))
    out["decomposition_2000"] = {
        "stage_only_sec": round(so, 3),
        "full_sec": round(full, 3),
        "assembly_share": round(max(full - so, 0.0) / max(full - base, 1e-9), 3),
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
