"""DQ suite-size eval curve — ONE methodology for every document.

VERDICT r07 #2: SURVEY/SCALE/BENCH quoted three different per-rule
eval numbers (flat ~9 ns vs 17 ns at 1000 rules) because they came
from different sessions/methodologies. This tool measures the
150/500/1000/2000-rule eval curve with bench.py's own session, key
thunks and sampler (one warm pass, then the median of ``bench.K``
interleaved noop-sink passes, with baseline subtraction) and prints
one JSON table. SCALE.md and SURVEY.md quote THIS table; the bench's
dq{150,500,1000}_eval keys are the same measurement.

It also decomposes the biggest point: the STAGE-ONLY projection
(encoded rules -> INT columns, no struct assembly) is timed next to
the full staged pipeline, attributing any superlinear term to either
rule evaluation or the assemble-from-references step.

Run: python tools/dq_curve_bench.py   (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS — defaults sf0.1 / the cores this process may use)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RULES = (150, 500, 1000, 2000)


def main() -> None:
    import bench
    from pyspark.sql import functions as F

    from quality_spark import add_data_quality
    from quality_spark.operators.runner import _encoded_sqls

    spark = bench.make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{bench.SF_DIR}/lineitem.parquet")
    n_rows = li.count()
    li = li.repartition(int(bench.CPUS))

    def evals(df):
        return bench.run_only(lambda: bench.noop_write(df))

    # decomposition at the top point: stage-only vs full staged
    flat = [s for ss in _encoded_sqls(bench.gen_wide_suite(RULES[-1]), li) for s in ss]
    stage_only = li.select(
        "*",
        *[F.expr(s).cast("int").alias(f"__c{i}") for i, s in enumerate(flat)],
    )
    table = {"baseline": evals(li)}
    table.update(
        (n, evals(add_data_quality(li, bench.gen_wide_suite(n)))) for n in RULES
    )
    table["stage_only"] = evals(stage_only)
    sec = {
        k: bench.summarize(v)["median"] for k, v in bench.sample(table).items()
    }
    base = sec["baseline"]
    out = {
        "sf_dir": bench.SF_DIR,
        "cpus": int(bench.CPUS),
        "rows": n_rows,
        "passes": bench.K,
        "baseline_eval_sec": round(base, 3),
        "points": [
            {
                "rules": n,
                "eval_sec": round(sec[n], 3),
                "ns_per_row_rule": round((sec[n] - base) * 1e9 / n_rows / n, 2),
            }
            for n in RULES
        ],
    }
    so, full = sec["stage_only"], sec[RULES[-1]]
    out["decomposition_2000"] = {
        "stage_only_sec": round(so, 3),
        "full_sec": round(full, 3),
        "assembly_share": round(max(full - so, 0.0) / max(full - base, 1e-9), 3),
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
