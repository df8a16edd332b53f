"""Capture .explain("formatted") for every declared query into
plans/r13/<query>_<suffix>.txt (guide §1.3 — plan evidence the judge
can read without running Spark).

Usage: python tools/capture_plans.py [--suffix after] [--only q1,q2]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the cores this process may run on) — same
session shape as bench.py.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import bench
    import __spark_entry__ as entry

    spark = bench.make_spark()
    qs = entry.queries()
    only = {s for s in args.only.split(",") if s}
    out_dir = os.path.join(REPO, "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        dt = time.perf_counter() - t0
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        text = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(
                f"-- query: {name}  (construct {dt:.2f}s, plan captured"
                f" at sf{os.path.basename(SF_DIR).lstrip('sf')})\n"
            )
            f.write(text)
        print(f"{name}: {dt:.2f}s -> {path}", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
