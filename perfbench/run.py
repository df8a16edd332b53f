"""Seeded benchmark of the quality_spark rule engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dq_batch --seed 1 --seconds 20 --trace 0

Prints one line per metric, then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-ups per run; ``setup_s`` is their median.  The first one also
#: launches the JVM; the later ones stop the SparkSession and start a new
#: one in the same JVM, so the median is a warm session restart plus input
#: generation.  The first one is printed as ``setup_first_s``.
SETUPS = 3


def cycles(seconds: float, nominal_cycle_s: float) -> int:
    """Measured cycles in a run: as many as fill ``seconds`` at the
    workload's nominal cycle time (4 cores, 2026), at least 2."""
    return max(2, round(seconds / nominal_cycle_s))


def spark_conf(workdir: str) -> dict:
    """Settings pinned for both sides of an A/B."""
    cores = min(os.cpu_count() or 1, 4)
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.ansi.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(workdir: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in spark_conf(workdir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list:
    """Pids of every live process below ``pid``, read from /proc."""
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; the ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the Py4J gateway JVM and every process below this one, and
    wait until each has ended.  ``SparkSession.stop`` leaves the JVM
    running until this process exits, and it then ends on its own after
    the exit; a benchmark must not leave it behind."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway exits when its stdin closes
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while alive(p):
                time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def end_to_end_metrics(ops, setups, rss_mb: float) -> dict:
    """The metrics of an untraced run: name -> (value, unit)."""
    import workloads as W

    out = W.end_to_end(ops)
    out["peak_rss_mb"] = (rss_mb, "MB")
    out["setup_s"] = (statistics.median(setups), "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import quality_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import quality_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    import workloads as W
    from probes import Tracer

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    # a SIGTERM ends the run through the ``finally`` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    workdir = os.path.join(os.getcwd(), ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        wl = W.WORKLOADS[args.workload](args.seed)
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(workdir)
            d = os.path.join(workdir, f"in{i}")
            os.makedirs(d)
            wl.setup(d)
            setups.append(time.perf_counter() - t0)
        wl.prepare()
        t_ready = time.perf_counter()

        b = W.Bench(spark, workdir, Tracer(bool(args.trace)))
        # A fixed schedule: the JVM is still warming up during a run this
        # short, and every run following the same schedule keeps runs
        # comparable.  Warm-up cycles are numbered below 0, checked but
        # not measured.  A traced run alternates untraced and traced
        # cycles, U T U for 2 cycles, so the tracing overhead is measured
        # on the same run and the JVM's warm-up trend falls on both sides
        # alike.
        for _ in range(wl.warmup_cycles):
            b.cycle -= 1
            wl.cycle(b)
        t_warm = time.perf_counter()
        n = cycles(args.seconds, wl.nominal_cycle_s)
        for cycle in range(2 * n - 1 if args.trace else n):
            b.cycle, b.traced = cycle, bool(args.trace) and cycle % 2 == 1
            wl.cycle(b)
        b.traced = False
        rss = peak_rss_mb(spark)
        t_measured = time.perf_counter()
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    print(f"phases setups={setups} ready_s={t_ready - t_start:.2f} "
          f"warmup_s={t_warm - t_ready:.2f} measured_s={t_measured - t_warm:.2f} "
          f"stop_s={time.perf_counter() - t_measured:.2f}")

    ops = [o for o in b.ops if o.cycle >= 0]
    e2e = end_to_end_metrics(ops, setups, rss)
    attempted = len(ops) + len([o for o in b.ops if o.cycle < 0])
    for err in b.errors:
        print(f"MISMATCH {err}")
    for c in sorted({o.cycle for o in ops}):
        cyc = [o for o in ops if o.cycle == c]
        print(f"cycle {c} traced={int(cyc[0].traced)} wall_s={sum(o.wall_s for o in cyc):.3f} "
              f"compile_s={sum(o.compile_s for o in cyc):.3f} action_s={sum(o.action_s for o in cyc):.3f} "
              + " ".join(f"{o.name}={o.wall_s:.3f}" for o in cyc if o.name in W.SHOWN_OPS))
    shown = dict(e2e)
    shown.update(wl.details(ops))
    shown["setup_first_s"] = (setups[0], "s")
    shown.update(W.host(ops))
    shown["failed_op_share"] = (b.failed_ops / max(attempted, 1), "share")
    if args.trace:
        layers = W.per_layer(ops)
        shown.update(layers)
        shown.update(W.per_op(ops))
        b.tracer.dump(os.path.join(os.getcwd(), ".perfbench_tmp",
                                   f"spans-{args.workload}-{args.seed}.json"))
        bad = b.tracer.check_nesting()
        print(f"spans {len(b.tracer.spans)}: children outside or longer than their "
              f"parent: {bad[:5] if bad else 'none'}")
    for k, (v, unit) in shown.items():
        print(f"{args.workload} {k} {v:.6g} {unit}")
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": not b.errors,
        "attempted": attempted,
        "failed": b.failed_ops,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
