"""Benchmark harness — mirrors the reference's methodology
(BASELINE.md, scalameter in PerRowPerfTest.scala:94-147: warm-ups,
then a fixed number of timed runs per benchmark). Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
and writes the full record to ``bench_detail.json``.

Keys. One table maps every key to a thunk returning
``(construct_s, run_s)``:

- ``baseline_write`` / ``baseline_eval``: lineitem written to parquet
  with no rules (reference evaluation_method.md:35), and the same rows
  through a noop sink, so eval keys separate per-rule cost from the
  result-width write;
- ``dq{27,150,500,1000}_{compile,write,eval}``: ``add_data_quality``
  build, parquet write and noop-sink eval for the 27-rule fixture suite
  and the generated 150/500/1000-rule suites. There is no
  ``dq1000_write``: at 1000 result columns it times parquet encoding
  width, not rule evaluation;
- every ``queries()`` gate: construction (some gates do their real work
  eagerly) then a noop-format write, which materialises every column;
- every ``query_legs()`` leg, as ``<gate>.<leg>``: the gate built with
  only that leg.

lineitem is repartitioned to the core count inside the timed region:
the sf0.1 file has 3 row groups, so the scan alone would use 3 cores.

``shared_stream_startup`` is the gates' one concurrent streaming run.
It is memoized per session, so it gets a single timed sample, taken
before the passes.

Passes. One unclocked warm pass over every key pays first-time costs
(staging, bloom builds, codegen), then ``K`` clocked passes run over
every key in table order. The passes are interleaved, so a slow phase
of the box hits every key alike.

Values. Each key records its samples, their median and their spread
(max - min). A key's value is its median. The headline ``value`` is the
sum of the non-leg keys' values: a leg re-times part of its gate.

Prior. The prior is the ``bench_detail.json`` already on disk, read
before this run overwrites it. It is compared only when its ``cpus``
and ``sf`` equal this run's and it carries per-key samples; otherwise
the record says ``"vs": null`` and flags nothing.

Flags. The box factor ``b`` is the median, over compared keys with a
prior median of at least 0.2 s, of ``median_now / median_prior``. A
key is flagged when every current sample divided by ``b`` exceeds 1.3x
its prior median.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the cores this process may run on).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
HERE = os.path.dirname(os.path.abspath(__file__))
DETAIL = os.path.join(HERE, "bench_detail.json")
STARTUP = "shared_stream_startup"
#: clocked passes per key, after one unclocked warm pass
K = 3
#: keys with a prior median below this are compared but never flagged
MIN_PRIOR_S = 0.2
#: a key is flagged when every box-normalised sample exceeds this x its
#: prior median
FLAG_RATIO = 1.3


def make_spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("quality-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .getOrCreate()
    )


def gen_wide_suite(n_rules: int):
    """Parametric rule generation over lineitem columns — the
    reference's genRules pattern (PerRowPerfTest.scala:49-91)."""
    from quality_spark import rule_suite

    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    ]
    rules = []
    for i in range(n_rules):
        c = cols[i % len(cols)]
        rules.append(((1000 + i, 1), f"({c} % {2 + (i % 7)}) >= 0 OR {c} IS NULL"))
    return rule_suite((90, 1), [((1, 1), rules)])


def timed(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def gen_suite27():
    """The 27-rule suite: ~3.4 copies of the 8-rule fixture suite."""
    import __spark_entry__ as entrymod
    from quality_spark import rule_suite as _rs

    sets: dict = {}
    for rep in range(4):
        for set_id, rule_id, kind, sql in entrymod.RULE_SPECS[
            : (8 if rep < 3 else 3)
        ]:
            sets.setdefault((set_id[0] + rep * 100, set_id[1]), []).append(
                (
                    (rule_id[0] + rep * 1000, rule_id[1]),
                    entrymod._spark_rule_text(kind, sql),
                )
            )
    return _rs((91, 1), list(sets.items()), lambdas=entrymod.LAMBDAS)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_only(fn):
    """A thunk timing ``fn`` as run time, with no construction."""
    return lambda: (0.0, timed(fn))


def built_then_written(build):
    """A thunk timing ``build()`` as construction, then its noop write."""

    def thunk():
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        noop_write(df)
        return t1 - t0, time.perf_counter() - t1

    return thunk


def key_table(spark, tmp: str) -> dict:
    """Every bench key -> thunk returning ``(construct_s, run_s)``, in
    pass order. Building the table runs nothing: the lineitem frame,
    the suites and the DQ frames are made on a thunk's first call."""
    import __spark_entry__ as entrymod
    from quality_spark import add_data_quality

    @functools.cache
    def lineitem():
        return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(
            int(CPUS)
        )

    @functools.cache
    def suite(n: int):
        return gen_suite27() if n == 27 else gen_wide_suite(n)

    @functools.cache
    def dq(n: int):
        return add_data_quality(lineitem(), suite(n))

    table = {
        "baseline_write": run_only(
            lambda: lineitem().write.mode("overwrite").parquet(f"{tmp}/base")
        ),
        "baseline_eval": run_only(lambda: noop_write(lineitem())),
    }
    for n in (27, 150, 500, 1000):
        table[f"dq{n}_compile"] = lambda n=n: (
            timed(lambda: add_data_quality(lineitem(), suite(n))), 0.0
        )
        if n < 1000:
            table[f"dq{n}_write"] = run_only(
                lambda n=n: dq(n).write.mode("overwrite").parquet(f"{tmp}/dq{n}")
            )
        table[f"dq{n}_eval"] = run_only(lambda n=n: noop_write(dq(n)))
    for name, q in entrymod.queries().items():
        table[name] = built_then_written(functools.partial(q, spark, SF_DIR))
    for gate, legs in entrymod.query_legs().items():
        for leg, q in legs.items():
            table[f"{gate}.{leg}"] = built_then_written(
                functools.partial(q, spark, SF_DIR)
            )
    return table


def sample(table: dict, k: int = K) -> dict:
    """One unclocked warm pass, then ``k`` clocked passes over every
    key in table order: ``{key: [(construct_s, run_s), ...]}``."""
    for thunk in table.values():
        thunk()
    out: dict = {name: [] for name in table}
    for _ in range(k):
        for name, thunk in table.items():
            out[name].append(thunk())
    return out


def summarize(samples: list) -> dict:
    """Per-key record from ``[(construct_s, run_s), ...]``."""
    totals = [c + r for c, r in samples]
    return {
        "samples": [round(t, 4) for t in totals],
        "median": round(statistics.median(totals), 4),
        "spread": round(max(totals) - min(totals), 4),
        "construct": round(statistics.median(c for c, _ in samples), 4),
    }


def compare(keys: dict, prior, cpus: int, sf: float) -> dict:
    """Judge this run's per-key records against a prior record.

    Returns ``{"vs", "b", "flags"}``. The prior counts only when its
    ``cpus`` and ``sf`` match and it carries per-key samples; otherwise
    ``vs`` is None and nothing is flagged."""
    prior_keys = (prior or {}).get("keys") or {}
    if (
        not prior_keys
        or prior.get("cpus") != cpus
        or prior.get("sf") != sf
        or not all(p.get("samples") for p in prior_keys.values())
    ):
        return {"vs": None, "b": None, "flags": []}
    common = [
        k for k in keys
        if k in prior_keys and prior_keys[k]["median"] >= MIN_PRIOR_S
    ]
    vs = {f: prior.get(f) for f in ("git_head", "measured_at")}
    if not common:
        return {"vs": vs, "b": None, "flags": []}
    b = statistics.median(
        keys[k]["median"] / prior_keys[k]["median"] for k in common
    )
    flags = [
        k for k in common
        if all(
            s / b > FLAG_RATIO * prior_keys[k]["median"]
            for s in keys[k]["samples"]
        )
    ]
    return {"vs": vs, "b": round(b, 4), "flags": flags}


def _isolated_measure(name: str) -> float:
    """The median of ONE bench key, measured in this process's own
    session with the same table and sampler as ``main``."""
    import __spark_entry__ as entrymod

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if name == STARTUP:
        return timed(lambda: entrymod._shared_streams(spark, SF_DIR))
    tmp = tempfile.mkdtemp(prefix="qs_bench_")
    try:
        thunk = key_table(spark, tmp)[name]
        return summarize(sample({name: thunk})[name])["median"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def git_head():
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=HERE, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        return None


def main() -> None:
    import __spark_entry__ as entrymod

    try:
        with open(DETAIL) as fh:
            prior = json.load(fh)
    except (OSError, ValueError):
        prior = None
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        # a dir name without an sf<number> suffix must not discard the
        # whole run's measurements at the final print
        sf = 0.0

    spark = make_spark()
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="qs_bench_")
    try:
        n_rows = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
        t_startup = timed(lambda: entrymod._shared_streams(spark, SF_DIR))
        table = key_table(spark, tmp)
        sampled = sample(table)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    keys = {STARTUP: summarize([(0.0, t_startup)])}
    keys.update((name, summarize(s)) for name, s in sampled.items())

    legs = {
        gate: {leg: keys[f"{gate}.{leg}"]["median"] for leg in by_leg}
        for gate, by_leg in entrymod.query_legs().items()
    }
    leg_keys = {f"{gate}.{leg}" for gate, by_leg in legs.items() for leg in by_leg}
    results = {k: v["median"] for k, v in keys.items() if k not in leg_keys}
    total = round(sum(results.values()), 3)
    # derived per-row overheads in ms, reference style; the _eval
    # variants subtract the no-write noop baseline
    for n in (27, 150, 500, 1000):
        if f"dq{n}_write" in results:
            results[f"dq{n}_overhead_ms_per_row"] = (
                (results[f"dq{n}_write"] - results["baseline_write"])
                * 1000.0 / n_rows
            )
        results[f"dq{n}_eval_ms_per_row"] = (
            (results[f"dq{n}_eval"] - results["baseline_eval"])
            * 1000.0 / n_rows
        )
    gates = entrymod.queries()

    detail = {
        "metric": "quality_spark_bench_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in results.items()},
        "construct": {k: keys[k]["construct"] for k in gates},
        "legs": legs,
        "passes": K,
        "keys": keys,
        **compare(keys, prior, int(CPUS), sf),
        "sf": sf,
        "rows": n_rows,
        "cpus": int(CPUS),
        "git_head": git_head(),
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(DETAIL, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")

    # Stdout gets ONE compact line, printed LAST: the captured tail
    # keeps only the last ~4 KB, so the full record goes to the file
    compact = {
        "metric": "quality_spark_bench_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in results.items()},
        "sf": sf,
        "rows": n_rows,
    }
    line = json.dumps(compact, separators=(",", ":"))
    # if the line ever outgrows a conservative tail budget, drop to the
    # headline keys (full detail is in bench_detail.json)
    if len(line) > 3500:
        compact["queries"] = {
            k: round(v, 3) for k, v in results.items()
            if k.startswith(("baseline", "dq27", "dq150", "dq500", "dq1000"))
        }
        compact["queries_truncated_see"] = "bench_detail.json"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
