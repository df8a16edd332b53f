"""Outside-in tracing: spans around the benchmark's own calls into each
layer, plus Spark's own counters read from the driver JVM.

Nothing here changes the library.  Spark numbers come from three
places that work with ``spark.ui.enabled=false``:

* a job group per op, resolved through the status tracker and the app
  status store (``lastStageAttempt``) for task counts, executor run
  time, GC time, I/O bytes and stage active intervals;
* ``CodeGenerator.compileTime`` and the ``CodegenMetrics`` histograms
  for Janino compile time, class count and generated method size;
* ``QueryExecution.executedPlan`` on the op's DataFrame for Catalyst
  planning time and plan size.

Spans are kept in memory and written once, at the end of a run.

``cpu_ticks`` reads the host's steal time: on a virtual machine, the
time the hypervisor ran other guests while this one had work to run.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    attrs: Dict[str, float] = field(default_factory=dict)


class Tracer:
    """Spans of one run.  When ``enabled`` is False every method is a
    cheap no-op, so the untraced path pays nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def check_nesting(self) -> List[str]:
        """Spans whose children together outlast them, or start before or
        end after them."""
        bad = []
        kids: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        for i, ks in kids.items():
            p = self.spans[i]
            if any(k.start < p.start or k.end > p.end for k in ks) or sum(
                k.end - k.start for k in ks
            ) > (p.end - p.start):
                bad.append(p.name)
        return bad

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, **s.attrs}
                    for s in self.spans
                ],
                f,
            )


class SparkProbe:
    """Reads Spark's counters for one op, identified by its job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiles = metrics.METRIC_COMPILATION_TIME()
        self._method_bytes = metrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE()

    def codegen_mark(self):
        return (
            self._codegen.compileTime(),
            self._compiles.getCount(),
            list(self._method_bytes.getSnapshot().getValues()),
        )

    def codegen_delta(self, mark) -> Dict[str, float]:
        t0, n0, v0 = mark
        t1, n1, v1 = self.codegen_mark()
        # the method-size histogram keeps a bounded sample; what it holds
        # now and did not hold before is this op's methods
        new = Counter(v1) - Counter(v0)
        return {
            "codegen.compile_s": (t1 - t0) / 1e9,
            "codegen.classes": float(n1 - n0),
            "codegen.max_method_bytes": float(max(new) if new else 0),
        }

    def plan(self, df) -> Dict[str, float]:
        """Catalyst optimisation and physical planning of ``df``'s
        not-yet-executed QueryExecution (analysis ran when the DataFrame
        was built)."""
        t0 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        dt = time.perf_counter() - t0
        return {"catalyst.plan_s": dt, "catalyst.plan_chars": float(len(plan.toString()))}

    def jobs(self, group: str, wall_start: float, wall_end: float) -> Dict[str, float]:
        """Job/stage/task counts, executor and GC time, I/O bytes, and the
        op's wall time with the part of it in which some stage was active
        (``wall_*`` are epoch seconds)."""
        out = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
             "spark.gc_s", "spark.input_bytes", "spark.output_bytes"), 0.0)
        intervals = []
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["spark.jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
                out["spark.input_bytes"] += st.inputBytes()
                out["spark.output_bytes"] += st.outputBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        out["spark.wall_s"] = wall_end - wall_start
        out["spark.stage_busy_s"] = _union(intervals, wall_start, wall_end)
        return out


def cpu_ticks() -> Tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from the ``cpu``
    line of /proc/stat; (0, 0) where there is no such file.  Busy counts
    user, nice, system, irq, softirq and steal time."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq + steal, steal


def steal_share(before: Tuple[int, int], after: Tuple[int, int]) -> float:
    """The share of busy CPU time stolen between two ``cpu_ticks``."""
    busy, stolen = (b - a for a, b in zip(before, after))
    return stolen / busy if busy > 0 else 0.0


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
