"""The workloads.  Each is a closed loop of *cycles* run by one
client; a cycle is a fixed list of ops, and every op's result is
checked against the numpy oracle before the next op starts.

Each op records its wall time split into ``compile`` (driver side: rule
rows to Column trees or processors) and ``action`` (the Spark job or
DuckDB query that produces results).  In a traced cycle the op also
records per-layer numbers (see ``probes.py``).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field, replace
from typing import Callable, Dict, Iterator, List, Optional

import numpy as np

import gen
import oracle
from probes import SparkProbe, Tracer, cpu_ticks, steal_share


@dataclass
class Op:
    name: str
    cycle: int
    traced: bool
    rows: int = 0
    compile_s: float = 0.0  # driver: rule rows to Column trees or processors
    action_s: float = 0.0  # the query that produces results
    other_s: float = 0.0  # neither, e.g. validation
    total_s: float = 0.0  # the whole op, tracing included
    steal: float = 0.0  # share of the host's busy CPU time stolen during the op
    layers: Dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.compile_s + self.action_s + self.other_s

    def own(self, seconds: float) -> float:
        """``seconds`` of this op less the share the hypervisor gave to
        other guests: the time the op would take on a host of its own."""
        return seconds * (1.0 - self.steal)


class Bench:
    """State of one run: the session, the tracer and every op record."""

    def __init__(self, spark, workdir: str, tracer: Tracer) -> None:
        self.spark = spark
        self.workdir = workdir
        self.tracer = tracer
        self.probe = SparkProbe(spark) if tracer.enabled else None
        self.ops: List[Op] = []
        self.errors: List[str] = []
        self.failed_ops = 0
        self.cycle = -1
        self.traced = False

    @contextmanager
    def op(self, name: str, rows: int = 0) -> Iterator[Op]:
        ticks = cpu_ticks()
        start = time.perf_counter()
        rec = Op(name, self.cycle, self.traced, rows)
        group = f"{name}#{len(self.ops)}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, name)
            mark = self.probe.codegen_mark()
            t0 = time.time()
        with self.tracer.span(name) if self.traced else nullcontext() as span:
            yield rec
        if self.traced:
            rec.layers.update(self.probe.codegen_delta(mark))
            rec.layers.update(self.probe.jobs(group, t0, time.time()))
            self.spark.sparkContext.setJobGroup("", "")
            span.attrs.update(rec.layers)
        rec.total_s = time.perf_counter() - start
        rec.steal = steal_share(ticks, cpu_ticks())
        self.ops.append(rec)

    @contextmanager
    def part(self, rec: Op, phase: str, layer: Optional[str] = None) -> Iterator[None]:
        """Times ``phase`` ('compile', 'action' or 'other') of ``rec``; in a traced
        cycle also opens a span, and adds the time to ``layer``."""
        t0 = time.perf_counter()
        with self.tracer.span(layer or phase) if self.traced else nullcontext():
            yield
        dt_ = time.perf_counter() - t0
        setattr(rec, f"{phase}_s", getattr(rec, f"{phase}_s") + dt_)
        if self.traced and layer:
            rec.layers[layer] = rec.layers.get(layer, 0.0) + dt_

    def layer(self, rec: Op, name: str, fn: Callable):
        """Traced cycles only: an extra, separately timed call into one
        layer's public function, to size that layer on its own."""
        if not self.traced:
            return None
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        rec.layers[name] = rec.layers.get(name, 0.0) + time.perf_counter() - t0
        return out

    def check(self, c: oracle.Checker) -> None:
        if c.errors:
            self.failed_ops += 1
            self.errors.extend(c.errors)

    def plan(self, rec: Op, df) -> None:
        if self.traced:
            with self.tracer.span("catalyst.plan"):
                rec.layers.update(self.probe.plan(df))


# ---------------------------------------------------------------------------
# shared steps
# ---------------------------------------------------------------------------


def load_suites(b: Bench, paths: Dict[str, str], rec: Op) -> Dict:
    """Rule rows (parquet) -> integrated RuleSuites, keyed by suite id."""
    import quality_spark as qs

    with b.part(rec, "compile", "sources.load_s"):
        read = b.spark.read.parquet
        suites = qs.read_rules_from_df(read(paths["rules"]))
        suites = qs.integrate_lambdas(suites, qs.read_lambdas_from_df(read(paths["lambdas"])))
        suites = qs.integrate_output_expressions(
            suites, qs.read_output_expressions_from_df(read(paths["outputs"]))
        )
    return {(s.id.id, s.id.version): s for s in suites.values()}


def expand_probe(b: Bench, rec: Op, suite, df) -> None:
    """Traced cycles: time expansion and type probing on their own, and
    record how much macro/lambda expansion grows the rule text."""
    if not b.traced:
        return
    from quality_spark.plans.compiler import expand_rules, probe_types

    expanded = b.layer(rec, "expand.s", lambda: expand_rules(suite))
    src = sum(len(r.expression.rule) for _, r, _ in expanded)
    out = sum(len(s) for _, _, s in expanded)
    rec.layers["expand.src_chars"] = rec.layers.get("expand.src_chars", 0.0) + src
    rec.layers["expand.out_chars"] = rec.layers.get("expand.out_chars", 0.0) + out
    b.layer(rec, "plans.probe_s", lambda: probe_types(df, [s for _, _, s in expanded]))


def check_report(b: Bench, op: str, exp: oracle.DQExpect, overall: int,
                 set_rows, rule_rows) -> None:
    c = oracle.Checker(op)
    c.equal("overall fails", overall, exp.overall_fails)
    c.equal("set fails", {oracle.unpack(k): v for k, v in set_rows}, exp.set_fails)
    got_p = {oracle.unpack(k): p for k, p, _ in rule_rows}
    got_f = {oracle.unpack(k): f for k, _, f in rule_rows}
    c.equal("rule passed", got_p, exp.passed)
    c.equal("rule failed", got_f, exp.failed)
    b.check(c)


def check_engine(b: Bench, op: str, exp: oracle.EngineExpect, rows) -> None:
    c = oracle.Checker(op)
    c.equal("salient histogram", {k: n for k, n, _, _ in rows}, exp.salient)
    c.equal("result sum", sum(s or 0 for _, _, s, _ in rows), exp.result_sum)
    c.equal("result count", sum(k for _, _, _, k in rows), exp.result_count)
    b.check(c)


def check_fold(b: Bench, op: str, exp: oracle.FoldExpect, amt, fee, hits, n) -> None:
    c = oracle.Checker(op)
    c.close("amt sum", amt or 0.0, exp.amt)
    c.close("fee sum", fee or 0.0, exp.fee)
    c.equal("hits sum", hits or 0, exp.hits)
    c.equal("result rows", n, exp.rows)
    b.check(c)


ENGINE_AGG = (
    "ruleEngine.salientRule.ruleId AS rid",
    "count(*) AS n",
    "sum(ruleEngine.result) AS s",
    "count(ruleEngine.result) AS k",
)
FOLD_AGG = (
    "sum(foldedFields.result.amt)",
    "sum(foldedFields.result.fee)",
    "sum(foldedFields.result.hits)",
    "count(foldedFields.result)",
)


# ---------------------------------------------------------------------------
# dq_batch: one 150-rule suite as a batch job and as a service
# ---------------------------------------------------------------------------

DQ_ROWS = 30_000
DQ_RULES, DQ_SET, DQ_ENGINE, DQ_FOLDER = 150, 10, 50, 30
#: sparkless batches: size, and how many distinct consecutive batches a
#: run cycles through, one of each kind per cycle
SMALL, SPARK_BATCH = 2000, 200
SERVE = {"duck_small": (SMALL, 15), "spark_batch": (SPARK_BATCH, 8)}
#: the RowProcessor serves the first sets of the DQ suite only: its call
#: replans the whole runner, about 4 s for all 150 rules on 4 cores
ROW_SETS = 3


class DQBatch:
    name = "dq_batch"
    nominal_cycle_s = 12.0
    warmup_cycles = 1

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def setup(self, d: str) -> None:
        table = gen.make_table(self.seed, DQ_ROWS)
        # warm-up cycles run the same suites over the first eighth of the
        # rows: the same generated code at a fraction of the executor work
        self.inputs = {"data": table, "warm": table.slice(0, DQ_ROWS // 8)}
        for name, t in self.inputs.items():
            gen.write_parquet(t, f"{d}/{name}.parquet")
        self.dir = d
        self.program = gen.make_program(self.seed, 0, table, DQ_RULES, DQ_SET,
                                        DQ_ENGINE, DQ_FOLDER)
        self.rules = gen.write_program(self.program, d)

    def prepare(self) -> None:
        """Oracle expectations and service batches; not part of any timing."""
        self.expect = {
            name: (oracle.expect_dq(self.program, t), oracle.expect_engine(self.program, t),
                   oracle.expect_fold(self.program, t))
            for name, t in self.inputs.items()
        }
        row_program = gen.Program(self.program.sets[:ROW_SETS], (), ())
        self.row_ids = [(oracle.pack(10 + si), oracle.pack(rid))
                        for si, ids in enumerate(oracle.dq_ids(row_program)) for rid in ids]
        # the batches are consecutive slices of the stored input
        table, path = self.inputs["data"], f"{self.dir}/data.parquet"
        frame = gen.read_pandas(path)
        self.batches: Dict[str, list] = {}
        for kind, (size, count) in SERVE.items():
            self.batches[kind] = []
            for i in range(count):
                lo, hi = i * size, (i + 1) * size
                if kind == "spark_batch":
                    data, program = gen.read_rows(path, lo, hi), row_program
                else:
                    data = frame.iloc[lo:hi].reset_index(drop=True)
                    program = self.program
                self.batches[kind].append(
                    (data, oracle.expect_dq(program, table.slice(lo, hi), keep_rows=True))
                )

    def cycle(self, b: Bench) -> None:
        import quality_spark as qs

        which = "warm" if b.cycle < 0 else "data"
        n = self.inputs[which].n
        exp_dq, exp_engine, exp_fold = self.expect[which]
        with b.op("load") as rec:
            suites = load_suites(b, self.rules, rec)
        dq, engine, folder = (suites[gen.SUITE], suites[gen.ENGINE_SUITE],
                              suites[gen.FOLDER_SUITE])
        df = b.spark.read.parquet(f"{self.dir}/{which}.parquet")
        out = os.path.join(b.workdir, "dq_out")

        with b.op("dq_write", n) as rec:
            expand_probe(b, rec, dq, df)
            with b.part(rec, "compile", "operators.runner_build_s"):
                res = qs.add_overall_results_and_details(df, dq)
            b.plan(rec, res)
            with b.part(rec, "action"):
                res.write.mode("overwrite").parquet(out)

        with b.op("dq_report", n) as rec:
            with b.part(rec, "action"):
                stored = b.spark.read.parquet(out)
                overall = stored.where("DQ_overallResult = 0").count()
                sets = stored.selectExpr("explode(DQ_Details.ruleSetResults) AS (sid, sr)")
                set_rows = sets.selectExpr(
                    "sid", "CAST(sr.overallResult = 0 AS INT) AS f"
                ).groupBy("sid").sum("f").collect()
                rule_rows = (
                    sets.selectExpr("explode(sr.ruleResults) AS (rid, r)")
                    .selectExpr("rid", "CAST(r = 100000 AS INT) AS p", "CAST(r = 0 AS INT) AS f")
                    .groupBy("rid").sum("p", "f")
                    .orderBy("sum(f)", ascending=False)
                    .collect()
                )
        check_report(b, "dq_report", exp_dq, overall, set_rows, rule_rows)

        with b.op("engine_eval", n) as rec:
            expand_probe(b, rec, engine, df)
            with b.part(rec, "compile", "operators.engine_build_s"):
                res = qs.add_rule_engine(df, engine, "bigint").selectExpr(*ENGINE_AGG[:1], "ruleEngine")
                agg = res.groupBy("rid").agg(*[_expr(e) for e in ENGINE_AGG[1:]])
            b.plan(rec, agg)
            with b.part(rec, "action"):
                rows = [(r[0], r[1], r[2], r[3]) for r in agg.collect()]
        check_engine(b, "engine_eval", exp_engine, rows)

        with b.op("fold_eval", n) as rec:
            expand_probe(b, rec, folder, df)
            with b.part(rec, "compile", "operators.folder_build_s"):
                agg = qs.add_folder(df, folder, gen.FOLD_START).selectExpr(*FOLD_AGG)
            b.plan(rec, agg)
            with b.part(rec, "action"):
                amt, fee, hits, k = agg.collect()[0]
        check_fold(b, "fold_eval", exp_fold, amt, fee, hits, k)

        self.serve(b, dq)

    def serve(self, b: Bench, dq) -> None:
        """The same suite as a service: compile both sparkless processors,
        then score a small DuckDB batch, and a RowProcessor batch (one
        Spark job per call) over the first ``ROW_SETS`` sets."""
        import quality_spark as qs

        with b.op("duck_compile") as rec:
            with b.part(rec, "compile", "sparkless.duck_compile_s"):
                duck = qs.DuckDBProcessor(dq, schema=gen.SCHEMA_DDL)
        with b.op("row_compile") as rec:
            with b.part(rec, "compile", "sparkless.row_compile_s"):
                sets = tuple(s for s in dq.rule_sets if s.id.id < 10 + ROW_SETS)
                row = qs.RowProcessor(b.spark, replace(dq, rule_sets=sets), gen.SCHEMA_DDL)
        duck_call(b, duck, *self.batches["duck_small"][0])
        for kind, pool in self.batches.items():
            data, exp = pool[max(b.cycle, 0) % len(pool)]
            with b.op(kind, len(data)) as rec:
                with b.part(rec, "action"):
                    if kind == "spark_batch":
                        res = row.process(data)
                    else:
                        res = duck.process_pandas(data)
            if kind == "spark_batch":
                check_rows(b, kind, res, exp, self.row_ids)
            else:
                check_duck(b, kind, res, exp)

    def details(self, ops: List[Op]) -> Dict[str, tuple]:
        plain = [o for o in ops if not o.traced]

        def rate(name):
            return _median([o.rows / o.wall_s for o in plain if o.name == name])

        def lat(name, q):
            xs = [o.wall_s * 1e3 for o in plain if o.name == name]
            return float(np.percentile(xs, q)) if xs else float("nan")

        return {
            "dq_write_rows_per_s": (rate("dq_write"), "rows/s"),
            "dq_report_s": (_median([o.wall_s for o in plain if o.name == "dq_report"]), "s"),
            "engine_rows_per_s": (rate("engine_eval"), "rows/s"),
            "fold_rows_per_s": (rate("fold_eval"), "rows/s"),
            "duck_small_p50_ms": (lat("duck_small", 50), "ms"),
            "duck_small_p90_ms": (lat("duck_small", 90), "ms"),
            "spark_batch_p50_ms": (lat("spark_batch", 50), "ms"),
            "spark_batch_p90_ms": (lat("spark_batch", 90), "ms"),
            "duck_small_samples": (float(sum(o.name == "duck_small" for o in plain)), "count"),
            "spark_batch_samples": (float(sum(o.name == "spark_batch" for o in plain)), "count"),
        }


def _expr(sql: str):
    from pyspark.sql import functions as F

    return F.expr(sql)


def _median(xs: List[float]) -> float:
    return float(np.median(xs)) if xs else float("nan")


# ---------------------------------------------------------------------------
# suite_compile: driver-bound, one large rule program on few rows
# ---------------------------------------------------------------------------

SC_ROWS = 10_000
SC_RULES, SC_SET = 264, 20
SC_CHECK_ROWS = 1000


class SuiteCompile:
    name = "suite_compile"
    nominal_cycle_s = 8.0
    warmup_cycles = 1

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def setup(self, d: str) -> None:
        self.table = gen.make_table(self.seed, SC_ROWS)
        self.data = f"{d}/data.parquet"
        gen.write_parquet(self.table, self.data)
        self.dir = d

    def prepare(self) -> None:
        self.batch = (
            gen.read_pandas(self.data).iloc[:SC_CHECK_ROWS].reset_index(drop=True)
        )

    def program(self, variant: int, rules: int):
        """Each cycle compiles a fresh variant, so Spark's code cache never
        serves a previous cycle's classes."""
        p = gen.make_program(self.seed, variant, self.table, rules, SC_SET,
                             rules // 5, rules // 10)
        d = os.path.join(self.dir, f"program{variant}")
        os.makedirs(d, exist_ok=True)
        paths = gen.write_program(p, d)
        exp = (
            oracle.expect_dq(p, self.table),
            oracle.expect_engine(p, self.table),
            oracle.expect_fold(p, self.table),
            oracle.expect_dq(p, self.table.slice(0, SC_CHECK_ROWS), keep_rows=True),
        )
        return paths, exp

    def cycle(self, b: Bench) -> None:
        import quality_spark as qs
        from pyspark.sql import functions as F

        # warm-up cycles (numbered -1, -2, ...) compile variants 1000,
        # 1001, ... of a quarter of the size
        if b.cycle >= 0:
            variant, rules = b.cycle, SC_RULES
        else:
            variant, rules = 999 - b.cycle, SC_RULES // 4
        paths, (exp_dq, exp_engine, exp_fold, exp_batch) = self.program(variant, rules)
        df = b.spark.read.parquet(self.data)
        with b.op("load") as rec:
            suites = load_suites(b, paths, rec)
        dq, engine, folder = (suites[gen.SUITE], suites[gen.ENGINE_SUITE],
                              suites[gen.FOLDER_SUITE])

        with b.op("validate") as rec:
            with b.part(rec, "other", "plans.validate_s"):
                issues = qs.validate(df, dq)
        c = oracle.Checker("validate")
        c.equal("issues", [i.message for i in issues], [])
        b.check(c)

        with b.op("compile") as rec:
            for s in (dq, engine, folder):
                expand_probe(b, rec, s, df)
            with b.part(rec, "compile", "operators.runner_build_s"):
                out = qs.add_data_quality(df, dq)
            with b.part(rec, "compile", "operators.engine_build_s"):
                out = qs.add_rule_engine(out, engine, "bigint")
            with b.part(rec, "compile", "operators.folder_build_s"):
                out = qs.add_folder(out, folder, gen.FOLD_START)

        with b.op("duck_compile") as rec:
            with b.part(rec, "compile", "sparkless.duck_compile_s"):
                proc = qs.DuckDBProcessor(dq, schema=gen.SCHEMA_DDL)

        with b.op("first_action", self.table.n) as rec:
            with b.part(rec, "action"):
                agg = out.groupBy(F.expr(ENGINE_AGG[0])).agg(
                    *[F.expr(e) for e in ENGINE_AGG[1:] + FOLD_AGG],
                    F.expr("count_if(DQ.overallResult = 0)"),
                )
                b.plan(rec, agg)
                rows = agg.collect()
        check_engine(b, "first_action", exp_engine, [tuple(r[:4]) for r in rows])
        tot = [sum(r[i] or 0 for r in rows) for i in range(4, 9)]
        check_fold(b, "first_action", exp_fold, *tot[:4])
        c = oracle.Checker("first_action")
        c.equal("overall fails", tot[4], exp_dq.overall_fails)
        b.check(c)

        with b.op("duck_check", SC_CHECK_ROWS) as rec:
            with b.part(rec, "action"):
                res = proc.process_pandas(self.batch)
        check_duck(b, "duck_check", res, exp_batch)
        duck_call(b, proc, self.batch, exp_batch)

    def details(self, ops: List[Op]) -> Dict[str, tuple]:
        plain = [o for o in ops if not o.traced]

        def med(name):
            return _median([o.wall_s for o in plain if o.name == name])

        # rule rows to the three Column trees; the end-to-end compile_s
        # also counts the DuckDBProcessor compile
        columns_s = _median([
            sum(o.compile_s for o in plain if o.cycle == c and o.name in ("load", "compile"))
            for c in sorted({o.cycle for o in plain})
        ])
        return {
            "columns_compile_s": (columns_s, "s"),
            "validate_s": (med("validate"), "s"),
            "first_action_s": (med("first_action"), "s"),
            "duck_compile_s": (med("duck_compile"), "s"),
        }


def check_duck(b: Bench, op: str, res, exp: oracle.DQExpect) -> None:
    """Per-row comparison of a DuckDBProcessor batch result."""
    c = oracle.Checker(op)
    want = np.where(exp.row_overall_fail, 0, gen.PASSED)
    c.arrays("overall", res["overall"].to_numpy(), want)
    if exp.row_encoded is not None:
        got = np.stack([res[f"r_{i}"].to_numpy() for i in range(len(exp.row_encoded))])
        c.arrays("rule results", got, exp.row_encoded)
    b.check(c)


def duck_call(b: Bench, proc, batch, exp: oracle.DQExpect) -> None:
    """Traced cycles: the fixed cost of one ``process_pandas`` call,
    timed on the first row of ``batch``."""
    if not b.traced:
        return
    with b.op("duck_call", 1) as rec:
        with b.part(rec, "action"):
            res = proc.process_pandas(batch.iloc[:1])
        rec.layers["sparkless.duck_per_call_ms"] = rec.action_s * 1e3
    check_duck(b, "duck_call", res, replace(exp, row_overall_fail=exp.row_overall_fail[:1],
                                            row_encoded=exp.row_encoded[:, :1]))


def check_rows(b: Bench, op: str, rows, exp: oracle.DQExpect, ids) -> None:
    """Per-row comparison of a RowProcessor batch result."""
    c = oracle.Checker(op)
    got = np.array([r["DQ"]["overallResult"] for r in rows])
    c.arrays("overall", got, np.where(exp.row_overall_fail, 0, gen.PASSED))
    got_rules = np.array([
        [r["DQ"]["ruleSetResults"][sid]["ruleResults"][rid] for sid, rid in ids]
        for r in rows
    ]).T
    c.arrays("rule results", got_rules, exp.row_encoded)
    b.check(c)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

WORKLOADS = {w.name: w for w in (DQBatch, SuiteCompile)}


def _cycles(ops: List[Op], traced: bool) -> Dict[int, List[Op]]:
    out: Dict[int, List[Op]] = {}
    for o in ops:
        if o.traced == traced:
            out.setdefault(o.cycle, []).append(o)
    return out


#: small sparkless scoring calls, whose time is mostly per-call cost
CALL_OPS = ("duck_small", "spark_batch", "duck_check")


def end_to_end(ops: List[Op]) -> Dict[str, tuple]:
    """Each op kind's per-cycle time is its median over the untraced
    cycles; a cycle's metrics add those medians up, so one slow op in one
    cycle moves them less than a median of whole cycles would.
    ``call_p50_ms`` adds up, over the kinds of small sparkless call, the
    median time of one call.

    Every time is an op's own time (``Op.own``): on a shared virtual
    machine the hypervisor's steal time changes from minute to minute,
    and it moved whole runs by up to 1.9x."""
    cyc = list(_cycles(ops, False).values())
    kinds = {o.name for c in cyc for o in c}

    def med(kind: str, f) -> float:
        return _median([sum(f(o) for o in c if o.name == kind) for c in cyc])

    def total(f, only_rows: bool = False) -> float:
        return sum(med(k, f) for k in kinds if not only_rows or med(k, lambda o: o.rows))

    calls = [[o.own(o.wall_s) * 1e3 for c in cyc for o in c if o.name == k]
             for k in CALL_OPS if k in kinds]
    return {
        "cycle_s": (total(lambda o: o.own(o.wall_s)), "s"),
        "compile_s": (total(lambda o: o.own(o.compile_s)), "s"),
        "rows_per_s": (total(lambda o: o.rows) / total(lambda o: o.own(o.action_s), True),
                       "rows/s"),
        "call_p50_ms": (sum(_median(xs) for xs in calls), "ms"),
    }


def host(ops: List[Op]) -> Dict[str, tuple]:
    """Detail lines: the untraced cycle time as measured, and the share of
    the host's busy CPU time stolen during the untraced ops."""
    cyc = list(_cycles(ops, False).values())
    wall = sum(o.wall_s for c in cyc for o in c)
    return {
        "cycle_wall_s": (_median([sum(o.wall_s for o in c) for c in cyc]), "s"),
        "steal_share": (sum(o.steal * o.wall_s for c in cyc for o in c) / max(wall, 1e-9),
                        "share"),
    }


#: per-layer metrics summed over one cycle's ops; the JSON reports each
#: one's median over the traced cycles
LAYER_SUMS = (
    "sources.load_s", "expand.s", "plans.probe_s", "plans.validate_s",
    "operators.runner_build_s", "operators.engine_build_s", "operators.folder_build_s",
    "catalyst.plan_s", "catalyst.plan_chars", "codegen.compile_s", "codegen.classes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.gc_s",
    "sparkless.duck_compile_s", "sparkless.row_compile_s",
)
LAYER_UNITS = {"catalyst.plan_chars": "chars", "codegen.classes": "count",
               "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count"}


def per_layer(ops: List[Op]) -> Dict[str, tuple]:
    traced = list(_cycles(ops, True).values())
    plain = list(_cycles(ops, False).values())

    def med(f) -> float:
        return _median([f(c) for c in traced])

    def total(c, k) -> float:
        return sum(o.layers.get(k, 0.0) for o in c)

    out = {k: (med(lambda c, k=k: total(c, k)), LAYER_UNITS.get(k, "s")) for k in LAYER_SUMS}
    out["expand.growth"] = (med(lambda c: total(c, "expand.out_chars")
                                / max(total(c, "expand.src_chars"), 1.0)), "ratio")
    out["codegen.max_method_bytes"] = (med(lambda c: max(
        o.layers.get("codegen.max_method_bytes", 0.0) for o in c)), "bytes")
    out["spark.driver_share"] = (med(lambda c: 1.0 - total(c, "spark.stage_busy_s")
                                     / max(total(c, "spark.wall_s"), 1e-9)), "share")
    out["spark.input_bytes_per_row"] = (med(lambda c: total(c, "spark.input_bytes")
                                            / max(sum(o.rows for o in c), 1)), "bytes/row")
    out["spark.output_bytes_per_row"] = (med(lambda c: total(c, "spark.output_bytes")
                                             / max(sum(o.rows for o in c), 1)), "bytes/row")
    out["sparkless.duck_per_call_ms"] = (med(lambda c: total(c, "sparkless.duck_per_call_ms")),
                                         "ms")
    t, u = (_median([sum(o.own(o.total_s) for o in c) for c in cs]) for cs in (traced, plain))
    out["trace.overhead_share"] = ((t - u) / u, "share")
    return out


def per_op(ops: List[Op]) -> Dict[str, tuple]:
    """``<op>.<layer metric>``: the median over an op's traced runs."""
    out: Dict[str, tuple] = {}
    for name in sorted({o.name for o in ops if o.traced}):
        recs = [o.layers for o in ops if o.traced and o.name == name]
        for k in sorted({k for r in recs for k in r}):
            unit = LAYER_UNITS.get(k, "bytes" if k.endswith("_bytes") else "s")
            if k.endswith("_chars"):
                unit = "chars"
            out[f"{name}.{k}"] = (_median([r.get(k, 0.0) for r in recs]), unit)
    return out


#: ops named on the per-cycle lines of the report
SHOWN_OPS = ("load", "dq_write", "dq_report", "engine_eval", "fold_eval", "validate",
             "compile", "first_action", "duck_compile", "row_compile", "duck_check")
