"""Tests of the benchmark's own machinery (no Spark needed).

Run from the root of a checkout:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from probes import Tracer, _union  # noqa: E402


def test_same_seed_same_inputs(tmp_path):
    dirs = []
    for k in ("a", "b"):
        d = tmp_path / k
        d.mkdir()
        t = gen.make_table(11, 5000)
        gen.write_parquet(t, str(d / "data.parquet"))
        gen.write_program(gen.make_program(11, 3, t, 60, 20, 12, 6), str(d))
        dirs.append(d)
    files = sorted(p.relative_to(dirs[0]) for p in dirs[0].rglob("*.parquet") if p.is_file())
    assert len(files) == gen.PARTS + 3
    match, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], [str(f) for f in files],
                                               shallow=False)
    assert not mismatch and not errors
    texts = [
        [r.sql for r in gen.make_program(11, 3, gen.make_table(11, 5000), 60, 20, 12, 6).rules]
        for _ in range(2)
    ]
    assert texts[0] == texts[1]
    other = gen.make_program(12, 3, gen.make_table(12, 5000), 60, 20, 12, 6)
    assert [r.sql for r in other.rules] != texts[0]
    # the kind mix, and so the work, does not depend on the seed
    assert [r.kind for r in other.rules] == [
        r.kind for r in gen.make_program(11, 3, gen.make_table(11, 5000), 60, 20, 12, 6).rules
    ]


def _tiny() -> gen.Table:
    n = 4
    cols = {
        "id": np.arange(n, dtype=np.int64),
        "qty": np.array([5, 0, 20, 1], dtype=np.int32),
        "price": np.array([10.0, 250.0, 0.0, 99.5]),
        "disc": np.array([0.0, 0.1, 0.05, 0.0]),
        "tax": np.zeros(n),
        "ship": np.full(n, gen.FIRST_DAY, dtype=np.int32),
        "status": np.array([0, 1, 2, 0], dtype=np.int8),
        "mode": np.zeros(n, dtype=np.int8),
        "code": np.array([1, 22, 333, 4444]),
        "code_len": np.array([2, 3, 4, 5]),
    }
    valid = {k: np.ones(n, dtype=bool) for k in cols}
    valid["qty"] = np.array([True, False, True, True])  # row 1: qty NULL
    valid["price"] = np.array([True, True, False, True])  # row 2: price NULL
    return gen.Table(cols, valid)


def test_oracle_matches_hand_counts():
    t = _tiny()
    qty_ge_5 = gen.cmp("qty", ">=", 5, "5")
    price_lt_100 = gen.cmp("price", "<", 100.0, "100.0D")
    program = gen.Program(
        sets=(
            (gen.bool_rule(qty_ge_5), gen.soft_fail_rule(qty_ge_5)),
            (gen.probability_rule(price_lt_100), gen.disabled_rule(price_lt_100)),
        ),
        engine=(),
        folder=(),
    )
    exp = oracle.expect_dq(program, t, keep_rows=True)
    # qty: 5, NULL, 20, 1   price: 10, 250, NULL, 99.5
    assert exp.row_encoded.tolist() == [
        [100000, 0, 100000, 0],        # qty >= 5; NULL fails
        [100000, 0, 100000, -1],       # soft_fail: FALSE -> -1, NULL -> 0
        [87500, 62500, 62500, 87500],  # probability 0.875 / 0.625
        [-2, 100000, 100000, -2],      # disabled when TRUE, else 1 (passed)
    ]
    assert exp.passed == {1: 2, 2: 2, 3: 0, 4: 2}
    assert exp.failed == {1: 2, 2: 1, 3: 0, 4: 0}
    # set 10 fails rows 1 and 3 (0 results); set 11 fails rows 1 and 2
    # (62500 is below the 0.8 threshold); -1 and -2 never fail a set
    assert exp.set_fails == {10: 2, 11: 2}
    assert exp.overall_fails == 3
    assert exp.row_overall_fail.tolist() == [False, True, True, True]


def test_engine_and_folder_oracle_by_hand():
    t = _tiny()
    hi_qty = gen.bool_rule(gen.cmp("qty", ">", 4, "4"))  # rows 0, 2
    cheap = gen.bool_rule(gen.cmp("price", "<", 50.0, "50.0D"))  # row 0
    engine = (
        gen.EngineRule(hi_qty, 20, "id", lambda t: t.cols["id"], lambda t: np.ones(t.n, bool)),
        gen.EngineRule(cheap, 10, "id + 100", lambda t: t.cols["id"] + 100,
                       lambda t: np.ones(t.n, bool)),
    )
    folder = (
        gen.FoldRule(hi_qty, 2, "", lambda a: {**a, "hits": a["hits"] + 1}),
        gen.FoldRule(cheap, 1, "", lambda a: {**a, "fee": a["fee"] + 1.5}),
    )
    p = gen.Program(sets=(), engine=engine, folder=folder)
    e = oracle.expect_engine(p, t)
    # row 0: both pass, salience 10 (rule 1001) wins; row 2: rule 1000
    assert e.salient == {None: 2, oracle.pack(1000): 1, oracle.pack(1001): 1}
    assert (e.result_sum, e.result_count) == (100 + 2, 2)
    f = oracle.expect_fold(p, t)
    assert (f.rows, f.hits, f.fee) == (2, 2, 1.5)
    assert f.amt == 10.0 + 0.0  # price of row 0, coalesced NULL of row 2


def test_wrong_count_is_a_failed_op():
    t = _tiny()
    rule = gen.bool_rule(gen.cmp("qty", ">=", 5, "5"))
    exp = oracle.expect_dq(gen.Program(sets=((rule,),), engine=(), folder=()), t)
    b = W.Bench(None, ".", Tracer(False))
    good_sets = [(oracle.pack(10), 2)]
    good_rules = [(oracle.pack(1), 2, 2)]
    W.check_report(b, "dq_report", exp, 2, good_sets, good_rules)
    assert b.failed_ops == 0 and not b.errors
    W.check_report(b, "dq_report", exp, 2, good_sets, [(oracle.pack(1), 3, 2)])
    assert b.failed_ops == 1 and "rule passed" in b.errors[0]
    c = oracle.Checker("x")
    c.close("sum", 1.0 + 1e-12, 1.0)
    assert not c.errors
    c.close("sum", 1.001, 1.0)
    assert c.errors


def _ops(traced: bool, cycle: int):
    layers = {"spark.wall_s": 2.0, "spark.stage_busy_s": 1.0, "expand.src_chars": 10.0,
              "expand.out_chars": 15.0} if traced else {}
    ops = [
        W.Op("load", cycle, traced, 0, compile_s=0.5, layers=dict(layers)),
        W.Op("dq_write", cycle, traced, 1000, compile_s=1.0, action_s=2.0),
        W.Op("duck_small", cycle, traced, 100, action_s=0.2),
        W.Op("duck_small", cycle, traced, 100, action_s=0.3 + 0.1 * cycle),
        W.Op("engine_eval", cycle, traced, 1000, action_s=0.4),
    ]
    if traced:
        ops.append(W.Op("duck_call", cycle, traced, 1, action_s=0.03,
                        layers={"sparkless.duck_per_call_ms": 10.0}))
    for o in ops:  # tracing adds 10% to each op
        o.total_s = o.wall_s * (1.1 if traced else 1.0)
    return ops


def test_printed_metrics_are_declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ops = _ops(False, 0) + _ops(True, 1) + _ops(False, 2)
    e2e = run.end_to_end_metrics(ops, [1.0, 2.0, 3.0], 100.0)
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    for m in bench["end_to_end"]:
        assert e2e[m["name"]][1] == m["unit"]
        assert e2e[m["name"]][0] > 0
    layers = W.per_layer(ops)
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    for m in bench["per_layer"]:
        assert layers[m["name"]][1] == m["unit"]
    # duck_small: per cycle 0.2 + 0.3 and 0.2 + 0.5, median 0.6
    assert abs(e2e["cycle_s"][0] - (0.5 + 3.0 + 0.6 + 0.4)) < 1e-12
    # one call: 0.2, 0.3, 0.2, 0.5 -> median 250 ms
    assert abs(e2e["call_p50_ms"][0] - 250.0) < 1e-9
    assert layers["sparkless.duck_per_call_ms"][0] == 10.0
    assert e2e["setup_s"][0] == 2.0
    assert abs(layers["spark.driver_share"][0] - 0.5) < 1e-12
    assert layers["expand.growth"][0] == 1.5
    # the traced cycle's extra duck_call op counts as tracing overhead
    untraced = 0.5 + 3.0 + 0.6 + 0.4
    want = ((0.5 + 3.0 + 0.2 + 0.4 + 0.4) * 1.1 + 0.03 * 1.1) / untraced - 1
    assert abs(layers["trace.overhead_share"][0] - want) < 1e-12
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)


def test_end_to_end_times_leave_out_steal():
    ops = _ops(False, 0) + _ops(False, 2)
    calm = W.end_to_end(ops)
    for o in ops:
        o.steal = 0.25
    stolen = W.end_to_end(ops)
    for k in ("cycle_s", "compile_s", "call_p50_ms"):
        assert abs(stolen[k][0] - 0.75 * calm[k][0]) < 1e-9
    assert abs(stolen["rows_per_s"][0] - calm["rows_per_s"][0] / 0.75) < 1e-6
    assert abs(W.host(ops)["steal_share"][0] - 0.25) < 1e-12


def test_span_nesting_and_union():
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("compile"):
            pass
        with tr.span("action"):
            pass
    assert tr.check_nesting() == []
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    tr.spans[1].end = tr.spans[0].end + 1.0
    assert tr.check_nesting() == ["op"]
    assert _union([(0, 2), (1, 3), (5, 6), (10, 20)], 0, 12) == 3 + 1 + 2
