"""The bench record's comparison rule, key table and sampler
(bench.py) — pure-python, no Spark session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from bench import compare, summarize


def _record(medians: dict, cpus=4, sf=0.1, scale=1.0):
    """A detail record whose keys each took three samples around
    ``median * scale``."""
    keys = {
        k: summarize([(0.0, m * scale * f) for f in (0.98, 1.0, 1.02)])
        for k, m in medians.items()
    }
    return {"keys": keys, "cpus": cpus, "sf": sf, "git_head": "abc"}


MEDIANS = {f"k{i}": 0.5 + 0.25 * i for i in range(12)}


def test_identical_samples_flag_nothing():
    prior = _record(MEDIANS)
    out = compare(prior["keys"], prior, 4, 0.1)
    assert out["vs"] == {"git_head": "abc", "measured_at": None}
    assert out["b"] == 1.0
    assert out["flags"] == []


def test_single_key_slowdown_is_the_only_flag():
    prior = _record(MEDIANS)
    now = _record(MEDIANS)["keys"]
    now["k5"] = _record({"k5": MEDIANS["k5"]}, scale=1.5)["keys"]["k5"]
    out = compare(now, prior, 4, 0.1)
    assert out["b"] == 1.0
    assert out["flags"] == ["k5"]


def test_uniform_box_slowdown_flags_nothing():
    prior = _record(MEDIANS)
    now = _record(MEDIANS, scale=1.4)["keys"]
    out = compare(now, prior, 4, 0.1)
    assert out["b"] == pytest.approx(1.4, rel=1e-3)
    assert out["flags"] == []


@pytest.mark.parametrize(
    "prior",
    [
        _record(MEDIANS, cpus=8),
        _record(MEDIANS, sf=0.01),
        {"queries": MEDIANS, "cpus": 4, "sf": 0.1},
        None,
    ],
    ids=["other_cpus", "other_sf", "no_samples", "no_prior"],
)
def test_prior_from_another_setup_is_not_compared(prior):
    now = _record(MEDIANS, scale=2.0)["keys"]
    assert compare(now, prior, 4, 0.1) == {"vs": None, "b": None, "flags": []}


def test_flag_needs_every_sample_over_the_bar():
    prior = _record(MEDIANS)
    prior["keys"]["k5"] = summarize([(0.0, 2.0)] * 3)
    now = _record(MEDIANS)["keys"]
    now["k5"] = summarize([(0.0, 3.0), (0.0, 3.0), (0.0, 2.5)])  # 2.5 < 1.3 x 2
    assert compare(now, prior, 4, 0.1)["flags"] == []
    now["k5"] = summarize([(0.0, 3.0), (0.0, 3.0), (0.0, 2.7)])
    assert compare(now, prior, 4, 0.1)["flags"] == ["k5"]


def test_prior_under_min_is_never_flagged():
    medians = dict(MEDIANS, tiny=0.15)
    prior = _record(medians)
    now = _record(medians)["keys"]
    now["tiny"] = _record({"tiny": 0.15}, scale=3.0)["keys"]["tiny"]
    out = compare(now, prior, 4, 0.1)
    assert out["flags"] == []
    assert out["b"] == 1.0


def test_key_table_covers_every_gate_and_leg():
    """Every gate and every leg is a key, and building the table touches
    no Spark object, so it starts no Spark job."""
    import __spark_entry__ as entrymod

    class NoSpark:
        def __getattr__(self, name):
            raise AssertionError(f"key table touched spark.{name}")

    table = bench.key_table(NoSpark(), "/nonexistent")
    legs = {
        f"{gate}.{leg}"
        for gate, by_leg in entrymod.query_legs().items()
        for leg in by_leg
    }
    assert set(entrymod.queries()) <= set(table)
    assert legs <= set(table)
    dq = {
        f"dq{n}_{part}"
        for n in (27, 150, 500, 1000)
        for part in ("compile", "write", "eval")
    } - {"dq1000_write"}
    assert set(table) == (
        {"baseline_write", "baseline_eval"} | dq | set(entrymod.queries()) | legs
    )


def test_sampler_warms_once_then_interleaves_passes():
    calls = []

    def thunk(name):
        return lambda: calls.append(name) or (0.0, 1.0)

    out = bench.sample({"a": thunk("a"), "b": thunk("b")}, k=3)
    assert calls == ["a", "b"] * 4
    assert out == {"a": [(0.0, 1.0)] * 3, "b": [(0.0, 1.0)] * 3}
