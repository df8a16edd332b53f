"""Composite gates as data: ``_GATE_LEGS`` declares each gate's legs,
``_run_legs`` builds and unions them, ``query_legs()`` derives from the
declaration."""

from __future__ import annotations

import inspect
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_query_legs_are_the_declared_legs_of_gates():
    qs = entrymod.queries()
    legs = entrymod.query_legs()
    assert set(legs) <= set(qs)
    assert set(legs) == set(entrymod._GATE_LEGS)
    for gate, by_leg in legs.items():
        assert tuple(by_leg) == entrymod._GATE_LEGS[gate], gate
        assert "only" in inspect.signature(qs[gate]).parameters, gate


@pytest.mark.parametrize("gate", ["ann_suite", "tfidf_scores", "lambda_suite"])
def test_leg_frames_union_to_the_gate(spark, sf_dir, gate):
    full = entrymod.queries()[gate](spark, sf_dir)
    per_leg = [fn(spark, sf_dir) for fn in entrymod.query_legs()[gate].values()]
    rows = []
    for df in per_leg:
        assert df.dtypes == full.dtypes
        rows.extend(df.collect())
    assert sorted(rows) == sorted(full.collect())


@pytest.fixture
def two_leg_gate(monkeypatch):
    monkeypatch.setitem(entrymod._GATE_LEGS, "t_gate", ("a", "b"))
    return "t_gate"


def test_run_legs_rejects_undeclared_and_unknown_legs(spark, two_leg_gate):
    def one():
        return spark.range(1)

    with pytest.raises(ValueError, match="differ"):
        entrymod._run_legs(two_leg_gate, {"b": one, "a": one})
    with pytest.raises(ValueError, match="unknown"):
        entrymod._run_legs(two_leg_gate, {"a": one, "b": one}, only=("c",))


def test_run_legs_job_groups_and_declared_order(spark, two_leg_gate):
    sc = spark.sparkContext

    def leg(tag):
        def build():
            group = sc.getLocalProperty("spark.jobGroup.id")
            return spark.createDataFrame([(tag, group)], "leg string, grp string")

        return build

    legs = {"a": leg("a"), "b": leg("b")}
    out = entrymod._run_legs(two_leg_gate, legs).collect()
    assert [tuple(r) for r in out] == [("a", "t_gate.a"), ("b", "t_gate.b")]
    # a single selected leg builds in the caller's thread, whose job
    # group is restored afterwards
    out = entrymod._run_legs(two_leg_gate, legs, only=("b",)).collect()
    assert [tuple(r) for r in out] == [("b", "t_gate.b")]
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_failing_leg_cancels_its_sibling(spark, two_leg_gate):
    sc = spark.sparkContext
    cause = KeyError("boom")

    def fail():
        raise cause

    def slow():
        # one long job: each task sleeps far past the test's bound
        spark.range(0, 2, 1, 2).rdd.map(lambda x: time.sleep(120)).count()
        return spark.range(1)

    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="t_gate: leg 'a' failed") as err:
        entrymod._run_legs(two_leg_gate, {"a": fail, "b": slow})
    assert err.value.__cause__ is cause
    assert time.monotonic() - t0 < 60
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("t_gate.b")
    assert jobs  # the sibling's job did start
    assert all(
        tracker.getJobInfo(j) is None or tracker.getJobInfo(j).status != "RUNNING"
        for j in jobs
    )
    with pytest.raises(RuntimeError, match="t_gate: leg 'a' failed"):
        entrymod._run_legs(two_leg_gate, {"a": fail, "b": slow}, only=("a",))
