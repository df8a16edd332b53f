"""Expected results computed with numpy from the rules' numpy twins.

Nothing here imports ``quality_spark``, pyspark or DuckDB: the oracle
is independent of the code under test.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional

import numpy as np

from gen import PASSED, PROBABLE_PASS, Program, Table, fold_start

#: relative tolerance for floating-point sums whose summation order
#: differs between Spark's partitions and numpy
FLOAT_REL_TOL = 1e-9


def pack(i: int, version: int = 1) -> int:
    """The library's packed id: ``(id << 32) | version``."""
    return (i << 32) | version


def unpack(packed: int) -> int:
    return packed >> 32


def fails(enc: np.ndarray) -> np.ndarray:
    """Rows whose encoded result forces the overall result to Failed."""
    other = ~np.isin(enc, (PASSED, -1, -2))
    return (enc == 0) | (other & (enc < PROBABLE_PASS * PASSED))


def dq_ids(program: Program) -> List[List[int]]:
    """Rule ids per set, numbered as ``gen.rule_rows`` writes them."""
    out, rid = [], 0
    for s in program.sets:
        out.append(list(range(rid + 1, rid + 1 + len(s))))
        rid += len(s)
    return out


@dataclass
class DQExpect:
    passed: Dict[int, int]  # rule id -> rows with result Passed
    failed: Dict[int, int]  # rule id -> rows with result Failed
    set_fails: Dict[int, int]  # set id -> rows whose set result is Failed
    overall_fails: int
    row_overall_fail: np.ndarray  # bool per row
    row_encoded: Optional[np.ndarray] = None  # rules x rows, when asked for


def expect_dq(program: Program, t: Table, keep_rows: bool = False) -> DQExpect:
    passed, failed, set_fails = {}, {}, {}
    overall = np.zeros(t.n, dtype=bool)
    encs = []
    for si, (s, ids) in enumerate(zip(program.sets, dq_ids(program))):
        set_fail = np.zeros(t.n, dtype=bool)
        for r, rid in zip(s, ids):
            enc = r.encoded(t)
            passed[rid] = int((enc == PASSED).sum())
            failed[rid] = int((enc == 0).sum())
            set_fail |= fails(enc)
            if keep_rows:
                encs.append(enc)
        set_fails[10 + si] = int(set_fail.sum())
        overall |= set_fail
    return DQExpect(
        passed, failed, set_fails, int(overall.sum()), overall,
        np.stack(encs) if keep_rows else None,
    )


@dataclass
class EngineExpect:
    salient: Dict[Optional[int], int]  # packed rule id (None: no rule) -> rows
    result_sum: int
    result_count: int


def expect_engine(program: Program, t: Table) -> EngineExpect:
    order = sorted(range(len(program.engine)), key=lambda i: program.engine[i].salience)
    chosen = np.full(t.n, -1)
    for i in order:
        hit = (program.engine[i].trigger.encoded(t) == PASSED) & (chosen < 0)
        chosen[hit] = i
    hist: Dict[Optional[int], int] = {}
    total, count = 0, 0
    for i in np.unique(chosen):
        rows = chosen == i
        key = None if i < 0 else pack(1000 + int(i))
        hist[key] = int(rows.sum())
        if i >= 0:
            e = program.engine[i]
            ok = rows & e.value_valid(t)
            total += int(e.value(t)[ok].sum())
            count += int(ok.sum())
    return EngineExpect(hist, total, count)


@dataclass
class FoldExpect:
    amt: float
    fee: float
    hits: int
    rows: int  # rows where at least one rule passed (non-null result)


def expect_fold(program: Program, t: Table) -> FoldExpect:
    acc = fold_start(t)
    any_passed = np.zeros(t.n, dtype=bool)
    for f in sorted(program.folder, key=lambda f: f.salience):
        hit = f.trigger.encoded(t) == PASSED
        new = f.step(acc)
        acc = {k: np.where(hit, new[k], acc[k]) for k in acc}
        any_passed |= hit
    return FoldExpect(
        float(acc["amt"][any_passed].sum()),
        float(acc["fee"][any_passed].sum()),
        int(acc["hits"][any_passed].sum()),
        int(any_passed.sum()),
    )


class Checker:
    """Collects mismatches for one op; an op with any mismatch failed."""

    def __init__(self, op: str) -> None:
        self.op = op
        self.errors: List[str] = []

    def equal(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{self.op}: {what}: got {_short(got)}, want {_short(want)}")

    def close(self, what: str, got: float, want: float) -> None:
        if abs(got - want) > FLOAT_REL_TOL * max(abs(want), 1.0):
            self.errors.append(f"{self.op}: {what}: got {got!r}, want {want!r}")

    def arrays(self, what: str, got: np.ndarray, want: np.ndarray) -> None:
        got, want = np.asarray(got), np.asarray(want)
        if got.shape != want.shape or not np.array_equal(got, want):
            bad = int((got != want).sum()) if got.shape == want.shape else "shape"
            self.errors.append(f"{self.op}: {what}: {bad} rows differ")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 200 else s[:200] + "..."
