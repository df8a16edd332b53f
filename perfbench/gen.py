"""Seeded inputs: a fact table and rule programs.

Every rule is generated as a pair: the SQL text the library compiles,
and a numpy twin that computes the same integer-encoded result per row
(100000 passed, 0 failed, -1 soft failed, -2 disabled, else a
probability).  The oracle (``oracle.py``) only ever evaluates the numpy
twins, so it shares no code with ``quality_spark`` or DuckDB.

Everything here is a pure function of the seed: the same seed gives the
same parquet bytes and the same rule texts.
"""

from __future__ import annotations

import datetime as dt
import operator
import os
from dataclasses import dataclass
from typing import Callable, Dict, List, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PASSED = 100000
PROBABLE_PASS = 0.8

STATUS = ("O", "F", "P")
MODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
EPOCH = dt.date(1970, 1, 1)
FIRST_DAY = (dt.date(2020, 1, 1) - EPOCH).days

#: Spark DDL of the table, also the declared schema for the sparkless
#: processors
SCHEMA_DDL = (
    "id bigint, qty int, price double, disc double, tax double, "
    "ship date, status string, mode string, code string"
)

#: the lambda library every generated suite carries; ``net`` calls
#: ``margin``, so expanding it nests one lambda inside another
LAMBDAS = (
    ("margin", "(p, d) -> p * (1 - d)"),
    ("net", "(p, d, t) -> margin(p, d) * (1 + t)"),
    ("inrange", "(x, lo, hi) -> x >= lo AND x <= hi"),
)


# ---------------------------------------------------------------------------
# table
# ---------------------------------------------------------------------------


@dataclass
class Table:
    """Column values plus validity masks (False = SQL NULL).  Null slots
    hold a harmless filler value so numpy comparisons never warn."""

    cols: Dict[str, np.ndarray]
    valid: Dict[str, np.ndarray]

    @property
    def n(self) -> int:
        return len(self.cols["id"])

    def slice(self, start: int, stop: int) -> "Table":
        return Table(
            {k: v[start:stop] for k, v in self.cols.items()},
            {k: v[start:stop] for k, v in self.valid.items()},
        )

    def _strings(self, name: str, vocab: Sequence[str]) -> pa.Array:
        codes = pa.array(self.cols[name].astype(np.int32), mask=~self.valid[name])
        return pa.DictionaryArray.from_arrays(codes, list(vocab)).cast(pa.string())

    def arrow(self) -> pa.Table:
        def arr(name: str, typ: pa.DataType) -> pa.Array:
            mask = ~self.valid[name]
            return pa.array(self.cols[name], type=typ, mask=mask if mask.any() else None)

        return pa.table(
            {
                "id": arr("id", pa.int64()),
                "qty": arr("qty", pa.int32()),
                "price": arr("price", pa.float64()),
                "disc": arr("disc", pa.float64()),
                "tax": arr("tax", pa.float64()),
                "ship": arr("ship", pa.int32()).cast(pa.date32()),
                "status": self._strings("status", STATUS),
                "mode": self._strings("mode", MODES),
                "code": pa.array(np.char.add("C", self.cols["code"].astype(str))),
            }
        )


def make_table(seed: int, n: int) -> Table:
    rng = np.random.default_rng([seed, 1])

    def nulls(share: float) -> np.ndarray:
        return rng.random(n) >= share

    qty = rng.integers(1, 51, n).astype(np.int32)
    price = np.round(rng.gamma(2.0, 150.0, n) + 1.0, 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = (FIRST_DAY + rng.integers(0, 1461, n)).astype(np.int32)
    # strings are held as codes into their vocabulary; ``code`` is a
    # number rendered as "C<digits>", so its length is known numerically
    status = rng.choice(3, n, p=[0.5, 0.45, 0.05]).astype(np.int8)
    mode = rng.integers(0, len(MODES), n).astype(np.int8)
    code = rng.integers(0, 10 ** rng.integers(1, 7, n))
    cols = {
        "id": np.arange(n, dtype=np.int64),
        "qty": qty,
        "price": price,
        "disc": disc,
        "tax": tax,
        "ship": ship,
        "status": status,
        "mode": mode,
        "code": code,
        "code_len": 1 + np.char.str_len(code.astype(str)),
    }
    valid = {k: np.ones(n, dtype=bool) for k in cols}
    valid["qty"] = nulls(0.03)
    valid["price"] = nulls(0.02)
    valid["ship"] = nulls(0.01)
    valid["status"] = nulls(0.01)
    for k in ("qty", "price", "ship", "status"):
        cols[k] = np.where(valid[k], cols[k], cols[k].dtype.type(0))
    return Table(cols, valid)


#: parquet files per stored table
PARTS = 8


def write_parquet(table: Table, path: str) -> None:
    """The table as a directory of ``PARTS`` files, in row order, so a
    scan splits across Spark's cores."""
    os.makedirs(path)
    data, step = table.arrow(), -(-table.n // PARTS)
    for i in range(PARTS):
        pq.write_table(data.slice(i * step, step), f"{path}/part-{i:02d}.parquet")


def read_pandas(path: str):
    """The stored table as a plain numpy-backed pandas frame: NULLs are
    NaN (integers with NULLs become floats), which DuckDB reads as NULL.
    DuckDB 1.0 loses the NULLs of masked ``Float64`` columns converted
    from Arrow, and of Arrow-backed columns in a row slice that does not
    start at 0, so batches in those dtypes would score wrongly."""
    return pq.read_table(path).to_pandas()


def read_rows(path: str, start: int, stop: int) -> List[dict]:
    """Rows ``start:stop`` of the stored table as Python dicts (dates as
    ``datetime.date``)."""
    return pq.read_table(path).slice(start, stop - start).to_pylist()


# ---------------------------------------------------------------------------
# predicates: SQL text + numpy "is TRUE" mask
# ---------------------------------------------------------------------------

Mask = Callable[[Table], np.ndarray]


@dataclass(frozen=True)
class Pred:
    sql: str
    true: Mask  # rows where the SQL predicate is TRUE (not FALSE, not NULL)
    null: Mask  # rows where it is NULL


_OPS = {">": operator.gt, ">=": operator.ge, "<": operator.lt, "<=": operator.le}


def _dbl(x: float) -> str:
    return f"{x!r}D"


def _day(d: int) -> str:
    return f"DATE'{EPOCH + dt.timedelta(days=int(d))}'"


def cmp(name: str, op: str, value, sql_value: str) -> Pred:
    f = _OPS[op]
    return Pred(
        f"{name} {op} {sql_value}",
        lambda t: t.valid[name] & f(t.cols[name], value),
        lambda t: ~t.valid[name],
    )


def is_in(name: str, vocab: Sequence[str], values: Sequence[str]) -> Pred:
    lits = ", ".join(f"'{v}'" for v in values)
    codes = [vocab.index(v) for v in values]
    return Pred(
        f"{name} IN ({lits})",
        lambda t: t.valid[name] & np.isin(t.cols[name], codes),
        lambda t: ~t.valid[name],
    )


def code_len(op: str, k: int) -> Pred:
    f = _OPS[op]
    return Pred(
        f"length(code) {op} {k}",
        lambda t: f(t.cols["code_len"], k),
        lambda t: np.zeros(t.n, dtype=bool),
    )


def either(a: Pred, b: Pred) -> Pred:
    return Pred(
        f"({a.sql} OR {b.sql})",
        lambda t: a.true(t) | b.true(t),
        lambda t: ~(a.true(t) | b.true(t)) & (a.null(t) | b.null(t)),
    )


def _margin(t: Table) -> np.ndarray:
    return t.cols["price"] * (1 - t.cols["disc"])


def net_over(c: float) -> Pred:
    return Pred(
        f"net(price, disc, tax) > {_dbl(c)}",
        lambda t: t.valid["price"] & (_margin(t) * (1 + t.cols["tax"]) > c),
        lambda t: ~t.valid["price"],
    )


def margin_in(lo: float, hi: float) -> Pred:
    def true(t: Table) -> np.ndarray:
        m = _margin(t)
        return t.valid["price"] & (m >= lo) & (m <= hi)

    return Pred(
        f"inrange(margin(price, disc), {_dbl(lo)}, {_dbl(hi)})",
        true,
        lambda t: ~t.valid["price"],
    )


# ---------------------------------------------------------------------------
# rules: SQL text + numpy encoded result
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GenRule:
    kind: str
    sql: str
    encoded: Callable[[Table], np.ndarray]  # int32 result per row


def bool_rule(p: Pred, kind: str = "bool") -> GenRule:
    return GenRule(kind, p.sql, lambda t: np.where(p.true(t), PASSED, 0).astype(np.int32))


def probability_rule(p: Pred) -> GenRule:
    # dyadic probabilities scale to exact integers: 0.875 passes the 0.8
    # threshold, 0.625 fails it
    return GenRule(
        "probability",
        f"CASE WHEN {p.sql} THEN 0.875D ELSE 0.625D END",
        lambda t: np.where(p.true(t), 87500, 62500).astype(np.int32),
    )


def soft_fail_rule(p: Pred) -> GenRule:
    # soft_fail maps FALSE to -1 (does not fail the overall result) and
    # keeps NULL, which the encoding turns into Failed
    return GenRule(
        "soft_fail",
        f"soft_fail({p.sql})",
        lambda t: np.where(p.null(t), 0, np.where(p.true(t), PASSED, -1)).astype(np.int32),
    )


def disabled_rule(p: Pred) -> GenRule:
    # integer-typed: 1 encodes Passed, -2 DisabledRule; NULL takes ELSE
    return GenRule(
        "disabled_rule",
        f"CASE WHEN {p.sql} THEN disabled_rule() ELSE 1 END",
        lambda t: np.where(p.true(t), -2, PASSED).astype(np.int32),
    )


class Stats:
    """Quantiles of the generated table, so thresholds hit a chosen share
    of rows whatever the seed."""

    def __init__(self, t: Table) -> None:
        self._t = t

    def q(self, name: str, share: float) -> float:
        v = self._t.cols[name][self._t.valid[name]]
        return float(np.quantile(v, share))


def _rare_fail_pred(k: int, st: Stats, fail: float) -> Pred:
    """Predicate kind ``k`` (0-8), TRUE on all but roughly ``fail`` of
    the non-null rows."""
    if k == 0:
        return cmp("qty", ">=", 1 + int(50 * fail), str(1 + int(50 * fail)))
    if k == 1:
        c = round(st.q("price", 1 - fail) + 0.005, 2)
        return cmp("price", "<", c, _dbl(c))
    if k == 2:
        c = round(st.q("price", fail), 2)
        return net_over(c)
    if k == 3:
        lo, hi = round(st.q("price", fail / 2) * 0.8, 2), round(st.q("price", 1 - fail / 2), 2)
        return margin_in(lo, hi)
    if k == 4:
        d = int(st.q("ship", 1 - fail)) + 1
        return cmp("ship", "<", d, _day(d))
    if k == 5:
        return code_len("<=", 7 if fail < 0.004 else 6)
    if k == 6:
        return is_in("status", STATUS, STATUS if fail < 0.003 else ("O", "F"))
    if k == 7:
        c = round(st.q("price", fail), 2)
        return either(cmp("price", ">", c, _dbl(c)), is_in("mode", MODES, ("AIR",)))
    return is_in("mode", MODES, MODES)


#: rule kinds by position, repeated: the kind mix (and so the work) is
#: the same for every seed; only constants depend on it
DQ_PATTERN = "PSDPS" + "B" * 20


def dq_rules(rng: np.random.Generator, st: Stats, n: int) -> List[GenRule]:
    """``n`` data-quality rules; most fail a fraction of a percent of
    rows, so a ~150-rule suite passes about three rows in four."""
    out: List[GenRule] = []
    for i in range(n):
        fail = float(rng.uniform(0.0, 0.01))
        kind = DQ_PATTERN[i % len(DQ_PATTERN)]
        if kind == "P":
            out.append(probability_rule(_rare_fail_pred(i % 9, st, fail / 4)))
        elif kind == "S":
            c = 1 + int(rng.integers(1, 10))
            out.append(soft_fail_rule(cmp("qty", ">=", c, str(c))))
        elif kind == "D":
            c = round(st.q("price", 0.999), 2)
            out.append(disabled_rule(cmp("price", ">", c, _dbl(c))))
        else:
            k = i % 9
            out.append(bool_rule(_rare_fail_pred(k, st, fail), "lambda" if k in (2, 3) else "bool"))
    return out


def _trigger(k: int, rng: np.random.Generator, st: Stats) -> Pred:
    """Predicate kind ``k`` (0-4), TRUE on 3-30% of rows — engine and
    folder triggers."""
    share = float(rng.uniform(0.03, 0.3))
    if k == 0:
        c = int(50 * (1 - share))
        return cmp("qty", ">", c, str(c))
    if k == 1:
        c = round(st.q("price", share), 2)
        return cmp("price", "<", c, _dbl(c))
    if k == 2:
        return net_over(round(st.q("price", 1 - share), 2))
    if k == 3:
        d = int(st.q("ship", share))
        return cmp("ship", "<", d, _day(d))
    return is_in("mode", MODES, (MODES[int(rng.integers(0, len(MODES)))],))


@dataclass(frozen=True)
class EngineRule:
    trigger: GenRule
    salience: int
    output: str  # SQL, BIGINT
    value: Callable[[Table], np.ndarray]  # int64 output value per row
    value_valid: Callable[[Table], np.ndarray]


def engine_rules(rng: np.random.Generator, st: Stats, n: int) -> List[EngineRule]:
    saliences = rng.permutation(n * 10)[:n] + 1
    out = []
    for i in range(n):
        p = _trigger(i % 5, rng, st)
        k, c = int(rng.integers(2, 9)), int(rng.integers(0, 1000))
        if i % 2:
            sql = f"CAST(qty AS BIGINT) * {k} + {c}"
            value = lambda t, k=k, c=c: t.cols["qty"].astype(np.int64) * k + c
            valid = lambda t: t.valid["qty"]
        else:
            sql = f"id % {k} + {c}"
            value = lambda t, k=k, c=c: t.cols["id"] % k + c
            valid = lambda t: np.ones(t.n, dtype=bool)
        out.append(EngineRule(bool_rule(p), int(saliences[i]), sql, value, valid))
    return out


#: the folder's starting struct (SQL) and the numpy initial accumulator
FOLD_START = "named_struct('amt', coalesce(price, 0.0D), 'fee', 0.0D, 'hits', 0)"


def fold_start(t: Table) -> Dict[str, np.ndarray]:
    return {
        "amt": np.where(t.valid["price"], t.cols["price"], 0.0),
        "fee": np.zeros(t.n),
        "hits": np.zeros(t.n, dtype=np.int64),
    }


@dataclass(frozen=True)
class FoldRule:
    trigger: GenRule
    salience: int
    output: str  # set(...) SQL
    step: Callable[[Dict[str, np.ndarray]], Dict[str, np.ndarray]]


def folder_rules(rng: np.random.Generator, st: Stats, n: int) -> List[FoldRule]:
    saliences = rng.permutation(n * 10)[:n] + 1
    out = []
    for i in range(n):
        p = _trigger(i % 5, rng, st)
        k = i % 4
        x = round(float(rng.uniform(0.5, 5.0)), 2)
        if k == 0:
            sql = "set(amt = currentResult.amt * 0.99D)"
            step = lambda a: {**a, "amt": a["amt"] * 0.99}
        elif k == 1:
            sql = f"set(fee = currentResult.fee + {_dbl(x)})"
            step = lambda a, x=x: {**a, "fee": a["fee"] + x}
        elif k == 2:
            sql = "set(hits = currentResult.hits + 1)"
            step = lambda a: {**a, "hits": a["hits"] + 1}
        else:
            sql = f"set(amt = currentResult.amt - {_dbl(x)}, hits = currentResult.hits + 1)"
            step = lambda a, x=x: {**a, "amt": a["amt"] - x, "hits": a["hits"] + 1}
        out.append(FoldRule(bool_rule(p), int(saliences[i]), sql, step))
    return out


# ---------------------------------------------------------------------------
# programs
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Program:
    """One generated rule program: a DQ suite in sets, an engine suite and
    a folder suite (triggers plus outputs), all sharing ``LAMBDAS``."""

    sets: Tuple[Tuple[GenRule, ...], ...]
    engine: Tuple[EngineRule, ...]
    folder: Tuple[FoldRule, ...]

    @property
    def rules(self) -> List[GenRule]:
        return [r for s in self.sets for r in s]


def make_program(
    seed: int, variant: int, table: Table, n_rules: int, set_size: int,
    n_engine: int, n_folder: int,
) -> Program:
    """Same seed and variant give the same program.  Variants of one size
    share their shape and differ in constants, so each compiles to new
    generated code while doing the same amount of work."""
    rng = np.random.default_rng([seed, 2, variant])
    st = Stats(table)
    rules = dq_rules(rng, st, n_rules)
    sets = tuple(tuple(rules[i : i + set_size]) for i in range(0, n_rules, set_size))
    return Program(
        sets,
        tuple(engine_rules(rng, st, n_engine)),
        tuple(folder_rules(rng, st, n_folder)),
    )


# rule tables in the library's rule-row shape, written with pyarrow so the
# library loads them as data (sources.read_*_from_df)

SUITE = (1, 1)
ENGINE_SUITE = (2, 1)
FOLDER_SUITE = (3, 1)


def rule_rows(program: Program) -> Dict[str, pa.Table]:
    rows: Dict[str, list] = {k: [] for k in (
        "ruleSuiteId", "ruleSuiteVersion", "ruleSetId", "ruleSetVersion", "ruleId",
        "ruleVersion", "ruleExpr", "ruleEngineSalience", "ruleEngineId", "ruleEngineVersion",
    )}
    outputs: Dict[str, list] = {k: [] for k in (
        "ruleExpr", "functionId", "functionVersion", "ruleSuiteId", "ruleSuiteVersion",
    )}

    def add(suite, set_id, rule_id, text, salience=None, out_id=None, out_text=None):
        for k, v in zip(rows, (*suite, set_id, 1, rule_id, 1, text, salience,
                               out_id, None if out_id is None else 1)):
            rows[k].append(v)
        if out_id is not None:
            for k, v in zip(outputs, (out_text, out_id, 1, *suite)):
                outputs[k].append(v)

    rid = 0
    for si, s in enumerate(program.sets):
        for r in s:
            rid += 1
            add(SUITE, 10 + si, rid, r.sql)
    for i, e in enumerate(program.engine):
        add(ENGINE_SUITE, 1, 1000 + i, e.trigger.sql, e.salience, 5000 + i, e.output)
    for i, f in enumerate(program.folder):
        add(FOLDER_SUITE, 1, 2000 + i, f.trigger.sql, f.salience, 6000 + i, f.output)

    lambdas: Dict[str, list] = {k: [] for k in (
        "name", "ruleExpr", "functionId", "functionVersion", "ruleSuiteId", "ruleSuiteVersion",
    )}
    for suite in (SUITE, ENGINE_SUITE, FOLDER_SUITE):
        for i, (name, text) in enumerate(LAMBDAS):
            for k, v in zip(lambdas, (name, text, 100 + i, 1, *suite)):
                lambdas[k].append(v)

    i32, s = pa.int32(), pa.string()
    rule_schema = pa.schema(
        [pa.field(k, i32, nullable=k.startswith("ruleEngine")) for k in list(rows)[:6]]
        + [pa.field("ruleExpr", s, nullable=False)]
        + [pa.field(k, i32) for k in list(rows)[7:]]
    )
    return {
        "rules": pa.table(rows, schema=rule_schema),
        "outputs": pa.table(outputs, schema=pa.schema(
            [pa.field("ruleExpr", s, nullable=False)]
            + [pa.field(k, i32, nullable=False) for k in list(outputs)[1:]])),
        "lambdas": pa.table(lambdas, schema=pa.schema(
            [pa.field("name", s, nullable=False), pa.field("ruleExpr", s, nullable=False)]
            + [pa.field(k, i32, nullable=False) for k in list(lambdas)[2:]])),
    }


def write_program(program: Program, directory: str) -> Dict[str, str]:
    paths = {}
    for name, tbl in rule_rows(program).items():
        paths[name] = f"{directory}/{name}.parquet"
        pq.write_table(tbl, paths[name])
    return paths
