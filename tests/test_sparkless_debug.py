"""RowProcessor (sparkless analogue), print_expr macro, debug helpers."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from quality_spark.model import Id, PASSED_INT, Rule, RuleSet, RuleSuite
from quality_spark.sparkless import dq_factory

SUITE = RuleSuite(
    Id(1, 1),
    (
        RuleSet(
            Id(10, 1),
            (Rule(Id(100, 1), "qty > 0"), Rule(Id(101, 1), "price >= 0")),
        ),
    ),
)


def test_row_processor_batches(spark):
    proc = dq_factory(spark, SUITE, "qty double, price double")
    out = proc.process([(1.0, 5.0), (-1.0, 5.0), (2.0, -3.0)])
    overall = [r["DQ"]["overallResult"] for r in out]
    assert overall == [PASSED_INT, 0, 0]
    # reusable: second batch through the same compiled plan
    out2 = proc.process_one({"qty": 3.0, "price": 1.0})
    assert out2["DQ"]["overallResult"] == PASSED_INT


def test_row_processor_matches_cluster_path(spark, lineitem):
    suite = RuleSuite(
        Id(1, 1), (RuleSet(Id(10, 1), (Rule(Id(100, 1), "l_quantity > 25"),)),)
    )
    from quality_spark.operators.runner import add_data_quality

    sample = lineitem.select("l_quantity").limit(50)
    want = [
        r["DQ"]["overallResult"] for r in add_data_quality(sample, suite).collect()
    ]
    proc = dq_factory(spark, suite, "l_quantity double")
    got = [
        r["DQ"]["overallResult"]
        for r in proc.process([(r["l_quantity"],) for r in sample.collect()])
    ]
    assert got == want


def test_print_expr_macro(spark, capsys):
    from quality_spark.plans.compiler import expand_rules

    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), (Rule(Id(100, 1), "print_expr(l_quantity > 0)"),)),),
    )
    (_, _, sql), = expand_rules(suite)
    assert "l_quantity > 0" in sql and "print_expr" not in sql
    assert "l_quantity > 0" in capsys.readouterr().out


def test_debug_helpers(spark, lineitem):
    from quality_spark.plans.debug import expression_tree, explain_runner, generated_code

    suite = RuleSuite(
        Id(1, 1), (RuleSet(Id(10, 1), (Rule(Id(100, 1), "l_quantity > 0"),)),)
    )
    tree = expression_tree(F.expr("l_quantity > 0"))
    assert "l_quantity" in tree
    plan = explain_runner(lineitem, suite)
    assert "Scan" in plan or "FileScan" in plan or "Relation" in plan
    code = generated_code(lineitem.select((F.col("l_quantity") * 2).alias("x")))
    assert "WholeStageCodegen" in code or "Found 0" in code or "class" in code


def test_duckdb_processor_matches_spark_runner(spark, sf_dir):
    """The Spark-free DuckDB processor must produce EXACTLY the Spark
    runner's nested result struct on real data — bool, probability,
    soft-fail, disabled, and lambda rules included."""
    import __spark_entry__ as entrymod
    from quality_spark.operators.runner import add_data_quality
    from quality_spark.sparkless import DuckDBProcessor

    suite = entrymod.fixture_suite()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(200)
    pdf = li.toPandas()

    proc = DuckDBProcessor(suite, pdf.iloc[0].to_dict())
    got = proc.process(pdf.to_dict("records"))

    want = [
        r["DQ"].asDict(recursive=True)
        for r in add_data_quality(li, suite).select("DQ").collect()
    ]
    assert len(got) == len(want) == 200
    for g, w in zip(got, want):
        assert g == w


def test_duckdb_processor_rejects_spark_only_rules():
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite, ExpressionRule
    from quality_spark.plans.compiler import RuleCompilationError
    from quality_spark.sparkless import DuckDBProcessor

    # the non-portable rule sits between two portable ones: the batched
    # bind fails as a whole, and the error still names rule 101
    rules = [
        Rule(Id(100, 1), ExpressionRule("x = 'a'")),
        Rule(Id(101, 1), ExpressionRule("xxhash64(x) > 0")),
        Rule(Id(102, 1), ExpressionRule("length(x) > 0")),
    ]
    suite = RuleSuite(Id(1, 1), (RuleSet(Id(10, 1), tuple(rules)),))
    try:
        DuckDBProcessor(suite, {"x": "a"})
        assert False, "expected RuleCompilationError"
    except RuleCompilationError as e:
        assert "rule Id(id=101, version=1) in set Id(id=10, version=1)" in str(e)
        assert "not DuckDB-portable" in str(e)


def test_duckdb_processor_truncates_probabilities_like_spark(spark):
    """DuckDB CAST rounds where Spark truncates — the duck encoder must
    trunc() so a 2/3 probability encodes 66666 on both engines."""
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite, ExpressionRule
    from quality_spark.operators.runner import add_data_quality
    from quality_spark.sparkless import DuckDBProcessor

    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), (Rule(Id(100, 1), ExpressionRule("x / 3.0")),)),),
    )
    df = spark.createDataFrame([(2.0,), (1.0,), (2.9999999,)], "x double")
    from quality_spark.model import pack_id

    sid, rid = pack_id(Id(10, 1)), pack_id(Id(100, 1))
    want = [
        r["DQ"]["ruleSetResults"][sid]["ruleResults"][rid]
        for r in add_data_quality(df, suite).collect()
    ]
    proc = DuckDBProcessor(suite, {"x": 1.0})
    got = [
        res["ruleSetResults"][sid]["ruleResults"][rid]
        for res in proc.process([{"x": 2.0}, {"x": 1.0}, {"x": 2.9999999}])
    ]
    assert got == want
    assert got[0] == 66666  # truncation, not rounding


def test_duckdb_processor_schema_mode_and_null_guard(spark, sf_dir):
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite, ExpressionRule
    from quality_spark.sparkless import DuckDBProcessor

    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), (Rule(Id(100, 1), ExpressionRule("lower(s) = 'ok'")),)),),
    )
    # schema mode types a string column correctly even with null data
    proc = DuckDBProcessor(suite, schema="s string")
    out = proc.process([{"s": "OK"}, {"s": None}, {"s": "no"}])
    from quality_spark.model import pack_id

    rid = pack_id(Id(100, 1))
    sid = pack_id(Id(10, 1))
    got = [r["ruleSetResults"][sid]["ruleResults"][rid] for r in out]
    assert got == [100000, 0, 0]  # null -> Failed, like the Spark runner

    # sample_row with a None value is rejected, not silently mistyped
    try:
        DuckDBProcessor(suite, {"s": None})
        assert False, "expected ValueError"
    except ValueError as e:
        assert "schema" in str(e)


def test_duckdb_processor_schema_governs_all_null_batch(spark):
    """An all-null batch column (object dtype) must still execute with
    the DECLARED type, not a re-inferred one."""
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite, ExpressionRule, pack_id
    from quality_spark.sparkless import DuckDBProcessor

    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), (Rule(Id(100, 1), ExpressionRule("length(s) > 1")),)),),
    )
    proc = DuckDBProcessor(suite, schema="s string")
    out = proc.process([{"s": None}, {"s": None}])  # whole batch null
    rid, sid = pack_id(Id(100, 1)), pack_id(Id(10, 1))
    assert [r["ruleSetResults"][sid]["ruleResults"][rid] for r in out] == [0, 0]


def test_duckdb_processor_truly_spark_free():
    """Schema-mode construction + scoring must work in a process with
    NO SparkSession/SparkContext — the processor's core claim. (Spark 4
    made pyspark's DDL parser require an active session; this pins the
    self-contained parse.)"""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"import sys; sys.path.insert(0, {repo!r})\n" + r"""
from pyspark.sql import SparkSession
assert SparkSession.getActiveSession() is None
from quality_spark import rule_suite
from quality_spark.sparkless import DuckDBProcessor
suite = rule_suite((1, 1), [((1, 1), [((100, 1), "x > 0.5 and s is not null")])])
proc = DuckDBProcessor(suite, schema="x double, s string, d decimal(10,2)")
out = proc.process([{"x": 1.0, "s": "a", "d": None}, {"x": 0.1, "s": None, "d": None}])
rs = [r["overallResult"] for r in out]
assert rs[0] != rs[1], rs
assert SparkSession.getActiveSession() is None
print("SPARK_FREE_OK")
"""
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert "SPARK_FREE_OK" in r.stdout, r.stdout + r.stderr


def test_duckdb_processor_small_tiny_literal_suffixes(spark):
    """Spark typed literals 2S (smallint) and 3Y (tinyint) must be
    stripped for DuckDB like D/L/F/BD, and only from numbers: the same
    digits-and-letter text inside a string literal is data and stays as
    written, so DuckDB scores every rule as the Spark runner does."""
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite, ExpressionRule, pack_id
    from quality_spark.operators.runner import add_data_quality
    from quality_spark.sparkless import DuckDBProcessor

    rules = (
        "x > 2S and x < 120Y",
        "code = '12D'",
        "code != '5L' AND qty > 1.5D",
        "concat(code, '-3S') = '12D-3S'",
    )
    suite = RuleSuite(
        Id(1, 1),
        (
            RuleSet(
                Id(10, 1),
                tuple(
                    Rule(Id(100 + i, 1), ExpressionRule(r))
                    for i, r in enumerate(rules)
                ),
            ),
        ),
    )
    schema = "x int, code string, qty double"
    rows = [
        {"x": 5, "code": "12D", "qty": 2.0},
        {"x": 1, "code": "5L", "qty": 2.0},
        {"x": 500, "code": "7", "qty": 1.0},
    ]
    proc = DuckDBProcessor(suite, schema=schema)
    got = proc.process(rows)
    want = [
        r["DQ"].asDict(recursive=True)
        for r in add_data_quality(
            spark.createDataFrame([tuple(r.values()) for r in rows], schema), suite
        ).collect()
    ]
    assert got == want
    sid = pack_id(Id(10, 1))
    per_rule = [
        [g["ruleSetResults"][sid]["ruleResults"][pack_id(Id(100 + i, 1))] for g in got]
        for i in range(len(rules))
    ]
    assert per_rule == [
        [PASSED_INT, 0, 0],
        [PASSED_INT, 0, 0],
        [PASSED_INT, 0, 0],
        [PASSED_INT, 0, 0],
    ]


def test_duckdb_processor_input_column_named_r_0():
    """Input columns literally named like the output (r_0) or the
    internal per-rule alias (__qs_r_0) must not reach the results: the
    inner select projects only the encoded rules, and the outer select
    reads only their aliases."""
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite, ExpressionRule, pack_id
    from quality_spark.sparkless import DuckDBProcessor

    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), (Rule(Id(100, 1), ExpressionRule("r_0 > 0")),)),),
    )
    proc = DuckDBProcessor(suite, schema="r_0 int, __qs_r_0 int")
    rid, sid = pack_id(Id(100, 1)), pack_id(Id(10, 1))
    out = proc.process([{"r_0": 5, "__qs_r_0": 7}, {"r_0": -1, "__qs_r_0": 7}])
    got = [r["ruleSetResults"][sid]["ruleResults"][rid] for r in out]
    assert got == [100000, 0]
    assert [r["overallResult"] for r in out] == [100000, 0]


def test_duckdb_processor_masked_float64_nulls():
    """A NULL in a pandas masked Float64 column must score as NULL, the
    same as in the numpy-dtype batch: DuckDB's pandas scan reads it as
    0.0, which silently passed ``x >= 0``."""
    import pandas as pd
    import pyarrow as pa

    from quality_spark.model import ExpressionRule
    from quality_spark.sparkless import DuckDBProcessor

    suite = RuleSuite(
        Id(1, 1),
        (
            RuleSet(
                Id(10, 1),
                (
                    Rule(Id(100, 1), ExpressionRule("x >= 0")),
                    Rule(Id(101, 1), ExpressionRule("x IS NULL")),
                ),
            ),
        ),
    )
    proc = DuckDBProcessor(suite, schema="x double, s string")
    t = pa.table({"x": [1.0, None, -2.0, None], "s": ["a", None, "c", "d"]})
    plain = proc.process_pandas(t.to_pandas())
    assert plain["r_0"].tolist() == [PASSED_INT, 0, 0, 0]
    assert plain["r_1"].tolist() == [0, PASSED_INT, 0, PASSED_INT]
    masked = t.to_pandas(types_mapper={pa.float64(): pd.Float64Dtype()}.get)
    assert proc.process_pandas(masked).equals(plain)
    # a sliced frame keeps its nulls too
    got = proc.process_pandas(masked.iloc[1:])
    assert got.equals(plain.iloc[1:].reset_index(drop=True))


def test_duckdb_processor_keeps_in_lists_out_of_joins():
    """DuckDB's in_clause optimizer turns every long IN-list into a hash
    join, planned again on every call; the processor's scoring query
    must have none."""
    import pandas as pd

    from quality_spark.model import ExpressionRule
    from quality_spark.sparkless import DuckDBProcessor

    suite = RuleSuite(
        Id(1, 1),
        (
            RuleSet(
                Id(10, 1),
                (
                    Rule(Id(100, 1), ExpressionRule("k IN (1, 2, 3, 4, 5, 6, 7)")),
                    Rule(Id(101, 1), ExpressionRule("s IN ('a', 'b', 'c', 'd', 'e', 'f', 'g', 'h')")),
                    Rule(Id(102, 1), ExpressionRule("k > 0")),
                ),
            ),
        ),
    )
    proc = DuckDBProcessor(suite, schema="k int, s string")
    out = proc.process_pandas(pd.DataFrame({"k": [3, 9], "s": ["h", "z"]}))
    assert out["overall"].tolist() == [PASSED_INT, 0]

    def hash_joins():
        plan = proc._con.execute("EXPLAIN " + proc._sql).fetchall()[0][1]
        return plan.count("HASH_JOIN")

    assert hash_joins() == 0
    # control: with the optimizer back on, the same query joins per list
    proc._con.execute("RESET disabled_optimizers")
    assert hash_joins() == 2


_MIXED_SCHEMA = "i int, d double, dec decimal(10,2), dt date, s string, ts timestamp"


def _mixed_suite():
    from quality_spark.model import ExpressionRule

    texts = [
        "i > 0",
        "d / 3.0",  # double: probability encoding
        "dec >= 1.5",
        "dt >= DATE '2024-01-02'",
        "s",  # string encoding
        "i % 3 - 1",  # int encoding
        "ts >= TIMESTAMP '2024-01-01 12:00:00'",
        "hour(ts) = 12",
        "i IS NULL",
    ]
    rules = tuple(Rule(Id(100 + k, 1), ExpressionRule(t)) for k, t in enumerate(texts))
    return RuleSuite(
        Id(1, 1), (RuleSet(Id(10, 1), rules[:5]), RuleSet(Id(11, 1), rules[5:]))
    )


def _mixed_rows():
    import datetime as dt
    from decimal import Decimal

    return [
        {"i": 1, "d": 0.5, "dec": Decimal("2.50"), "dt": dt.date(2024, 1, 3),
         "s": "pass", "ts": dt.datetime(2024, 1, 1, 12, 30)},
        {"i": None, "d": None, "dec": None, "dt": None, "s": None, "ts": None},
        {"i": -4, "d": 2.0, "dec": Decimal("1.00"), "dt": dt.date(2023, 12, 31),
         "s": "maybe", "ts": dt.datetime(2024, 1, 1, 11, 59, 59, 999)},
        {"i": 3, "d": -3.0, "dec": Decimal("1.5"), "dt": dt.date(2024, 1, 2),
         "s": "no", "ts": dt.datetime(2023, 6, 30, 23, 0, 0, 1)},
    ]


def _as_kind(rows, kind):
    from pyspark.sql import Row

    if kind == "mapping":
        return rows
    if kind == "row":
        return [Row(**r) for r in rows]
    return [tuple(r.values()) for r in rows]


@pytest.mark.parametrize("kind", ["mapping", "row", "tuple"])
def test_row_processor_matches_add_data_quality(spark, kind):
    """The Arrow input gives the rows ``add_data_quality`` gives over
    ``spark.createDataFrame(rows, schema)``, for Mapping, ``Row`` and
    tuple rows with NULL, date, decimal, string and timestamp values."""
    from quality_spark.operators.runner import add_data_quality

    suite, rows = _mixed_suite(), _as_kind(_mixed_rows(), kind)
    want = add_data_quality(spark.createDataFrame(rows, _MIXED_SCHEMA), suite).collect()
    proc = dq_factory(spark, suite, _MIXED_SCHEMA)
    assert proc.process(rows) == want
    assert proc.process([]) == []


def test_row_processor_naive_timestamp_is_the_list_paths_instant(spark, monkeypatch):
    """A naive ``datetime`` means the same instant as on the list path
    (Spark reads it in this process's local time zone), under a
    session time zone and a process time zone that both differ from
    UTC and from each other."""
    import datetime as dt
    import time

    from quality_spark.operators.runner import add_data_quality

    suite, rows = _mixed_suite(), _mixed_rows()
    rows.append(dict(rows[0], ts=dt.datetime(2024, 1, 1, 12, 0, tzinfo=dt.timezone.utc)))
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        frame = spark.createDataFrame(rows, _MIXED_SCHEMA)
        want = add_data_quality(frame, suite).collect()
        assert dq_factory(spark, suite, _MIXED_SCHEMA).process(rows) == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        monkeypatch.undo()
        time.tzset()


def test_row_processor_call_starts_no_spark_job(spark):
    """A ``process`` call is planned over a local relation: no job."""
    proc = dq_factory(spark, _mixed_suite(), _MIXED_SCHEMA)
    store = spark.sparkContext._jsc.sc().statusStore()
    before = store.jobsList(None).size()
    out = proc.process(_mixed_rows())
    assert store.jobsList(None).size() == before
    assert len(out) == 4


def test_duckdb_processor_evaluates_each_rule_once():
    """Each rule's SQL text appears once in the scoring query: its
    value is computed once and the encoding and folds read the value."""
    from quality_spark.model import ExpressionRule
    from quality_spark.sparkless import DuckDBProcessor

    texts = ["d / 3.0", "lower(s) = 'zz'", "CAST(i AS BIGINT) % 2", "concat(s, 'q')"]
    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), tuple(Rule(Id(100 + k, 1), ExpressionRule(t))
                                  for k, t in enumerate(texts))),),
    )
    proc = DuckDBProcessor(suite, schema="i int, d double, s string")
    for t in texts:
        assert proc._sql.count(t) == 1, t


def test_duckdb_processor_nested_rows_match_flat_frame():
    """``process`` builds the same nested dicts, of plain ints, as a
    per-row read of the ``process_pandas`` frame."""
    import pandas as pd

    from quality_spark.model import ExpressionRule, pack_id
    from quality_spark.sparkless import DuckDBProcessor

    texts = ["d / 3.0", "s", "i % 3 - 1", "i > 0", "d IS NULL"]
    rules = tuple(Rule(Id(100 + k, 1), ExpressionRule(t)) for k, t in enumerate(texts))
    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(-10, 1), rules[:2]), RuleSet(Id(11, 1), rules[2:])),
        probable_pass=0.5,
    )
    proc = DuckDBProcessor(suite, schema="i int, d double, s string")
    rows = [
        {"i": 1, "d": 2.0, "s": "pass"},
        {"i": None, "d": None, "s": None},
        {"i": -1, "d": 1.0, "s": "maybe"},
        {"i": 5, "d": 3.0, "s": "disabled"},
    ]
    flat = proc.process_pandas(pd.DataFrame(rows))
    want = []
    for i in range(len(flat)):
        row = flat.iloc[i]
        sets = {
            pack_id(rs.id): {"overallResult": int(row[f"s_{pack_id(rs.id)}"]), "ruleResults": {}}
            for rs in suite.rule_sets
        }
        for j, (rs, r) in enumerate(suite.all_rules()):
            sets[pack_id(rs.id)]["ruleResults"][pack_id(r.id)] = int(row[f"r_{j}"])
        want.append({"id": pack_id(suite.id), "overallResult": int(row["overall"]),
                     "ruleSetResults": sets})
    got = proc.process(rows)
    assert got == want
    assert all(
        type(v) is int
        for g in got
        for s in g["ruleSetResults"].values()
        for v in [s["overallResult"], *s["ruleResults"].values()]
    )
