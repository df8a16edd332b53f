"""rule_engine_runner + rule_folder_runner semantics (FIXTURES.md §2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quality_spark import (
    DuckDBProcessor,
    Id,
    RowProcessor,
    add_data_quality,
    add_expression_runner,
    add_folder,
    add_rule_engine,
    engine_rule,
    engine_suite,
    fold_and_replace_fields,
    pack_id,
)
from quality_spark.plans.compiler import RuleCompilationError


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


ENGINE_SUITE = engine_suite(
    (2, 1),
    [
        (
            (1, 1),
            [
                engine_rule((1, 1), "o_totalprice > 100000", 10, "'big'", (900, 1)),
                engine_rule((2, 1), "o_orderstatus = 'F'", 20, "'finished'", (901, 1)),
                engine_rule((3, 1), "true", 1000, "'other'", (902, 1)),
            ],
        )
    ],
)


def test_engine_schema(orders):
    df = add_rule_engine(orders, ENGINE_SUITE, result_ddl="string", name="re")
    t = df.schema["re"].dataType.simpleString()
    assert t == (
        "struct<ruleSuiteResults:struct<id:bigint,overallResult:int,"
        "ruleSetResults:map<bigint,struct<overallResult:int,ruleResults:map<bigint,int>>>>,"
        "salientRule:struct<ruleSuiteId:bigint,ruleSetId:bigint,ruleId:bigint>,"
        "result:string>"
    )


def test_engine_salience_choice(orders):
    df = add_rule_engine(orders, ENGINE_SUITE, result_ddl="string", name="re")
    rows = df.select("o_totalprice", "o_orderstatus", "re.result").collect()
    for r in rows:
        if r["o_totalprice"] > 100000:
            assert r["result"] == "big"
        elif r["o_orderstatus"] == "F":
            assert r["result"] == "finished"
        else:
            assert r["result"] == "other"


def test_engine_salient_rule_triple(orders):
    df = add_rule_engine(orders, ENGINE_SUITE, result_ddl="string", name="re")
    row = df.filter(F.col("o_totalprice") > 100000).select("re.salientRule").first()
    assert row["salientRule"]["ruleSuiteId"] == pack_id(Id(2, 1))
    assert row["salientRule"]["ruleId"] == pack_id(Id(1, 1))


def test_engine_no_rule_passes(spark):
    suite = engine_suite(
        (2, 2),
        [((1, 1), [engine_rule((1, 1), "x > 100", 10, "'hit'", (900, 1))])],
    )
    df = spark.createDataFrame([(1,)], "x int")
    row = add_rule_engine(df, suite, result_ddl="string", name="re").select("re").first()["re"]
    assert row["result"] is None
    assert row["salientRule"] is None
    # DQ still evaluated: the failing trigger fails the overall
    assert row["ruleSuiteResults"]["overallResult"] == 0


def test_engine_debug_mode(orders):
    df = add_rule_engine(
        orders, ENGINE_SUITE, result_ddl="string", name="re", debug_mode=True
    )
    row = df.filter(F.col("o_totalprice") > 100000).select("re.result").first()["result"]
    # all passing rules, salience ascending
    sals = [e["salience"] for e in row]
    assert sals == sorted(sals) and sals[-1] == 1000
    assert row[0]["result"] == "big"
    assert row[-1]["result"] == "other"


FOLDER_SUITE = engine_suite(
    (4, 1),
    [
        (
            (1, 1),
            [
                engine_rule(
                    (1, 1),
                    "c_acctbal > 1000",
                    10,
                    "set(c_acctbal = currentResult.c_acctbal * 1.1)",
                    (910, 1),
                ),
                engine_rule(
                    (2, 1),
                    "c_mktsegment = 'BUILDING'",
                    20,
                    "currentResult -> named_struct('c_acctbal', currentResult.c_acctbal + 5.0, 'c_mktsegment', 'B2B')",
                    (911, 1),
                ),
            ],
        )
    ],
)


def test_folder_fold_semantics(customer):
    start = F.struct(F.col("c_acctbal"), F.col("c_mktsegment"))
    df = add_folder(customer, FOLDER_SUITE, start, name="fold")
    rows = df.select("c_acctbal", "c_mktsegment", "fold.result").collect()
    for r in rows:
        bal, seg, res = r["c_acctbal"], r["c_mktsegment"], r["result"]
        exp_bal = bal
        hit = False
        if bal > 1000:
            exp_bal = bal * 1.1
            hit = True
        exp_seg = seg
        if seg == "BUILDING":
            exp_bal = exp_bal + 5.0
            exp_seg = "B2B"
            hit = True
        if not hit:
            assert res is None
        else:
            assert res["c_mktsegment"] == exp_seg
            assert abs(res["c_acctbal"] - exp_bal) < 1e-9


def test_folder_debug_mode(customer):
    start = F.struct(F.col("c_acctbal"), F.col("c_mktsegment"))
    df = add_folder(customer, FOLDER_SUITE, start, name="fold", debug_mode=True)
    row = (
        df.filter((F.col("c_acctbal") > 1000) & (F.col("c_mktsegment") == "BUILDING"))
        .select("fold.result")
        .first()["result"]
    )
    assert len(row) == 2
    assert [e["salience"] for e in row] == [10, 20]
    assert row[1]["result"]["c_mktsegment"] == "B2B"


def test_fold_and_replace_fields(customer):
    out = fold_and_replace_fields(
        customer, FOLDER_SUITE, ["c_acctbal", "c_mktsegment"], keep_dq=False
    )
    assert out.columns == customer.columns
    joined = (
        customer.alias("a")
        .join(out.alias("b"), "c_custkey")
        .select("a.c_acctbal", "b.c_acctbal", "a.c_mktsegment")
        .collect()
    )
    for orig, new, seg in joined:
        if orig > 1000 or seg == "BUILDING":
            assert new != orig or seg == "BUILDING"
        else:
            assert new == orig


def test_flatten_rule_results_engine_output(orders):
    """flatten_rule_results appends salientRule + result to every
    flattened row (reference FlattenRulesResultsExpression)."""
    import quality_spark.functions.api as Q

    df = add_rule_engine(orders, ENGINE_SUITE, result_ddl="string", name="re")
    f = df.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey", "re", F.explode(Q.flatten_rule_results(F.col("re"))).alias("r")
    )
    rows = f.collect()
    assert rows
    per_key = {}
    for r in rows:
        per_key.setdefault(r["o_orderkey"], []).append(r)
    for key, rs in per_key.items():
        assert len(rs) == 3  # one flattened row per rule
        for r in rs:
            assert r["r"]["result"] == r["re"]["result"]  # payload repeated
            assert r["r"]["salientRule"] == r["re"]["salientRule"]
            assert r["r"]["ruleSuiteId"] == 2
            assert r["r"]["ruleSuiteResult"] is not None


def test_flatten_folder_results(customer):
    import quality_spark.functions.api as Q

    start = F.struct(F.col("c_acctbal"), F.col("c_mktsegment"))
    df = add_folder(customer, FOLDER_SUITE, start, name="fold")
    f = df.select(
        "c_custkey", "fold", F.explode(Q.flatten_folder_results(F.col("fold"))).alias("r")
    )
    rows = f.limit(100).collect()
    assert rows
    for r in rows:
        assert r["r"]["result"] == r["fold"]["result"]
        assert r["r"]["ruleSuiteId"] is not None
        assert r["r"]["ruleResult"] is not None


def test_engine_1000_rules_compiles_fast(orders):
    """String-SQL assembly keeps the engine chain build off the py4j
    per-rule path: 1000 rules must compile (Column build + analysis)
    in seconds, mirroring the runner stress numbers in SCALE.md."""
    import time

    n = 1000
    rules = [
        engine_rule(
            (i, 1),
            f"o_totalprice > {100000 + i}",
            i,  # distinct saliences, declaration order
            f"'r{i}'",
            (900 + i, 1),
        )
        for i in range(1, n + 1)
    ]
    suite = engine_suite((9, 1), [((1, 1), rules)])
    t0 = time.monotonic()
    df = add_rule_engine(orders, suite, result_ddl="string", name="re")
    compiled = time.monotonic() - t0
    assert compiled < 30, f"1000-rule engine compile took {compiled:.1f}s"
    row = df.select("o_totalprice", "re.result").first()
    # lowest salience passing rule wins: first i with totalprice > 100000+i
    expected = None
    for i in range(1, n + 1):
        if row["o_totalprice"] > 100000 + i:
            expected = f"r{i}"
            break
    assert row["result"] == expected


def test_folder_column_named_i_not_shadowed(spark):
    """A data column named `i` (or `acc`) must not be captured by the
    fold's lambda variables."""
    suite = engine_suite(
        (5, 9),
        [((1, 1), [engine_rule((1, 1), "i > 5", 10, "set(v = currentResult.v + 100)", (920, 1))])],
    )
    df = spark.createDataFrame([(10, 1.0), (2, 2.0)], "i long, v double")
    out = add_folder(df, suite, F.struct(F.col("v")), name="fold", use_type="struct<v:double>").collect()
    by_i = {r["i"]: r["fold"]["result"] for r in out}
    assert by_i[10]["v"] == 101.0  # trigger `i > 5` used the COLUMN, not the fold index
    assert by_i[2] is None  # no rule passed -> NULL result


def test_engine_debug_mode_still_assigns_salient(orders):
    plain = add_rule_engine(orders.limit(100), ENGINE_SUITE, result_ddl="string", name="re").collect()
    debug = add_rule_engine(
        orders.limit(100), ENGINE_SUITE, result_ddl="string", name="re", debug_mode=True
    ).collect()
    for p, d in zip(plain, debug):
        assert p["re"]["salientRule"] == d["re"]["salientRule"]
    assert any(d["re"]["salientRule"] is not None for d in debug)


def test_folder_300_rules_compiles_and_runs(orders):
    """Folder chains are sequential withField folds — pin that a
    300-rule chain still compiles (Column build + analysis) in seconds
    and evaluates correctly (every triggered fold applies in salience
    order; last write wins)."""
    import time

    n = 300
    rules = [
        engine_rule(
            (i, 1),
            f"o_totalprice > {i}",  # always true for real orders
            i,
            f"set(x = {i})",
            (900 + i, 1),
        )
        for i in range(1, n + 1)
    ]
    suite = engine_suite((12, 1), [((1, 1), rules)])
    start = F.struct(F.lit(0).alias("x"))
    t0 = time.monotonic()
    df = add_folder(orders, suite, start, name="fold")
    compiled = time.monotonic() - t0
    assert compiled < 30, f"300-rule folder compile took {compiled:.1f}s"
    row = df.filter(F.col("o_totalprice") > n).select("fold.result.x").first()
    assert row["x"] == n  # all folds triggered; the last one wins


def test_debug_mode_outputs_stay_trigger_guarded(spark):
    """debug_mode must not eagerly evaluate outputs whose trigger did
    not pass — `a div b` with trigger `b != 0` would crash under ANSI
    the moment debugging is turned on (code-review regression)."""
    df = spark.createDataFrame([(10, 2), (10, 0)], "a long, b long")
    suite = engine_suite(
        (77, 1),
        [((1, 1), [
            engine_rule((1, 1), "b != 0", 10, "a div b"),
            engine_rule((2, 1), "b = 0", 20, "CAST(-1 AS BIGINT)"),
        ])],
    )
    out = add_rule_engine(df, suite, result_ddl="bigint", debug_mode=True)
    rows = {r["b"]: r["ruleEngine"]["result"] for r in out.collect()}
    assert [(e["salience"], e["result"]) for e in rows[2]] == [(10, 5)]
    assert [(e["salience"], e["result"]) for e in rows[0]] == [(20, -1)]


def _lookup_suite(trigger: str, output: str):
    return engine_suite(
        (1, 1),
        [((10, 1), [
            engine_rule((100, 1), "s IS NOT NULL", 10, "s"),
            engine_rule((101, 1), trigger, 20, output),
        ])],
    )


_EVALUATORS = {
    "add_data_quality": lambda spark, df, suite: add_data_quality(df, suite),
    "add_rule_engine": lambda spark, df, suite: add_rule_engine(df, suite, "string"),
    "add_folder": lambda spark, df, suite: add_folder(df, suite, "named_struct('s', s)"),
    "RowProcessor": lambda spark, df, suite: RowProcessor(spark, suite, "s string"),
    "DuckDBProcessor": lambda spark, df, suite: DuckDBProcessor(suite, schema="s string"),
}


@pytest.mark.parametrize("evaluator", sorted(_EVALUATORS))
def test_unknown_lookup_names_its_rule(spark, evaluator):
    """An unregistered map in a rule is a compile error that names the
    suite, set and rule, from every evaluator."""
    df = spark.createDataFrame([("a",)], "s string")
    suite = _lookup_suite("map_contains('nope', s)", "s")
    with pytest.raises(RuleCompilationError) as e:
        _EVALUATORS[evaluator](spark, df, suite)
    msg = str(e.value)
    assert "rule Id(id=101, version=1) in set Id(id=10, version=1) of suite Id(id=1, version=1)" in msg
    assert "map lookup 'nope' not registered" in msg


@pytest.mark.parametrize("evaluator", ["add_rule_engine", "add_folder"])
def test_unknown_lookup_in_output_names_its_rule(spark, evaluator):
    df = spark.createDataFrame([("a",)], "s string")
    output = {
        "add_rule_engine": "map_lookup('nope', s)",
        "add_folder": "set(s = map_lookup('nope', s))",
    }[evaluator]
    with pytest.raises(RuleCompilationError, match=r"rule Id\(id=101, version=1\) .* \(output\)"):
        _EVALUATORS[evaluator](spark, df, _lookup_suite("s IS NOT NULL", output))


def test_one_lambda_registry_per_compile(spark, monkeypatch):
    """Each builder expands its rules and outputs with ONE registry."""
    from quality_spark.functions.lambdas import LambdaRegistry

    builds = []
    orig = LambdaRegistry.__init__

    def counted(self, *a, **k):
        builds.append(1)
        orig(self, *a, **k)

    monkeypatch.setattr(LambdaRegistry, "__init__", counted)
    df = spark.createDataFrame([(1,)], "x long")

    def suite(output):
        return engine_suite(
            (1, 1),
            [((10, 1), [engine_rule((100, 1), "big(x)", 10, output)])],
            lambdas=[("big", "v -> v > 0", (900, 1))],
        )

    for build in (
        lambda: add_rule_engine(df, suite("x + 1")),
        lambda: add_folder(df, suite("set(x = x + 1)"), "named_struct('x', x)"),
        lambda: add_expression_runner(df, suite("x")),
    ):
        builds.clear()
        build()
        assert len(builds) == 1
