"""rule_runner correctness: schema golden, encoding, overall semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quality_spark import (
    PASSED_INT,
    Id,
    add_data_quality,
    add_overall_results_and_details,
    pack_id,
    rule_runner,
    rule_suite,
    unpack_id,
)
from quality_spark.functions import api as Q

SUITE = rule_suite(
    (1, 1),
    [
        (
            (10, 1),
            [
                ((100, 1), "l_quantity > 0"),
                ((101, 1), "l_extendedprice >= 0"),
                ((102, 1), "l_discount between 0 and 1"),
            ],
        ),
        (
            (20, 1),
            [
                ((200, 1), "1.0D - l_discount"),  # probability rule
                ((201, 1), "soft_fail(l_tax < 0.05)"),
                ((202, 1), "disabled_rule()"),
            ],
        ),
    ],
)

GOLDEN_SCHEMA = (
    "struct<id:bigint,overallResult:int,"
    "ruleSetResults:map<bigint,struct<overallResult:int,ruleResults:map<bigint,int>>>>"
)


def test_pack_unpack_roundtrip():
    for i, v in [(1, 1), (0, 0), (2**31 - 1, 7), (-3, 5), (42, 2**31 - 1)]:
        assert unpack_id(pack_id(Id(i, v))) == Id(i, v)
    assert pack_id(Id(1, 2)) == 4294967298


def test_result_schema_golden(lineitem):
    df = add_data_quality(lineitem, SUITE)
    assert df.schema["DQ"].dataType.simpleString() == GOLDEN_SCHEMA


def test_encoding_semantics(spark):
    df = spark.createDataFrame(
        [(1.0, 0.3, True)], "d double, p double, b boolean"
    )
    suite = rule_suite(
        (5, 1),
        [
            (
                (1, 1),
                [
                    ((1, 1), "b"),                    # bool true -> 100000
                    ((2, 1), "NOT b"),                # bool false -> 0
                    ((3, 1), "p"),                    # probability 0.3 -> 30000
                    ((4, 1), "d"),                    # double 1.0 -> Passed
                    ((5, 1), "CAST(NULL AS BOOLEAN)"),  # null -> Failed
                    ((6, 1), "passed()"),             # int 100000 -> Failed (ref. parity)
                    ((7, 1), "soft_failed()"),        # -1 int -> SoftFailed
                    ((8, 1), "disabled_rule()"),      # -2 int -> DisabledRule
                    ((9, 1), "'maybe'"),              # string soft
                ],
            )
        ],
    )
    row = df.select(rule_runner(suite, df).alias("DQ")).collect()[0]["DQ"]
    results = row["ruleSetResults"][pack_id(Id(1, 1))]["ruleResults"]
    enc = {unpack_id(k).id: v for k, v in results.items()}
    assert enc == {
        1: 100000,
        2: 0,
        3: 30000,
        4: 100000,
        5: 0,
        6: 0,  # reference anyToRuleResultInt: int 100000 is not a known literal -> Failed
        7: -1,
        8: -2,
        9: -1,
    }


def test_overall_semantics_probable_pass(spark):
    df = spark.createDataFrame([(0.85,), (0.5,)], "p double")
    suite = rule_suite((6, 1), [((1, 1), [((1, 1), "p")])], probable_pass=0.8)
    out = df.select(
        F.col("p"), rule_runner(suite, df)["overallResult"].alias("o")
    ).collect()
    by_p = {r["p"]: r["o"] for r in out}
    assert by_p[0.85] == PASSED_INT  # >= 0.8 keeps Passed
    assert by_p[0.5] == 0  # below threshold -> Failed


def test_soft_and_disabled_do_not_fail_overall(spark):
    df = spark.createDataFrame([(1,)], "x int")
    suite = rule_suite(
        (7, 1),
        [((1, 1), [((1, 1), "soft_fail(x > 100)"), ((2, 1), "disabled_rule()")])],
    )
    o = df.select(rule_runner(suite, df)["overallResult"].alias("o")).collect()[0]["o"]
    assert o == PASSED_INT


def test_failed_dominates_overall(lineitem):
    suite = rule_suite(
        (8, 1),
        [((1, 1), [((1, 1), "l_quantity > 0"), ((2, 1), "l_quantity < 0")])],
    )
    df = add_data_quality(lineitem, suite)
    assert df.filter(F.col("DQ.overallResult") == PASSED_INT).count() == 0


def test_add_overall_results_and_details(lineitem):
    df = add_overall_results_and_details(lineitem, SUITE)
    assert "DQ_overallResult" in df.columns and "DQ_Details" in df.columns
    assert (
        df.schema["DQ_Details"].dataType.simpleString()
        == "struct<id:bigint,"
        "ruleSetResults:map<bigint,struct<overallResult:int,ruleResults:map<bigint,int>>>>"
    )
    # overall equals the full runner's overall on every row
    full = add_data_quality(lineitem, SUITE)
    a = df.select(F.sum(F.when(F.col("DQ_overallResult") == 0, 1).otherwise(0))).collect()[0][0]
    b = full.select(F.sum(F.when(F.col("DQ.overallResult") == 0, 1).otherwise(0))).collect()[0][0]
    assert a == b


def test_flatten_results(lineitem):
    df = add_data_quality(lineitem, SUITE)
    flat = df.select(
        F.explode(Q.flatten_results(F.col("DQ"))).alias("f")
    ).select("f.*")
    assert flat.columns == [
        "ruleSuiteId",
        "ruleSuiteVersion",
        "ruleSuiteResult",
        "ruleSetResult",
        "ruleSetId",
        "ruleSetVersion",
        "ruleId",
        "ruleVersion",
        "ruleResult",
    ]
    n = lineitem.count()
    assert flat.count() == n * 6
    # disabled rule is constant -2 everywhere
    assert (
        flat.filter((F.col("ruleId") == 202) & (F.col("ruleResult") != -2)).count() == 0
    )


def test_rule_result_lookup(lineitem):
    df = add_data_quality(lineitem, SUITE)
    got = df.select(
        Q.rule_result(
            F.col("DQ"),
            F.lit(pack_id(Id(1, 1))),
            F.lit(pack_id(Id(10, 1))),
            F.lit(pack_id(Id(100, 1))),
        ).alias("r")
    )
    # l_quantity > 0 always holds in TPC-H-ish data
    assert got.filter(F.col("r") != PASSED_INT).count() == 0


def test_lambda_rule_end_to_end(lineitem):
    suite = rule_suite(
        (9, 1),
        [((1, 1), [((1, 1), "margin(l_extendedprice, l_discount) > 0")])],
        lambdas=[("margin", "(p, d) -> p * (1 - d)", (50, 1))],
    )
    df = add_data_quality(lineitem, suite)
    assert df.filter(F.col("DQ.overallResult") == 0).count() == 0


def test_probability_and_pack_macros(spark):
    row = spark.sql(
        "SELECT "
        + "(CAST((1000) AS DOUBLE) / 100000.0D) AS p, "
        + "((CAST((1) AS BIGINT) << 32) | (CAST((2) AS BIGINT) & 4294967295)) AS packed"
    ).collect()[0]
    assert row["p"] == 0.01
    assert row["packed"] == 4294967298


def test_nan_rule_result_fails(spark):
    """A NaN rule value must encode to 0 (Failed) like the JVM's
    (int)NaN — NaN sorts greatest in LEAST/GREATEST, so without the
    isnan guard it saturated to INT_MAX and silently PASSED
    (code-review regression)."""
    from quality_spark import Id, rule_suite
    from quality_spark.model import PASSED_INT
    from quality_spark.operators.runner import add_data_quality

    df = spark.createDataFrame([(0.0, 0.0), (1.0, 1.0)], "a double, b double")
    # 0.0/0.0 -> NaN under try_divide; 1.0/1.0 -> 1.0 -> Passed
    suite = rule_suite((42, 1), [((1, 1), [((1, 1), "try_divide(a, b)")])])
    dq = add_data_quality(df, suite)
    got = {r["a"]: r["DQ"]["overallResult"] for r in dq.collect()}
    assert got[1.0] == PASSED_INT
    assert got[0.0] == 0  # NaN -> Failed, never INT_MAX-pass


def _assert_matches_reference(spark, df, suite):
    """add_data_quality, add_overall_results_and_details and
    RowProcessor.process must give the rows of the one-shot
    ``rule_runner`` Column, with no staging column leaking out."""
    from quality_spark import rule_runner_details
    from quality_spark.sparkless import RowProcessor

    def rows(frame):
        return sorted(map(str, frame.collect()))

    ref = rule_runner(suite, df)
    dq = add_data_quality(df, suite)
    assert dq.columns == df.columns + ["DQ"]
    want = rows(df.select("*", ref.alias("DQ")))
    assert rows(dq) == want

    so = add_overall_results_and_details(df, suite)
    assert so.columns == df.columns + ["DQ_overallResult", "DQ_Details"]
    assert rows(so) == rows(
        df.select(
            "*",
            ref["overallResult"].alias("DQ_overallResult"),
            rule_runner_details(suite, df).alias("DQ_Details"),
        )
    )

    proc = RowProcessor(spark, suite, df.schema)
    assert sorted(map(str, proc.process(df.collect()))) == want


def test_staged_big_suite_matches_unstaged(spark, lineitem):
    """The staged two-projection shape, the only one the add_* helpers
    build, must give the reference rule_runner's values for a big suite
    (where the one-shot struct falls to INTERPRETED projection) and a
    small one, including soft-fail, null, probability, int and disabled
    encodings."""
    from quality_spark import rule_suite

    # fixed rows, so every frame below scores the same input
    df = spark.createDataFrame(lineitem.limit(200).collect(), lineitem.schema)

    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
    rules = []
    for i in range(300):
        c = cols[i % len(cols)]
        rules.append(((1000 + i, 1), f"({c} % {2 + (i % 5)}) >= 0"))
    rules.append(((2000, 1), "CAST(NULL AS BOOLEAN)"))  # null -> Failed
    rules.append(((2001, 1), "CASE WHEN l_orderkey % 2 = 0 THEN -1 ELSE 1 END"))
    big = rule_suite((77, 1), [((1, 1), rules[:150]), ((2, 1), rules[150:])])
    _assert_matches_reference(spark, df, big)

    small_rules = [
        ((3000 + i, 1), f"l_quantity > {i}") for i in range(30)
    ] + [
        ((3100, 1), "soft_fail(l_tax < 0.05)"),
        ((3101, 1), "CAST(NULL AS BOOLEAN)"),
        ((3102, 1), "1.0D - l_discount"),  # probability rule
        ((3103, 1), "disabled_rule()"),
        ((3104, 1), "l_linenumber IN (1, 2, 3, 4, 5, 6, 7, 8)"),
        ((3105, 1), "CASE WHEN l_orderkey % 2 = 0 THEN -1 ELSE 1 END"),
    ]
    small = rule_suite(
        (78, 1), [((1, 1), small_rules[:20]), ((2, 1), small_rules[20:])],
        probable_pass=0.9,
    )
    # an input name with a dot must pass through the staged projections
    _assert_matches_reference(
        spark, df.withColumnRenamed("l_comment", "l.comment"), small
    )


def _node_names(plan):
    ch = plan.children()
    return [plan.nodeName()] + [
        n for i in range(ch.size()) for n in _node_names(ch.apply(i))
    ]


def test_staged_plan_keeps_two_projections(lineitem):
    """CollapseProject must not re-inline the staged rule columns into
    the assembly projection: that would rebuild the one-shot struct,
    with every rule expression repeated in each fold."""
    suite = rule_suite(
        (79, 1),
        [((1, 1), [((100 + i, 1), f"l_quantity > {i}") for i in range(20)])],
    )
    for out in (
        add_data_quality(lineitem, suite),
        add_overall_results_and_details(lineitem, suite),
    ):
        names = _node_names(out._jdf.queryExecution().optimizedPlan())
        assert names.count("Project") == 2, names


def test_staged_keeps_duplicate_and_case_colliding_names(spark):
    """Input columns pass the staged projections untouched: duplicate
    names from a join, and a name that equals a staging column's name
    but for case (Spark resolves names case-insensitively)."""
    df = spark.createDataFrame([(1, 2)], "a int, c int")
    j = df.alias("x").join(df.alias("y"), "c").withColumn("__QS_ENC0", F.lit(7))
    suite = rule_suite((1, 1), [((1, 1), [((1, 1), "c > 0")])])
    out = add_data_quality(j, suite)
    assert out.columns == j.columns + ["DQ"]
    row = out.collect()[0]
    assert row["__QS_ENC0"] == 7
    assert row["DQ"]["overallResult"] == PASSED_INT


@pytest.mark.parametrize("name", ["__e0", "__ovs", "__ov0", "l.comment", "f"])
def test_flat_rule_results_input_names_pass_through(lineitem, name):
    """Input columns named like add_flat_rule_results' staging columns,
    its exploded struct, or with a dot, pass through by default ``keep``;
    the rows equal exploding ``flatten_results`` of ``rule_runner``."""
    from quality_spark.operators.runner import add_flat_rule_results

    df = lineitem.limit(50).select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.col("l_orderkey").alias(name),
    )
    got = add_flat_rule_results(df, SUITE)
    keep = [F.col(f"`{c}`") for c in df.columns]
    want = (
        df.select(*keep, rule_runner(SUITE, df).alias("__dq"))
        .select(*keep, F.explode(Q.flatten_results(F.col("__dq"))).alias("__x"))
        .select(*keep, "__x.*")
    )
    assert got.columns == want.columns
    assert got.count() == 50 * 6
    assert sorted(got.collect()) == sorted(want.collect())
