"""Simple versioning (latest-<= selection) + meta rulesets."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from quality_spark.model import Id, LambdaFunction, RuleSuite, RuleSuiteMap, pack_id
from quality_spark.sources.serializing import RULES_SCHEMA, LAMBDAS_SCHEMA
from quality_spark.sources.versioning import (
    META_RULE_SETS_SCHEMA,
    integrate_meta_rule_sets,
    integrate_versioned_lambdas,
    read_meta_rule_sets_from_df,
    read_versioned_lambdas_from_df,
    read_versioned_rules_from_df,
    same_or_next_version_lower,
)


def _rules_df(spark, rows):
    return spark.createDataFrame(rows, RULES_SCHEMA)


def test_versioned_rules_latest_wins_and_bumps(spark):
    rows = [
        # suite 1 v1: rule 10 v1, rule 11 v1
        (1, 1, 5, 1, 10, 1, "a > 0", None, None, None),
        (1, 1, 5, 1, 11, 1, "b > 0", None, None, None),
        # suite 1 v2: rule 10 revised; rule 11 untouched (inherited)
        (1, 2, 5, 1, 10, 2, "a > 1", None, None, None),
    ]
    suites = read_versioned_rules_from_df(_rules_df(spark, rows))
    assert set(suites) == {Id(1, 1), Id(1, 2)}

    def exprs(s: RuleSuite):
        return {
            r.id.id: r.expression.rule for rs in s.rule_sets for r in rs.rules
        }

    assert exprs(suites[Id(1, 1)]) == {10: "a > 0", 11: "b > 0"}
    assert exprs(suites[Id(1, 2)]) == {10: "a > 1", 11: "b > 0"}


def test_versioned_rules_deleted_tombstone(spark):
    rows = [
        (1, 1, 5, 1, 10, 1, "a > 0", None, None, None),
        (1, 2, 5, 1, 10, 2, "DELETED", None, None, None),
        (1, 3, 5, 1, 10, 3, "a > 3", None, None, None),
    ]
    suites = read_versioned_rules_from_df(_rules_df(spark, rows))
    assert [r.expression.rule for rs in suites[Id(1, 1)].rule_sets for r in rs.rules] == ["a > 0"]
    # v2: the winning version is DELETED -> rule gone, suite empty
    assert suites.get(Id(1, 2), RuleSuite(Id(1, 2))).rule_sets in ((), tuple())
    assert [r.expression.rule for rs in suites[Id(1, 3)].rule_sets for r in rs.rules] == ["a > 3"]


def test_versioned_lambdas_and_nearest_lower_integrate(spark):
    rows = [
        ("f", "x -> x + 1", 100, 1, 1, 1),
        ("f", "x -> x + 2", 100, 2, 1, 3),
    ]
    lam = read_versioned_lambdas_from_df(spark.createDataFrame(rows, LAMBDAS_SCHEMA))
    assert [f.rule for f in lam[Id(1, 1)]] == ["x -> x + 1"]
    assert [f.rule for f in lam[Id(1, 3)]] == ["x -> x + 2"]

    # suite at version 2 has no exact entry -> nearest lower (v1) applies
    suites: RuleSuiteMap = {Id(1, 2): RuleSuite(Id(1, 2))}
    out = integrate_versioned_lambdas(suites, lam)
    assert [f.rule for f in out[Id(1, 2)].lambda_functions] == ["x -> x + 1"]


def test_same_or_next_version_lower_ordering():
    get = same_or_next_version_lower([Id(1, 1), Id(1, 3), Id(2, 1)])
    assert get(Id(1, 2)) == Id(1, 1)
    assert get(Id(1, 3)) == Id(1, 3)
    assert get(Id(1, 9)) == Id(1, 3)
    assert get(Id(0, 9)) is None
    # reference quirk: a lower id matches when the exact id has no entry
    assert get(Id(3, 1)) == Id(2, 1)


def test_meta_rule_sets_generate_per_column(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    metas_df = spark.createDataFrame(
        [(7, 1, 900, 1, "dataType = 'double' and name like 'l\\_%'", "c -> c >= 0")],
        META_RULE_SETS_SCHEMA,
    )
    metas = read_meta_rule_sets_from_df(metas_df)
    assert set(metas) == {Id(7, 1)}

    base: RuleSuiteMap = {Id(7, 1): RuleSuite(Id(7, 1))}
    cols = sorted(
        f.name.lower()
        for f in li.schema.fields
        if f.dataType.simpleString() == "double" and f.name.startswith("l_")
    )
    out = integrate_meta_rule_sets(li, base, metas, cols.index)
    (gen,) = out[Id(7, 1)].rule_sets
    assert gen.id == Id(900, 1)
    got = {r.expression.rule for r in gen.rules}
    assert got == {f"`{c}` >= 0" for c in cols}
    # stable ids: ruleSetId + position
    assert sorted(r.id.id for r in gen.rules) == [900 + i for i in range(len(cols))]


def test_meta_rule_generated_rules_run(spark, sf_dir):
    from quality_spark.operators.runner import rule_runner
    from quality_spark.model import PASSED_INT
    from quality_spark.sources.versioning import MetaRuleSet

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    metas = {
        Id(7, 1): [
            MetaRuleSet(Id(7, 1), Id(900, 1), "dataType = 'double'", "c -> c is not null")
        ]
    }
    base: RuleSuiteMap = {Id(7, 1): RuleSuite(Id(7, 1))}
    cols = sorted(f.name.lower() for f in li.schema.fields if f.dataType.simpleString() == "double")
    suite = integrate_meta_rule_sets(li, base, metas, cols.index)[Id(7, 1)]
    out = li.select(rule_runner(suite, li).alias("dq")).limit(100).collect()
    assert all(r["dq"]["overallResult"] == PASSED_INT for r in out)


def test_meta_rule_template_substitutes_only_the_argument(spark):
    """The template argument is replaced as an identifier: a string
    literal and a struct field that happen to spell it keep their text."""
    from quality_spark.sources.versioning import MetaRuleSet

    df = spark.createDataFrame([], "l_tax double, s struct<x: int>")
    meta = MetaRuleSet(
        Id(7, 1), Id(900, 1), "dataType = 'double'", "x -> x <> 'x' AND s.x IS NULL"
    )
    (rule,) = meta.generate_rule_set(df, lambda c: 0).rules
    assert rule.expression.rule == "`l_tax` <> 'x' AND s.x IS NULL"


def test_meta_rule_backquotes_names_that_are_not_identifiers(spark):
    """Every column name is substituted backquoted (inner backquotes
    doubled): a name with a space or a backquote, a literal word
    (``NULL``) and a keyword (``case``) all give a rule that parses and
    scores on the column. NULL and negative values fail, the rest pass."""
    from quality_spark import add_data_quality
    from quality_spark.model import PASSED_INT, RuleSet
    from quality_spark.sources.versioning import MetaRuleSet

    df = spark.createDataFrame(
        [
            (1.0, 2.0, 3.0, 4.0, 0),
            (-1.0, 3.0, 1.0, 1.0, 1),
            (4.0, -5.0, -1.0, 1.0, 2),
            (None, 1.0, 1.0, -2.0, 3),
        ],
        "`my col` double, `a``b` double, `NULL` double, `case` double, k int",
    )
    meta = MetaRuleSet(Id(7, 1), Id(900, 1), "dataType = 'double'", "x -> x >= 0")
    pos = {"my col": 1, "a`b": 2, "null": 3, "case": 4}
    rules = meta.generate_rule_set(df, pos.__getitem__).rules
    assert [r.expression.rule for r in rules] == [
        "`my col` >= 0", "`a``b` >= 0", "`null` >= 0", "`case` >= 0"
    ]
    suite = RuleSuite(Id(7, 1), (RuleSet(Id(900, 1), rules),))
    out = add_data_quality(df, suite).select(
        "k", F.col("DQ.ruleSetResults")[pack_id(Id(900, 1))]["ruleResults"].alias("r")
    )
    got = {
        row["k"]: tuple(row["r"][pack_id(Id(900 + i, 1))] for i in range(1, 5))
        for row in out.collect()
    }
    # NULL >= 0 is NULL, which encodes as Failed (0)
    p = PASSED_INT
    assert got == {
        0: (p, p, p, p), 1: (0, p, p, p), 2: (p, 0, 0, p), 3: (0, p, p, 0)
    }
