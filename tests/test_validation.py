"""Static validation + missing-attribute rewrite.

Reference behavior: impl/Validation.scala:130-200 (collect-all error
taxonomy) and impl/ReplaceWithIfMissingAttributesExpr.scala:25-131.
"""

from __future__ import annotations

from pyspark.sql import types as T

from quality_spark import rule_suite
from quality_spark.plans.validation import (
    expression_attributes,
    process_if_attribute_missing,
    validate,
)

SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.DoubleType()),
        T.StructField("txt", T.StringType()),
    ]
)


def _suite(*exprs, lambdas=()):
    return rule_suite(
        (1, 1),
        [((10, 1), [((100 + i, 1), e) for i, e in enumerate(exprs)])],
        lambdas=lambdas,
    )


def test_clean_suite_no_issues(spark):
    issues = validate(SCHEMA, _suite("a > 0", "b between 0 and 1"), spark)
    assert issues == []


def test_missing_attribute(spark):
    issues = validate(SCHEMA, _suite("nope > 0"), spark)
    assert len(issues) == 1
    assert issues[0].kind == "missingAttribute"
    assert issues[0].rule_id == (100, 1)


def test_unknown_function(spark):
    issues = validate(SCHEMA, _suite("no_such_fn(a)"), spark)
    assert [i.kind for i in issues] == ["unknownFunction"]


def test_parse_error(spark):
    issues = validate(SCHEMA, _suite("a > > 0"), spark)
    assert [i.kind for i in issues] == ["parseError"]


def test_collects_all_not_first(spark):
    issues = validate(SCHEMA, _suite("nope > 0", "a > 0", "also_nope(1)"), spark)
    assert len(issues) == 2
    assert {i.rule_id for i in issues} == {(100, 1), (102, 1)}


def test_lambda_soe(spark):
    suite = _suite("boom(a)", lambdas=[("boom", "x -> boom(x) + 1", (5, 1))])
    issues = validate(SCHEMA, suite, spark, dry_run=False)
    assert [i.kind for i in issues] == ["lambdaSOE"]


def test_lambda_syntax_error_collected(spark):
    # a definition that is not a lambda literal is collected, and the
    # rule that uses it degrades to unknownFunction — validate never raises
    suite = _suite("broken(a) > 0", lambdas=[("broken", "no arrow here", (5, 1))])
    issues = validate(SCHEMA, suite, spark, dry_run=False)
    assert sorted(i.kind for i in issues) == ["lambdaSyntaxError", "unknownFunction"]


def test_dry_run_error(spark):
    # analyzes fine and would fail at runtime under ANSI (cast of a bad
    # literal), but the dry run never evaluates it: over df.limit(0)
    # Spark replaces the projection with an empty relation, so [] is
    # the outcome with ANSI on as well as off
    issues = validate(SCHEMA, _suite("CAST('xx' AS INT) > 0"), spark)
    kinds = [i.kind for i in issues]
    assert kinds in (["dryRunError"], [])


def test_expression_attributes():
    attrs = expression_attributes("a > 0 AND foo(b, s.c) and x -> x + d")
    assert "a" in attrs and "b" in attrs and "d" in attrs
    assert "foo" not in attrs  # call name
    assert "c" not in attrs  # qualified tail
    assert "x" not in attrs  # lambda param
    assert "s" in attrs  # struct root is a real column


def test_if_attribute_missing_picks_first_viable():
    suite = _suite("coalesce_if_attributes_missing(missing_col + 1, a + 1, b + 1)")
    out = process_if_attribute_missing(suite, ["a", "b"])
    assert out.rule_sets[0].rules[0].expression.rule == "(a + 1)"


def test_if_attribute_missing_none_viable_null():
    suite = _suite("coalesce_if_attributes_missing(m1 + 1, m2 + 1)")
    out = process_if_attribute_missing(suite, ["a"])
    assert out.rule_sets[0].rules[0].expression.rule == "NULL"


def test_if_attribute_missing_disable_variant():
    suite = _suite("coalesce_if_attributes_missing_disable(m1 + 1)")
    out = process_if_attribute_missing(suite, ["a"])
    assert out.rule_sets[0].rules[0].expression.rule == "-2"


def test_if_attribute_missing_untouched_rule_identity():
    suite = _suite("a > 0")
    out = process_if_attribute_missing(suite, ["a"])
    assert out.rule_sets[0].rules[0].expression.rule == "a > 0"


def test_if_attribute_missing_line_comment_in_alternative(spark):
    """A `--` comment inside the chosen alternative must not swallow the
    parenthesis the rewrite wraps it in: the rule scores like `a > 0`."""
    from quality_spark.operators.runner import add_data_quality

    suite = _suite("coalesce_if_attributes_missing(a -- first\n, b) > 0")
    out = process_if_attribute_missing(suite, ["a", "b"])
    assert out.rule_sets[0].rules[0].expression.rule == "(a) > 0"
    df = spark.createDataFrame([(1, 0.0), (-1, 5.0)], "a long, b double")
    got = [r["DQ"]["overallResult"] for r in add_data_quality(df, out).collect()]
    assert got == [100000, 0]


def test_lookup_discovery_and_validation(spark, lineitem):
    from quality_spark.model import Id, Rule, RuleSet, RuleSuite
    from quality_spark.plans.validation import discover_lookup_ids, validate
    from quality_spark.sources.lookups import register_map_lookup

    found = discover_lookup_ids(
        "map_lookup('countries', l_suppkey) is not null "
        "and probability_in(l_orderkey, 'seen_keys') > 0"
    )
    assert found == {"maps": {"countries"}, "blooms": {"seen_keys"}}

    register_map_lookup("countries_ok", {1: "x"})
    suite = RuleSuite(
        Id(1, 1),
        (
            RuleSet(
                Id(10, 1),
                (
                    Rule(Id(100, 1), "map_lookup('countries_ok', l_suppkey) is not null"),
                    Rule(Id(101, 1), "map_lookup('missing_map', l_suppkey) is not null"),
                    Rule(Id(102, 1), "probability_in(l_orderkey, 'missing_bloom') > 0"),
                ),
            ),
        ),
    )
    issues = validate(lineitem, suite, dry_run=False)
    kinds = sorted((i.kind, i.rule_id[0]) for i in issues)
    assert ("unknownLookup", 101) in kinds or ("unknownMapId", 101) in kinds
    assert any(k in ("unknownLookup", "unknownBloomId") and r == 102 for k, r in kinds)
    # the registered lookup produced no issue
    assert not any(r == 100 for _, r in kinds)


def test_backquoted_attributes_visible(spark):
    """Backquoted column references must count as attributes — the
    coalesce_if_attributes_missing rewrite otherwise selects
    alternatives whose quoted columns are missing (code-review
    regression)."""
    from quality_spark.plans.validation import (
        expression_attributes,
        process_if_attribute_missing,
    )

    attrs = expression_attributes("`my col` > 0 AND other + a.`tail` > 1")
    assert "my col" in attrs and "other" in attrs
    assert "tail" not in attrs  # qualified tail stays excluded

    from quality_spark.model import ExpressionRule, Id, Rule, RuleSet, RuleSuite

    suite = RuleSuite(
        Id(1, 1),
        (RuleSet(Id(10, 1), (Rule(
            Id(100, 1),
            ExpressionRule("coalesce_if_attributes_missing(`my col`, 0) > -1"),
        ),)),),
    )
    out2 = process_if_attribute_missing(suite, ["other"])
    text = out2.rule_sets[0].rules[0].expression.rule
    assert "my col" not in text and "0" in text


def _per_rule_validate(df, suite, dry_run):
    """Reference: every rule analysed (and dry-run) on its own, one
    ``select`` and one ``collect`` per rule."""
    from pyspark.sql import functions as F

    from quality_spark.functions.lambdas import LambdaRegistry, expand_sql
    from quality_spark.plans.validation import (
        ValidationIssue,
        _classify,
        _first_line,
        validate_lookups,
    )

    empty = df.limit(0)
    issues = []
    reg = LambdaRegistry()
    for fn in suite.lambda_functions:
        try:
            reg.register(fn)
        except ValueError as e:
            issues.append(ValidationIssue(
                "lambdaSyntaxError", (suite.id.id, suite.id.version), (0, 0),
                (fn.id.id, fn.id.version), f"lambda {fn.name!r}: {e}",
            ))
    for rs in suite.rule_sets:
        for r in rs.rules:
            coords = (
                (suite.id.id, suite.id.version),
                (rs.id.id, rs.id.version),
                (r.id.id, r.id.version),
            )
            try:
                expanded = expand_sql(r.expression.rule, reg)
            except RecursionError as e:
                issues.append(ValidationIssue("lambdaSOE", *coords, str(e)))
                continue
            except ValueError as e:
                issues.append(ValidationIssue("lambdaError", *coords, str(e)))
                continue
            except KeyError as e:
                issues.append(ValidationIssue(
                    "unknownLookup", *coords, _first_line(str(e).strip('"'))
                ))
                continue
            try:
                probe = empty.select(F.expr(expanded).alias("_v"))
                probe.schema
            except Exception as e:
                msg = str(e)
                issues.append(ValidationIssue(_classify(msg), *coords, _first_line(msg)))
                continue
            if dry_run:
                try:
                    probe.collect()
                except Exception as e:
                    issues.append(ValidationIssue("dryRunError", *coords, _first_line(str(e))))
    return issues + validate_lookups(suite)


def test_validate_matches_per_rule_reference(spark):
    df = spark.createDataFrame([(1, 0.5, "x")], SCHEMA)
    suite = _suite(
        "a > 0",                                   # clean
        "nope > 0",                                # missingAttribute
        "no_such_fn(a)",                           # unknownFunction
        "a > > 0",                                 # parseError
        "boom(a)",                                 # lambdaSOE
        "broken(a) > 0",                           # lambdaSyntaxError def
        "map_lookup('missing_map', a) is not null",  # unknownLookup/MapId
        "sum(a) > 0",                              # only valid alone
        "CAST('xx' AS INT) > 0",                   # never evaluated
        "b between 0 and 1",                       # clean
        lambdas=[
            ("boom", "x -> boom(x) + 1", (5, 1)),
            ("broken", "no arrow here", (6, 1)),
        ],
    )
    for dry_run in (True, False):
        want = _per_rule_validate(df, suite, dry_run)
        assert {i.kind for i in want} >= {
            "missingAttribute", "unknownFunction", "parseError",
            "lambdaSOE", "lambdaSyntaxError", "unknownLookup", "unknownMapId",
        }
        assert validate(df, suite, dry_run=dry_run) == want


def test_validate_is_one_batched_analysis(spark, monkeypatch):
    df = spark.createDataFrame([(1, 0.5, "x")], SCHEMA)
    suite = _suite(*[f"a + {i} > b" for i in range(40)])
    calls = {"collect": 0, "select": 0, "selectExpr": 0}
    cls = type(df)
    for name in calls:
        orig = getattr(cls, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            calls[_name] += 1
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, counted)
    assert validate(df, suite) == []
    assert calls["collect"] == 1
    assert calls["select"] + calls["selectExpr"] <= 2


def test_line_comments_score_like_uncommented(spark):
    # a "--" comment at the end of a rule, of a lambda body and inside a
    # lambda argument must not swallow the parentheses expansion adds
    from quality_spark import add_data_quality, rule_runner
    from quality_spark.sparkless import DuckDBProcessor

    rows = [(1, 0.5, "x"), (-1, 0.5, "y"), (None, 0.1, "z")]
    df = spark.createDataFrame(rows, SCHEMA)
    commented = _suite(
        "a > 0 -- positive", "pos(a)", "pos(a -- c\n)",
        lambdas=[("pos", "x -> x > 0 -- c", (5, 1))],
    )
    plain = _suite("a > 0", "pos(a)", "pos(a)", lambdas=[("pos", "x -> x > 0", (5, 1))])

    def scores(suite):
        duck = DuckDBProcessor(suite, schema="a bigint, b double, txt string")
        return (
            add_data_quality(df, suite).select("DQ").collect(),
            df.select(rule_runner(suite, df).alias("DQ")).collect(),
            duck.process([dict(zip(("a", "b", "txt"), r)) for r in rows]),
        )

    assert scores(commented) == scores(plain)
    assert validate(df, commented) == []
