"""Pure-Python tests of the tokenizer / macro / lambda expansion layer."""

from __future__ import annotations

import pytest

from quality_spark.expr import (
    find_calls,
    is_lambda,
    parse_lambda,
    split_top_level,
    substitute_identifiers,
    tokenize,
    untokenize,
)
from quality_spark.functions.lambdas import LambdaRegistry, expand_sql
from quality_spark.model import Id, LambdaFunction


def test_tokenize_lossless():
    sql = "a + b * fn(x, 'str with , and )') -- comment\n + `weird col` + 1.5e3D"
    assert untokenize(tokenize(sql)) == sql


def test_find_calls_skips_qualified_and_strings():
    tokens = tokenize("a.fn(1) + fn(2, g(3)) + 'fn(9)'")
    calls = find_calls(tokens, lambda n: n in ("fn", "g"))
    assert [(c.name, c.args) for c in calls] == [
        ("fn", ("2", "g(3)")),
        ("g", ("3",)),
    ]


def test_split_top_level():
    tokens = tokenize("a, f(b, c), 'x,y', d")
    parts = [untokenize(p).strip() for p in split_top_level(tokens)]
    assert parts == ["a", "f(b, c)", "'x,y'", "d"]


def test_parse_lambda_forms():
    assert parse_lambda("(a, b) -> a + b") == (["a", "b"], "a + b")
    assert parse_lambda("x -> x * 2") == (["x"], "x * 2")
    assert parse_lambda("() -> 42") == ([], "42")
    assert is_lambda("(s, c) -> s / c")
    assert not is_lambda("f(a, b)")
    assert not is_lambda("(a + b) > c")


def test_substitute_identifiers_respects_qualified_and_calls():
    out = substitute_identifiers("a + t.a + a(b) + 'a'", {"a": "(x)", "b": "(y)"})
    assert out == "(x) + t.a + a((y)) + 'a'"


def test_builtin_macros_expand():
    assert expand_sql("passed()") == "100000"
    assert expand_sql("failed()") == "0"
    assert expand_sql("soft_failed()") == "-1"
    assert expand_sql("disabled_rule()") == "-2"
    assert expand_sql("probability(1000)") == "(CAST((1000) AS DOUBLE) / 100000.0D)"
    assert "4294967295" in expand_sql("pack_ints(1, 2)")
    # camelCase aliases work too
    assert "4294967295" in expand_sql("packInts(1, 2)")


def test_lambda_expansion_simple():
    reg = LambdaRegistry().register_all(
        [LambdaFunction("margin", "(p, d) -> p * (1 - d)", Id(1, 1))]
    )
    out = expand_sql("margin(l_extendedprice, l_discount) > 0", reg)
    assert out == "((l_extendedprice) * (1 - (l_discount))) > 0"


def test_lambda_arity_overloads():
    reg = LambdaRegistry().register_all(
        [
            LambdaFunction("f", "(a) -> a + 1", Id(1, 1)),
            LambdaFunction("f", "(a, b) -> a + b", Id(1, 2)),
        ]
    )
    assert expand_sql("f(1)", reg) == "((1) + 1)"
    assert expand_sql("f(1, 2)", reg) == "((1) + (2))"


def test_lambda_nested_calls():
    reg = LambdaRegistry().register_all(
        [
            LambdaFunction("inc1", "(a) -> a + 1", Id(1, 1)),
            LambdaFunction("inc2", "(a) -> inc1(inc1(a))", Id(2, 1)),
        ]
    )
    assert expand_sql("inc2(x)", reg) == "((((((x)) + 1)) + 1))"


def test_lambda_recursion_detected():
    reg = LambdaRegistry().register_all(
        [LambdaFunction("loop", "(a) -> loop(a)", Id(1, 1))]
    )
    with pytest.raises(RecursionError):
        expand_sql("loop(1)", reg)


def test_placeholder_partial_application():
    reg = LambdaRegistry().register_all(
        [LambdaFunction("add", "(a, b) -> a + b", Id(1, 1))]
    )
    out = expand_sql("aggregate(arr, 0, add(_('INT'), 5))", reg)
    # placeholder becomes a free lambda param usable in the HOF
    assert "-> (" in out and "+ (5)" in out


def test_call_fun_applies_lambda():
    reg = LambdaRegistry().register_all(
        [LambdaFunction("add", "(a, b) -> a + b", Id(1, 1))]
    )
    out = expand_sql("callFun(add(_('INT'), 2), 40)", reg)
    # add partially applied to 2, then called with 40
    assert out.replace(" ", "") == "(((40)+(2)))"


def test_call_fun_applies_bare_lambda_wrapper():
    # callFun(_lambda_(name), args…) — the bare name is an identifier,
    # not a call, so callFun must defer until _lambda_ has wrapped it
    # into a literal (RuleRegistrationFunctions.scala:230-238 surface)
    reg = LambdaRegistry().register_all(
        [LambdaFunction("add", "(a, b) -> a + b", Id(1, 1))]
    )
    out = expand_sql("callFun(_lambda_(add), x, 2)", reg)
    assert out.replace(" ", "") == "(((x)+(2)))"
    out = expand_sql("callFun(_lambda_(add(_(), _())), x, 2)", reg)
    assert out.replace(" ", "") == "(((x)+(2)))"


def test_soft_fail_macro_shape():
    out = expand_sql("soft_fail(l_tax < 0.05)")
    assert "CAST((l_tax < 0.05) AS DOUBLE)" in out
    assert "-1.0D" in out


def test_strip_number_suffixes_touches_numbers_only():
    from quality_spark.expr import strip_number_suffixes

    sql = "x > 1.5D AND c = '12D' AND y2d < 3L AND z IN (2S, 3y, 1.0BD, 1e3f) -- 4S"
    assert strip_number_suffixes(sql) == (
        "x > 1.5 AND c = '12D' AND y2d < 3 AND z IN (2, 3, 1.0, 1e3) -- 4S"
    )
