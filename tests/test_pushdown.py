"""Encoded-id filter pushdown rewrite (plans/pushdown.py — the
reference's AsUUIDFilter extension rule, ExtensionTest.scala)."""

from __future__ import annotations

import uuid as uuidlib

import pytest
from pyspark.sql import functions as F

from quality_spark.functions.lambdas import expand_sql
from quality_spark.plans.pushdown import rewrite_encoded_filters

SF = "/root/testdata/sf0.01"


def _uuid_for(lo: int, hi: int) -> str:
    u = (hi & ((1 << 64) - 1)) << 64 | (lo & ((1 << 64) - 1))
    return str(uuidlib.UUID(int=u))


def test_rewrite_eq_forms():
    u = _uuid_for(5, 7)
    out = rewrite_encoded_filters(f"as_uuid(a, b) = '{u}'")
    assert "(a) = 5L AND (b) = 7L" in out
    assert "CAST(NULL AS BOOLEAN)" in out  # three-valued repair term
    out = rewrite_encoded_filters(f"'{u}' = as_uuid(a, b)")
    assert "(a) = 5L AND (b) = 7L" in out
    # null-safe comparison keeps <=> (NULL compares FALSE, exactly)
    ns = rewrite_encoded_filters(f"as_uuid(a, b) <=> '{u}'")
    assert ns == "((a) <=> 5L AND (b) <=> 7L)"
    # negative longs survive the signed conversion
    un = _uuid_for(-2, -3)
    assert "= -2L" in rewrite_encoded_filters(f"as_uuid(x, y) = '{un}'")


def test_rewrite_in_list():
    u1, u2 = _uuid_for(1, 2), _uuid_for(3, 4)
    out = rewrite_encoded_filters(f"as_uuid(a, b) IN ('{u1}', '{u2}')")
    assert "((a) = 1L AND (b) = 2L) OR ((a) = 3L AND (b) = 4L)" in out


def test_rewrite_preserves_null_semantics(spark):
    """NULL inputs must yield NULL (not FALSE) from the rewritten `=`
    — observable under NOT — and FALSE from `<=>`."""
    u = _uuid_for(5, 7)
    df = spark.createDataFrame(
        [(5, 7), (None, 7), (None, 99)], "lo long, hi long"
    )
    for sql in [f"as_uuid(lo, hi) = '{u}'", f"as_uuid(lo, hi) <=> '{u}'"]:
        naive = [
            r["r"]
            for r in df.select(
                F.expr(expand_sql("as_uuid(lo, hi)") + sql.split(")", 1)[1]).alias("r")
            ).collect()
        ]
        rewritten = [
            r["r"] for r in df.select(F.expr(expand_sql(sql)).alias("r")).collect()
        ]
        assert naive == rewritten, (sql, naive, rewritten)


def test_rewrite_leaves_complex_args_and_ordering_alone():
    u = _uuid_for(1, 2)
    s = f"as_uuid(f(a), b) = '{u}'"
    assert rewrite_encoded_filters(s) == s  # nested call arg: untouched
    s2 = f"as_uuid(a, b) > '{u}'"
    assert rewrite_encoded_filters(s2) == s2  # ordering: untouched


def test_filter_pushes_to_parquet_scan(spark, tmp_path):
    """End to end: a uuid-equality rule filter reaches PushedFilters."""
    d = str(tmp_path / "pairs")
    spark.range(0, 1000).select(
        F.col("id").alias("lo"), (F.col("id") * 2).alias("hi")
    ).write.parquet(d)
    df = spark.read.parquet(d)
    u = _uuid_for(10, 20)
    cond = expand_sql(f"as_uuid(lo, hi) = '{u}'")
    out = df.filter(F.expr(cond))
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in plan
    pushed = plan[plan.index("PushedFilters") :].split("\n")[0]
    assert "lo" in pushed and "hi" in pushed, pushed
    rows = out.collect()
    assert [(r["lo"], r["hi"]) for r in rows] == [(10, 20)]


def test_rewrite_matches_unrewritten_semantics(spark):
    """The rewrite returns exactly the rows the naive comparison does."""
    docs = spark.read.parquet(f"{SF}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("lo"),
        F.col("n_regionkey").cast("long").alias("hi"),
    )
    first = docs.first()
    u = _uuid_for(first["lo"], first["hi"])
    naive = docs.filter(
        F.expr(expand_sql("as_uuid(lo, hi)") + f" = '{u}'")
    ).collect()
    rewritten = docs.filter(F.expr(expand_sql(f"as_uuid(lo, hi) = '{u}'"))).collect()
    assert sorted(map(tuple, naive)) == sorted(map(tuple, rewritten))
    assert len(rewritten) == 1


def test_id_base64_rewrite_and_semantics(spark):
    """id_base64(col) = 'lit' rewrites to nested-field comparisons on
    the id struct (IDBase64Filter analogue) and selects the same row."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    with_id = docs.select(
        "doc_id", F.expr(expand_sql("field_based_id('MD5', text)")).alias("fid")
    )
    target = with_id.first()
    b64 = spark.sql(
        f"SELECT {expand_sql('id_base64(named_struct(' + repr_struct(target['fid']) + '))')} AS b"
    ).collect()[0]["b"]
    cond = expand_sql(f"id_base64(fid) = '{b64}'")
    assert ".base = " in cond and ".i0 = " in cond and "id_base64" not in cond
    got = with_id.filter(F.expr(cond)).collect()
    assert [r["doc_id"] for r in got] == [target["doc_id"]]


def repr_struct(row) -> str:
    return f"'base', {row['base']}, 'i0', {row['i0']}L, 'i1', {row['i1']}L"


def test_id_base64_bad_literal_untouched():
    s = "id_base64(x) = 'notvalid!'"
    assert rewrite_encoded_filters(s) == s
    # well-formed base64 but wrong length: left alone
    s2 = "id_base64(x) = 'QUJD'"
    assert rewrite_encoded_filters(s2) == s2


def test_id_base64_null_safe_eq_matches_source(spark):
    """id_base64(f) <=> 'lit' must stay FALSE (not NULL) for NULL ids
    after the pushdown rewrite — NOT(...) over it flips row fate if
    the guard wrongly NULLs it (code-review regression)."""
    import base64
    import struct as structlib

    from quality_spark.plans.pushdown import rewrite_encoded_filters

    lit = base64.b64encode(structlib.pack(">iqq", 7, 1, 2)).decode()
    df = spark.createDataFrame(
        [(1, 7, 1, 2), (2, None, None, None)],
        "row long, base int, i0 long, i1 long",
    ).selectExpr(
        "row",
        "CASE WHEN base IS NULL THEN NULL ELSE "
        "named_struct('base', base, 'i0', i0, 'i1', i1) END AS fid",
    )
    sql = rewrite_encoded_filters(f"NOT (id_base64(fid) <=> '{lit}')")
    assert "<=>" in sql and "id_base64" not in sql
    kept = {r["row"] for r in df.filter(sql).collect()}
    assert kept == {2}  # NULL id: <=> is FALSE, NOT(FALSE) keeps it


def test_rewrite_leaves_string_literals_and_comments_alone(spark):
    """An as_uuid comparison written INSIDE a string literal is text:
    the rule must compare against exactly that text. Before the fix the
    literal was rewritten into the long-pair form, so the rule silently
    compared against different text and failed every row."""
    from quality_spark import add_data_quality, rule_suite
    from quality_spark.model import FAILED_INT, PASSED_INT

    u = _uuid_for(1, 0)
    text = f"as_uuid(a, b) = '{u}'"
    df = spark.createDataFrame(
        [(text, 1, 0), ("other", 1, 0)], "note string, a long, b long"
    )
    suite = rule_suite(
        (41, 1), [((1, 1), [((1, 1), f'note = "{text}"')])]
    )
    got = {
        r["note"]: r["DQ"]["overallResult"]
        for r in add_data_quality(df, suite).collect()
    }
    assert got == {text: PASSED_INT, "other": FAILED_INT}
    assert rewrite_encoded_filters(f"/* {text} */ x") == f"/* {text} */ x"
    # a real comparison next to the literal is still rewritten
    assert "(a) = 1L AND (b) = 0L" in rewrite_encoded_filters(
        f'{text} AND note = "{text}"'
    )
