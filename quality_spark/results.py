"""Result model: schemas, int encoding, overall-result folds.

One encoder (:func:`encode_rule_sql`) and one fold
(:func:`overall_result_sql`) serve both engines: the Spark runners and
the Spark-free ``DuckDBProcessor``. Each takes a ``dialect``; the
``"duckdb"`` text drops Spark's ``D`` double-literal suffix, truncates
before its double→int CAST, and folds with an OR chain.

Reference semantics being reproduced:
- result ADT stored as one Integer: Passed=100000, Failed=0,
  SoftFailed=-1, DisabledRule=-2, Probability(p)=int(p*100000)
  (reference: impl/imports/RuleRunnerImports.scala:57-60,
  impl/RuleImpl.scala:147-160 ``anyToRuleResultInt``);
- overall result folds Failed-dominant, probabilities below
  ``probablePass`` fail (reference: impl/OverallResult.scala:21-30);
- Spark-visible result schemas (reference: impl/RuleSparkTypes.scala:9-35).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import types as T

from .model import PASSED_INT

# ---------------------------------------------------------------------------
# Schemas (reference: impl/RuleSparkTypes.scala:9-35)
# ---------------------------------------------------------------------------

rule_result_type = T.IntegerType()
packed_id_type = T.LongType()

rule_set_type = T.StructType(
    [
        T.StructField("overallResult", rule_result_type, False),
        T.StructField("ruleResults", T.MapType(packed_id_type, rule_result_type, False)),
    ]
)

rule_set_results_type = T.MapType(packed_id_type, rule_set_type, False)

rule_suite_result_type = T.StructType(
    [
        T.StructField("id", packed_id_type),
        T.StructField("overallResult", rule_result_type, False),
        T.StructField("ruleSetResults", rule_set_results_type),
    ]
)

rule_suite_details_result_type = T.StructType(
    [
        T.StructField("id", packed_id_type),
        T.StructField("ruleSetResults", rule_set_results_type),
    ]
)

full_rule_id_type = T.StructType(
    [
        T.StructField("ruleSuiteId", packed_id_type),
        T.StructField("ruleSetId", packed_id_type),
        T.StructField("ruleId", packed_id_type),
    ]
)

flatten_struct_type = T.StructType(
    [
        T.StructField("ruleSuiteId", T.IntegerType()),
        T.StructField("ruleSuiteVersion", T.IntegerType()),
        T.StructField("ruleSuiteResult", T.IntegerType()),
        T.StructField("ruleSetResult", T.IntegerType()),
        T.StructField("ruleSetId", T.IntegerType()),
        T.StructField("ruleSetVersion", T.IntegerType()),
        T.StructField("ruleId", T.IntegerType()),
        T.StructField("ruleVersion", T.IntegerType()),
        T.StructField("ruleResult", T.IntegerType()),
    ]
)

expression_result_type_yaml = T.StructType(
    [
        T.StructField("result", T.StringType()),
        T.StructField("resultDDL", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# Per-rule int encoding (reference: impl/RuleImpl.scala:147-160)
# ---------------------------------------------------------------------------


def encode_rule_sql(
    rule_sql: str, dtype: T.DataType, dialect: str = "spark"
) -> str:
    """SQL text converting an evaluated rule expression of known Spark
    type to the integer result encoding, in the ``"spark"`` or
    ``"duckdb"`` dialect. Null → Failed (matches the reference's
    ``case _ => FailedInt`` on a null value)."""
    e = f"({rule_sql})"
    if isinstance(dtype, T.BooleanType):
        return f"(CASE WHEN {e} THEN {PASSED_INT} ELSE 0 END)"
    if isinstance(dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return (
            f"(CASE CAST({e} AS BIGINT) WHEN 0 THEN 0 WHEN 1 THEN {PASSED_INT} "
            f"WHEN -1 THEN -1 WHEN -2 THEN -2 ELSE 0 END)"
        )
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        sfx = "D" if dialect == "spark" else ""
        d = f"CAST({e} AS DOUBLE)"
        # saturating double→int, ANSI-safe (Spark 4 defaults ANSI on,
        # where a plain overflowing CAST raises). Spark's CAST truncates
        # like the JVM's Double.toInt; DuckDB's rounds, so it truncates
        # first — else 2/3 encodes 66667 there and 66666 here, which can
        # flip a rule at the probable_pass threshold
        sat = f"GREATEST(LEAST({d} * {PASSED_INT}, 2147483647.0{sfx}), -2147483648.0{sfx})"
        if dialect != "spark":
            sat = f"trunc({sat})"
        # isnan BEFORE the saturation: NaN compares false against the
        # sentinel values and NaN-sorts-greatest in LEAST/GREATEST, so
        # without this branch NaN saturates to INT_MAX and silently
        # PASSES — the JVM's (int)NaN is 0, i.e. Failed
        return (
            f"(CASE WHEN {d} IS NULL THEN 0 WHEN isnan({d}) THEN 0 "
            f"WHEN {d} = 0.0{sfx} THEN 0 "
            f"WHEN {d} = 1.0{sfx} THEN {PASSED_INT} WHEN {d} = -1.0{sfx} THEN -1 "
            f"WHEN {d} = -2.0{sfx} THEN -2 "
            f"ELSE CAST({sat} AS INT) END)"
        )
    if isinstance(dtype, T.StringType):
        s = f"lower({e})"
        return (
            f"(CASE WHEN {s} IN ('true','passed','pass','yes','1','1.0') THEN {PASSED_INT} "
            f"WHEN {s} IN ('softfail','maybe') THEN -1 "
            f"WHEN {s} IN ('disabledrule','disabled') THEN -2 "
            f"ELSE 0 END)"
        )
    # any other type is a fail (reference: anyToRuleResultInt catch-all)
    return "0"


# ---------------------------------------------------------------------------
# Overall-result folds (reference: impl/OverallResult.scala:21-30)
# ---------------------------------------------------------------------------


def rule_fails_sql(
    enc_sql: str, probable_pass: float, dialect: str = "spark"
) -> str:
    """True when this encoded result forces the overall result to
    Failed: Failed itself, or a probability below the threshold."""
    threshold = float(probable_pass) * PASSED_INT
    lit = f"{threshold}D" if dialect == "spark" else f"{threshold}"
    e = f"({enc_sql})"
    return (
        f"({e} = 0 OR ({e} NOT IN ({PASSED_INT}, -1, -2) "
        f"AND CAST({e} AS DOUBLE) < {lit}))"
    )


def overall_result_sql(
    enc_sqls: Sequence[str], probable_pass: float, dialect: str = "spark"
) -> str:
    """Fold encoded results into an overall Passed/Failed int.

    Spark gets a FLAT ``array_contains(array(fail1..failN), true)``:
    at 1000+ rules a left-deep OR chain StackOverflows the JVM's
    recursive expression walks near 500 rules, and a BALANCED OR tree
    OOMs the ANTLR parser (nested-paren DFA blowup) — the flat n-ary
    array is the only shape that both parses and analyzes at any suite
    size. DuckDB gets the plain OR chain."""
    if not enc_sqls:
        return f"CAST({PASSED_INT} AS INT)"
    fails = [rule_fails_sql(e, probable_pass, dialect) for e in enc_sqls]
    if dialect == "spark":
        cond = f"array_contains(array({', '.join(fails)}), true)"
    else:
        cond = " OR ".join(fails)
    return f"CAST(CASE WHEN {cond} THEN 0 ELSE {PASSED_INT} END AS INT)"
