"""Relational profiling — cross-column and cross-table DQ facts.

Column profiles (`operators/profile.py`) describe one column at a
time; the rules people actually need next are RELATIONAL: is this key
unique, does every child row resolve to a parent, does column A
functionally determine column B. This module computes those facts as
single-aggregate DataFrame jobs, each with a DuckDB twin for the
oracle, closing the same authoring loop `suggest_rules` does for
per-column stats.

All outputs are metadata-sized (one row per checked relation) and all
arithmetic is integer counts — nothing here can diverge between
engines.

Plan shapes:
- ``key_uniqueness``: one map-side-combinable groupBy on the key.
- ``fk_orphan_stats``: one left join child→parent with the deduped
  parent keys broadcast; the output is three counts.
- ``fd_violations``: one groupBy(lhs) with two aggregates
  (count + count(DISTINCT rhs) — a single column's distinct per group,
  so Spark's Expand rewrite is not in play).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_uniqueness(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(n_rows, n_keys, n_dup_keys, n_rows_in_dup_keys) for a
    candidate key: ``n_dup_keys`` = key values appearing more than
    once, ``n_rows_in_dup_keys`` = rows carrying them. Key columns
    with NULLs count as ordinary values (groupBy semantics) — a NULL
    key that repeats is still a uniqueness violation worth seeing."""
    if not keys:
        raise ValueError("keys must be non-empty")
    per = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__c"))
    return per.agg(
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("__c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_keys"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_in_dup_keys"),
    )


def key_uniqueness_oracle_sql(table: str, keys: Sequence[str]) -> str:
    ks = ", ".join(keys)
    return f"""
SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_keys,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_rows_in_dup_keys
FROM (SELECT {ks}, count(*) AS c FROM {table} GROUP BY {ks})
"""


def fk_orphan_stats(
    child: DataFrame,
    parent: DataFrame,
    child_keys: Sequence[str],
    parent_keys: Sequence[str],
) -> DataFrame:
    """(n_child_rows, n_orphans, n_null_keys): ``n_orphans`` = child
    rows whose (non-null) key tuple matches no parent row — the
    referential-integrity fact an `exists`-style DQ rule asserts.
    Rows with any NULL key component are counted separately
    (``n_null_keys``) and NOT as orphans — SQL join semantics would
    never match them, but "missing FK" and "dangling FK" are
    different data problems.

    The deduped parent keys are hinted as the broadcast side (the
    fact→dimension case)."""
    if not child_keys or not parent_keys:
        raise ValueError("child_keys/parent_keys must be non-empty")
    if len(child_keys) != len(parent_keys):
        raise ValueError("child_keys and parent_keys must align")
    null_any = None
    for c in child_keys:
        cond = F.col(c).isNull()
        null_any = cond if null_any is None else (null_any | cond)
    pk = parent.select(
        *[F.col(p).alias(c) for c, p in zip(child_keys, parent_keys)]
    ).dropDuplicates(list(child_keys))
    pk = F.broadcast(pk)
    # Round 13 (optimization): ONE lazy pass instead of three eager
    # counts (child scan, null-key scan, anti-join scan — three
    # sequential driver-blocking jobs). A left join against the deduped
    # parent keys marks matches; NULL-key rows never match by SQL join
    # semantics and are classified by ``null_any`` exactly as the
    # filtered anti-join did, so the three counts are unchanged — now
    # from a single aggregate the caller executes whenever it acts.
    mark = "__qs_fk_match"
    while mark in child.columns:
        mark += "_"
    marked = child.join(
        pk.withColumn(mark, F.lit(1)), list(child_keys), "left"
    )
    return marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
        F.coalesce(
            F.sum(
                F.when(~null_any & F.col(mark).isNull(), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_orphans"),
        F.coalesce(F.sum(F.when(null_any, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_null_keys"),
    )


def fk_orphan_stats_oracle_sql(
    child_table: str,
    parent_table: str,
    child_keys: Sequence[str],
    parent_keys: Sequence[str],
) -> str:
    null_any = " OR ".join(f"c.{k} IS NULL" for k in child_keys)
    on = " AND ".join(
        f"c.{ck} = p.{pk}" for ck, pk in zip(child_keys, parent_keys)
    )
    return f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM {child_table} c)
         AS n_child_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM {child_table} c
        WHERE NOT ({null_any})
          AND NOT EXISTS (SELECT 1 FROM {parent_table} p WHERE {on}))
         AS n_orphans,
       (SELECT CAST(count(*) AS BIGINT) FROM {child_table} c
        WHERE {null_any}) AS n_null_keys
"""


def fd_violations(
    df: DataFrame, lhs: Sequence[str], rhs: str
) -> DataFrame:
    """(n_groups, n_violating_groups, n_rows_in_violations) for the
    functional dependency lhs → rhs: a group violates when its rows
    carry more than one distinct (non-null) rhs value. The discovery
    query behind "order key determines customer"-style consistency
    rules."""
    if not lhs:
        raise ValueError("lhs must be non-empty")
    per = df.groupBy(*lhs).agg(
        F.count(F.lit(1)).alias("__c"),
        F.countDistinct(rhs).alias("__d"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("__d") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum(F.when(F.col("__d") > 1, F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_in_violations"),
    )


def fd_violations_oracle_sql(
    table: str, lhs: Sequence[str], rhs: str
) -> str:
    ls = ", ".join(lhs)
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(CASE WHEN d > 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_rows_in_violations
FROM (SELECT {ls}, count(*) AS c, count(DISTINCT {rhs}) AS d
      FROM {table} GROUP BY {ls})
"""


def join_explosion_stats(
    left: DataFrame,
    right: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str] = None,
) -> DataFrame:
    """EXACT inner-join cardinality without running the join — the
    pre-flight guard before a 100 TB join. One row:

    - ``n_left_rows`` / ``n_right_rows``: input sizes;
    - ``n_left_null_key_rows`` / ``n_right_null_key_rows``: rows an
      equi-join silently drops (any NULL key component);
    - ``n_matching_keys``: distinct key tuples present on BOTH sides;
    - ``out_rows``: Σ over matching keys of cnt_left·cnt_right — the
      exact inner-join output size (DECIMAL(38,0): two 1e9-deep hot
      keys multiply to 1e18, and the SUM of such products is exactly
      what this op exists to catch before int64 territory);
    - ``max_key_out``: the worst single key's output contribution.

    Cost: one map-side-combinable groupBy per side on the keys, then a
    join of the two DISTINCT-KEY frames (dwarfed by the data) and a
    single-row aggregate — never the join itself. Compare ``out_rows``
    against your cluster's row budget; feed ``join_hot_keys`` output
    into salting (`operators/skew.py`) when a few keys dominate."""
    if not left_keys:
        raise ValueError("left_keys must be non-empty")
    right_keys = list(right_keys) if right_keys else list(left_keys)
    left_keys = list(left_keys)
    if len(right_keys) != len(left_keys):
        raise ValueError("left_keys and right_keys differ in length")

    def _side(df: DataFrame, keys: Sequence[str], tag: str):
        anynull = None
        for k in keys:
            cond = F.col(k).isNull()
            anynull = cond if anynull is None else (anynull | cond)
        totals = df.agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{tag}_rows"),
            F.sum(F.when(anynull, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{tag}_null_key_rows"),
        )
        per = (
            df.filter(~anynull)
            .groupBy(*[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)])
            .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias(f"__c_{tag}"))
        )
        return totals, per

    ltot, lper = _side(left, left_keys, "left")
    rtot, rper = _side(right, right_keys, "right")
    keycols = [f"__k{i}" for i in range(len(left_keys))]
    m = lper.join(rper, keycols)
    mstats = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matching_keys"),
        F.coalesce(
            F.sum(F.col("__c_left") * F.col("__c_right")),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("out_rows"),
        F.coalesce(
            F.max(F.col("__c_left") * F.col("__c_right")),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("max_key_out"),
    )
    return ltot.crossJoin(rtot).crossJoin(mstats)


def join_explosion_stats_oracle_sql(
    left_table: str,
    right_table: str,
    left_keys: Sequence[str],
    right_keys: Sequence[str] = None,
) -> str:
    right_keys = list(right_keys) if right_keys else list(left_keys)
    left_keys = list(left_keys)

    def _null(keys):
        return " OR ".join(f"{k} IS NULL" for k in keys)

    def _per(table, keys, tag):
        sel = ", ".join(
            f"{k} AS __k{i}" for i, k in enumerate(keys)
        )
        return (
            f"SELECT {sel}, CAST(count(*) AS DECIMAL(19,0)) AS __c_{tag} "
            f"FROM {table} WHERE NOT ({_null(keys)}) "
            f"GROUP BY {', '.join(keys)}"
        )

    on = " AND ".join(
        f"l.__k{i} = r.__k{i}" for i in range(len(left_keys))
    )
    return f"""
SELECT lt.n_left_rows, lt.n_left_null_key_rows,
       rt.n_right_rows, rt.n_right_null_key_rows,
       m.n_matching_keys, m.out_rows, m.max_key_out
FROM (SELECT CAST(count(*) AS BIGINT) AS n_left_rows,
             CAST(sum(CASE WHEN {_null(left_keys)} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_left_null_key_rows
      FROM {left_table}) lt,
     (SELECT CAST(count(*) AS BIGINT) AS n_right_rows,
             CAST(sum(CASE WHEN {_null(right_keys)} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_right_null_key_rows
      FROM {right_table}) rt,
     (SELECT CAST(count(*) AS BIGINT) AS n_matching_keys,
             CAST(coalesce(sum(l.__c_left * r.__c_right), 0)
               AS DECIMAL(38,0)) AS out_rows,
             CAST(coalesce(max(l.__c_left * r.__c_right), 0)
               AS DECIMAL(38,0)) AS max_key_out
      FROM ({_per(left_table, left_keys, 'left')}) l
      JOIN ({_per(right_table, right_keys, 'right')}) r ON {on}) m
"""


def join_hot_keys(
    left: DataFrame,
    right: DataFrame,
    left_keys: Sequence[str],
    right_keys: Sequence[str] = None,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` join keys by output contribution (cnt_left·cnt_right,
    ties broken by ascending key for a total order) — the keys to salt
    or broadcast-special-case. Ends in orderBy().limit(), which Spark
    plans as TakeOrderedAndProject (no global sort)."""
    if k <= 0:
        raise ValueError("k must be positive")
    right_keys = list(right_keys) if right_keys else list(left_keys)
    left_keys = list(left_keys)
    if len(right_keys) != len(left_keys):
        raise ValueError("left_keys and right_keys differ in length")

    def _per(df, keys, tag):
        anynull = None
        for c in keys:
            cond = F.col(c).isNull()
            anynull = cond if anynull is None else (anynull | cond)
        return (
            df.filter(~anynull)
            .groupBy(*[F.col(c).alias(f"__k{i}") for i, c in enumerate(keys)])
            .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias(f"__c_{tag}"))
        )

    keycols = [f"__k{i}" for i in range(len(left_keys))]
    m = _per(left, left_keys, "left").join(_per(right, right_keys, "right"), keycols)
    out = m.select(
        *[F.col(f"__k{i}").alias(n) for i, n in enumerate(left_keys)],
        F.col("__c_left").cast("bigint").alias("cnt_left"),
        F.col("__c_right").cast("bigint").alias("cnt_right"),
        (F.col("__c_left") * F.col("__c_right"))
        .cast("decimal(38,0)")
        .alias("out_rows"),
    )
    return out.orderBy(
        F.desc("out_rows"), *[F.asc(n) for n in left_keys]
    ).limit(int(k))


def join_hot_keys_oracle_sql(
    left_table: str,
    right_table: str,
    left_keys: Sequence[str],
    right_keys: Sequence[str] = None,
    k: int = 10,
) -> str:
    right_keys = list(right_keys) if right_keys else list(left_keys)
    left_keys = list(left_keys)

    def _per(table, keys, tag):
        nulls = " OR ".join(f"{c} IS NULL" for c in keys)
        sel = ", ".join(f"{c} AS __k{i}" for i, c in enumerate(keys))
        return (
            f"SELECT {sel}, CAST(count(*) AS DECIMAL(19,0)) AS __c_{tag} "
            f"FROM {table} WHERE NOT ({nulls}) "
            f"GROUP BY {', '.join(keys)}"
        )

    on = " AND ".join(f"l.__k{i} = r.__k{i}" for i in range(len(left_keys)))
    names = ", ".join(
        f"l.__k{i} AS {n}" for i, n in enumerate(left_keys)
    )
    order_keys = ", ".join(f"l.__k{i} ASC" for i in range(len(left_keys)))
    return f"""
SELECT {names},
       CAST(l.__c_left AS BIGINT) AS cnt_left,
       CAST(r.__c_right AS BIGINT) AS cnt_right,
       CAST(l.__c_left * r.__c_right AS DECIMAL(38,0)) AS out_rows
FROM ({_per(left_table, left_keys, 'left')}) l
JOIN ({_per(right_table, right_keys, 'right')}) r ON {on}
ORDER BY out_rows DESC, {order_keys}
LIMIT {int(k)}
"""


def relational_profile(
    facts: List[tuple],
) -> DataFrame:
    """Convenience packer: list of ('name', single-row DataFrame) →
    long (relation, stat, value) frame for reporting/gating.

    Lazy since round 13: each fact frame is unpivoted in-plan and the
    facts union into ONE job the caller executes, instead of one
    eager ``collect()`` per fact (six sequential driver-blocking jobs
    in the gate's rel leg; at scale, serial full passes). Rows are
    identical — (name, column, value-as-bigint, NULL preserved)."""
    if not facts:
        raise ValueError("facts must be non-empty")
    frames = []
    for name, frame in facts:
        unpivoted = frame.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("stat"),
                            F.col(k).cast("bigint").alias("value"),
                        )
                        for k in frame.columns
                    ]
                )
            ).alias("__qs_e")
        ).select(
            F.lit(name).alias("relation"),
            F.col("__qs_e.stat").alias("stat"),
            F.col("__qs_e.value").alias("value"),
        )
        frames.append(unpivoted)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def k_anonymity_stats(df: DataFrame, qi_cols: Sequence[str], k: int) -> DataFrame:
    """k-anonymity fact for a quasi-identifier combination: one row —
    (n_rows, n_groups, min_group_size, n_groups_below_k,
    n_rows_below_k). A dataset is k-anonymous on ``qi_cols`` iff
    ``n_rows_below_k = 0``: every row shares its quasi-identifier
    tuple with at least k−1 others. NULL components count as ordinary
    values (groupBy semantics — an all-NULL tuple that appears once
    still identifies a row). One map-side-combinable groupBy + a
    single-row aggregate, the key_uniqueness shape."""
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    per = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("__c"))
    return per.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("__c").cast("bigint").alias("min_group_size"),
        F.coalesce(
            F.sum(F.when(F.col("__c") < int(k), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_groups_below_k"),
        F.coalesce(
            F.sum(F.when(F.col("__c") < int(k), F.col("__c")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_rows_below_k"),
    )


def k_anonymity_oracle_sql(table: str, qi_cols: Sequence[str], k: int) -> str:
    qs = ", ".join(qi_cols)
    return f"""
SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(c) AS BIGINT) AS min_group_size,
       CAST(coalesce(sum(CASE WHEN c < {int(k)} THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_groups_below_k,
       CAST(coalesce(sum(CASE WHEN c < {int(k)} THEN c ELSE 0 END), 0)
         AS BIGINT) AS n_rows_below_k
FROM (SELECT {qs}, count(*) AS c FROM {table} GROUP BY {qs})
"""


def l_diversity_stats(
    df: DataFrame, qi_cols: Sequence[str], sensitive_col: str, l: int
) -> DataFrame:
    """l-diversity fact — k-anonymity's companion: a k-anonymous
    group is still a disclosure if everyone in it shares the SAME
    sensitive value. A dataset is (distinct) l-diverse on
    (``qi_cols`` → ``sensitive_col``) iff every quasi-identifier
    group contains >= l distinct non-NULL sensitive values
    (Machanavajjhala et al. 2007, "l-Diversity: Privacy Beyond
    k-Anonymity", definition 3.1 — the distinct-values instantiation).

    One row: (n_rows, n_groups, min_l, n_groups_below_l,
    n_rows_below_l). NULL quasi-identifier components are ordinary
    group keys (k-anonymity semantics); NULL sensitive values carry
    no diversity (count(DISTINCT) ignores them — an all-NULL-sensitive
    group has min_l = 0).

    Plan: ONE groupBy over the QI tuple with a single distinct
    aggregate (no Expand rewrite — one distinct child) + a 1-row
    finisher, the k_anonymity shape. Scales with group cardinality,
    never collects."""
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    if int(l) < 1:
        raise ValueError("l must be >= 1")
    per = df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"),
        F.countDistinct(sensitive_col).cast("bigint").alias("__l"),
    )
    return per.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("__l").cast("bigint").alias("min_l"),
        F.coalesce(
            F.sum(F.when(F.col("__l") < int(l), 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_groups_below_l"),
        F.coalesce(
            F.sum(F.when(F.col("__l") < int(l), F.col("__c")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_rows_below_l"),
    )


def l_diversity_oracle_sql(
    table: str, qi_cols: Sequence[str], sensitive_col: str, l: int
) -> str:
    qs = ", ".join(qi_cols)
    return f"""
SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(lv) AS BIGINT) AS min_l,
       CAST(coalesce(sum(CASE WHEN lv < {int(l)} THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS n_groups_below_l,
       CAST(coalesce(sum(CASE WHEN lv < {int(l)} THEN c ELSE 0 END), 0)
         AS BIGINT) AS n_rows_below_l
FROM (
  SELECT {qs}, count(*) AS c, count(DISTINCT {sensitive_col}) AS lv
  FROM {table} GROUP BY {qs}
)
"""


def fd_g3_error(
    df: DataFrame, lhs_cols: Sequence[str], rhs_col: str
) -> DataFrame:
    """Approximate-FD confidence: the g3 error of ``lhs -> rhs``
    (Kivinen & Mannila 1995) — the MINIMUM number of rows to delete
    for the dependency to hold exactly::

        g3_rows = n_rows - sum_lhs max_rhs count(lhs, rhs)

    `fd_violations` says WHETHER an FD holds; this says HOW CLOSE a
    violated one is ("o_custkey -> o_orderstatus holds for 99.2% of
    rows" is a rule-authoring fact, a hard pass/fail is not). One row:
    (n_rows, n_groups, n_violating_groups, g3_rows, confidence) with
    confidence = 1 - g3/n as ONE IEEE division of exact integers
    (NULL when n = 0).

    Plan: groupBy(lhs, rhs) count -> groupBy(lhs) {sum, max, distinct
    rhs-per-lhs via count(*)} -> 1-row finisher; all combinable
    aggregates, integer outputs. NULLs group as ordinary values on
    both sides (a NULL rhs is a value the FD must also be consistent
    about — matching fd_violations' semantics)."""
    if not lhs_cols:
        raise ValueError("lhs_cols must be non-empty")
    cells = df.groupBy(*lhs_cols, rhs_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    per_lhs = cells.groupBy(*lhs_cols).agg(
        F.sum("__c").cast("bigint").alias("__tot"),
        F.max("__c").cast("bigint").alias("__keep"),
        F.count(F.lit(1)).cast("bigint").alias("__nrhs"),
    )
    return per_lhs.agg(
        F.coalesce(F.sum("__tot"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.coalesce(
            F.sum(F.when(F.col("__nrhs") > 1, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_violating_groups"),
        F.coalesce(F.sum(F.col("__tot") - F.col("__keep")), F.lit(0))
        .cast("bigint")
        .alias("g3_rows"),
    ).select(
        "n_rows",
        "n_groups",
        "n_violating_groups",
        "g3_rows",
        F.expr(
            "CASE WHEN n_rows > 0 THEN 1.0D - CAST(g3_rows AS DOUBLE) "
            "/ CAST(n_rows AS DOUBLE) END"
        ).alias("confidence"),
    )


def fd_g3_oracle_sql(table: str, lhs_cols: Sequence[str], rhs_col: str) -> str:
    ls = ", ".join(lhs_cols)
    return f"""
SELECT n_rows, n_groups, n_violating_groups, g3_rows,
       CASE WHEN n_rows > 0 THEN 1.0 - CAST(g3_rows AS DOUBLE)
            / CAST(n_rows AS DOUBLE) END AS confidence
FROM (
  SELECT CAST(coalesce(sum(tot), 0) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(coalesce(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS n_violating_groups,
         CAST(coalesce(sum(tot - keep), 0) AS BIGINT) AS g3_rows
  FROM (
    SELECT {ls}, sum(c) AS tot, max(c) AS keep, count(*) AS nrhs
    FROM (
      SELECT {ls}, {rhs_col}, CAST(count(*) AS BIGINT) AS c
      FROM {table} GROUP BY {ls}, {rhs_col}
    ) GROUP BY {ls}
  )
)
"""
