"""Deterministic sampling & dataset-mixing operators (training-data
pipeline: hold-out splits, per-language rebalancing, corpus mixing).

All sampling decisions are pure functions of (seed, key): the same row
lands on the same side of every split on every run, on any cluster, at
any partitioning — unlike ``df.sample``, whose output depends on
partition layout. Decisions are Column expressions over the portable
60-bit md5 hash (``dedup.hash60_sql``), so a DuckDB oracle can replay
them and a resumed/backfilled pipeline never flip-flops membership.

Scale: a sample/split/mix is a narrow per-row filter — no shuffle, no
state; mixing is a union of filtered scans, which Spark plans as
independent branches.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import hash60_sql

_DENOM = 1_000_000


def sample_cond_sql(
    key_sql: str, rate: float, seed: int, dialect: str = "spark",
    complement: bool = False,
) -> str:
    """Boolean SQL: keep iff hash60("{seed}:"||key) % 1e6 < rate*1e6
    (``complement=True`` keeps exactly the rows the plain form drops).

    NULL keys hash as the literal string '<NULL>' rather than making
    the whole condition NULL — otherwise every NULL-key row would be
    silently dropped from BOTH sides of a split, even at rate=1.0."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if dialect == "spark":
        key = (
            f"concat('{seed}', ':', "
            f"coalesce(CAST(({key_sql}) AS STRING), '<NULL>'))"
        )
    else:
        key = (
            f"('{seed}' || ':' || "
            f"coalesce(CAST(({key_sql}) AS VARCHAR), '<NULL>'))"
        )
    h = hash60_sql(key, dialect, "portable")
    cut = int(round(rate * _DENOM))
    op = ">=" if complement else "<"
    return f"(({h}) % {_DENOM}) {op} {cut}"


def hash_sample(
    df: DataFrame, rate: float, key_col: str, seed: int = 0,
    complement: bool = False,
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction keyed by ``key_col``.

    Train/test splits: ``train = hash_sample(df, 0.9, k)`` and
    ``test = hash_sample(df, 0.9, k, complement=True)`` — the
    complement keeps EXACTLY the rows the plain call drops. (Two
    plain calls at rates r and 1-r do NOT complement each other: both
    keep prefix intervals of the same hash, so the smaller is a
    subset of the larger.) Disjoint seeds give independent samples."""
    return df.filter(
        F.expr(sample_cond_sql(key_col, rate, seed, "spark", complement))
    )


def stratified_hash_sample(
    df: DataFrame,
    rates: Dict[str, float],
    strata_col: str,
    key_col: str,
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. language rebalancing:
    downsample en, keep all low-resource langs). Strata not listed get
    ``default_rate``."""
    branches = " ".join(
        f"WHEN CAST({strata_col} AS STRING) = {_str_lit(s)} "
        f"THEN ({sample_cond_sql(key_col, r, seed, 'spark')})"
        for s, r in sorted(rates.items())
    )
    cond = (
        f"CASE {branches} "
        f"ELSE ({sample_cond_sql(key_col, default_rate, seed, 'spark')}) END"
    )
    return df.filter(F.expr(cond))


def weighted_mix(
    sources: Sequence[Tuple[str, DataFrame, float]],
    key_col: str,
    seed: int = 0,
    source_col: str = "mix_source",
) -> DataFrame:
    """Mix corpora at per-source sampling rates (<= 1.0; upsampling is
    epoch repetition, out of scope for a single pass), tagging each row
    with its source name. Planned as a union of independently filtered
    scans — each branch pushes its own filter down."""
    parts = []
    for name, df, rate in sources:
        parts.append(
            hash_sample(df, rate, key_col, seed=seed).select(
                F.lit(name).alias(source_col), "*"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def temperature_rates(
    counts: Dict[str, int], temperature: float = 2.0
) -> Dict[str, float]:
    """Per-domain keep rates for TEMPERATURE resampling (the
    multilingual rebalance of mT5/XLM-R — public method): observed
    shares p_d = n_d/N are flattened to q_d ∝ p_d^(1/T); the returned
    rates realize the LARGEST corpus achieving the exact tempered
    mixture with no upsampling — r_d = C·q_d/n_d with
    C = min_d n_d/q_d, so the scarcest (post-flattening) domain keeps
    everything (rate exactly 1.0) and every other domain downsamples
    to match. T=1 reproduces the corpus as-is; T→∞ equalizes domains.

    Determinism note: p^(1/T) goes through pow(); at T=2 the
    implementation uses sqrt(), which is CORRECTLY ROUNDED in IEEE —
    a SQL oracle computing `sqrt(n)` reproduces the rates bit-for-bit
    (pow() is not correctly rounded everywhere, so cross-engine
    replays should prefer T=2 or precomputed rates)."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if not counts:
        return {}
    if temperature == 2.0:
        q = {d: float(n) ** 0.5 for d, n in counts.items()}
    else:
        q = {d: float(n) ** (1.0 / temperature) for d, n in counts.items()}
    c = min(n / q[d] for d, n in counts.items())
    return {d: min(1.0, c * q[d] / counts[d]) for d in counts}


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    temperature: float = 2.0,
    seed: int = 0,
    counts: Optional[Dict[str, int]] = None,
) -> DataFrame:
    """Deterministic temperature resampling in one pass: compute the
    per-domain rates from observed counts (one metadata-sized
    groupBy().count() collect — |domains| rows, the only driver-side
    step; pass ``counts`` to skip it) and apply them with the same
    hash-threshold filter as every other sampler here — a narrow
    per-row filter, no shuffle, replayable by the DuckDB oracle."""
    if counts is None:
        counts = {
            str(r[0]): r[1]
            for r in df.groupBy(domain_col).count().collect()
            if r[0] is not None
        }
    rates = temperature_rates(counts, temperature)
    return stratified_hash_sample(
        df, rates, domain_col, key_col, seed=seed, default_rate=0.0
    )


def _str_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# ---------------------------------------------------------------------------
# token-budget mixture (waterfilling) — round 9
# ---------------------------------------------------------------------------

#: hash-threshold denominator shared with sample_cond_sql
_CUT_DENOM = 1_000_000


def _budget_plan_parts(
    weights: Dict[str, int], budget: int
) -> Tuple[str, int]:
    if not weights:
        raise ValueError("weights must be non-empty")
    for d, w in weights.items():
        if int(w) <= 0:
            raise ValueError(f"weight for {d!r} must be a positive int")
    if int(budget) < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    vals = ", ".join(
        f"({_str_lit(str(d))}, {int(w)})" for d, w in sorted(weights.items())
    )
    return vals, int(budget)


def token_budget_plan(
    df: DataFrame,
    domain_col: str,
    weights: Dict[str, int],
    budget: int,
    token_count_expr: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Waterfilling mixture plan: per-domain deterministic keep
    thresholds such that the expected sampled token total is
    ``budget``, split across domains in proportion to integer
    ``weights`` — except that a domain too SMALL for its target keeps
    everything and its unused share redistributes to the others (the
    classic waterfilling allocation; the public mixture-design method
    behind e.g. The Pile's/DoReMi-style reweighted corpora, solved
    exactly instead of by iteration).

    Definition: find λ with Σ_d min(n_d, λ·w_d) = budget; domain d
    keeps rate r_d = min(1, λ·w_d/n_d). Closed form: sort domains by
    n_d/w_d ascending — saturated (r=1) domains form a prefix; the
    smallest non-saturating prefix is found by the exact integer test
    ``n_j·W_from ≤ (B − S_prev)·w_j`` (S_prev = tokens of prior
    domains, W_from = weight at-and-after j), then
    λ = (B − S_sat)/W_unsat.

    INTEGER-EXACT cross-engine contract: the emitted ``cut`` is the
    ONLY thing the sampler consumes (keep iff hash % 1e6 < cut), and
    it is computed entirely in exact integer arithmetic —
    cut = floor((1e6·(B−S_sat)·w_d) / (W_unsat·n_d) + 1/2) via the
    two-integer form (2·1e6·num + den) DIV (2·den), DECIMAL(38,0) on
    Spark, HUGEINT on DuckDB (identical values within range; the
    magnitudes are bounded by 2e6·B·max(w) — raise a planning-time
    ValueError rather than overflow by keeping weights ≤ 1e9 and
    budget ≤ 1e15). The only double is the n/w SORT key, and IEEE
    division of identical ints is correctly rounded in both engines,
    so the order (tie-broken by domain) can never diverge.

    Returns (domain, n_tokens, weight, saturated, cut, rate) —
    |weights| rows, metadata-sized. Domains present in data but not
    in ``weights`` are excluded (sample rate 0); weighted domains
    absent from the data contribute nothing and are omitted.

    100 TB: one map-side-combinable groupBy over the corpus for the
    per-domain token counts; everything after operates on |domains|
    rows."""
    from .dedup import tokens_sql

    vals, b = _budget_plan_parts(weights, budget)
    if max(int(w) for w in weights.values()) > 10**9:
        raise ValueError("weights must be <= 1e9 (overflow headroom)")
    if int(budget) > 10**15:
        raise ValueError("budget must be <= 1e15 (overflow headroom)")
    tok = token_count_expr or f"size({tokens_sql(text_col, 'spark')})"
    spark = df.sparkSession
    counts = (
        df.filter(F.col(domain_col).isNotNull())
        .groupBy(F.col(domain_col).cast("string").alias("domain"))
        .agg(F.expr(f"CAST(sum({tok}) AS BIGINT)").alias("n"))
    )
    wdf = spark.createDataFrame(
        sorted((str(d), int(w)) for d, w in weights.items()),
        "domain string, w bigint",
    )
    j = counts.join(F.broadcast(wdf), "domain")
    ratio = F.expr("CAST(n AS DOUBLE) / CAST(w AS DOUBLE)")
    wo = Window.orderBy(ratio, F.col("domain"))
    o = j.select(
        "domain",
        "n",
        "w",
        F.sum("n")
        .over(wo.rowsBetween(Window.unboundedPreceding, -1))
        .alias("s_prev"),
        F.sum("w")
        .over(wo.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .alias("w_from"),
    )
    sat = o.withColumn(
        "saturated",
        F.expr(
            "CAST(n AS DECIMAL(19,0)) * CAST(w_from AS DECIMAL(19,0))"
            f" <= CAST({b} - coalesce(s_prev, CAST(0 AS BIGINT))"
            " AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))"
        ),
    )
    tot = F.broadcast(
        sat.groupBy().agg(
            F.expr(
                "coalesce(CAST(sum(CASE WHEN saturated THEN n END) AS BIGINT),"
                " CAST(0 AS BIGINT))"
            ).alias("s_k"),
            F.expr(
                "coalesce(CAST(sum(CASE WHEN NOT saturated THEN w END)"
                " AS BIGINT), CAST(0 AS BIGINT))"
            ).alias("w_unsat"),
        )
    )
    cut = (
        "CASE WHEN saturated THEN CAST(1000000 AS BIGINT) ELSE CAST("
        "(CAST(2000000 AS DECIMAL(7,0))"
        f" * CAST({b} - s_k AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))"
        " + CAST(w_unsat AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))"
        " DIV (CAST(2 AS DECIMAL(1,0)) * CAST(w_unsat AS DECIMAL(19,0))"
        " * CAST(n AS DECIMAL(19,0))) AS BIGINT) END"
    )
    return sat.crossJoin(tot).select(
        "domain",
        F.col("n").alias("n_tokens"),
        F.col("w").alias("weight"),
        "saturated",
        F.expr(cut).alias("cut"),
        F.expr(f"{cut} / CAST({_CUT_DENOM} AS DOUBLE)").alias("rate"),
    )


def token_budget_plan_oracle_sql(
    table: str,
    domain_col: str,
    weights: Dict[str, int],
    budget: int,
    token_count_sql: Optional[str] = None,
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``token_budget_plan`` — the same sort key,
    the same exact integer saturation test and cut formula (HUGEINT
    standing in for Spark's DECIMAL(38,0): both are exact within the
    documented magnitude bounds)."""
    from .dedup import tokens_sql

    vals, b = _budget_plan_parts(weights, budget)
    tok = token_count_sql or f"len({tokens_sql(text_col, 'duckdb')})"
    return f"""
WITH counts AS (
  SELECT CAST({domain_col} AS VARCHAR) AS domain,
         CAST(sum({tok}) AS BIGINT) AS n
  FROM {table} WHERE {domain_col} IS NOT NULL GROUP BY 1
), wt(domain, w) AS (VALUES {vals}),
j AS (SELECT counts.domain, n, w FROM counts JOIN wt USING (domain)),
o AS (
  SELECT *,
    SUM(n) OVER (ORDER BY CAST(n AS DOUBLE)/CAST(w AS DOUBLE), domain
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s_prev,
    SUM(w) OVER (ORDER BY CAST(n AS DOUBLE)/CAST(w AS DOUBLE), domain
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_from
  FROM j
), s AS (
  SELECT *, (CAST(n AS HUGEINT) * CAST(w_from AS HUGEINT)
             <= CAST({b} - COALESCE(s_prev, 0) AS HUGEINT)
                * CAST(w AS HUGEINT)) AS saturated
  FROM o
), t AS (
  SELECT COALESCE(CAST(SUM(CASE WHEN saturated THEN n END) AS BIGINT), 0)
           AS s_k,
         COALESCE(CAST(SUM(CASE WHEN NOT saturated THEN w END) AS BIGINT), 0)
           AS w_unsat
  FROM s
)
SELECT domain, n AS n_tokens, w AS weight, saturated,
  CASE WHEN saturated THEN CAST({_CUT_DENOM} AS BIGINT) ELSE CAST(
    (CAST(2000000 AS HUGEINT) * CAST({b} - s_k AS HUGEINT)
       * CAST(w AS HUGEINT)
     + CAST(w_unsat AS HUGEINT) * CAST(n AS HUGEINT))
    // (CAST(2 AS HUGEINT) * CAST(w_unsat AS HUGEINT)
        * CAST(n AS HUGEINT)) AS BIGINT) END AS cut,
  CASE WHEN saturated THEN CAST({_CUT_DENOM} AS BIGINT) ELSE CAST(
    (CAST(2000000 AS HUGEINT) * CAST({b} - s_k AS HUGEINT)
       * CAST(w AS HUGEINT)
     + CAST(w_unsat AS HUGEINT) * CAST(n AS HUGEINT))
    // (CAST(2 AS HUGEINT) * CAST(w_unsat AS HUGEINT)
        * CAST(n AS HUGEINT)) AS BIGINT) END
    / CAST({_CUT_DENOM} AS DOUBLE) AS rate
FROM s CROSS JOIN t
"""


def token_budget_sample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    weights: Dict[str, int],
    budget: int,
    seed: int = 0,
    token_count_expr: Optional[str] = None,
    text_col: str = "text",
    plan: Optional[DataFrame] = None,
) -> DataFrame:
    """Apply a waterfilling plan: keep a row iff
    ``hash60(seed:key) % 1e6 < cut(domain)`` — the same deterministic
    hash-threshold contract as every sampler here, with the plan's
    integer cut in place of a float-derived one. Pass ``plan`` to
    reuse a precomputed/persisted plan (skipping the counts scan);
    rows whose domain has no plan row are dropped (rate 0).

    One broadcast join + a narrow filter — no shuffle of the corpus,
    replayable end-to-end by the DuckDB oracle (which recomputes the
    plan IN SQL: nothing is smuggled from the Spark run)."""
    from .dedup import hash60_sql

    if plan is None:
        plan = token_budget_plan(
            df, domain_col, weights, budget, token_count_expr, text_col
        )
    key = (
        f"concat('{int(seed)}', ':', "
        f"coalesce(CAST(({key_col}) AS STRING), '<NULL>'))"
    )
    h = hash60_sql(key, "spark", "portable")
    return (
        df.join(
            F.broadcast(
                plan.select(
                    F.col("domain").alias("__bdom"), F.col("cut").alias("__bcut")
                )
            ),
            F.col(domain_col).cast("string") == F.col("__bdom"),
        )
        .filter(F.expr(f"(({h}) % {_CUT_DENOM})") < F.col("__bcut"))
        .drop("__bdom", "__bcut")
    )


def token_budget_sample_oracle_sql(
    table: str,
    domain_col: str,
    key_col: str,
    weights: Dict[str, int],
    budget: int,
    seed: int = 0,
    token_count_sql: Optional[str] = None,
    text_col: str = "text",
    select: str = "d.*",
) -> str:
    """DuckDB replay of ``token_budget_sample`` — recomputes the plan
    in SQL and applies the identical hash-threshold filter."""
    from .dedup import hash60_sql

    plan = token_budget_plan_oracle_sql(
        table, domain_col, weights, budget, token_count_sql, text_col
    )
    key = (
        f"('{int(seed)}' || ':' || "
        f"coalesce(CAST((d.{key_col}) AS VARCHAR), '<NULL>'))"
    )
    h = hash60_sql(key, "duckdb", "portable")
    return f"""
SELECT {select}
FROM {table} d JOIN ({plan}) p
  ON CAST(d.{domain_col} AS VARCHAR) = p.domain
WHERE (({h}) % {_CUT_DENOM}) < p.cut
"""


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` rows per group — the crawl-curation
    "per-domain cap" (a handful of hosts dominate any web crawl; caps
    bound their share of the training mix). Keeps the top-``cap`` by
    (``score_col`` DESC, ``id_col`` ASC) so the result is deterministic
    and oracle-replayable.

    Plan: one window (shuffle on ``group_col``) with ``row_number`` —
    rank ≤ cap. Spark's ``InferWindowGroupLimit`` rule (for
    cap ≤ ``spark.sql.optimizer.windowGroupLimitThreshold``, 1000 by
    default) plans a partial ``WindowGroupLimit`` below the exchange,
    so each map task ships at most ``cap`` rows per group and a
    mega-group never reaches one reducer whole (plan-pinned in
    tests/test_plans.py).
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def cap_per_group_oracle_sql(
    table: str, group_col: str, cap: int, score_col: str,
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of :func:`cap_per_group`."""
    return f"""
SELECT * EXCLUDE (_rk) FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {group_col}
    ORDER BY {score_col} DESC, {id_col}
  ) AS _rk
  FROM {table}
) WHERE _rk <= {cap}
"""


def _es_score_sql(
    key_sql: str, weight_sql: str, seed: int, dialect: str
) -> str:
    """Efraimidis-Spirakis exponential-race score: -ln(u)/w with u a
    deterministic uniform in (0,1) from the portable 60-bit hash
    (never exactly 0 or 1 — the +0.5 centers the million buckets).
    Smaller score = earlier finisher = sampled first. Identical
    expression tree in both engines; ln agrees bit-for-bit on
    identical doubles (same empirically-pinned property the BM25 idf
    gate relies on)."""
    if dialect == "spark":
        key = (
            f"concat('{seed}', ':', "
            f"coalesce(CAST(({key_sql}) AS STRING), '<NULL>'))"
        )
    else:
        key = (
            f"('{seed}' || ':' || "
            f"coalesce(CAST(({key_sql}) AS VARCHAR), '<NULL>'))"
        )
    h = hash60_sql(key, dialect, "portable")
    u = f"((CAST(({h}) % {_DENOM} AS DOUBLE) + 0.5) / {_DENOM}.0)"
    return f"(-ln({u}) / CAST(({weight_sql}) AS DOUBLE))"


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — exactly
    ``n`` rows (fewer only if fewer qualify), inclusion odds
    proportional to ``weight_col``: the Efraimidis & Spirakis 2006
    one-pass reservoir order (public: "Weighted random sampling with
    a reservoir", IPL) rephrased declaratively. Each row gets an
    exponential race time -ln(u)/w from a seeded per-key uniform;
    the n smallest win — provably equivalent to sequential weighted
    draws without replacement.

    Rows with NULL or non-positive weight never qualify. One narrow
    projection + a TakeOrdered top-n (k rows per partition merge —
    no global sort, no full shuffle); the mix-building counterpart to
    ``hash_sample``'s fixed-rate cut. Deterministic in (seed, keys,
    weights), so the DuckDB oracle replays the exact sample; emitted
    ``sample_rank`` is the race order (the first ``m <= n`` rows ARE
    the size-m sample — nested samples for free)."""
    from pyspark.sql import Window

    score = F.expr(_es_score_sql(key_col, weight_col, seed, "spark"))
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__es", score)
    top = eligible.orderBy(F.col("__es"), F.col(key_col)).limit(int(n))
    w = Window.orderBy(F.col("__es"), F.col(key_col))
    return (
        top.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .drop("__es")
    )


def weighted_sample_oracle_sql(
    table: str,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    seed: int = 0,
    columns: str = "*",
) -> str:
    """DuckDB replay of :func:`weighted_sample`."""
    score = _es_score_sql(key_col, weight_col, seed, "duckdb")
    return f"""
SELECT {columns}, CAST(rnk AS INT) AS sample_rank FROM (
  SELECT *, row_number() OVER (ORDER BY {score}, {key_col}) AS rnk
  FROM {table}
  WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
) WHERE rnk <= {int(n)}
"""


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling without replacement WITHIN each group —
    "n docs per language, odds by quality score": the same
    Efraimidis-Spirakis race as :func:`weighted_sample`, cut per
    group. Implemented as a composition over :func:`cap_per_group`
    (negated race time, descending), so its partial-limit plan carries
    over unchanged. Rows with NULL/non-positive weight never
    qualify."""
    score = F.expr(_es_score_sql(key_col, weight_col, seed, "spark"))
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__es_neg", -score)
    return cap_per_group(
        eligible, group_col, int(n), "__es_neg", key_col
    ).drop("__es_neg")


def weighted_sample_per_group_oracle_sql(
    table: str,
    group_col: str,
    weight_col: str,
    n: int,
    key_col: str = "doc_id",
    seed: int = 0,
    columns: str = "*",
) -> str:
    """DuckDB replay of :func:`weighted_sample_per_group`."""
    score = _es_score_sql(key_col, weight_col, seed, "duckdb")
    return f"""
SELECT {columns} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {group_col} ORDER BY {score}, {key_col}
  ) AS _rk
  FROM {table}
  WHERE {weight_col} IS NOT NULL AND {weight_col} > 0
) WHERE _rk <= {int(n)}
"""


def keep_top_fraction(
    df: DataFrame,
    score_col: str,
    frac: tuple,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Keep the top ``frac`` of rows by ``score_col`` within each
    ``by`` group (whole frame when ``by`` is None) — the
    RefinedWeb/CCNet "keep the top X% by quality score per language"
    cut, EXACT and without ever sorting the data.

    ``frac`` is a rational ``(num, den)`` (the classifier-lr
    convention): keep_n per group = ceil(n_g·num/den) in pure integer
    arithmetic, so both engines compute the identical cut. The
    threshold is the keep_n-th largest score; ALL rows tying it are
    kept (deterministic; may exceed keep_n — the tie-free variant is
    ``cap_per_group`` with a row budget). NULL scores never qualify.

    100 TB shape (round 13 — optimization): one map-side-combinable
    groupBy onto the COMPACT (group, score, cnt) table, then an exact
    two-phase BUCKETED threshold pick instead of a cumulative window
    partitioned only by group — for a continuous score the per-group
    distinct count approaches the row count, so that window put a
    whole group's score distribution in ONE task (the guide §2.5
    straggler/OOM shape). Phase 1 aggregates monotone ``width_bucket``
    coarse buckets (≤4096/group) and finds each group's target bucket
    with a BOUNDED window over the bucket totals; phase 2 runs the
    cumulative comparison over only the target bucket's distinct
    scores, offset by the preceding buckets' mass — the identical
    ``cum >= ceil(n·num/den)`` crossing, so the threshold (and the
    kept set) is bit-equal to the single-window form
    (regression-pinned). Degenerate bucketings (single value,
    non-finite min/max) fall back to one bucket per group — the old
    shape, still exact. NaN scores bucket above every finite bucket,
    matching their descending sort position. Everything stays
    in-engine: no driver collect, group cardinality unbounded."""
    num, den = int(frac[0]), int(frac[1])
    if den <= 0 or num < 0:
        raise ValueError("frac must be a rational (num >= 0, den > 0)")
    if num > 10**6 or den > 10**6:
        raise ValueError("frac terms must stay <= 1e6 (int64 headroom)")
    if num == 0:
        return df.filter(F.lit(False))
    groups = list(by) if by else []
    d = df if groups else df.withColumn("__g", F.lit(1))
    gcols = groups or ["__g"]
    compact = (
        d.filter(F.col(score_col).isNotNull())
        .groupBy(*gcols, score_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    )
    gstats = compact.groupBy(*gcols).agg(
        F.min(score_col).alias("__lo"),
        F.max(score_col).alias("__hi"),
        F.sum("__cnt").cast("bigint").alias("__n"),
    )
    aug = _with_score_bucket(
        compact.join(gstats, gcols), score_col
    ).select(
        *gcols,
        score_col,
        "__cnt",
        "__b",
        F.expr(f"(__n * {num} + {den} - 1) div {den}").alias("__keep"),
    )
    btot = aug.groupBy(*gcols, "__b").agg(
        F.sum("__cnt").cast("bigint").alias("__bc"),
        F.min("__keep").alias("__keep"),
    )
    wbk = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # first bucket (descending) whose cumulative mass crosses keep_n;
    # max(struct) picks it with its preceding-bucket cumulative count
    tgt = (
        btot.withColumn("__bcum", F.sum("__bc").over(wbk))
        .filter(F.col("__bcum") >= F.col("__keep"))
        .groupBy(*gcols)
        .agg(
            F.max(
                F.struct(
                    F.col("__b").alias("__tb"),
                    (F.col("__bcum") - F.col("__bc")).alias("__cb"),
                )
            ).alias("__s"),
            F.min("__keep").alias("__keep"),
        )
        .select(
            *gcols,
            F.col("__s.__tb").alias("__tb"),
            F.col("__s.__cb").alias("__cb"),
            "__keep",
        )
    )
    win = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(score_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    thr = (
        aug.select(*gcols, score_col, "__cnt", "__b")
        .join(tgt, gcols)
        .filter(F.col("__b") == F.col("__tb"))
        .withColumn("__cum", F.sum("__cnt").over(win) + F.col("__cb"))
        .filter(F.col("__cum") >= F.col("__keep"))
        .groupBy(*gcols)
        .agg(F.max(score_col).alias("__thr"))
    )
    out = d.join(thr, gcols).filter(F.col(score_col) >= F.col("__thr"))
    return out.drop("__thr", *([] if groups else ["__g"])).select(
        *df.columns
    )


def _with_score_bucket(
    aug: DataFrame, score_col: str, nb: int = 4096
) -> DataFrame:
    """Adds ``__b``: a per-group MONOTONE coarse bucket of
    ``score_col`` from the already-joined per-group ``__lo``/``__hi``
    bounds (``width_bucket`` over the double cast, clamped to
    [1, nb]). NaN buckets to nb+1 — above every finite bucket, its
    descending-sort position. ``width_bucket`` returns NULL when the
    bounds are degenerate (single distinct value) or non-finite; those
    groups fall back to ONE bucket, which keeps the bucketing monotone
    (a non-finite bound forces the WHOLE group through the fallback:
    a +inf/-inf/NaN score implies __hi/__lo is itself non-finite).
    Long→double rounding is monotone non-decreasing, so bucket order
    never contradicts score order for integer scores either."""
    sd = F.col(score_col).cast("double")
    wb = F.expr(
        f"width_bucket(CAST({score_col} AS DOUBLE), "
        f"CAST(__lo AS DOUBLE), CAST(__hi AS DOUBLE), {int(nb)})"
    )
    bucket = (
        F.when(F.isnan(sd), F.lit(int(nb) + 1))
        .otherwise(
            F.coalesce(
                F.least(F.greatest(wb, F.lit(1)), F.lit(int(nb))),
                F.lit(1),
            )
        )
        .cast("int")
    )
    return aug.withColumn("__b", bucket)


def keep_top_fraction_oracle_sql(
    table: str,
    score_col: str,
    frac: tuple,
    by: Optional[Sequence[str]] = None,
) -> str:
    """DuckDB replay of :func:`keep_top_fraction`."""
    num, den = int(frac[0]), int(frac[1])
    if num == 0:
        return f"SELECT * FROM {table} WHERE FALSE"
    groups = list(by) if by else []
    gsel = ", ".join(groups) if groups else "1 AS __g"
    gref = ", ".join(groups) if groups else "__g"
    on = (
        " AND ".join(f"t.{g} = thr.{g}" for g in groups)
        if groups
        else "TRUE"
    )
    return f"""
SELECT t.* FROM {table} t
JOIN (
  SELECT {gref}, max({score_col}) AS __thr FROM (
    SELECT {gref}, {score_col},
           sum(__cnt) OVER (PARTITION BY {gref}
             ORDER BY {score_col} DESC
             ROWS UNBOUNDED PRECEDING) AS __cum,
           sum(__cnt) OVER (PARTITION BY {gref}) AS __n
    FROM (SELECT {gsel}, {score_col},
                 CAST(count(*) AS BIGINT) AS __cnt
          FROM {table} WHERE {score_col} IS NOT NULL
          GROUP BY {gref}, {score_col})
  ) WHERE __cum >= (__n * {num} + {den} - 1) // {den}
  GROUP BY {gref}
) thr ON {on}
WHERE t.{score_col} >= thr.__thr
"""


def with_group_percentile(
    df: DataFrame,
    score_col: str,
    by: Optional[Sequence[str]] = None,
    out: str = "pct_rank",
) -> DataFrame:
    """Adds the EXACT within-group percentile of ``score_col`` —
    fraction of the group's non-NULL-scored rows with STRICTLY
    smaller score, in [0, 1) — without a data-sized sort (the
    curriculum-weighting / score-calibration companion of
    :func:`keep_top_fraction`, same compact-table machinery: one
    combinable groupBy to (group, score, cnt), then — round 13
    (optimization) — a BUCKETED exact prefix sum instead of one
    cumulative window partitioned only by group, which put a whole
    group's distinct-score distribution in one task (guide §2.5; for
    continuous scores that is ~the group's row count). The strictly-
    smaller count decomposes exactly: rows in earlier buckets (a
    bounded per-group window over ≤4097 bucket totals) + strictly
    smaller rows inside the row's own bucket (a window per (group,
    bucket) — every partition bounded by its bucket's content). The
    group total becomes a plain aggregate. Same monotone
    ``width_bucket`` bucketing as :func:`keep_top_fraction`
    (``_with_score_bucket``), same degenerate fallbacks; results are
    bit-equal to the single-window form (regression-pinned). The
    value is one IEEE division of exact integer counts,
    engine-identical; NULL scores get a NULL percentile."""
    groups = list(by) if by else []
    d = df if groups else df.withColumn("__g", F.lit(1))
    gcols = groups or ["__g"]
    compact = (
        d.filter(F.col(score_col).isNotNull())
        .groupBy(*gcols, score_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
    )
    gstats = compact.groupBy(*gcols).agg(
        F.min(score_col).alias("__lo"),
        F.max(score_col).alias("__hi"),
        F.sum("__cnt").cast("bigint").alias("__n"),
    )
    aug = _with_score_bucket(
        compact.join(gstats, gcols), score_col
    ).select(*gcols, score_col, "__cnt", "__b", "__n")
    btot = aug.groupBy(*gcols, "__b").agg(
        F.sum("__cnt").cast("bigint").alias("__bc")
    )
    wbk = (
        Window.partitionBy(*gcols)
        .orderBy(F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bcb = btot.withColumn(
        "__cb", F.sum("__bc").over(wbk) - F.col("__bc")
    ).select(*gcols, "__b", "__cb")
    win_in = (
        Window.partitionBy(*gcols, "__b")
        .orderBy(F.col(score_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranks = (
        aug.join(bcb, gcols + ["__b"])
        .withColumn(
            "__lt",
            F.col("__cb")
            + F.sum("__cnt").over(win_in)
            - F.col("__cnt"),
        )
        .select(*gcols, score_col, "__lt", "__n")
    )
    joined = d.join(ranks, gcols + [score_col], "left").withColumn(
        out,
        (F.col("__lt").cast("double") / F.col("__n").cast("double")),
    )
    return joined.drop("__lt", "__n", *([] if groups else ["__g"])).select(
        *df.columns, out
    )


def with_group_percentile_oracle_sql(
    table: str,
    score_col: str,
    by: Optional[Sequence[str]] = None,
    out: str = "pct_rank",
    select: str = "*",
) -> str:
    """DuckDB replay of :func:`with_group_percentile`."""
    groups = list(by) if by else []
    gref = ", ".join(groups) if groups else "1"
    on = " AND ".join(
        [f"t.{g} IS NOT DISTINCT FROM r.{g}" for g in groups]
        + [f"t.{score_col} = r.{score_col}"]
    )
    return f"""
SELECT {select},
       CAST(r.__lt AS DOUBLE) / CAST(r.__n AS DOUBLE) AS {out}
FROM {table} t
LEFT JOIN (
  SELECT {', '.join(groups) + ',' if groups else ''} {score_col},
         sum(__cnt) OVER (PARTITION BY {gref}
           ORDER BY {score_col} ASC ROWS UNBOUNDED PRECEDING)
           - __cnt AS __lt,
         sum(__cnt) OVER (PARTITION BY {gref}) AS __n
  FROM (SELECT {', '.join(groups) + ',' if groups else ''} {score_col},
               CAST(count(*) AS BIGINT) AS __cnt
        FROM {table} WHERE {score_col} IS NOT NULL
        GROUP BY {gref}, {score_col})
) r ON {on}
"""


def cluster_balanced_sample(
    df: DataFrame,
    centroids: DataFrame,
    per_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
    cell_col: str = "cell",
) -> DataFrame:
    """Diversity-preserving subset over an embedding table: assign
    every vector to its nearest-centroid cell (`similarity.ivf_assign`
    — the SemDeDup/k-means clustering pass), then keep a DETERMINISTIC
    pseudo-random ``per_cell`` rows from each cell.

    Uniform hash-rate sampling keeps the corpus' cluster imbalance
    (a boilerplate-heavy crawl stays boilerplate-heavy); the per-cell
    cap yields the cluster-BALANCED subset embedding-curation
    pipelines draw seed/eval sets from. The pick is a pure function of
    (seed, id) — the portable 60-bit hash as the ranking score, ties
    impossible below ~2^30 rows per cell and broken by id — so the
    subset is stable across runs, partitionings, and engines.

    Plan: one projection for the cell argmax, then `cap_per_group`'s
    window. Returns the kept rows with ``cell_col`` attached."""
    from .similarity import ivf_assign

    if int(per_cell) < 1:
        raise ValueError("per_cell must be >= 1")
    assigned = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col, out=cell_col
    )
    key = (
        f"concat('{int(seed)}', ':', "
        f"coalesce(CAST({id_col} AS STRING), '<NULL>'))"
    )
    scored = assigned.withColumn(
        "_h", F.expr(hash60_sql(key, "spark", "portable"))
    )
    return cap_per_group(
        scored, cell_col, int(per_cell), "_h", id_col=id_col
    ).drop("_h")


def cluster_balanced_sample_oracle_sql(
    per_cell: int,
    seed: int = 0,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: str = "vec_id % 50 = 0",
    cell_col: str = "cell",
) -> str:
    """DuckDB replay of :func:`cluster_balanced_sample` (projected to
    (cell, id)): the cell assignment of `similarity.ivf_cell_sql` over
    the normalized centroids + the portable-hash ranked per-cell
    cut."""
    from .similarity import ivf_cell_oracle_sql

    nrm = (
        f"sqrt(list_sum(list_transform({vec_col}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    key = (
        f"('{int(seed)}' || ':' || "
        f"coalesce(CAST(e2.{id_col} AS VARCHAR), '<NULL>'))"
    )
    h = hash60_sql(key, "duckdb", "portable")
    return f"""
WITH cent AS (
  SELECT {id_col} AS cid,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE) / {nrm}) AS ch
  FROM {table} WHERE {centroid_filter}
),
cellof AS (
  SELECT {id_col}, {ivf_cell_oracle_sql(vec_col, 'cent')} AS {cell_col}
  FROM {table}
),
ranked AS (
  SELECT e2.{cell_col}, e2.{id_col},
         row_number() OVER (
           PARTITION BY e2.{cell_col}
           ORDER BY ({h}) DESC, e2.{id_col}
         ) AS rk
  FROM cellof e2
)
SELECT {cell_col}, {id_col} FROM ranked WHERE rk <= {int(per_cell)}
"""
