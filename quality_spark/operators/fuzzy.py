"""Edit-distance similarity join — find all string pairs within
levenshtein distance ``t`` without the all-pairs cross join. The
fuzzy-dedup primitive for titles, URLs, product names: exact dedup
misses 'record 17 rev 2' vs 'record 17 rev 3'; MinHash needs longer
texts to be stable.

Public algorithms: q-gram count filtering (Gravano et al., VLDB 2001,
"Approximate String Joins in a Database (Almost) for Free") and
prefix filtering under a global token order (Ed-Join — Xiao, Wang,
Lin, VLDB 2008; the Chaudhuri/Ganti/Kaushik SSJoin framework).

Shape (engineered for scale, complete by construction):

1. Pad each string with ``q−1`` sentinel chars both ends and take
   POSITIONAL-FREE occurrence-numbered q-grams: (gram, occ) where occ
   numbers repeats 1..c — multisets become sets, so prefix-filter
   set theory applies verbatim. A string of length L has
   ``n = L + q − 1`` grams; ``t`` edits disturb at most ``q·t`` of
   them, so two strings within distance ``t`` share
   ``≥ max(n_a, n_b) − q·t`` (gram, occ) elements.
2. Order all (gram, occ) by GLOBAL RARITY (corpus frequency asc,
   gram asc, occ asc) and keep each string's first ``q·t + 1``
   elements — its PREFIX. Overlap ``≥ max(n) − q·t`` forces the two
   prefixes to intersect (standard prefix-filter lemma), so the
   inverted-index self-join over prefix elements surfaces every
   qualifying pair while each string posts only ``q·t + 1`` entries —
   frequent grams never build full-corpus posting lists.
3. Strings too short for the lemma (``n ≤ q·t``) pair inside one
   SHORT bucket (plus partners within the ±t length filter — tiny by
   construction: only strings of length ``≤ q·(t−1)+1+t``); pairs are
   claimed by exactly one path (short path iff min-length side is
   short), so no distinct-dedup shuffle between paths.
4. VERIFY: the ±t length filter, then one exact ``levenshtein`` per
   surviving candidate (JVM-side).

Engine parity note: Spark's levenshtein is CHARACTER-based, DuckDB's
is byte-based — identical on ASCII (the oracle's domain; the gate
derives ASCII strings). The returned distance is Spark's
character-level spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: padding sentinel (q-1 copies each end) — outside the data alphabet
_PAD = "\x01"


def _grams_df(strings: DataFrame, q: int) -> DataFrame:
    """(id, n, gram, occ): occurrence-numbered padded q-grams."""
    from pyspark.sql import Window

    pad = _PAD * (q - 1)
    exploded = strings.select(
        "id",
        (F.length("s") + F.lit(q - 1)).cast("int").alias("n"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length(s) + {q - 1}), "
                f"i -> substring(concat('{pad}', s, '{pad}'), i, {q}))"
            )
        ).alias("gram"),
    )
    w = Window.partitionBy("id", "gram").orderBy(F.lit(1))
    return exploded.withColumn("occ", F.row_number().over(w).cast("int"))


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """(id_a, id_b, dist) — every pair with ``levenshtein ≤ max_dist``
    (NULL texts excluded), ``id_a < id_b``, dist the exact
    character-level distance. Complete: prefix filtering only PRUNES
    provably-far pairs; every candidate is verified exactly."""
    t, prefix_len = int(max_dist), int(q) * int(max_dist) + 1
    strings = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(text_col).alias("s"),
    ).filter(F.col("s").isNotNull())

    grams = _grams_df(strings, q)
    freq = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    from pyspark.sql import Window

    wrank = Window.partitionBy("id").orderBy(
        F.col("freq"), F.col("gram"), F.col("occ")
    )
    prefix = (
        grams.join(freq, "gram")
        .withColumn("_r", F.row_number().over(wrank))
        .filter(F.col("_r") <= prefix_len)
        .select("id", "n", "gram", "occ")
    )
    # n <= q*t strings can't use the lemma -> short path below
    short_n = q * t
    pa = prefix.filter(F.col("n") > short_n)
    cand_long = (
        pa.alias("a")
        .join(
            pa.select(
                F.col("id").alias("id_b"),
                F.col("n").alias("n_b"),
                "gram",
                "occ",
            ).alias("b"),
            ["gram", "occ"],
        )
        .filter(F.col("a.id") < F.col("id_b"))
        .select(
            F.col("a.id").alias("id_a"), F.col("id_b"),
        )
        .distinct()
    )
    # short path: every pair whose SMALLER side is short; partners are
    # length-filtered to <= short side + t, so the bucket only holds
    # strings with n <= q*t + t — tiny by construction
    short_side = strings.select(
        F.col("id"), F.col("s"), (F.length("s") + F.lit(q - 1)).alias("n")
    )
    shorts = short_side.filter(F.col("n") <= short_n)
    partners = short_side.filter(F.col("n") <= short_n + t)
    cand_short = (
        shorts.alias("a")
        .join(
            partners.select(
                F.col("id").alias("id_b"), F.col("n").alias("n_b")
            ).alias("b"),
            F.col("a.id") != F.col("id_b"),
        )
        # claim rule: short path owns pairs whose MIN side is short;
        # emit id_a < id_b once (if both short the a<b filter dedupes,
        # if one short the short one may be either side)
        .filter(
            (F.col("a.id") < F.col("id_b"))
            | (F.col("n_b") > F.lit(short_n))
        )
        .select(
            F.least(F.col("a.id"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("id_b")).alias("id_b"),
        )
        .distinct()
    )
    cand = cand_long.unionByName(cand_short)

    sa = strings.select(F.col("id").alias("id_a"), F.col("s").alias("_sa"))
    sb = strings.select(F.col("id").alias("id_b"), F.col("s").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.abs(F.length("_sa") - F.length("_sb")) <= t
        )
        .withColumn("dist", F.levenshtein("_sa", "_sb").cast("int"))
        .filter(F.col("dist") <= t)
        .select("id_a", "id_b", "dist")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """(id_a, id_b, jaccard) — every pair with exact k-shingle Jaccard
    ``>= threshold`` WITHOUT the all-pairs join, via prefix filtering
    under a global token-rarity order (the AllPairs/PPJoin family —
    Bayardo, Ma, Srikant, WWW 2007; Xiao et al., WWW 2008). This is
    the EXACT-threshold sibling of ``minhash_lsh_pairs`` (probabilistic
    recall) and of ``edit_distance_pairs`` (same prefix-filter
    machinery, edit-distance semantics); use it when missed near-dups
    are not acceptable and the threshold is known.

    Shape (complete by construction — filters only prune provably-far
    pairs; every candidate is verified exactly):

    1. Shingle sets via the shared ``with_shingles`` projection
       (distinct word k-grams; empty sets — empty/whitespace-only or
       NULL docs — never pair, matching ``ngram_jaccard_pairs``).
    2. Global rarity order: corpus frequency asc, shingle asc. Each
       set of size ``n`` posts only its first ``n − ceil(τ·n) + 1``
       shingles (its PREFIX): J(x,y) ≥ τ forces
       ``|x∩y| ≥ τ·|x∪y| ≥ τ·max(|x|,|y|)``, so by the prefix-filter
       lemma the two prefixes under one total order must intersect.
       Frequent shingles rarely make a prefix — the rare-first order
       is what keeps posting lists short at corpus scale.
    3. Candidates: inverted-index self-join over prefix shingles with
       the size filter ``min(n_a,n_b) ≥ ceil(τ·max(n_a,n_b))`` (an
       integer ≥ a real iff ≥ its ceil; the float ceil can only
       UNDER-estimate the real bound — an integer boundary is itself
       a double, so the nearest-double product never crosses it
       upward — hence never over-prunes).
    4. VERIFY: join the shingle arrays back and compute exact
       ``|∩|/|∪|``; the emitted jaccard is the exact value, identical
       in both engines (one correctly-rounded int/int divide).

    Plan: one corpus-sized shuffle for the frequency join + rank
    window, posting lists bounded by prefix length, candidate dedup
    shuffles candidate volume only; no cross join anywhere
    (plan-pinned). Skew guard: a shingle shared by f prefixes emits
    O(f²) candidates — at web scale pre-drop boilerplate shingles or
    raise ``k``; rarity ordering already makes such shingles the LAST
    to enter any prefix.

    Scan budget: the (id, sh, n) frame is localCheckpointed, so its
    four consumers (frequency count, prefix ranking, and the two
    verify sides) read ONE tokenize pass instead of re-deriving it —
    plan-pinned in tests."""
    from pyspark.sql import Window

    from quality_spark.llm.dedup import with_shingles

    tau = float(threshold)
    if not (0.0 < tau <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sets = (
        with_shingles(
            df.select(
                F.col(id_col).alias("id"), F.col(text_col).alias("__t")
            ).filter(F.col("__t").isNotNull()),
            "__t",
            k,
            out="sh",
        )
        .select("id", "sh", F.size("sh").cast("int").alias("n"))
        .filter(F.col("n") > 0)
    )
    sets = sets.localCheckpoint(eager=True)
    toks = sets.select("id", "n", F.explode("sh").alias("tok"))
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    wrank = Window.partitionBy("id").orderBy(F.col("freq"), F.col("tok"))
    prefix = (
        toks.join(freq, "tok")
        .withColumn("_r", F.row_number().over(wrank))
        .filter(
            F.col("_r")
            <= F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + F.lit(1)
        )
        .select("id", "n", "tok")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.select(
                F.col("id").alias("id_b"), F.col("n").alias("n_b"), "tok"
            ).alias("b"),
            "tok",
        )
        .filter(F.col("a.id") < F.col("id_b"))
        .filter(
            F.least(F.col("a.n"), F.col("n_b"))
            >= F.ceil(F.lit(tau) * F.greatest(F.col("a.n"), F.col("n_b")))
        )
        .select(F.col("a.id").alias("id_a"), F.col("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("_sha"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("_shb"))
    jac = (
        F.size(F.array_intersect("_sha", "_shb"))
        / F.size(F.array_union("_sha", "_shb"))
    ).alias("jaccard")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac)
        .filter(F.col("jaccard") >= tau)
    )


def jaccard_pairs_oracle_sql(
    table_expr: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> str:
    """Brute-force DuckDB replay: all-pairs exact k-shingle Jaccard
    with the same shingle definition (``shingles_sql`` duckdb dialect)
    — O(n²), for gate-sized subsets. Empty shingle sets divide 0/0 →
    NULL and fall out of the threshold filter, exactly like the Spark
    side's ``n > 0`` guard."""
    from quality_spark.llm.dedup import shingles_sql

    sh = shingles_sql(text_col, k, "duckdb")
    return f"""
WITH d AS (SELECT {id_col} AS id, {sh} AS sh FROM {table_expr}
           WHERE {text_col} IS NOT NULL)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
  FROM d a JOIN d b ON a.id < b.id)
WHERE jaccard >= {float(threshold)!r}
"""


def edit_distance_pairs_oracle_sql(
    table_expr: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
) -> str:
    """Brute-force DuckDB replay (a < b self-join + levenshtein) —
    valid on ASCII strings (byte == char there; see module note).
    ``table_expr`` may be a subquery, e.g. a gate's derived-string
    SELECT."""
    return f"""
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       CAST(levenshtein(a.{text_col}, b.{text_col}) AS INT) AS dist
FROM {table_expr} a JOIN {table_expr} b
  ON a.{id_col} < b.{id_col}
 AND abs(length(a.{text_col}) - length(b.{text_col})) <= {int(max_dist)}
WHERE a.{text_col} IS NOT NULL AND b.{text_col} IS NOT NULL
  AND levenshtein(a.{text_col}, b.{text_col}) <= {int(max_dist)}
"""
