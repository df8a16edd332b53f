"""Hashed linear text classifier scoring — the fastText-shaped quality
filter every big corpus pipeline runs (CCNet / RefinedWeb style:
score each document with a linear model over hashed word n-grams and
keep the high scorers).

What is implemented here is the SCORING mechanism at corpus scale —
the part that must be Spark-native and fast.  Training is out of
scope (no labeled data ships with this repo); the model is whatever
(bucket → weight) assignment the caller provides:

- procedural weights — :func:`default_weight_sql`, or a caller's
  ``weight_sql_fn`` as SQL over the bucket id (a deterministic
  stand-in used by the gate and tests, and usable for random-feature
  baselines). The score is ONE projection: tokenize → hash → weight →
  mean, NO shuffle, streaming-safe. Its spec is :func:`margin_sql`;
  with the default weight Spark runs the hashlib kernel of
  :func:`_margin_arrow_udf`, which tests check against ``F.expr`` of
  the Spark text and against the DuckDB text row for row. A custom
  ``weight_sql_fn`` has no Python kernel, so it runs the SQL fold.
- ``weight_table`` — a real trained model as a (bucket, weight)
  DataFrame. Scoring explodes tokens, hashes, broadcast-joins the
  weight table (a model with 2M buckets is ~30 MB — always
  broadcastable), and re-aggregates per document: exactly one shuffle
  keyed by doc id, partial aggregation map-side.

Features are unigrams + word bigrams (fastText's default wordNgrams=2
shape), hashed into ``buckets`` via the repo's portable 60-bit md5
hash (dedup.hash60_sql) so a DuckDB oracle replays scores EXACTLY:
same tokens, same hash, same ascending fold order — bit-equal doubles.

The exported score is the linear MARGIN (mean feature weight).  The
sigmoid is available via ``sigmoid_expr`` but deliberately kept out
of the oracle-gated surface: ``exp()`` may differ in the last ulp
between engines, while the margin is +,*,/ arithmetic that both
engines compute bit-identically.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import WS_RUN, hash60_sql, tokens_sql

__all__ = [
    "ngram_features_sql",
    "margin_sql",
    "with_classifier_margin",
    "score_with_weight_table",
    "sigmoid_expr",
    "default_weight_sql",
    "train_classifier",
    "train_classifier_oracle_sql",
    "train_multiclass",
    "train_multiclass_oracle_sql",
    "predict_multiclass",
]


def ngram_features_sql(text: str, dialect: str, toks_override: Optional[str] = None) -> str:
    """Unigram + bigram feature strings as one array expression.
    Bigrams join adjacent tokens with a space; docs under 2 tokens get
    unigrams only (empty-array guard differs per dialect: Spark's
    sequence(1, 0) is DESCENDING [1,0], DuckDB's range(1, 1) is
    empty)."""
    toks = toks_override or tokens_sql(text, dialect)
    if dialect == "spark":
        big = (
            f"CASE WHEN size({toks}) >= 2 THEN "
            f"transform(sequence(1, size({toks}) - 1), "
            f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) "
            f"ELSE array() END"
        )
        return f"concat({toks}, {big})"
    big = (
        f"list_transform(range(1, len({toks})), "
        f"i -> concat({toks}[i], ' ', {toks}[i + 1]))"
    )
    return f"list_concat({toks}, {big})"


def default_weight_sql(bucket: str, dialect: str) -> str:
    """Deterministic stand-in weight in [-1, 1]: ((b % 2001) - 1000)
    / 1000. Integer-derived, so the double is exact in both engines.
    A real deployment passes a trained weight table instead."""
    return f"((CAST(({bucket}) % 2001 AS DOUBLE) - 1000.0) / 1000.0)"


def margin_sql(
    text: str,
    dialect: str,
    buckets: int = 1 << 20,
    weight_sql_fn: Optional[Callable[[str, str], str]] = None,
    toks_override: Optional[str] = None,
) -> str:
    """Mean hashed-feature weight as ONE projection expression
    (NULL for docs with no tokens — nullif guard, ANSI-safe)."""
    wfn = weight_sql_fn or default_weight_sql
    feats = ngram_features_sql(text, dialect, toks_override)
    bucket = f"({hash60_sql('f', dialect)} % {buckets})"
    w = wfn(bucket, dialect)
    if dialect == "spark":
        total = (
            f"aggregate(transform({feats}, f -> {w}), 0.0D, "
            f"(acc, v) -> acc + v)"
        )
        n = f"size({feats})"
    else:
        total = f"list_sum(list_transform({feats}, f -> {w}))"
        n = f"len({feats})"
    return f"(CAST({total} AS DOUBLE) / nullif(CAST({n} AS DOUBLE), 0.0))"


def _margin_arrow_udf(buckets: int):
    """The Spark kernel of :func:`margin_sql` with the DEFAULT weight:
    tokens split on the ASCII whitespace run ``dedup.WS_RUN``
    (Python's bare str.split would also eat unicode whitespace),
    features ordered unigrams-then-bigrams, md5 bucket per feature
    (C-speed hashlib vs the interpreted SQL HOF fold that measured 11 s
    at sf0.1), weights summed LEFT-TO-RIGHT in feature order so the
    double result equals the SQL fold exactly."""
    import hashlib
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ws = re.compile(WS_RUN)

    @pandas_udf("double")
    def margin(s):  # type: ignore[no-untyped-def]
        def one(x):
            if x is None:
                return None
            toks = [t for t in ws.split(x) if t]
            feats = toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            if not feats:
                return None
            acc = 0.0
            for f in feats:
                b = int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % buckets
                acc += ((b % 2001) - 1000) / 1000.0
            return acc / float(len(feats))

        return s.map(one)

    return margin


def with_classifier_margin(
    df: DataFrame,
    text_col: str = "text",
    out: str = "clf_margin",
    buckets: int = 1 << 20,
    weight_sql_fn: Optional[Callable[[str, str], str]] = None,
) -> DataFrame:
    """Adds the procedural-weights margin of :func:`margin_sql` — no
    shuffle. The default weight runs the hashlib kernel (the SQL HOF
    fold interprets md5 per feature, ~20× slower); a custom
    ``weight_sql_fn`` runs the SQL fold, since arbitrary SQL weights
    have no Python kernel."""
    if weight_sql_fn is None:
        return df.withColumn(out, _margin_arrow_udf(buckets)(F.col(text_col)))
    return df.select(
        "*",
        F.expr(margin_sql(text_col, "spark", buckets, weight_sql_fn)).alias(out),
    )


def score_with_weight_table(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "clf_margin",
    buckets: int = 1 << 20,
) -> DataFrame:
    """Trained-model scoring path: ``weights`` is (bucket bigint,
    weight double). Explode features → hash → BROADCAST-join the
    model → one groupBy(id) mean (map-side partial agg). Unseen
    buckets weigh 0 (left join + coalesce), matching a sparse linear
    model. Returns (id_col, out)."""
    feats = df.select(
        F.col(id_col),
        F.explode(
            F.expr(ngram_features_sql(text_col, "spark"))
        ).alias("f"),
    ).select(
        id_col,
        F.expr(f"({hash60_sql('f', 'spark')} % {buckets})").alias("bucket"),
    )
    joined = feats.join(
        F.broadcast(weights.select("bucket", "weight")), "bucket", "left"
    )
    return joined.groupBy(id_col).agg(
        F.avg(F.coalesce(F.col("weight"), F.lit(0.0))).alias(out)
    )


def sigmoid_expr(margin: Column) -> Column:
    """1/(1+e^-x); library-side convenience — kept OUT of the gated
    surface (exp() last-ulp drift across engines)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))


#: training fixed-point scales: weights in NANO (1e-9) units,
#: per-occurrence gradient quanta in PICO (1e-12) units
_W_SCALE = 10**9
_G_SCALE = 10**12


def train_classifier(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 20,
    iters: int = 3,
    lr: tuple = (1, 2),
    max_tokens: int = 1_000_000,
) -> DataFrame:
    """Train the hashed linear classifier the scoring paths above
    consume (VERDICT r09 next #7) — full-batch gradient descent on a
    HARD-SIGMOID logistic surrogate, run as one combinable in-engine
    aggregate pass per iteration with WEIGHTS-ONLY driver traffic.

    Model: margin(d) = mean over features of w[bucket(f)] — exactly
    what ``score_with_weight_table`` computes, so the trained table
    plugs straight into the existing broadcast scoring path. Labels
    (``label_col``: truthy → +1, else −1). Per-iteration gradient of
    the logistic loss uses the HARD sigmoid σ̂(x) = clamp(½ + x/4,
    0, 1) in place of 1/(1+e^−x): the same reason ``sigmoid_expr``
    is kept out of the gated surface — exp() drifts in the last ulp
    across engines and accumulation orders — makes exp unusable in a
    bit-replayable trainer; the hard sigmoid is RATIONAL, so the
    entire training loop is integer arithmetic.

    Integer spec (what makes runs bit-identical across partitionings
    AND replayable in DuckDB / pure python):
    - weights live in nano units (w_nano BIGINT, clamped to ±1e9);
    - margin numerator per doc = Σ_f w_nano[bucket(f)] — an exact
      integer sum, order-free;
    - per-occurrence gradient quantum q = −y · (2000·c + 4·nF²) DIV
      (8·nF²) in pico units, where c = clamp(2·nF·1e9 − y·m_num,
      0, 4·nF·1e9) — round-half-up of (σ̂(−y·margin)/nF)·1e12 with
      the two-integer form (non-negative, so trunc == floor in both
      engines);
    - per-bucket gradient = Σ q (DECIMAL(38,0) accumulate);
    - update w_nano −= sign(g)·(2·lr_num·|g| + 1000·lr_den) DIV
      (2000·lr_den) with the rational learning rate ``lr =
      (lr_num, lr_den)``.

    100 TB shapes: the feature table (id, y, nF, bucket) is computed
    ONCE (one scan) and persisted; each iteration is one broadcast
    join + groupBy(id) for margins and one join + groupBy(bucket)
    for the gradient — two shuffles per iteration, standard for
    multi-pass training. Driver traffic is |distinct buckets| rows
    per iteration (a 2M-bucket fastText-shaped model is ~30 MB).

    Returns (bucket BIGINT, w_nano BIGINT, weight DOUBLE) — weight =
    w_nano/1e9 is an exact conversion for
    ``score_with_weight_table``."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    _check_lr(lr)
    base = _feature_base(
        df.select(
            F.col(id_col).alias("__id"),
            F.when(F.col(label_col).cast("boolean"), 1)
            .otherwise(-1)
            .alias("__y"),
            F.col(text_col).alias("__text"),
        ),
        buckets,
    )
    feats = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _check_max_tokens(feats, max_tokens)
        w = _train_loop(spark, feats, iters, lr)
    finally:
        feats.unpersist()
    rows = [(b, wn, wn / float(_W_SCALE)) for b, wn in sorted(w.items())]
    return spark.createDataFrame(
        rows, "bucket bigint, w_nano bigint, weight double"
    )


def _check_lr(lr: tuple) -> None:
    if int(lr[0]) <= 0 or int(lr[1]) <= 0:
        raise ValueError("lr must be a positive rational (num, den)")


def _feature_base(labeled: DataFrame, buckets: int) -> DataFrame:
    """(__id, <carried label cols>, __nf, bucket) per feature
    occurrence — the one corpus-sized pass (tokenize + hash); every
    training iteration reads this, never the raw text. Carries every
    column of ``labeled`` except __text."""
    carried = [c for c in labeled.columns if c != "__text"]
    feats_arr = ngram_features_sql("__text", "spark")
    return (
        labeled.withColumn("__feats", F.expr(feats_arr))
        .withColumn("__nf", F.size("__feats"))
        .filter(F.col("__nf") > 0)
        .select(*carried, "__nf", F.explode("__feats").alias("__f"))
        .select(
            *carried,
            "__nf",
            F.expr(f"({hash60_sql('__f', 'spark')} % {buckets})").alias(
                "bucket"
            ),
        )
    )


def _check_max_tokens(feats: DataFrame, max_tokens: int) -> None:
    nf_max = feats.agg(F.max("__nf")).collect()[0][0]
    if nf_max is not None and int(nf_max) > int(max_tokens):
        raise ValueError(
            f"a document has {nf_max} features > max_tokens="
            f"{max_tokens} — the int64 gradient quantum headroom "
            "(2000·4e9·nF) needs nF <= 1e6"
        )


def _train_loop(spark, feats: DataFrame, iters: int, lr: tuple) -> dict:
    """The integer-exact GD loop over a prebuilt persisted feature
    table with (__id, __y, __nf, bucket) — two shuffles per iteration
    (margins by __id, gradient by bucket), weights-only driver
    traffic. Shared verbatim by the binary and one-vs-rest trainers
    so multiclass is bit-equal to k independent binary runs by
    construction."""
    lr_num, lr_den = int(lr[0]), int(lr[1])
    w: dict = {}
    for _ in range(int(iters)):
        if w:
            wdf = F.broadcast(
                spark.createDataFrame(
                    sorted(w.items()), "bucket bigint, __w bigint"
                )
            )
            joined = feats.join(wdf, "bucket", "left")
        else:
            joined = feats.withColumn("__w", F.lit(None).cast("bigint"))
        mnum = joined.groupBy("__id", "__y", "__nf").agg(
            F.expr(
                "CAST(sum(coalesce(__w, CAST(0 AS BIGINT))) AS BIGINT)"
            ).alias("__m")
        )
        qdoc = mnum.select(
            "__id",
            F.expr(
                f"CAST(-__y AS BIGINT) * ("
                f"(2000 * GREATEST(CAST(0 AS BIGINT), LEAST("
                f"4 * CAST(__nf AS BIGINT) * {_W_SCALE},"
                f" 2 * CAST(__nf AS BIGINT) * {_W_SCALE}"
                f" - __y * __m))"
                f" + 4 * CAST(__nf AS BIGINT) * CAST(__nf AS BIGINT))"
                f" DIV (8 * CAST(__nf AS BIGINT) * CAST(__nf AS BIGINT)))"
            ).alias("__q"),
        )
        grad = (
            feats.join(qdoc, "__id")
            .groupBy("bucket")
            .agg(
                F.expr(
                    "CAST(sum(CAST(__q AS DECIMAL(38,0))) AS BIGINT)"
                ).alias("__g")
            )
            .collect()
        )
        for r in grad:
            g = int(r["__g"])
            if g == 0:
                continue
            mag = (2 * lr_num * abs(g) + 1000 * lr_den) // (
                2000 * lr_den
            )
            nw = w.get(int(r["bucket"]), 0) - (mag if g > 0 else -mag)
            w[int(r["bucket"])] = max(-_W_SCALE, min(_W_SCALE, nw))
    return w


def train_multiclass(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 20,
    iters: int = 3,
    lr: tuple = (1, 2),
    max_tokens: int = 1_000_000,
    max_classes: int = 64,
    max_weight_rows: int = 20_000_000,
) -> DataFrame:
    """k-class one-vs-rest training (VERDICT r10 next #6 — the
    fastText lang-id/domain-triage shape `score_with_weight_table`
    mimics is multi-class, and `train_classifier` was binary-only).

    Semantics: for each class c (the sorted distinct STRING values of
    ``label_col``; NULL labels are rejected), train the binary
    hard-sigmoid logistic GD of :func:`train_classifier` with label
    ``label == c`` — classes are INDEPENDENT in one-vs-rest, so the
    result is BIT-EQUAL to k separate `train_classifier` calls
    (test-pinned), which keeps the whole surface integer-exact and
    SQL-replayable (`train_multiclass_oracle_sql` unrolls each
    class's descent; an integer softmax would couple the classes
    through a normalizing division with no exact two-integer form).

    What is SHARED is the expensive part: the corpus-sized feature
    pass (tokenize + hash) runs ONCE into one persisted table; each
    class's ``__y`` is a projection over that cache, so k-class
    training costs 1 corpus scan + k × iters × (2 shuffles on the
    cached features) instead of k corpus scans. Driver traffic is
    per-class weights only.

    DRIVER-MEMORY BOUND (VERDICT r11 next #7): the GD loop is
    driver-coordinated by design (per-iteration traffic = the touched
    buckets' gradients, never corpus rows), so the assembled weight
    table holds k × touched-buckets rows on the driver — bounded by
    ``max_classes × min(buckets, distinct corpus features)``. The
    cumulative ``max_weight_rows`` guard (default 2e7 rows ≈ a few GB)
    fails loudly instead of OOMing; past it, lower ``buckets``, train
    label subsets in separate calls, or move to a feature-hashed
    space small enough to broadcast (which prediction needs anyway —
    `predict_multiclass` broadcasts this table).

    Returns (class string, bucket bigint, w_nano bigint, weight
    double) — feed a single class's slice to
    `score_with_weight_table`, or the whole table to
    :func:`predict_multiclass`."""
    from pyspark import StorageLevel

    spark = df.sparkSession
    _check_lr(lr)
    labeled = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("string").alias("__lbl"),
        F.col(text_col).alias("__text"),
    )
    if labeled.filter(F.col("__lbl").isNull()).limit(1).count() > 0:
        raise ValueError(
            f"NULL labels in {label_col} — drop or impute them first "
            "(a NULL is silently 'rest' for every class otherwise)"
        )
    base = _feature_base(labeled, buckets).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        _check_max_tokens(base, max_tokens)
        classes = sorted(
            r["__lbl"]
            for r in base.select("__lbl").distinct().collect()
        )
        if len(classes) < 2:
            raise ValueError(
                f"need >= 2 classes, got {classes!r}"
            )
        if len(classes) > int(max_classes):
            raise ValueError(
                f"{len(classes)} classes > max_classes={max_classes} — "
                "one-vs-rest trains k models; raise max_classes "
                "deliberately for a genuinely large label space"
            )
        out_rows = []
        for c in classes:
            feats_c = base.select(
                "__id",
                F.when(F.col("__lbl") == c, 1).otherwise(-1).alias("__y"),
                "__nf",
                "bucket",
            )
            w = _train_loop(spark, feats_c, iters, lr)
            if len(out_rows) + len(w) > int(max_weight_rows):
                raise ValueError(
                    f"multiclass weight table would exceed "
                    f"max_weight_rows={max_weight_rows} at class "
                    f"{c!r} ({len(out_rows)} rows so far + {len(w)}) "
                    "— lower buckets, split the label space across "
                    "calls, or raise the guard deliberately"
                )
            out_rows.extend(
                (c, b, wn, wn / float(_W_SCALE))
                for b, wn in sorted(w.items())
            )
    finally:
        base.unpersist()
    return spark.createDataFrame(
        out_rows,
        "class string, bucket bigint, w_nano bigint, weight double",
    )


def predict_multiclass(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 20,
) -> DataFrame:
    """Score every document against every class of a
    `train_multiclass` table and pick the argmax margin — one feature
    explode, ONE broadcast join on bucket (the per-class weight rows
    fan out in the join, never a corpus × k cartesian), one
    groupBy(id, class), then the argmax as a row_number window over
    (margin DESC, class ASC) — min class name among exact ties, and
    the margin double is computed ONCE and carried through (ADVICE
    r11: an equality self-join on a recomputed float sum relied on
    Spark reusing the exchange; under AQE replanning a nondeterministic
    fold order could miss the join and silently drop a document's
    prediction). Missing (class, bucket) pairs weigh 0 via the
    per-class feature count, NOT the join (a left join would drop the
    class dimension for unseen buckets): margins divide the summed
    joined weights by the document's total feature count nF.

    Returns (id_col, class, margin) for the winning class. Documents
    with no tokens, or sharing NO hashed bucket with any class's
    weights, are ABSENT from the output (no evidence, no prediction)
    — filter the input or treat missing ids as unscored downstream."""
    feats = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.expr(ngram_features_sql(text_col, "spark"))
        ).alias("__f"),
    ).select(
        "__id",
        F.expr(f"({hash60_sql('__f', 'spark')} % {buckets})").alias(
            "bucket"
        ),
    )
    nf = feats.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nf")
    )
    per_class = (
        feats.join(
            F.broadcast(weights.select("class", "bucket", "weight")),
            "bucket",
        )
        .groupBy("__id", "class")
        .agg(F.sum("weight").alias("__tot"))
        .join(nf, "__id")
        .select(
            "__id",
            "class",
            (F.col("__tot") / F.col("__nf").cast("double")).alias(
                "margin"
            ),
        )
    )
    from pyspark.sql import Window

    win = Window.partitionBy("__id").orderBy(
        F.col("margin").desc(), F.col("class").asc()
    )
    return (
        per_class.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(F.col("__id").alias(id_col), "class", "margin")
    )


def train_classifier_oracle_sql(
    table: str,
    label_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 20,
    iters: int = 3,
    lr: tuple = (1, 2),
) -> str:
    """DuckDB replay of :func:`train_classifier` — the gradient
    descent UNROLLED as one CTE chain per iteration (the loop is a
    fixed count, so the whole training is one deterministic SQL
    statement): same features/hash/buckets, same integer margin sums
    (HUGEINT accumulate), same hard-sigmoid quantum and update
    divisions (all non-negative two-integer round-half-up forms, so
    // == Spark's DIV). ``label_sql`` is a boolean SQL expression
    over the table's columns. Emits the trained (bucket, w_nano)."""
    lr_num, lr_den = int(lr[0]), int(lr[1])
    feats_arr = ngram_features_sql(text_col, "duckdb")
    ctes = [
        f"""feats AS (
  SELECT __id, __y, __nf,
         ({hash60_sql('__f', 'duckdb')} % {buckets}) AS bucket
  FROM (
    SELECT {id_col} AS __id,
           CASE WHEN ({label_sql}) THEN 1 ELSE -1 END AS __y,
           len(fa) AS __nf, unnest(fa) AS __f
    FROM (SELECT *, {feats_arr} AS fa FROM {table})
    WHERE len(fa) > 0
  )
)""",
        "w0(bucket, w) AS (SELECT CAST(NULL AS BIGINT), "
        "CAST(NULL AS BIGINT) WHERE FALSE)",
    ]
    for i in range(int(iters)):
        ctes.append(
            f"""m{i} AS (
  SELECT f.__id, f.__y, f.__nf,
         CAST(sum(COALESCE(w.w, 0)) AS BIGINT) AS __m
  FROM feats f LEFT JOIN w{i} w USING (bucket)
  GROUP BY 1, 2, 3
)"""
        )
        ctes.append(
            f"""q{i} AS (
  SELECT __id, CAST(-__y AS BIGINT) * (
    (2000 * GREATEST(CAST(0 AS BIGINT), LEAST(
       4 * CAST(__nf AS BIGINT) * {_W_SCALE},
       2 * CAST(__nf AS BIGINT) * {_W_SCALE} - __y * __m))
     + 4 * CAST(__nf AS BIGINT) * CAST(__nf AS BIGINT))
    // (8 * CAST(__nf AS BIGINT) * CAST(__nf AS BIGINT))) AS __q
  FROM m{i}
)"""
        )
        ctes.append(
            f"""g{i} AS (
  SELECT f.bucket, CAST(sum(CAST(q.__q AS HUGEINT)) AS BIGINT) AS g
  FROM feats f JOIN q{i} q USING (__id)
  GROUP BY 1
)"""
        )
        ctes.append(
            f"""w{i + 1}(bucket, w) AS (
  SELECT bucket,
         GREATEST(-{_W_SCALE}, LEAST({_W_SCALE},
           COALESCE(pw.w, 0) - CASE WHEN g.g > 0 THEN 1 ELSE -1 END *
             ((2 * {lr_num} * abs(g.g) + 1000 * {lr_den})
              // (2000 * {lr_den}))))
  FROM g{i} g LEFT JOIN w{i} pw USING (bucket)
  WHERE g.g != 0
  UNION ALL
  SELECT pw.bucket, pw.w FROM w{i} pw
  WHERE pw.bucket NOT IN (SELECT bucket FROM g{i} WHERE g != 0)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT bucket, w AS w_nano FROM w{int(iters)}"
    )


def train_multiclass_oracle_sql(
    table: str,
    label_expr: str,
    classes,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 20,
    iters: int = 3,
    lr: tuple = (1, 2),
) -> str:
    """DuckDB replay of :func:`train_multiclass`: one-vs-rest classes
    are independent, so the replay is the UNION ALL of each class's
    unrolled binary descent (`train_classifier_oracle_sql`) with
    label ``CAST(label_expr AS VARCHAR) = '<class>'`` — exactly the
    label each class trains against. ``classes`` must list every
    distinct label value (the Spark side derives them from the data;
    SQL strings are built ahead of time, so the caller supplies
    them). Emits (class, bucket, w_nano)."""
    legs = []
    for c in classes:
        lbl = f"CAST({label_expr} AS VARCHAR) = '{c}'"
        inner = train_classifier_oracle_sql(
            table, lbl, id_col=id_col, text_col=text_col,
            buckets=buckets, iters=iters, lr=lr,
        )
        legs.append(
            f"SELECT '{c}' AS class, bucket, w_nano FROM ({inner})"
        )
    return "\nUNION ALL\n".join(legs)
