"""DSIR-style importance resampling: target-matched data selection
(SURVEY §2 H47).

The distribution-matching half of the curation loop: given a small
TARGET corpus (the domain you want more of) and the big RAW corpus,
estimate bag-of-hashed-ngram distributions p (target) and q (raw),
weigh every raw document by its log importance ratio
``log w(doc) = sum_over_grams(log p[bucket] - log q[bucket])``, and
draw k documents without replacement with probability proportional to
``softmax(log w)`` via the Gumbel top-k trick. Public method: Xie et
al., "Data Selection for Language Models via Importance Resampling"
(NeurIPS 2023). The reference repo has no selection surface (its ML
scripts are tabular SparkML, ml-sparkml.py); this extends the
classifier curation loop (E7/E9/E10) with distribution-matched
selection, the other standard corpus-curation recipe.

Why this shape scales:
- the MODEL (the per-bucket log-ratio vector) is n_buckets doubles —
  driver/broadcast state bounded by the same MAX_LR_BUCKETS cap the
  classifier's weight vector carries; the data never visits the
  driver;
- distribution fitting is ONE explode + partial-aggregable groupBy
  per corpus — the shuffle moves (bucket, partial-count) rows, at
  most n_buckets per map task, never gram rows;
- per-doc weights are ONE broadcast join + ONE partial-aggregable
  groupBy(doc) — the classifier scorer's exact shape;
- resampling is the A-Res/K20 shape: a pure-function sort key and a
  global top-k (TakeOrderedAndProject — per-partition partial top-k,
  k-row merge, no global sort, no driver loop).

Feature space: word unigrams + bigrams hashed by the H15 md5
convention — ``word_grams`` / ``hash_bucket`` are IMPORTED from the
classifier family, not re-typed (the CHAR_SPLIT_RE lesson: one copy,
so the selector's feature space can't drift from the classifier's).

Determinism: fitting and weighing are exact algebra given the float
add order caveat (per-group sums compare to 1e-9 in tests, the repo
convention); the Gumbel draw is a pure function of (id, seed) through
the K20 xxhash64 unit map, so a given (corpora, seed) selects the
same k documents on any cluster, any partitioning.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.operators.classifier import (
    MAX_LR_BUCKETS,
    hash_bucket,
    word_grams,
)
from drive_bc_datapipeline_spark.operators.sampling import _hash_unit
from drive_bc_datapipeline_spark.session import local_frame

#: Largest double below 1.0 — the Gumbel clamp bound (see
#: ``dsir_resample``): math.nextafter(1.0, 0.0).
U_BELOW_ONE = math.nextafter(1.0, 0.0)


def _check_n_buckets(n_buckets: int) -> None:
    """THE one copy of the model-state bucket bound check."""
    if not 1 <= n_buckets <= MAX_LR_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets}: the log-ratio vector is driver/"
            f"broadcast model state, bounded at {MAX_LR_BUCKETS}"
        )


def _grams(text_col: str, *, use_bigrams: bool = True) -> Column:
    """The DSIR gram definition — an alias for the classifier
    family's shared ``word_grams`` builder (r16: it moved to
    classifier.py as THE one copy once the classifier gained the
    same fastText-style features; fitting and weighing must share it
    or p/q silently stop describing the same feature space)."""
    return word_grams(text_col, use_bigrams=use_bigrams)


def dsir_bucket_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_buckets: int = 4096,
    use_bigrams: bool = True,
) -> DataFrame:
    """(bucket, cnt) hashed-ngram counts of a corpus — the sufficient
    statistic for one side of the importance ratio. At most
    ``n_buckets`` output rows; the groupBy partial-aggregates
    map-side, so the shuffle is bucket-bounded regardless of corpus
    size. NULL text yields zero grams (explode drops it) — a NULL doc
    simply contributes no mass, it cannot skew the fit."""
    _check_n_buckets(n_buckets)
    grams = _grams(text_col, use_bigrams=use_bigrams)
    return (
        df.select(F.explode(grams).alias("g"))
        .select(hash_bucket(F.col("g"), n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    *,
    n_buckets: int,
    smoothing: float = 1.0,
) -> tuple[dict[int, float], float]:
    """Fit the per-bucket log importance ratio from two
    ``dsir_bucket_counts`` relations.

    Laplace-smoothed categorical estimates on both sides:
    ``p_b = (cnt_b + s) / (N + s * B)``, so every bucket — including
    ones absent from both relations — has finite positive mass and a
    finite log ratio. Returns ``(table, default)``: ``table`` maps
    bucket -> log(p_b / q_b) for buckets observed in EITHER corpus;
    ``default`` is the zero-count-both-sides ratio, what any
    unobserved bucket would carry (``dsir_importance_weights``
    coalesces misses to it, keeping the broadcast table sparse
    instead of materializing all B rows).

    Model state: both inputs hold at most n_buckets rows by
    construction, so the collects are B-bounded (the classifier
    weight-vector class), never corpus-scale.
    """
    _check_n_buckets(n_buckets)
    if smoothing <= 0:
        raise ValueError(
            f"smoothing must be > 0, got {smoothing}: zero-count "
            "buckets need finite mass on both sides or the log ratio "
            "diverges"
        )
    t = {
        int(r["bucket"]): int(r["cnt"]) for r in target_counts.collect()
    }
    q = {int(r["bucket"]): int(r["cnt"]) for r in raw_counts.collect()}
    for name, counts in (("target", t), ("raw", q)):
        bad = [b for b in counts if not 0 <= b < n_buckets]
        if bad:
            raise ValueError(
                f"{name} counts carry bucket ids outside "
                f"[0, {n_buckets}): {sorted(bad)[:5]} — fit and "
                "weigh with the same n_buckets"
            )
    nt = sum(t.values()) + smoothing * n_buckets
    nq = sum(q.values()) + smoothing * n_buckets
    default = math.log(smoothing / nt) - math.log(smoothing / nq)
    table = {
        b: (
            math.log((t.get(b, 0) + smoothing) / nt)
            - math.log((q.get(b, 0) + smoothing) / nq)
        )
        for b in set(t) | set(q)
    }
    return table, default


def dsir_importance_weights(
    spark: SparkSession,
    df: DataFrame,
    log_ratio: dict[int, float],
    default_log_ratio: float,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    use_bigrams: bool = True,
) -> DataFrame:
    """(id_col, n_grams, log_w) — the per-document log importance
    weight under a fitted ratio table.

    ``log_w = sum_over_grams(log_ratio[bucket])`` with unobserved
    buckets contributing ``default_log_ratio``. Documents with zero
    grams (empty or NULL text) keep ``log_w = 0`` — the neutral
    weight, exp(0) relative mass — rather than vanishing; they stay
    eligible for selection at unit weight and the caller can filter
    on ``n_grams`` if that is not wanted (stated, test-pinned).

    A NULL ``id_col`` fails fast AT EXECUTION (the train_hashed_linear
    hazard, caught ride-along instead of with a separate validation
    pass): its gram rows would group under the NULL key and the
    re-attach equi-join would never match, silently demoting a
    possibly strongly-matched doc to the neutral weight — the output
    projection raises on the first NULL id it sees, costing nothing
    on clean data.

    One broadcast join + one partial-aggregable groupBy: the
    classifier scorer's plan shape, corpus scanned once.
    """
    _check_n_buckets(n_buckets)
    bad = [b for b in log_ratio if not 0 <= b < n_buckets]
    if bad:
        raise ValueError(
            f"log_ratio carries bucket ids outside [0, {n_buckets}): "
            f"{sorted(bad)[:5]} — fit and weigh with the same "
            "n_buckets (out-of-range entries could never join and "
            "every gram would silently take the default)"
        )
    rdf = local_frame(
        spark,
        [(int(b), float(v)) for b, v in sorted(log_ratio.items())]
        or [(0, float(default_log_ratio))],
        "bucket int, lr double",
    )
    grams = _grams(text_col, use_bigrams=use_bigrams)
    per_doc = (
        df.select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, hash_bucket(F.col("g"), n_buckets).alias("bucket"))
        .join(F.broadcast(rdf), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.coalesce(F.col("lr"), F.lit(float(default_log_ratio)))
            ).alias("log_w"),
        )
    )
    # re-attach gram-less docs (explode dropped them): neutral weight.
    # The NULL-id raise rides this projection — no extra corpus pass.
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.when(
                F.col(id_col).isNull(),
                F.raise_error(
                    F.lit(
                        f"dsir_importance_weights: NULL {id_col} — it "
                        "would silently take the neutral weight (its "
                        "grams group under NULL and the re-attach "
                        "join never matches)"
                    )
                ),
            )
            .otherwise(F.coalesce(F.col("n_grams"), F.lit(0)))
            .alias("n_grams"),
            F.coalesce(F.col("log_w"), F.lit(0.0)).alias("log_w"),
        )
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    logw_col: str = "log_w",
    seed: int = 0,
) -> DataFrame:
    """k rows drawn without replacement with probability proportional
    to ``softmax(log_w)`` — the Gumbel top-k trick: key every row by
    ``log_w + Gumbel(id, seed)`` and take the global top-k. On Spark
    that is one expression + TakeOrderedAndProject (per-partition
    partial top-k, k-row merge), the K20 A-Res shape — no global
    sort, no driver loop, 100 TB honest.

    The Gumbel draw ``g = -log(-log u)`` uses the K20 xxhash64 unit
    map, so selection is a pure function of (corpus ids, seed). Rows
    with a NULL or NaN ``logw_col`` are rejected AT EXECUTION, riding
    the key projection (a separate count() would execute the whole
    upstream weights plan twice): a NULL key would sort last and
    silently never select, while a NaN key sorts ABOVE every double
    in Spark's descending order and would silently occupy a top-k
    slot on every draw. Ties (measure-zero in doubles) break on id.

    The unit map's documented high-end rounding (hashes within ~2^11
    of +2^63 round to u == 1.0 exactly) is harmless for A-Res
    (log(1)/w == 0) but NULLs a Gumbel key (log of -log(1) == log 0,
    NULL in Spark SQL), silently un-selecting the row — so u clamps
    to the largest double below 1 first, giving those rows the
    largest finite draw instead (the correct limit direction: u -> 1
    means g -> +inf). The sequential twin in tests mirrors the clamp.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = F.least(_hash_unit(F.col(id_col), seed), F.lit(U_BELOW_ONE))
    w = F.col(logw_col).cast("double")
    key = F.when(
        w.isNull() | F.isnan(w),
        F.raise_error(
            F.lit(
                f"dsir_resample: NULL/NaN {logw_col} — NULL would "
                "sort last and never select, NaN would sort first "
                "and always select"
            )
        ),
    ).otherwise(w - F.log(-F.log(u)))
    return (
        weights.withColumn("__gumbel_key", key)
        .orderBy(F.desc("__gumbel_key"), F.col(id_col))
        .limit(k)
        .drop("__gumbel_key")
    )
