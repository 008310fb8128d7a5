"""Hashed linear text-classifier training + inference (SURVEY §2
E7/E9).

The quality-classifier loop of a CCNet/fastText-style training-data
pipeline: train a small linear model over hashed bag-of-token features
on seed labels (``train_hashed_linear``), then score a 100 TB corpus
with it (``score_hashed_linear``). The reference has no classifier
surface (its ML scripts train tabular SparkML models,
ml-sparkml.py / inference-prediction.py); this is the LLM-data
extension of that step, kept as pure column algebra.

Why this shape scales:
- the MODEL is tiny (n_buckets weights) and rides a broadcast join —
  no per-executor model files, no Python in the hot path;
- tokens hash JVM-side with the same md5 convention as H15's
  `text_feature_hashing` (first 8 hex chars → BIGINT % buckets), so
  features are engine-portable and sequentially replayable in tests;
- the per-doc aggregate is ONE partial-aggregable groupBy on the doc
  id: the shuffle moves (doc, partial-sum) rows, never token rows.

fastText averages token vectors; the linear analogue scores
    p(doc) = sigmoid(bias + mean_over_tokens(w[bucket(tok)]))
with out-of-vocabulary buckets contributing weight 0 (left join +
coalesce), and an empty document scoring sigmoid(bias) exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.session import cached, local_frame, pin, scoped_conf


def hash_bucket(col, n_buckets: int):
    """md5-prefix bucket id, identical to H15's convention: the first
    8 hex chars parsed as BIGINT, mod n_buckets. Python twin:
    ``int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_buckets``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % n_buckets
    ).cast("int")


def doc_tokens(text_col: str):
    """array<string> of the non-empty space-separated tokens — THE one
    copy of the classifier family's token definition (the CHAR_SPLIT_RE
    convention): trainer and scorer MUST share it, or the trained
    feature space silently drifts from the scored one."""
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != "")


def word_grams(text_col: str, *, use_bigrams: bool = True):
    """array<string> of the word unigrams (+ space-joined bigrams) of
    ``text`` — THE one copy of the word-n-gram feature definition,
    shared by DSIR's importance fit and the classifier's fastText-
    style featurization (r16, the r15 verdict's Next #5: the gram
    builder lived only in dsir.py while the classifier stayed
    unigram-only — the CHAR_SPLIT_RE one-copy rule applies to grams
    too). Bigrams join with a single space, which cannot occur inside
    a ``doc_tokens`` token, so unigram/bigram strings never collide
    before hashing."""
    toks = doc_tokens(text_col)
    if not use_bigrams:
        return toks
    n = F.size(toks)
    bigrams = F.when(
        n < 2, F.array().cast("array<string>")
    ).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    return F.concat(toks, bigrams)


def _check_n_gram(n_gram: int) -> None:
    """THE one copy of the classifier-family feature-order check."""
    if n_gram not in (1, 2):
        raise ValueError(
            f"n_gram={n_gram}: the hashed feature space is word "
            "unigrams (1) or unigrams + bigrams (2, fastText-style)"
        )


def score_hashed_linear(
    spark: SparkSession,
    df: DataFrame,
    weights: dict[int, float],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    bias: float = 0.0,
    n_gram: int = 1,
) -> DataFrame:
    """Score every document with a hashed linear model.

    ``weights`` maps bucket id -> weight (missing buckets weigh 0).
    Returns (id_col, n_tokens, score) with score in (0, 1); documents
    whose text yields zero tokens keep sigmoid(bias).

    ``n_gram=2`` features word unigrams + bigrams (the shared
    ``word_grams`` builder — fastText's word-n-gram trick, r16), so
    token ORDER participates in the score; ``n_tokens`` then counts
    grams (2n−1 for an n-word doc). MUST match the ``n_gram`` the
    model was trained with — the trained feature space silently
    drifts otherwise (recorded in the curation manifest for exactly
    this reason).

    Determinism: the sum of per-token weights is grouped by doc — the
    float add order inside a group is engine-defined, so tests compare
    to 1e-9 (the repo-wide float tolerance) rather than bit-exactly;
    every other step (hashing, join, mean, sigmoid) is exact algebra.
    """
    _check_n_gram(n_gram)
    if not weights:
        raise ValueError("score_hashed_linear needs a non-empty model")
    wdf = local_frame(
        spark,
        [(int(b), float(w)) for b, w in sorted(weights.items())],
        "bucket int, weight double",
    )
    toks = word_grams(text_col, use_bigrams=n_gram == 2)
    exploded = df.select(id_col, F.explode(toks).alias("tok")).select(
        id_col, hash_bucket(F.col("tok"), n_buckets).alias("bucket")
    )
    per_doc = (
        exploded.join(F.broadcast(wdf), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("wsum"),
        )
    )
    # re-attach token-less docs (explode dropped them): mean term 0
    logit = F.lit(float(bias)) + F.coalesce(
        F.col("wsum") / F.col("n_tokens"), F.lit(0.0)
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("score"),
        )
    )


#: Weight vectors are driver/broadcast model state — D doubles per
#: round — so D is bounded like the unigram piece table
#: (the MAX_SEED_PIECES guard class).
MAX_LR_BUCKETS = 262_144

#: Full-batch gradient rounds are inherently sequential (one
#: distributed aggregate each); past this many the round count is the
#: bottleneck and the seed-label set belongs in a dedicated trainer.
MAX_LR_ROUNDS = 200


def _gradient_frame(
    feats: DataFrame, docs: DataFrame, wdf: DataFrame
) -> DataFrame:
    """One GD round as a single D-bounded-output plan: broadcast the
    weight relation onto the sparse features, aggregate per-doc
    logits, turn them into residuals sigmoid(logit) - y, and aggregate
    the per-bucket gradient Σ x·r (bucket -1 rows carry the bias
    gradient). Pure column algebra — the plan-property test pins
    BroadcastHashJoin-and-no-Python on exactly this frame."""
    logits = (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("__id")
        .agg(
            F.sum(
                F.col("x") * F.coalesce(F.col("weight"), F.lit(0.0))
            ).alias("__logit")
        )
    )
    resid = docs.join(logits, "__id").select(
        "__id",
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__logit")))
            - F.col("__y")
        ).alias("__r"),
    )
    return (
        feats.join(resid, "__id")
        .groupBy("bucket")
        .agg(F.sum(F.col("x") * F.col("__r")).alias("g"))
    )


def train_hashed_linear(
    spark: SparkSession,
    df: DataFrame,
    *,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    n_rounds: int = 30,
    lr: float = 0.5,
    l2: float = 0.0,
    n_gram: int = 1,
) -> tuple[dict[int, float], float]:
    """Train the logistic model ``score_hashed_linear`` scores:
    full-batch gradient descent on
        p(doc) = sigmoid(bias + mean_over_tokens(w[bucket(tok)]))
    against binary labels — the seed-label half of the CCNet/fastText
    curation loop (train on labeled seeds, score the corpus).

    Returns ``(weights, bias)`` consumable by ``score_hashed_linear``
    verbatim: weights maps bucket id -> weight, buckets never touched
    by training are absent (they'd be exactly 0.0). Pass the SAME
    ``n_gram`` to the scorer: 2 = word unigrams + bigrams through the
    shared ``word_grams`` builder (fastText's trick — token-order
    classes a bag of unigrams cannot separate become learnable;
    test-pinned), with the per-doc normalization counting grams.

    Spark-first shape (100 TB honest):
    - the corpus featurizes ONCE: tokens hash JVM-side (the H15 md5
      convention shared with the scorer), collapse to per-(doc,
      bucket) normalized counts x = cnt / n_tokens, and the sparse
      feature relation is cached, hash-partitioned on the doc id —
      every round reuses it, nothing re-scans text, and the cache is
      released before the function returns;
    - the bias is a sentinel feature: every doc gets one extra row
      (bucket -1, x 1.0) — unreachable by the hash, which is
      non-negative — so each round is ONE broadcast join of the
      D-bounded weight relation, ONE partial-aggregable groupBy(doc)
      for logits, ONE groupBy(bucket) for the full gradient (bias
      included), and ONE D-bounded collect (the BPE/unigram
      driver-state pattern — the MODEL visits the driver, never the
      data);
    - the update is plain Python on the driver:
      w -= lr * (grad/n + l2*w), bias unregularized.

    Gradient math: d/dw_b of the mean log-loss is
    mean_i((p_i - y_i) * x_ib) with x the normalized bucket histogram
    (x = 1 for the bias row) — mirrored term-for-term by the
    sequential numpy reference in tests/test_classifier.py.
    Token-less docs carry only their bias row, exactly like the
    scorer's sigmoid(bias) convention.

    CALLER CONTRACT (the bm25/H46 convention — stated, not silently
    assumed): ``df`` must carry EXACTLY ONE row per ``id_col`` value.
    A duplicated id fans out through the feats⋈docs joins and
    double-counts its document in every gradient.
    """
    if not 1 <= n_rounds <= MAX_LR_ROUNDS:
        raise ValueError(
            f"n_rounds={n_rounds}: each round is one sequential "
            f"distributed aggregate; use 1..{MAX_LR_ROUNDS}"
        )
    if not 1 <= n_buckets <= MAX_LR_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets}: the weight vector is driver/"
            f"broadcast model state, bounded at {MAX_LR_BUCKETS}"
        )
    if lr <= 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    if l2 < 0:
        raise ValueError(
            f"l2 must be >= 0, got {l2}: a negative decay AMPLIFIES "
            "weights geometrically instead of regularizing them"
        )
    _check_n_gram(n_gram)
    toks = word_grams(text_col, use_bigrams=n_gram == 2)
    # per-doc label + token count (token-less docs kept: bias-only).
    # r18: the training frames are hash-partitioned by __id and cached
    # for the call — every one of the n_rounds gradient plans keys its
    # logits groupBy and both residual joins on __id, so with the
    # layout kept each round pays ONE exchange (the final
    # groupBy(bucket)) instead of three (guide §2.4: operations keyed
    # the same way share one exchange).
    docs = (
        df.select(
            F.col(id_col).alias("__id"),
            F.col(label_col).cast("double").alias("__y"),
            F.size(toks).alias("__nt"),
        )
        .repartition(F.col("__id"))
    )
    with cached(docs):
        # one validation job: NULL ids would silently vanish from every
        # equi-join below while still counting in the gradient divisor
        # n; non-binary labels break the logistic math
        checks = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col("__y").isNull() | ~F.col("__y").isin(0.0, 1.0)
                ).cast("int")
            ).alias("bad_y"),
            F.sum(F.col("__id").isNull().cast("int")).alias("bad_id"),
        ).collect()[0]
        if checks["bad_y"]:
            raise ValueError(
                f"{checks['bad_y']} rows have labels outside {{0, 1}}: "
                "train_hashed_linear fits a binary logistic model"
            )
        if checks["bad_id"]:
            raise ValueError(
                f"{checks['bad_id']} rows have a NULL {id_col}: they "
                "would drop out of every feature join while still "
                "inflating the gradient divisor"
            )
        n = checks["n"]
        if not n:
            raise ValueError("train_hashed_linear needs a non-empty corpus")
        # sparse normalized features + the per-doc bias row (bucket -1,
        # x 1.0): ONE text scan, reused every round — cached on the
        # __id layout (see docs above) so the per-round plans need no
        # re-exchange of the corpus-sized relation.
        feats = (
            df.select(
                F.col(id_col).alias("__id"), F.explode(toks).alias("tok")
            )
            .select(
                "__id", hash_bucket(F.col("tok"), n_buckets).alias("bucket")
            )
            .groupBy("__id", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .join(docs.select("__id", "__nt"), "__id")
            .select(
                "__id",
                "bucket",
                (F.col("cnt") / F.col("__nt")).alias("x"),
            )
            .unionByName(
                docs.select(
                    "__id",
                    F.lit(-1).alias("bucket"),
                    F.lit(1.0).alias("x"),
                )
            )
            .repartition(F.col("__id"))
        )
        # The per-round plan reads two CACHED, pre-partitioned
        # relations and a broadcast model — AQE's stage-by-stage
        # re-optimization has nothing to improve there and its
        # per-query-stage scheduling adds ~25% to each of the n_rounds
        # sequential jobs (r18 A/B: 5 rounds 2.5s on / 2.0s off,
        # interleaved twice). Scope the toggle to the round loop.
        with cached(feats), scoped_conf(
            spark, {"spark.sql.adaptive.enabled": "false"}
        ):
            model: dict[int, float] = {-1: 0.0}  # -1 = bias
            for _round in range(n_rounds):
                wdf = local_frame(
                    spark,
                    [(b, w) for b, w in sorted(model.items())],
                    "bucket int, weight double",
                )
                grad_rows = _gradient_frame(feats, docs, wdf).collect()
                for row in grad_rows:
                    b = int(row["bucket"])
                    w = model.get(b, 0.0)
                    reg = 0.0 if b == -1 else l2 * w  # bias unregularized
                    model[b] = w - lr * (float(row["g"]) / n + reg)
    bias = model.pop(-1)
    return model, bias


#: The curve frame holds one row per score bin — model-state sized,
#: and the guard keeps the bounded rank window honest (the
#: token_id_table MAX_SEED_PIECES class).
MAX_PR_BINS = 65_536


def _binned_scores(
    df: DataFrame,
    label_col: str,
    score_col: str,
    n_bins: int,
    *,
    with_score: bool = False,
):
    """(__bin, __y[, __s]) projection — THE one copy of the
    E10/E11/E12 score-bin convention (the doc_tokens rule: the curve's
    threshold, the calibration table and the reliability report must
    bin identically or the score >= t equivalence silently breaks).
    ``floor(score * n_bins)`` with 1.0 joining the top bin;
    NULL/NaN/out-of-[0,1] scores and non-binary labels route to a
    NULL bin so the caller's validation COUNT rides the same corpus
    scan as its aggregate."""
    s = F.col(score_col)
    y = F.col(label_col).cast("double")
    valid = (
        s.isNotNull()
        & ~F.isnan(s)
        & (s >= 0.0)
        & (s <= 1.0)
        & y.isin(0.0, 1.0)  # NULL-safe: NULL.isin(...) is NULL, not true
    )
    cols = [
        F.when(
            valid, F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
        ).alias("__bin"),
        y.alias("__y"),
    ]
    if with_score:
        cols.append(s.cast("double").alias("__s"))
    return df.select(*cols)


def classifier_pr_curve(
    df: DataFrame,
    *,
    label_col: str = "label",
    score_col: str = "score",
    n_bins: int = 1000,
) -> DataFrame:
    """Quantized precision/recall curve for a scored, labeled
    relation — the threshold-selection step between training (E9) and
    corpus-wide filtering (E7): pick the highest-recall threshold that
    still meets a precision target, then filter the 100 TB corpus
    with a plain ``score >= t``.

    Scores quantize to ``bin = floor(score * n_bins)`` (score 1.0
    joins the top bin) and the curve is EXACT for the quantized rule
    "keep docs with bin >= threshold_bin", which COLLAPSES to the
    plain corpus predicate ``score >= threshold`` because floor(x) >=
    k <=> x >= k for integer k — the equivalence only holds on the
    contract that scores live in [0, 1] (the scorer's sigmoid range),
    so NULL/NaN/out-of-range scores and non-binary labels FAIL FAST
    instead of silently polluting bin 0 where the filter would never
    keep them. An unbinned curve would be corpus-scale — one row per
    distinct float score — where this is bounded at ``n_bins`` rows.
    Returns one row per OCCUPIED bin, descending: (threshold, n_kept,
    n_pos_kept, precision, recall, f1); every occupied bin keeps >= 1
    doc so precision is always defined, while recall and f1 are NULL
    (not NaN) on an input with zero positive labels.

    Cost: ONE corpus scan — validation rides the same
    partial-aggregable groupBy(bin) (invalid rows route to a NULL
    bin, counted then rejected from the checkpointed ≤ n_bins curve
    frame); the cumulative windows and the total-positives window run
    over that bounded frame (model state, guarded), never the corpus.
    """
    if not 1 <= n_bins <= MAX_PR_BINS:
        raise ValueError(
            f"n_bins={n_bins}: the curve frame is model state, "
            f"bounded at {MAX_PR_BINS}"
        )
    # invalid rows -> NULL bin: the validation COUNT shares the one
    # corpus scan with the curve aggregate instead of costing its own
    binned = _binned_scores(df, label_col, score_col, n_bins)
    per_bin = binned.groupBy("__bin").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").cast("long").alias("__np"),
    )
    per_bin = pin(per_bin, "pr curve bins")  # <= n_bins+1 rows; scanned 2x below
    bad = per_bin.filter(F.col("__bin").isNull()).collect()
    if bad:
        raise ValueError(
            f"{bad[0]['__n']} rows have a NULL/NaN/out-of-[0,1] "
            f"{score_col} or a label outside {{0, 1}}: the curve's "
            "score >= t equivalence and the logistic-label math both "
            "break on them — clean the scored relation first"
        )
    from pyspark.sql import Window

    # bounded frame: ≤ n_bins rows (guarded above) — the single
    # partition the unpartitioned windows plan is model state
    w = (
        Window.orderBy(F.desc("__bin"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.orderBy(F.desc("__bin")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        per_bin.withColumn("__kept", F.sum("__n").over(w))
        .withColumn("__pos_kept", F.sum("__np").over(w))
        .withColumn(
            "__total_pos", F.sum("__np").over(w_all).cast("long")
        )
    )
    precision = F.col("__pos_kept") / F.col("__kept")
    recall = F.when(
        F.col("__total_pos") > 0,
        F.col("__pos_kept") / F.col("__total_pos"),
    )
    f1 = F.when(
        (F.col("__pos_kept") > 0),
        2.0
        * precision
        * recall
        / (precision + recall),
    ).otherwise(
        F.when(recall.isNotNull(), F.lit(0.0))
    )
    return cum.select(
        (F.col("__bin").cast("double") / n_bins).alias("threshold"),
        F.col("__kept").cast("long").alias("n_kept"),
        F.col("__pos_kept").alias("n_pos_kept"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    ).orderBy(F.desc("threshold"))


def isotonic_calibration_table(
    df: DataFrame,
    *,
    label_col: str = "label",
    score_col: str = "score",
    n_bins: int = 1000,
) -> list[tuple[int, int, int, float]]:
    """Quantized isotonic calibration (pool-adjacent-violators) of a
    scored, labeled relation — the step between training (E9) and
    threshold selection (E10) when the downstream consumer needs the
    score to MEAN a probability (mixture quotas, expected-quality
    budgeting), not just to rank.

    Scores quantize to the E10 bin convention (``floor(score *
    n_bins)``, 1.0 joins the top bin); the per-bin (n, n_pos)
    aggregate is ONE partial-aggregable corpus scan with the same
    ride-along validation (NULL/NaN/out-of-[0,1] scores and
    non-binary labels fail fast), and PAV runs on the driver over the
    ≤ n_bins occupied rows — model state, the curve-frame class, so
    the inherently sequential pooling never touches corpus-scale
    data. Exactly sklearn's IsotonicRegression fit on the binned
    means with bin counts as weights.

    Returns ``[(bin, n, n_pos, calibrated)]`` ascending by bin with
    ``calibrated`` non-decreasing in [0, 1]; PAV conserves total
    positive mass (Σ n·calibrated == Σ n_pos — test-pinned).
    """
    if not 1 <= n_bins <= MAX_PR_BINS:
        raise ValueError(
            f"n_bins={n_bins}: the calibration frame is model state, "
            f"bounded at {MAX_PR_BINS}"
        )
    # _binned_scores: the ONE copy of the E10 bin convention — the
    # curve's threshold and this table must bin identically
    per_bin = (
        _binned_scores(df, label_col, score_col, n_bins)
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__y").cast("long").alias("__np"),
        )
        .collect()
    )
    bad = [r for r in per_bin if r["__bin"] is None]
    if bad:
        raise ValueError(
            f"{bad[0]['__n']} rows have a NULL/NaN/out-of-[0,1] "
            f"{score_col} or a label outside {{0, 1}}: calibration "
            "needs clean probabilities and binary labels"
        )
    if not per_bin:
        raise ValueError(
            "isotonic_calibration_table needs a non-empty relation"
        )
    # PAV over the ascending occupied bins: pool any adjacent blocks
    # whose means violate monotonicity, weighted by row count
    blocks: list[list[float]] = []  # [bin_last, n, n_pos]
    for r in sorted(per_bin, key=lambda r: r["__bin"]):
        blocks.append([float(r["__bin"]), float(r["__n"]), float(r["__np"])])
        while (
            len(blocks) > 1
            and blocks[-2][2] * blocks[-1][1]
            >= blocks[-1][2] * blocks[-2][1]  # mean[-2] >= mean[-1]
        ):
            last = blocks.pop()
            blocks[-1][0] = last[0]
            blocks[-1][1] += last[1]
            blocks[-1][2] += last[2]
    out: list[tuple[int, int, int, float]] = []
    rows = sorted(per_bin, key=lambda r: r["__bin"])
    it = iter(blocks)
    blk = next(it)
    for r in rows:
        if r["__bin"] > blk[0]:
            blk = next(it)
        out.append(
            (int(r["__bin"]), int(r["__n"]), int(r["__np"]), blk[2] / blk[1])
        )
    return out


def calibrated_threshold_to_raw(
    table: list[tuple[int, int, int, float]],
    t_cal: float,
    *,
    n_bins: int = 1000,
) -> float:
    """Map a threshold on CALIBRATED probabilities back to the raw-
    score predicate it collapses to: because the isotonic step
    function is monotone non-decreasing in the raw-score bin,
    ``calibrated >= t_cal`` ⟺ ``bin(raw) >= b*`` ⟺ ``raw >= b*/n_bins``
    where b* is the lowest bin whose (fill-down) calibrated value
    clears ``t_cal``. THE one copy of that mapping — the curation
    chain test and the streaming gate (J11, which filters on raw
    scores) both consume it. Raises if no bin clears ``t_cal`` (the
    calibrated gate would keep nothing)."""
    if not table:
        raise ValueError("empty calibration table")
    if not 1 <= n_bins <= MAX_PR_BINS:
        raise ValueError(
            f"n_bins={n_bins}: the calibration frame is model state, "
            f"bounded at {MAX_PR_BINS}"
        )
    bins = [b for b, _n, _np, _c in table]
    if len(set(bins)) != len(bins) or any(
        not 0 <= b < n_bins for b in bins
    ):
        # same contract as apply_isotonic_calibration: a duplicate,
        # negative, or n_bins-mismatched bin strands the fill-down
        # and would return a silently wrong raw threshold — the one
        # the streaming gate filters the corpus with
        raise ValueError(
            "calibration table bins must be unique and in "
            f"[0, {n_bins}): fit and invert with the same n_bins "
            "(got bins outside that contract: "
            f"{sorted(set(bins))[:5]}...)"
        )
    # fill-down exactly as apply_isotonic_calibration does
    it = iter(sorted(table))
    nxt = next(it)
    cur = nxt[3]
    for b in range(n_bins):
        if nxt is not None and b == nxt[0]:
            cur = nxt[3]
            nxt = next(it, None)
        if cur >= t_cal:
            return b / n_bins
    raise ValueError(
        f"no raw-score bin reaches calibrated probability {t_cal}: "
        "the calibrated gate keeps nothing"
    )


def apply_isotonic_calibration(
    df: DataFrame,
    table: list[tuple[int, int, int, float]],
    *,
    score_col: str = "score",
    n_bins: int = 1000,
    out_col: str = "calibrated",
) -> DataFrame:
    """Attach the calibrated probability for every row's score bin —
    a broadcast equi-join against the bin table expanded on the
    driver to ALL n_bins (step-function fill: unoccupied bins take
    the nearest lower occupied bin's value; below the lowest, its
    value — model state, ≤ MAX_PR_BINS rows, so the expansion is
    driver-trivial and the join needs no range/as-of logic). A score
    the fit could never have binned (NULL/NaN/out-of-[0,1]) raises AT
    EXECUTION, riding the bin projection — a separate validation
    count() would scan the corpus twice (the pr-curve ride-along
    convention applied to a function that cannot collect).
    """
    if not table:
        raise ValueError("empty calibration table")
    if not 1 <= n_bins <= MAX_PR_BINS:
        raise ValueError(
            f"n_bins={n_bins}: the calibration frame is model state, "
            f"bounded at {MAX_PR_BINS}"
        )
    clash = {"__bin", out_col} & set(df.columns)
    if clash:
        # withColumn would silently REPLACE an existing __bin and the
        # join would duplicate out_col ambiguously — fail loud (the
        # operator family's convention) instead of mis-binning rows
        raise ValueError(
            f"apply_isotonic_calibration: input already has column(s) "
            f"{sorted(clash)} — rename them or pass a different "
            "out_col"
        )
    bins = [b for b, _n, _np, _c in table]
    if len(set(bins)) != len(bins) or any(
        not 0 <= b < n_bins for b in bins
    ):
        # a negative or duplicate bin would strand the fill-down
        # iterator below and silently mis-calibrate every row
        raise ValueError(
            "calibration table bins must be unique and in "
            f"[0, {n_bins}): fit and apply with the same n_bins "
            "(got bins outside that contract: "
            f"{sorted(set(bins))[:5]}...)"
        )
    spark = df.sparkSession
    filled: list[tuple[int, float]] = []
    it = iter(sorted(table))
    b_next = next(it)
    cur = b_next[3]  # below the lowest occupied bin: its value
    for b in range(n_bins):
        if b_next is not None and b == b_next[0]:
            cur = b_next[3]
            b_next = next(it, None)
        filled.append((b, cur))
    cal = local_frame(spark, filled, "__bin int, {} double".format(out_col))
    s = F.col(score_col)
    valid = s.isNotNull() & ~F.isnan(s) & (s >= 0.0) & (s <= 1.0)
    binned = df.withColumn(
        "__bin",
        F.when(
            valid,
            F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)),
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"apply_isotonic_calibration: NULL/NaN/"
                    f"out-of-[0,1] {score_col} — the calibration "
                    "table has no bin for it"
                )
            )
        ),
    )
    return binned.join(F.broadcast(cal), "__bin").drop("__bin")


def calibration_report(
    df: DataFrame,
    *,
    label_col: str = "label",
    score_col: str = "score",
    n_bins: int = 20,
) -> DataFrame:
    """Quantized reliability table for a scored, labeled relation —
    the audit AFTER calibration (E12, closing the E9→E11 loop): does
    the score actually mean its probability, per score band?

    One partial-aggregable corpus scan through the shared
    ``_binned_scores`` convention (the ride-along validation: invalid
    rows route to a NULL bin, counted on the bounded frame, raised);
    the returned frame holds one row per OCCUPIED bin, ascending:
    (bin, threshold_lo, n, n_pos, mean_score, observed_rate, abs_gap)
    where abs_gap = |mean_score - observed_rate| is the per-bin
    reliability residual that ECE weights. Occupied bins keep n >= 1
    so the rates divide safely.
    """
    if not 1 <= n_bins <= MAX_PR_BINS:
        raise ValueError(
            f"n_bins={n_bins}: the reliability frame is model state, "
            f"bounded at {MAX_PR_BINS}"
        )
    per_bin = pin(
        _binned_scores(df, label_col, score_col, n_bins, with_score=True)
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
            F.sum("__s").alias("__ssum"),
        ),
        "calibration bins",  # <= n_bins+1 rows, scanned twice
    )
    bad = per_bin.filter(F.col("__bin").isNull()).collect()
    if bad:
        raise ValueError(
            f"{bad[0]['n']} rows have a NULL/NaN/out-of-[0,1] "
            f"{score_col} or a label outside {{0, 1}}: the "
            "reliability table needs clean probabilities and binary "
            "labels"
        )
    mean_score = F.col("__ssum") / F.col("n")
    observed = F.col("n_pos") / F.col("n")
    return (
        per_bin.select(
            F.col("__bin").alias("bin"),
            (F.col("__bin").cast("double") / n_bins).alias("threshold_lo"),
            "n",
            "n_pos",
            mean_score.alias("mean_score"),
            observed.alias("observed_rate"),
            F.abs(mean_score - observed).alias("abs_gap"),
        )
        .orderBy("bin")
    )


def expected_calibration_error(
    df: DataFrame,
    *,
    label_col: str = "label",
    score_col: str = "score",
    n_bins: int = 20,
) -> dict[str, float]:
    """Scalar calibration summary: ``{"n", "ece", "mce", "brier"}``.

    ECE = Σ_b (n_b / N) · |mean_score_b − observed_rate_b| (the
    standard quantized estimator); MCE is the max per-bin gap; Brier
    = mean((score − y)²), binning-free. ONE corpus scan — the Brier
    sum rides the same groupBy(bin) aggregate as the reliability
    counters (Σ (s−y)² decomposes exactly over any partition of the
    rows), and the summary folds driver-side over the ≤ n_bins
    collected rows (model state, the E10 curve-frame class).
    """
    if not 1 <= n_bins <= MAX_PR_BINS:
        raise ValueError(
            f"n_bins={n_bins}: the reliability frame is model state, "
            f"bounded at {MAX_PR_BINS}"
        )
    rows = (
        _binned_scores(df, label_col, score_col, n_bins, with_score=True)
        .groupBy("__bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("np"),
            F.sum("__s").alias("ssum"),
            F.sum(
                (F.col("__s") - F.col("__y")) * (F.col("__s") - F.col("__y"))
            ).alias("sqerr"),
        )
        .collect()
    )
    bad = [r for r in rows if r["__bin"] is None]
    if bad:
        raise ValueError(
            f"{bad[0]['n']} rows have a NULL/NaN/out-of-[0,1] "
            f"{score_col} or a label outside {{0, 1}}: the "
            "calibration summary needs clean probabilities and "
            "binary labels"
        )
    if not rows:
        raise ValueError(
            "expected_calibration_error needs a non-empty relation"
        )
    n_total = sum(r["n"] for r in rows)
    gaps = [
        (r["n"], abs(r["ssum"] / r["n"] - r["np"] / r["n"])) for r in rows
    ]
    return {
        "n": float(n_total),
        "ece": sum(n * g for n, g in gaps) / n_total,
        "mce": max(g for _n, g in gaps),
        "brier": sum(r["sqerr"] for r in rows) / n_total,
    }
