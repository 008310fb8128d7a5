"""SparkML regression pipeline (SURVEY §2 E2/E3).

Reference parity:
- ml-sparkml.py:33-74 — StringIndexer per categorical + VectorAssembler
  + StandardScaler, then RandomForestRegressor / GBTRegressor tuned
  with a CrossValidator grid, evaluated with RMSE/MAE/MSE/R2.
- ml-savepipeline.py / inference-prediction.py — fit the full Pipeline,
  save it; load the PipelineModel elsewhere and batch-score new rows.

Here the label is order-fulfillment duration (ml_duration_features, E1)
instead of DriveBC event duration; the pipeline shape is identical.

Scale notes (100 TB):
- Everything is a Pipeline over DataFrames: feature transforms are
  narrow (no shuffle); tree training shuffles once per iteration and
  is embarrassingly parallel over partitions.
- StringIndexer's distinct-scan is the only full pass before training —
  at 100 TB you'd fit indexers on a sample or use feature hashing; the
  `handleInvalid="keep"` setting makes a sampled fit safe to apply to
  unseen categories.
- Scoring (E3) is a pure map: load PipelineModel once per executor,
  stream batches through — no driver involvement beyond the plan.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import StandardScaler, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor, RandomForestRegressor
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.session import cached, local_frame

LABEL = "duration_days"
NUMERIC = ["num_items", "total_qty", "total_price"]
CATEGORICAL = ["o_orderstatus", "o_orderpriority"]


def build_pipeline(algo: str = "rf") -> Pipeline:
    """StringIndexer* → VectorAssembler → StandardScaler → RF|GBT."""
    indexers = [
        StringIndexer(
            inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep"
        )
        for c in CATEGORICAL
    ]
    assembler = VectorAssembler(
        inputCols=NUMERIC + [f"{c}_idx" for c in CATEGORICAL],
        outputCol="features_raw",
    )
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True
    )
    if algo == "rf":
        reg = RandomForestRegressor(
            labelCol=LABEL, featuresCol="features", numTrees=10, seed=42
        )
    elif algo == "gbt":
        reg = GBTRegressor(
            labelCol=LABEL, featuresCol="features", maxIter=10, seed=42
        )
    else:
        raise ValueError(f"unknown algo {algo!r}")
    return Pipeline(stages=[*indexers, assembler, scaler, reg])


def fit(train: DataFrame, algo: str = "rf") -> PipelineModel:
    return build_pipeline(algo).fit(train)


def fit_cv(train: DataFrame, algo: str = "rf", folds: int = 2) -> PipelineModel:
    """CrossValidator over a small depth grid (ml-sparkml.py's CV)."""
    pipe = build_pipeline(algo)
    reg = pipe.getStages()[-1]
    grid = (
        ParamGridBuilder()
        .addGrid(reg.maxDepth, [3, 5])
        .build()
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName="rmse"
        ),
        numFolds=folds,
        seed=42,
        parallelism=2,
    )
    return cv.fit(train).bestModel


def evaluate(model: PipelineModel, test: DataFrame) -> dict[str, float]:
    """RMSE / MAE / MSE / R2 — the reference's metric set."""
    pred = model.transform(test)
    out = {}
    for metric in ("rmse", "mae", "mse", "r2"):
        out[metric] = RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName=metric
        ).evaluate(pred)
    return out


def save(model: PipelineModel, path: str) -> None:
    model.write().overwrite().save(path)


def load(path: str) -> PipelineModel:
    return PipelineModel.load(path)


def score(model: PipelineModel, batch: DataFrame) -> DataFrame:
    """E3 batch inference: new rows → predictions (inference-prediction.py)."""
    return model.transform(batch).select(
        "o_orderkey", *CATEGORICAL, *NUMERIC, "prediction"
    )


# --------------------------------------------------------------------------
# E4 — MLP regressor stand-in (ml-tensorflow.py parity). The reference
# assembles features in Spark, collects to pandas, trains a keras MLP,
# and evaluates with sklearn (ml-tensorflow.py:22-60). TF/keras/sklearn
# aren't in this environment, so the network is a small numpy MLP with
# the identical pipeline shape: feature assembly stays a Spark plan,
# training runs driver-side on a COLLECTED SAMPLE (the reference
# collects everything — at 100 TB you sample; the flag makes that
# explicit), and scoring is distributed via an Arrow-batched pandas
# iterator with the weights broadcast once per executor.
# --------------------------------------------------------------------------


def train_mlp_numpy(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    hidden: int = 16,
    epochs: int = 200,
    lr: float = 0.01,
    seed: int = 7,
    max_train_rows: int = 100_000,
) -> dict:
    """Train a 1-hidden-layer MLP (tanh) with full-batch gradient
    descent on standardized features. Returns a plain-dict model
    (weights + feature scaling) — JSON-serializable, broadcastable.

    Driver-side by design, like the reference's TF flow; the
    ``max_train_rows`` guard forces callers to sample first at scale.
    """
    import numpy as np

    n = train.count()
    if n > max_train_rows:
        raise ValueError(
            f"driver-side MLP training capped at {max_train_rows:,} rows "
            f"(got {n:,}); sample the training frame first"
        )
    pdf = train.select(*feature_cols, label_col).toPandas()
    X = pdf[feature_cols].to_numpy(dtype=np.float64)
    y = pdf[label_col].to_numpy(dtype=np.float64)
    mu, sd = X.mean(axis=0), np.maximum(X.std(axis=0), 1e-9)
    Xs = (X - mu) / sd
    rng = np.random.default_rng(seed)
    w1 = rng.normal(0, 0.5, size=(X.shape[1], hidden))
    b1 = np.zeros(hidden)
    w2 = rng.normal(0, 0.5, size=hidden)
    b2 = 0.0
    for _ in range(epochs):
        h = np.tanh(Xs @ w1 + b1)
        pred = h @ w2 + b2
        err = pred - y
        gw2 = h.T @ err / len(y)
        gb2 = err.mean()
        dh = np.outer(err, w2) * (1 - h * h)
        gw1 = Xs.T @ dh / len(y)
        gb1 = dh.mean(axis=0)
        w1 -= lr * gw1
        b1 -= lr * gb1
        w2 -= lr * gw2
        b2 -= lr * gb2
    return {
        "feature_cols": list(feature_cols),
        "mu": mu.tolist(),
        "sd": sd.tolist(),
        "w1": w1.tolist(),
        "b1": b1.tolist(),
        "w2": w2.tolist(),
        "b2": float(b2),
    }


def score_mlp_numpy(df: DataFrame, model: dict) -> DataFrame:
    """Distributed batch scoring: weights ship once (closure/broadcast),
    each Arrow batch is one vectorized numpy forward pass — the same
    mapInPandas contract a real TF/ONNX scorer drops into."""
    import pandas as pd

    cols = model["feature_cols"]
    schema = ", ".join(f"{c} double" for c in cols) + ", prediction double"

    def _score(batches):
        import numpy as np

        mu = np.array(model["mu"])
        sd = np.array(model["sd"])
        w1 = np.array(model["w1"])
        b1 = np.array(model["b1"])
        w2 = np.array(model["w2"])
        b2 = model["b2"]
        for pdf in batches:
            X = pdf[cols].to_numpy(dtype="float64")
            h = np.tanh((X - mu) / sd @ w1 + b1)
            out = pd.DataFrame({c: pdf[c] for c in cols})
            out["prediction"] = h @ w2 + b2
            yield out

    return df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    ).mapInPandas(_score, schema)


# ---------------------------------------------------------------------------
# E6 — exact distributed AUC-ROC via the rank-sum (Mann-Whitney U)
# identity: AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻), with
# midranks for score ties. No threshold sweep, no curve
# materialization, no collect: one global rank (computed as the
# distributed two-phase prefix scan — never a single-partition window)
# plus a 1-row aggregate. This is how you evaluate a classifier on a
# 100 TB scored table: the ROC integral collapses to rank statistics.
# ---------------------------------------------------------------------------


def auc_rank_sum(df: DataFrame, label: str = "label", score: str = "score") -> float:
    """Exact ROC-AUC of `score` against binary `label` (0/1).

    Midrank tie handling matches the trapezoidal ROC integral exactly
    (sklearn.roc_auc_score semantics). The global midranks come from a
    per-score-value aggregate: rank_mid(s) = (# rows with score < s) +
    (1 + # rows tied at s) / 2 — a groupBy plus one cumulative sum over
    the |distinct scores| frame, which is bounded (quantized model
    outputs) or at worst forces the same shuffle any exact global rank
    needs; rows never sort globally.
    """
    from drive_bc_datapipeline_spark.operators.prefix import (
        exclusive_prefix_sum,
    )

    per_score = (
        df.select(F.col(score).alias("s"), F.col(label).cast("long").alias("y"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("y").alias("pos"),
        )
    )
    # exclusive prefix over the per-score frame = "# rows scored below"
    # — the L4 range-partitioned two-phase scan, no global window.
    ranked = exclusive_prefix_sum(per_score, "s", "m", out_col="below").withColumn(
        "rank_mid", F.col("below") + (F.lit(1.0) + F.col("m")) / 2.0
    )
    agg = ranked.agg(
        F.sum(F.col("pos") * F.col("rank_mid")).alias("rsum"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("m") - F.col("pos")).alias("nneg"),
    ).collect()[0]
    npos, nneg = agg["npos"], agg["nneg"]
    if not npos or not nneg:
        raise ValueError("AUC undefined: need both positive and negative rows")
    return (agg["rsum"] - npos * (npos + 1) / 2.0) / (npos * nneg)


def kcenter_coreset(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) coreset selection
    (SURVEY §2 E8): pick k rows that 2-approximate the optimal
    k-center cover of the embedding space — the diversity-first data
    selection step of a training-data curation pipeline (cover the
    space before sampling density inside it).

    Returns (round, center_id, radius): radius is the max-min squared
    L2 distance the pick closed (the coverage radius of the previous
    set; round 0 seeds at the minimum id with radius 0.0).

    Distributed shape, honest at 100 TB:
    - the corpus projection (id, vec) is pinned once; each of the k
      rounds is ONE map pass computing distance-to-new-center inline
      (the center rides the plan as a 64-literal array — no join, no
      broadcast table) + a partial-aggregable arg-max whose struct
      carries (dist, id, vec), so the round's single 1-row collect
      returns the farthest point's vector too — no second corpus pass;
    - driver state is the current center vector + k (round, id,
      radius) tuples, independent of |corpus|; the running
      min-distance state is persist()ed per round and the PREVIOUS
      round's blocks are unpersisted as soon as the new state
      materializes, so at most two |corpus|-row states are ever
      resident (r10 fix: the earlier per-round localCheckpoint
      accumulated up to k full-corpus copies with no eager release);
    - determinism: distances fold left-associated per dimension
      (bit-reproducible vs a sequential loop), and every arg-max
      breaks ties on the smaller id via min(struct(-d, id, vec))
      (id is the caller's key; the vec leg is never compared).

    k is a SMALL constant (selection rounds are inherently
    sequential); raise for k that would make round-count the
    bottleneck rather than silently looping.

    ``center_id`` in the result carries ``df``'s own ``id_col`` type
    (string/int/long ids all round-trip unchanged).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > 64:
        raise ValueError(
            f"k={k}: greedy k-center runs k sequential corpus passes; "
            "past ~64 rounds use kmeans_embeddings (G12) or IVF cells "
            "(G4) for cover selection instead"
        )
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("round", IntegerType(), False),
            StructField("center_id", id_type, True),
            StructField("radius", DoubleType(), True),
        ]
    )

    def d2_to(vec) -> "F.Column":
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                arr,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def argmax_far(state: DataFrame):
        """One pass: the farthest row's (distance, id, vector)."""
        row = state.agg(
            F.min(
                F.struct(
                    (-F.col("md")).alias("nd"),
                    F.col(id_col).alias("i"),
                    F.col(vec_col).alias("v"),
                )
            ).alias("s")
        ).collect()[0]["s"]
        return (None if row is None else (-row["nd"], row["i"], row["v"]))

    base = df.select(id_col, vec_col)
    # explicit cur/prev chain: a round's state is freed once the next one is built
    cur = None
    prev = None  # previous round's state, covered by the finally so a
    # throw between persist() and unpersist() can't leak blocks
    with cached(base):  # every round scans the projection
        try:
            # Seed at the minimum id; md=0 makes argmax_far return exactly
            # that row (with its vector) in the materializing pass.
            seed = argmax_far(base.withColumn("md", F.lit(0.0)))
            if seed is None:
                raise ValueError("kcenter_coreset needs a non-empty frame")
            _zero, first, cvec = seed
            centers = [(0, first, 0.0)]
            cur = base.withColumn("md", d2_to(cvec)).persist()
            for rnd in range(1, k):
                far = argmax_far(cur)
                radius, cid, cvec = far
                if radius == 0.0:
                    break  # fewer distinct points than k: cover is exact
                centers.append((rnd, cid, radius))
                nxt = cur.withColumn("md", F.least(F.col("md"), d2_to(cvec)))
                nxt = nxt.persist()
                # Swap BEFORE materializing: both states are now reachable
                # from the finally, whichever call below throws.
                prev, cur = cur, nxt
                cur.count()  # materialize before releasing the old state
                prev.unpersist()
                prev = None
            return local_frame(df.sparkSession, centers, out_schema)
        finally:
            if prev is not None:
                prev.unpersist()
            if cur is not None:
                cur.unpersist()
