"""Embedding plans (SURVEY §2 G, F5): similarity search + embedding
near-dup over the ``embeddings`` table (array<float> column, dim=64).

Float determinism across engines: every dot product / norm is emitted
as an *explicit left-associated chain* of double-precision terms
(``a[1]*b[1] + a[2]*b[2] + ...``) in both the Spark plan and the DuckDB
oracle, so IEEE evaluation order is identical and results are
bit-exact. (``F.aggregate``/``list_dot_product`` would be idiomatic
but leave summation order engine-defined.)

Scale notes (100 TB of embeddings):
- brute-force top-k broadcasts the (small) query set and makes ONE
  pass over the vectors; the window top-k shuffles only
  n_queries × n_vectors candidate rows. At real scale you'd add a
  per-partition partial top-k before the exchange (AQE keeps the
  final exchange small here).
- LSH path buckets vectors by random-hyperplane signature: the
  hyperplane matrix is a compile-time ±1 constant (seeded md5), the
  bucket join is equi-key, and only same-bucket pairs are scored —
  the classic sublinear ANN trade (recall vs. cost).
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.functions import vectors
from drive_bc_datapipeline_spark.session import pin
from drive_bc_datapipeline_spark.tables import spread
from drive_bc_datapipeline_spark.plans.registry import (
    query,
    r4,
    r4_sql,
    r6,
    r6_sql,
    t,
)

DIM = 64
N_QUERIES = 5  # query set = vec_id < 5
TOP_K = 10
NEAR_DUP_COS = 0.4  # synthetic embeddings max-cos ≈ 0.51; 0.4 → sparse pairs
N_PLANES = 4


def _dot_terms_spark(a: str, b: str) -> Column:
    """Dot product via aggregate(zip_with(...)): left-to-right fold with
    a 0.0 seed — bit-identical to the oracle's explicit left-assoc chain
    ((0.0 + t1) == t1 exactly), but a tiny codegen expression instead of
    a 64-term tree (which overflows the JVM method limit and drops the
    whole stage to interpreted eval)."""
    return vectors.dot(a, b)


def _dot_terms_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}[{d}] AS DOUBLE) * CAST({b}[{d}] AS DOUBLE)"
        for d in range(1, DIM + 1)
    )


def _norm_spark(a: str) -> Column:
    return vectors.l2_norm(a)


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_terms_sql(a, a)})"


# --------------------------------------------------------------------------
# G1 — brute-force cosine top-k for a small query set.
# --------------------------------------------------------------------------

ANN_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ({_dot_terms_sql("q.embedding", "v.embedding")}) / (q.nrm * v.nrm) AS cos
  FROM e q JOIN e v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
  ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cosine
FROM ranked WHERE rnk <= {TOP_K}
"""


@query("ann_cosine_topk", ANN_TOPK_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k: broadcast the query set, ONE scan of the
    corpus, map-side partial top-k, then the tiny exact window.

    The partial-top-k stage (`mapInPandas` over the scored rows) keeps
    only the K best candidates per query per Arrow batch BEFORE the
    exchange, so the shuffle moves O(n_partitions · k · n_queries) rows
    instead of O(|corpus| · n_queries) — the difference between a
    top-10 over 100 TB shuffling kilobytes vs terabytes. Identical
    results: a global top-k is a top-k of per-batch top-ks under the
    same (cos desc, neighbor_id) order.
    """
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").withColumn("nrm", _norm_spark("embedding"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    v = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (F.col("q_nrm") * F.col("v_nrm"))
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "cos", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(TOP_K)
                )

    pruned = scored.mapInPandas(
        partial_topk, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# G2 — random-hyperplane LSH ANN. The ±1 hyperplane matrix is derived
# from md5 at *build time* (seeded, engine-independent) and inlined as
# literals into both plans.
# --------------------------------------------------------------------------


def _plane(p: int) -> list[int]:
    return [
        1 if hashlib.md5(f"plane{p}_{d}".encode()).hexdigest()[0] in "02468ace" else -1
        for d in range(DIM)
    ]


PLANES = [_plane(p) for p in range(N_PLANES)]


def _bucket_spark(col: str) -> Column:
    bits = []
    for p, plane in enumerate(PLANES):
        plane_arr = F.array(*[F.lit(float(c)) for c in plane])
        dot = F.aggregate(
            F.zip_with(F.col(col), plane_arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, 1 << p).otherwise(0))
    return reduce(lambda x, y: x + y, bits).cast("int")


def _bucket_sql(col: str) -> str:
    parts = []
    for p, plane in enumerate(PLANES):
        dot = " + ".join(
            f"CAST({col}[{d + 1}] AS DOUBLE) * {float(plane[d])}" for d in range(DIM)
        )
        parts.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(parts) + " AS INTEGER)"


ANN_LSH_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_norm_sql("embedding")} AS nrm,
         {_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, q.bucket,
         ({_dot_terms_sql("q.embedding", "v.embedding")}) / (q.nrm * v.nrm) AS cos
  FROM e q JOIN e v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
  ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(bucket AS INTEGER) AS bucket,
       CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cosine
FROM ranked WHERE rnk <= {TOP_K}
"""


@query("ann_lsh_topk", ANN_LSH_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "embeddings")
        .withColumn("nrm", _norm_spark("embedding"))
        .withColumn("bucket", _bucket_spark("embedding"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("bucket"),
    )
    v = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
        F.col("bucket").alias("v_bucket"),
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (F.col("q_nrm") * F.col("v_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        v.join(
            F.broadcast(q),
            (F.col("v_bucket") == F.col("bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("rnk").cast("long").alias("rnk"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# G3 — vector norm / dimension sanity statistics.
# --------------------------------------------------------------------------

NORMS_ORACLE = f"""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       ROUND({_norm_sql("embedding")}, 6) AS l2_norm
FROM embeddings
"""


@query("embedding_norms", NORMS_ORACLE)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(_norm_spark("embedding"), 6).alias("l2_norm"),
    )


# --------------------------------------------------------------------------
# F5 — embedding-cosine near-dup pairs (all-pairs at test SF; at scale
# this runs behind the LSH bucketing above — same scoring expression).
# --------------------------------------------------------------------------

# All-pairs ceiling: 200k rows × 64 dims (the testdata embedding
# width) × 8 B ≈ 100 MB broadcast and 4·10¹⁰ candidate pairs — already
# the outer limit of sane for a verification pass; anything bigger
# must go through F9's LSH buckets.
EMB_ALLPAIRS_MAX_ROWS = 200_000

EMB_DEDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm FROM embeddings
)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       ROUND(({_dot_terms_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 4)
         AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ({_dot_terms_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm)
      >= {NEAR_DUP_COS}
"""


@query("dedup_embedding_cosine", EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine via numpy block matmul inside ``mapInPandas``.

    Perf: the previous formulation (pair join + HOF aggregate/zip_with
    scoring) evaluates an interpreted fold per candidate — O(n²) HOF
    calls measured ~10s at sf0.1. Here side B is a broadcast numpy
    matrix and each Arrow batch of A scores against it vectorized
    (~1s). Bit-exactness with the oracle's left-associated sum chain is
    preserved by accumulating dimension-by-dimension (``acc += a_d·b_d``
    in dim order): IEEE doubles add in the same order on both engines.

    At 100 TB this broadcast-the-corpus shape doesn't hold — the scale
    path is the LSH bucketing above (G2): same scoring, candidates
    limited to same-bucket pairs, no broadcast of the big side.
    """
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Hard guard on the driver collect: this query is the exact-verify
    # baseline and must never silently run its O(n²) all-pairs shape on
    # a production-sized corpus. The probe prunes to one narrow column
    # and stops at threshold+1 rows, so the check itself stays cheap.
    n = e.select("vec_id").limit(EMB_ALLPAIRS_MAX_ROWS + 1).count()
    if n > EMB_ALLPAIRS_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding_cosine is the all-pairs verification "
            f"baseline and refuses corpora over {EMB_ALLPAIRS_MAX_ROWS:,} "
            f"rows; use dedup_embedding_lsh — same scoring, "
            "hyperplane-bucketed candidates, no driver collect."
        )
    rows = e.collect()  # guarded above; see docstring for the scale path
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    B = np.array([r.embedding for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((ids, B))

    def score(batches):
        b_ids, Bm = bc.value
        n_b, dim = Bm.shape
        # norms with the same left-assoc chain as the oracle
        b_sq = np.zeros(n_b)
        for d in range(dim):
            b_sq = b_sq + Bm[:, d] * Bm[:, d]
        b_nrm = np.sqrt(b_sq)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            dots = np.zeros((len(A), n_b))
            a_sq = np.zeros(len(A))
            for d in range(dim):
                dots = dots + np.outer(A[:, d], Bm[:, d])
                a_sq = a_sq + A[:, d] * A[:, d]
            cos = dots / np.outer(np.sqrt(a_sq), b_nrm)
            ai, bi = np.nonzero(
                (a_ids[:, None] < b_ids[None, :]) & (cos >= NEAR_DUP_COS)
            )
            yield pd.DataFrame(
                {
                    "vec_id_a": a_ids[ai],
                    "vec_id_b": b_ids[bi],
                    "cos": cos[ai, bi],
                }
            )

    out = e.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        score, "vec_id_a long, vec_id_b long, cos double"
    )
    return out.select(
        "vec_id_a", "vec_id_b", F.round("cos", 4).alias("cosine")
    )


# --------------------------------------------------------------------------
# G4 — IVF (inverted-file) ANN: the scale path beyond LSH bucketing.
# Coarse quantizer = the first NLIST vectors (deterministic, so both
# engines build identical cells); every vector is assigned to its
# max-cosine centroid (the inverted lists); a query probes its NPROBE
# best cells and scores only those lists.
#
# 100 TB: assignment is one broadcast(centroids) pass over the corpus
# (written once as a partitioned column → partition pruning turns a
# probe into a scan of nprobe/nlist of the data); real deployments
# would Lloyd-iterate the centroids — assignment-join mechanics, and
# everything downstream, are identical.
# --------------------------------------------------------------------------

IVF_NLIST = 8
IVF_NPROBE = 2

_ASSIGN_RANK_SQL = f"""
  SELECT v.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ({_dot_terms_sql("v.embedding", "c.cemb")})
                    / (v.nrm * c.cnrm) DESC, c.cid
         ) AS crnk
  FROM e v CROSS JOIN cent c
"""

ANN_IVF_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
  FROM e WHERE vec_id < {IVF_NLIST}
),
assign AS (  -- inverted lists: every vector → its best cell
  SELECT vec_id, cid FROM ({_ASSIGN_RANK_SQL}) WHERE crnk = 1
),
probes AS (  -- each query → its NPROBE best cells
  SELECT vec_id, cid FROM ({_ASSIGN_RANK_SQL})
  WHERE crnk <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
),
scored AS (
  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
         ({_dot_terms_sql("q.embedding", "v.embedding")}) / (q.nrm * v.nrm) AS cos
  FROM probes p
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.vec_id
  JOIN e q ON q.vec_id = p.vec_id
  JOIN e v ON v.vec_id = a.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
  ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cosine
FROM ranked WHERE rnk <= {TOP_K}
"""


@query("ann_ivf_topk", ANN_IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").withColumn("nrm", _norm_spark("embedding"))
    cent = e.filter(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    # rank every (vector, centroid) pair by cosine — NLIST rows per
    # vector via a broadcast nested-loop; one pass over the corpus
    ccos = _dot_terms_spark("embedding", "cemb") / (F.col("nrm") * F.col("cnrm"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    # ONE |corpus| x NLIST ranking pass, filtered to the rows either
    # consumer needs and pinned (3 int-ish columns, ~|corpus| rows) —
    # assign and probes used to re-execute the crossJoin each
    cells = pin(
        e.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crnk", F.row_number().over(w_assign))
        .filter(
            (F.col("crnk") == 1)
            | ((F.col("crnk") <= IVF_NPROBE) & (F.col("vec_id") < N_QUERIES))
        )
        .select("vec_id", "cid", "crnk"),
        "ivf cells",
    )
    assign = cells.filter(F.col("crnk") == 1).select("vec_id", "cid")
    probes = cells.filter(
        (F.col("crnk") <= IVF_NPROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "cid")

    # queries only — broadcasting an UNFILTERED qv would ship the whole
    # corpus to every executor (the F5 anti-pattern); the predicate
    # also pushes to the parquet scan
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    vv = e.select(
        F.col("vec_id").alias("v_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (F.col("q_nrm") * F.col("v_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(F.broadcast(qv), F.col("query_id") == F.col("q_id"))
        .join(vv, F.col("neighbor_id") == F.col("v_id"))
        .withColumn("cos", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# F9 — LSH-bucketed embedding near-dup: the oracle-checked SCALE path
# for F5. Candidates limited to same-hyperplane-bucket pairs (an
# equi-join on the signature — no broadcast of the corpus, no
# all-pairs); same scoring expression as the brute-force twin. Recall
# trades against the bucket count exactly as in ann_lsh_topk.
# --------------------------------------------------------------------------

EMB_LSH_DEDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_norm_sql("embedding")} AS nrm,
         {_bucket_sql("embedding")} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       ROUND(({_dot_terms_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 4)
         AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ({_dot_terms_sql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm)
      >= {NEAR_DUP_COS}
"""


@query("dedup_embedding_lsh", EMB_LSH_DEDUP_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=vec_id) r17: the within-bucket pair verification (64-d
    # fold per candidate pair) ran on the probe side's single scan
    # partition (event-log profile: one task); no-op at 100 TB.
    e = (
        spread(t(spark, sf_dir, "embeddings"), by="vec_id")
        .withColumn("emb_d", F.transform("embedding", lambda x: x.cast("double")))
        .withColumn("nrm", _norm_spark("embedding"))
        .withColumn("bucket", _bucket_spark("embedding"))
    )
    a = e.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("emb_d").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        "bucket",
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("emb_d").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
        F.col("bucket").alias("b_bucket"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("a_emb"), F.col("b_emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("a_nrm") * F.col("b_nrm"))
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("b_bucket"))
            & (F.col("vec_id_a") < F.col("vec_id_b")),
        )
        .withColumn("cos", cos)
        .filter(F.col("cos") >= NEAR_DUP_COS)
        .select("vec_id_a", "vec_id_b", F.round("cos", 4).alias("cosine"))
    )


# --------------------------------------------------------------------------
# G5 — int8 scalar quantization: per-vector (min, step) affine codes,
# the standard 4x compression before ANN serving (f32 -> u8). Codes are
# floor((x - min)/step + 0.5) — floor of a half-offset avoids the
# round-half-to-even vs half-away split between numpy/JVM and SQL. All
# arithmetic is elementwise IEEE double (exact same ops both engines),
# and the emitted checksum (code_sum) is an integer, so it is
# order-insensitive and bit-exact.
#
# 100 TB: narrow per-row transform, no shuffle at all; at scale the
# codes column would be written back as the serving artifact and the
# floats dropped (this query emits per-vector stats instead of 64-col
# codes to keep the verification surface small).
# --------------------------------------------------------------------------

QUANT_LEVELS = 255

QUANT_ORACLE = f"""
WITH s AS (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS vmin,
         greatest(
           (CAST(list_max(embedding) AS DOUBLE)
            - CAST(list_min(embedding) AS DOUBLE)) / {QUANT_LEVELS}.0,
           1e-12
         ) AS vstep
  FROM embeddings
),
codes AS (
  SELECT vec_id, vmin, vstep,
         list_transform(
           embedding,
           x -> CAST(floor((CAST(x AS DOUBLE) - vmin) / vstep + 0.5) AS BIGINT)
         ) AS c
  FROM s
)
SELECT vec_id,
       CAST(len(c) AS INTEGER) AS dim,
       {r6_sql("vmin")} AS vmin,
       {r6_sql("vstep")} AS vstep,
       CAST(list_sum(c) AS BIGINT) AS code_sum,
       CAST(c[1] AS BIGINT) AS code0,
       CAST(list_max(c) AS BIGINT) AS code_max
FROM codes
"""


@query("embedding_quantize_int8", QUANT_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    vmin = F.array_min("embedding").cast("double")
    vmax = F.array_max("embedding").cast("double")
    s = e.select(
        "vec_id",
        "embedding",
        vmin.alias("vmin"),
        F.greatest(
            (vmax - vmin) / float(QUANT_LEVELS), F.lit(1e-12)
        ).alias("vstep"),
    )
    codes = F.transform(
        "embedding",
        lambda x: F.floor(
            (x.cast("double") - F.col("vmin")) / F.col("vstep") + F.lit(0.5)
        ).cast("long"),
    )
    c = s.select("vec_id", "vmin", "vstep", codes.alias("c"))
    code_sum = F.aggregate("c", F.lit(0).cast("long"), lambda acc, v: acc + v)
    return c.select(
        "vec_id",
        F.size("c").cast("int").alias("dim"),
        r6(F.col("vmin")).alias("vmin"),
        r6(F.col("vstep")).alias("vstep"),
        code_sum.alias("code_sum"),
        F.element_at("c", 1).alias("code0"),
        F.array_max("c").alias("code_max"),
    )


# --------------------------------------------------------------------------
# G6 — ANN quality metric: recall@k of the LSH path (G2) against the
# exact brute-force ranking (G1), per query. THE diagnostic every ANN
# deployment runs before trading recall for cost; here both rankings
# share the (cos DESC, neighbor_id) tiebreak so the comparison is
# deterministic.
#
# 100 TB: exact side is the one-pass broadcast-query scan (run on a
# sample at real scale); LSH side touches only same-bucket rows. The
# final compare joins two k-row-per-query sets — negligible.
# --------------------------------------------------------------------------

ANN_RECALL_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_norm_sql("embedding")} AS nrm,
         {_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({_dot_terms_sql("q.embedding", "v.embedding")})
                      / (q.nrm * v.nrm) DESC, v.vec_id
           ) AS rnk
    FROM e q JOIN e v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rnk <= {TOP_K}
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({_dot_terms_sql("q.embedding", "v.embedding")})
                      / (q.nrm * v.nrm) DESC, v.vec_id
           ) AS rnk
    FROM e q JOIN e v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rnk <= {TOP_K}
)
SELECT x.query_id,
       COUNT(l.neighbor_id) AS n_hits,
       {r4_sql(f"COUNT(l.neighbor_id) / {TOP_K}.0")} AS recall_at_k
FROM exact x
LEFT JOIN lsh l
  ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
GROUP BY x.query_id
"""


@query("ann_recall_at_k", ANN_RECALL_ORACLE)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Re-scan audit note: this plan scans embeddings 4x BY DESIGN —
    # the exact and LSH rankings each read (queries + corpus), and the
    # corpus-with-norms frame is fact-scale, so re-reading the pruned
    # parquet beats checkpointing it (the only pin-worthy frames here
    # are the k-row-per-query outputs, which the final join composes).
    e = (
        t(spark, sf_dir, "embeddings")
        .withColumn("nrm", _norm_spark("embedding"))
        .withColumn("bucket", _bucket_spark("embedding"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    v = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
        F.col("bucket").alias("v_bucket"),
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (F.col("q_nrm") * F.col("v_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))

    def topk(joined: DataFrame) -> DataFrame:
        return (
            joined.withColumn("cos", cos)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    exact = topk(
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    )
    lsh = topk(
        v.join(
            F.broadcast(q),
            (F.col("v_bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
    )
    return (
        exact.join(lsh.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            r4(F.count("hit") / float(TOP_K)).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# G7 — per-label centroids as a DISTRIBUTED relation: the class-center
# computation behind embedding-space diagnostics (cluster drift, label
# purity) and IVF codebook seeding. Output is (label, pos)-keyed — the
# centroid IS the relation, never a driver-side vector.
#
# Cross-engine exactness: float sums are summation-order-dependent, so
# both engines quantize each component to an integer grid first
# (floor(val * 1e4 + 0.5) — floor is exact on doubles, no rounding-mode
# dependence) and sum BIGINTs, which are order-independent. The
# centroid value is then derived per-row from the exact integer sum.
#
# 100 TB: posexplode fans dim× (narrow, no data movement), the agg
# shuffles on (label, pos) — uniform keys, map-side partial sums —
# and output is |labels|·dim rows. This is the scalable shape; a
# collect-and-average would put the whole corpus on the driver.
# --------------------------------------------------------------------------

CENTROIDS_ORACLE = f"""
WITH comp AS (
  SELECT label, s.pos AS pos,
         CAST(floor(CAST(s.val AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS q
  FROM (
    SELECT label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> struct_pack(pos := i - 1, val := embedding[i]))) AS s
    FROM embeddings
  )
)
SELECT label, CAST(pos AS INT) AS pos,
       COUNT(*)                AS n_vecs,
       CAST(SUM(q) AS BIGINT)  AS dim_sum_q,
       {r6_sql('CAST(SUM(q) AS DOUBLE) / (10000.0 * COUNT(*))')} AS centroid_val
FROM comp
GROUP BY label, pos
"""


@query("embedding_label_centroids", CENTROIDS_ORACLE)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("val").cast("double") * 10000 + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    return comp.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("q").alias("dim_sum_q"),
        r6(
            F.sum("q").cast("double") / (10000.0 * F.count(F.lit(1)))
        ).alias("centroid_val"),
    )


# --------------------------------------------------------------------------
# F12 — semantic dedup resolved to DOCUMENT decisions: the cross-modal
# step an LLM-data pipeline actually ships — embedding-LSH near-dup
# pairs (F9, the scale path) joined back to document metadata and
# collapsed into a keep/drop verdict per pair (keep the longer text,
# doc_id tiebreak). vec_id ↔ doc_id is the corpus contract.
#
# 100 TB: the pair relation is LSH-bucket-bounded (F9's shape); the
# two metadata joins key on doc_id against a narrow 3-column
# projection of documents — AQE broadcasts the pair side while it
# fits, degrades to shuffle joins beyond. No new corpus-sized pass.
#
# r10: as a CONSUMER of F9's verified pairs this plan goes through the
# session pair memo (documents._memo_pairs — the materialized-view
# rule the F3 graph consumers already follow: consumers reuse the
# shared intermediate once materialized; the dedup_embedding_lsh key
# itself never consults the memo, so its bench/gate timings still
# measure the full pipeline).
# --------------------------------------------------------------------------


def embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized verified embedding-LSH pair set (canonical-pick input)."""
    from drive_bc_datapipeline_spark.plans.documents import _memo_pairs
    from drive_bc_datapipeline_spark.plans.registry import QUERIES

    return _memo_pairs(
        spark,
        sf_dir,
        "embedding_lsh",
        lambda: QUERIES["dedup_embedding_lsh"](spark, sf_dir),
    )

SEMANTIC_CANON_ORACLE = f"""
WITH pairs AS ({EMB_LSH_DEDUP_ORACLE}),
j AS (
  SELECT p.vec_id_a, p.vec_id_b, p.cosine,
         da.n_chars AS ca, db.n_chars AS cb,
         da.source  AS sa, db.source  AS sb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.vec_id_a
  JOIN documents db ON db.doc_id = p.vec_id_b
)
SELECT
  CASE WHEN cb > ca OR (cb = ca AND vec_id_b < vec_id_a)
       THEN vec_id_a ELSE vec_id_b END AS drop_doc_id,
  CASE WHEN cb > ca OR (cb = ca AND vec_id_b < vec_id_a)
       THEN vec_id_b ELSE vec_id_a END AS keep_doc_id,
  CASE WHEN cb > ca OR (cb = ca AND vec_id_b < vec_id_a)
       THEN sb ELSE sa END AS keep_source,
  cosine
FROM j
"""


@query("semantic_dedup_canonical", SEMANTIC_CANON_ORACLE)
def semantic_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_lsh_pairs(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    da = d.alias("da")
    db = d.alias("db")
    j = (
        pairs.join(da, F.col("vec_id_a") == F.col("da.doc_id"))
        .join(db, F.col("vec_id_b") == F.col("db.doc_id"))
        .select(
            "vec_id_a",
            "vec_id_b",
            "cosine",
            F.col("da.n_chars").alias("ca"),
            F.col("db.n_chars").alias("cb"),
            F.col("da.source").alias("sa"),
            F.col("db.source").alias("sb"),
        )
    )
    b_wins = (F.col("cb") > F.col("ca")) | (
        (F.col("cb") == F.col("ca"))
        & (F.col("vec_id_b") < F.col("vec_id_a"))
    )
    return j.select(
        F.when(b_wins, F.col("vec_id_a"))
        .otherwise(F.col("vec_id_b"))
        .alias("drop_doc_id"),
        F.when(b_wins, F.col("vec_id_b"))
        .otherwise(F.col("vec_id_a"))
        .alias("keep_doc_id"),
        F.when(b_wins, F.col("sb")).otherwise(F.col("sa")).alias(
            "keep_source"
        ),
        "cosine",
    )


# --------------------------------------------------------------------------
# G8 — IVF recall audit: recall@k of the IVF path (G4) against the
# exact brute-force ranking — the same estimator-vs-truth gate G6 runs
# for LSH, so BOTH sublinear ANN paths carry a driver-checked quality
# readout. nprobe tunes this recall directly; the audit is what a
# deployment watches when it turns that knob.
#
# 100 TB: composes the two registered plans; the exact side is the
# one-pass broadcast-query scan (sampled at real scale), the IVF side
# scans nprobe/nlist of the corpus. The compare joins two
# k-rows-per-query sets — negligible.
# --------------------------------------------------------------------------

ANN_IVF_RECALL_ORACLE = f"""
WITH exact_r AS (
  SELECT query_id, neighbor_id FROM ({ANN_TOPK_ORACLE})
),
ivf_r AS (
  SELECT query_id, neighbor_id FROM ({ANN_IVF_ORACLE})
)
SELECT x.query_id,
       COUNT(i.neighbor_id) AS n_hits,
       {r4_sql(f"COUNT(i.neighbor_id) / {TOP_K}.0")} AS recall_at_k
FROM exact_r x
LEFT JOIN ivf_r i
  ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
GROUP BY x.query_id
"""


@query("ann_ivf_recall_at_k", ANN_IVF_RECALL_ORACLE)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.plans.registry import QUERIES

    exact = QUERIES["ann_cosine_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        QUERIES["ann_ivf_topk"](spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            r4(F.count("hit") / float(TOP_K)).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# G9 — distributed Gram (covariance-kernel) matrix over the leading 8
# embedding dimensions: G[i,j] = Σ_rows x_i·x_j. The scale-correct
# shape is MAP-SIDE pair expansion (each row emits its d·(d+1)/2 upper-
# triangle products) + one groupBy — NOT a posexplode self-join, which
# would shuffle the corpus twice and join it to itself. Partial aggs
# combine map-side, so the shuffle carries only |partitions|·36 rows.
# This is the building block for PCA / whitening over embedding
# corpora (driver-side eigendecomposition of the tiny d×d result).
#
# Cross-engine: float32 components are cast to DOUBLE before the
# multiply in both engines (exact), sums differ only by order (r6+EPS
# absorbs).
# --------------------------------------------------------------------------

GRAM_DIMS = 8

GRAM_ORACLE = f"""
SELECT CAST(t.i AS INT) AS i, CAST(u.j AS INT) AS j,
       {r6_sql(
           "SUM(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)"
           " * CAST(embedding[CAST(u.j AS INT) + 1] AS DOUBLE))"
       )} AS gram
FROM embeddings
CROSS JOIN range(0, {GRAM_DIMS}) AS t(i)
CROSS JOIN range(0, {GRAM_DIMS}) AS u(j)
WHERE u.j >= t.i
GROUP BY t.i, u.j
"""


@query("embedding_gram_matrix", GRAM_ORACLE)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    pairs = F.expr(
        f"""
        flatten(transform(sequence(0, {GRAM_DIMS - 1}), i ->
          transform(sequence(i, {GRAM_DIMS - 1}), j ->
            struct(i AS i, j AS j,
                   CAST(embedding[i] AS DOUBLE)
                   * CAST(embedding[j] AS DOUBLE) AS p))))
        """
    )
    return (
        e.select(F.explode(pairs).alias("x"))
        .groupBy(
            F.col("x.i").alias("i"), F.col("x.j").alias("j")
        )
        .agg(r6(F.sum("x.p")).alias("gram"))
    )


# --------------------------------------------------------------------------
# G10 — distributed PCA: top principal direction by power iteration,
# then per-label projection stats. The 100 TB-correct decomposition:
#   1. ONE distributed pass builds the d×d Gram matrix from map-side
#      pair products (the G9 shape, all 64 dims) — the only job that
#      touches the corpus;
#   2. the d² = 4096-entry G — bounded by DIMENSION, not data — is
#      collected and power-iterated on the driver (5 steps, L2
#      normalization, sign fixed at the max-|component| index);
#   3. the unit direction broadcasts back and a SECOND map-side pass
#      projects every embedding.
# Embeddings are integer-quantized (round(x·1000)) before the Gram
# products so G is EXACT in both engines; the oracle replays the same
# 5 double-precision iterations as an unrolled CTE chain, so both
# sides walk identical arithmetic from identical integers (sum-order
# noise ~1e-13 is absorbed by the r4 epsilon nudge).
# --------------------------------------------------------------------------

PCA_DIMS = 64
PCA_ITERS = 5


def _pca_oracle() -> str:
    # v0 = ones; v_k = normalize(G · v_{k-1}), unrolled PCA_ITERS times
    ctes = [
        f"""q AS (
  SELECT vec_id, label, CAST(t.i AS INT) AS pos,
         CAST(FLOOR(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1000 + 0.5) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(0, {PCA_DIMS}) AS t(i)
)""",
        """g AS (
  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS gv
  FROM q a JOIN q b USING (vec_id) GROUP BY a.pos, b.pos
)""",
        f"v0 AS (SELECT CAST(t.i AS INT) AS pos, 1.0 AS val "
        f"FROM range(0, {PCA_DIMS}) AS t(i))",
    ]
    for k in range(1, PCA_ITERS + 1):
        ctes.append(
            f"""w{k} AS (
  SELECT g.i AS pos, SUM(CAST(g.gv AS DOUBLE) * v.val) AS val
  FROM g JOIN v{k - 1} v ON v.pos = g.j GROUP BY g.i
)"""
        )
        ctes.append(
            f"v{k} AS (SELECT pos, val / (SELECT SQRT(SUM(val * val)) "
            f"FROM w{k}) AS val FROM w{k})"
        )
    last = f"v{PCA_ITERS}"
    return f"""
WITH {','.join(ctes)},
sgn AS (
  SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM {last} ORDER BY ABS(val) DESC, pos LIMIT 1
),
proj AS (
  SELECT q.vec_id, q.label,
         SUM(q.qv * v.val) * (SELECT s FROM sgn) / 1000.0 AS p
  FROM q JOIN {last} v ON v.pos = q.pos
  GROUP BY q.vec_id, q.label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {r4_sql('AVG(p)')} AS avg_proj,
       {r4_sql('MIN(p)')} AS min_proj,
       {r4_sql('MAX(p)')} AS max_proj
FROM proj GROUP BY label
"""


@query("embedding_pca_projection", _pca_oracle())
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r10): the single-row-group scan would run the d²-fan-out
    # pair-product explode on one core; no-op on multi-file data.
    # Round-robin, not by="vec_id": embedding rows are narrow
    # fixed-width arrays, so round-robin's pre-exchange local sort is
    # cheap here — unlike the wide-text keys where by= wins
    # (tables.spread docstring). A/B: SURVEY.md item 17 (r15).
    e = spread(t(spark, sf_dir, "embeddings"))
    quant = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> "
            "CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
        ).alias("qarr"),
    )
    # pass 1: exact integer Gram via map-side pair products (G9 shape).
    # Upper triangle only — half the explode fan-out; the symmetric
    # mirror is a driver-side fill of the tiny d×d matrix.
    pair_products = F.expr(
        f"""
        flatten(transform(sequence(0, {PCA_DIMS - 1}), i ->
          transform(sequence(i, {PCA_DIMS - 1}), j ->
            struct(i AS i, j AS j, qarr[i] * qarr[j] AS p))))
        """
    )
    gram_rows = (
        quant.select(F.explode(pair_products).alias("x"))
        .groupBy(F.col("x.i").alias("i"), F.col("x.j").alias("j"))
        .agg(F.sum("x.p").alias("gv"))
        .collect()  # bounded: d·(d+1)/2 rows, data-size independent
    )
    import numpy as np

    G = np.zeros((PCA_DIMS, PCA_DIMS))
    for r in gram_rows:
        G[r["i"], r["j"]] = float(r["gv"])
        G[r["j"], r["i"]] = float(r["gv"])
    v = np.ones(PCA_DIMS)
    for _ in range(PCA_ITERS):
        v = G @ v
        v = v / float(np.sqrt(np.dot(v, v)))
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    # pass 2: the unit direction rides INSIDE the projection expression
    # as an array literal — the dot product runs entirely map-side
    # (zip_with + left-associated aggregate, matching the oracle's
    # per-dimension accumulation), so the only shuffle left is the
    # |labels|-row final groupBy.
    v_lit = F.array(*[F.lit(float(x)) for x in v])
    proj = quant.select(
        "label",
        (
            F.aggregate(
                F.zip_with("qarr", v_lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / 1000.0
        ).alias("p"),
    )
    return proj.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        r4(F.avg("p")).alias("avg_proj"),
        r4(F.min("p")).alias("min_proj"),
        r4(F.max("p")).alias("max_proj"),
    )


# --------------------------------------------------------------------------
# G11 — pairwise label-centroid geometry: L2 distance + cosine between
# every pair of class centroids (cluster-separability / diversity
# readout over an embedding corpus). Composes G7's distributed
# (label, pos) centroid relation — integer-quantized exact sums, so
# both engines see identical centroids — then a pos-equi-join between
# label pairs over the tiny |labels|·d frame. The corpus is touched
# exactly once (the centroid aggregation); everything after is
# dimension-bounded.
# --------------------------------------------------------------------------

CENTROID_DIST_ORACLE = f"""
WITH comp AS (
  SELECT label, CAST(t.i AS INT) AS pos,
         CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                             * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
         COUNT(*) AS n
  FROM embeddings CROSS JOIN range(0, {PCA_DIMS}) AS t(i)
  GROUP BY label, t.i
), cent AS (
  SELECT label, pos, CAST(sq AS DOUBLE) / (10000.0 * n) AS cv FROM comp
)
SELECT a.label AS label_a, b.label AS label_b,
       {r6_sql("SQRT(SUM((a.cv - b.cv) * (a.cv - b.cv)))")} AS l2_dist,
       {r6_sql(
           "SUM(a.cv * b.cv) / (SQRT(SUM(a.cv * a.cv))"
           " * SQRT(SUM(b.cv * b.cv)))"
       )} AS cos_sim
FROM cent a JOIN cent b ON b.pos = a.pos AND a.label < b.label
GROUP BY a.label, b.label
"""


@query("centroid_pairwise_distances", CENTROID_DIST_ORACLE)
def centroid_pairwise_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("val").cast("double") * 10000 + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    cent = comp.groupBy("label", "pos").agg(
        (F.sum("q").cast("double") / (10000.0 * F.count(F.lit(1)))).alias(
            "cv"
        )
    )
    a, b = cent.alias("a"), cent.alias("b")
    j = a.join(
        b,
        (F.col("b.pos") == F.col("a.pos"))
        & (F.col("a.label") < F.col("b.label")),
    )
    da, db = F.col("a.cv"), F.col("b.cv")
    return j.groupBy(
        F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
    ).agg(
        r6(F.sqrt(F.sum((da - db) * (da - db)))).alias("l2_dist"),
        r6(
            F.sum(da * db)
            / (F.sqrt(F.sum(da * da)) * F.sqrt(F.sum(db * db)))
        ).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# G12 — distributed Lloyd k-means (2 unrolled iterations, k=8) on the
# integer-quantized grid: vectors and centroids live as (id, pos, q)
# relations with q = floor(val·1e4 + 0.5), distances are exact BIGINT
# sums of squared grid differences, and centroid updates are the
# integer-rounded division floor((2·Σq + n)/(2n)) — every arithmetic
# step is order-independent, so Spark and the unrolled-CTE oracle are
# bit-identical (same trick as G7/G10; float k-means would diverge
# between engines in the first summation).
#
# Deterministic init: cluster_j = mean of vectors with vec_id % k = j.
# Assignment ties break by cluster id via ROW_NUMBER.
#
# 100 TB: centroids are k·dim rows — broadcast; each iteration is one
# broadcast join + one (vec_id, cluster) agg + one (cluster, pos) agg,
# all map-side-combinable; vectors are never collected. More
# iterations = more unrolled rounds of the same shape (driver loop,
# bounded lineage via the same pattern as L7's PageRank).
# --------------------------------------------------------------------------

KM_K = 8
KM_GRID = 10000

KMEANS_ORACLE = f"""
WITH qrel AS MATERIALIZED (
  SELECT vec_id, CAST(s.pos AS INT) AS pos,
         CAST(floor(CAST(s.val AS DOUBLE) * {KM_GRID} + 0.5) AS BIGINT) AS q
  FROM (
    SELECT vec_id,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> struct_pack(pos := i - 1, val := embedding[i]))) AS s
    FROM embeddings
  )
),
c0 AS MATERIALIZED (
  SELECT CAST(vec_id % {KM_K} AS INT) AS cluster, pos,
         CAST(floor((2.0 * SUM(q) + COUNT(*)) / (2.0 * COUNT(*)))
              AS BIGINT) AS cq
  FROM qrel GROUP BY 1, 2
),
a1 AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
             AS rn
    FROM (
      SELECT q.vec_id, c.cluster,
             SUM((q.q - c.cq) * (q.q - c.cq)) AS dist
      FROM qrel q JOIN c0 c ON c.pos = q.pos
      GROUP BY 1, 2
    )
  ) WHERE rn = 1
),
c1 AS MATERIALIZED (
  SELECT a.cluster, q.pos,
         CAST(floor((2.0 * SUM(q.q) + COUNT(*)) / (2.0 * COUNT(*)))
              AS BIGINT) AS cq
  FROM qrel q JOIN a1 a ON a.vec_id = q.vec_id
  GROUP BY 1, 2
),
a2 AS MATERIALIZED (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster)
             AS rn
    FROM (
      SELECT q.vec_id, c.cluster,
             SUM((q.q - c.cq) * (q.q - c.cq)) AS dist
      FROM qrel q JOIN c1 c ON c.pos = q.pos
      GROUP BY 1, 2
    )
  ) WHERE rn = 1
),
norms AS (
  SELECT cluster,
         sqrt(CAST(SUM(cq * cq) AS DOUBLE)) / {KM_GRID}.0 AS nrm
  FROM c1 GROUP BY cluster
)
SELECT a.cluster AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       {r6_sql("MIN(n.nrm)")} AS centroid_norm,
       {r6_sql(
           f"CAST(SUM(a.dist) AS DOUBLE)"
           f" / ({KM_GRID}.0 * {KM_GRID}.0 * COUNT(*))"
       )} AS mean_sq_dist
FROM a2 a JOIN norms n ON n.cluster = a.cluster
GROUP BY a.cluster
"""


@query("kmeans_embeddings", KMEANS_ORACLE)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # the quantized grid relation feeds every Lloyd step (init, two
    # centroid updates, two assigns) — pin ONE materialization so the
    # corpus is exploded exactly once, not once per consuming subtree
    # (the G18 pattern; was 9 FileScans of embeddings in the final plan)
    qrel = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("val").cast("double") * KM_GRID + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    qrel = pin(qrel, "kmeans grid")

    def centroids(assign: DataFrame) -> DataFrame:
        return (
            qrel.join(assign, "vec_id")
            .groupBy("cluster", "pos")
            .agg(
                F.floor(
                    (2.0 * F.sum("q") + F.count(F.lit(1)))
                    / (2.0 * F.count(F.lit(1)))
                )
                .cast("bigint")
                .alias("cq")
            )
        )

    def assign(cent: DataFrame) -> DataFrame:
        diff = F.col("q") - F.col("cq")
        d = (
            qrel.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cluster")
            .agg(F.sum(diff * diff).alias("dist"))
        )
        # arg-min as MIN over a (dist, cluster) struct — same tiebreak
        # as a rank window, but map-side partial-aggregable (G18's move)
        best = F.min(F.struct("dist", "cluster")).alias("b")
        return d.groupBy("vec_id").agg(best).select(
            "vec_id", F.col("b.cluster").alias("cluster"),
            F.col("b.dist").alias("dist"),
        )

    init = qrel.select(
        "vec_id", (F.col("vec_id") % KM_K).cast("int").alias("cluster")
    ).distinct()
    c0 = centroids(init)
    a1 = assign(c0).select("vec_id", "cluster")
    # c1 feeds both the final assign and the norms readout — pin the
    # k*dim-row frame so the whole first Lloyd round runs once
    c1 = pin(centroids(a1), "kmeans centroids")
    a2 = assign(c1)
    norms = c1.groupBy("cluster").agg(
        (
            F.sqrt(F.sum(F.col("cq") * F.col("cq")).cast("double"))
            / float(KM_GRID)
        ).alias("nrm")
    )
    return (
        a2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("sum_dist"),
        )
        .join(F.broadcast(norms), "cluster")
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_members",
            r6(F.col("nrm")).alias("centroid_norm"),
            r6(
                F.col("sum_dist").cast("double")
                / (float(KM_GRID) * KM_GRID * F.col("n_members"))
            ).alias("mean_sq_dist"),
        )
    )


# --------------------------------------------------------------------------
# G13 — metadata-filtered ANN (the RAG deployment shape: "top-k among
# vectors WHERE <predicate>"). The engine PRE-filters: the label
# predicate prunes the corpus before any distance math, so cost
# scales with the filtered slice, not the corpus — versus post-
# filtering a top-k, which silently returns < k rows whenever fewer
# than k of the global top survive the predicate. Same partial-top-k
# shuffle bound as G1 (O(partitions · k · queries) rows exchanged).
# --------------------------------------------------------------------------

FILT_LABELS = (1, 4, 7)

ANN_FILTERED_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding, {_norm_sql("embedding")} AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, v.label AS label,
         ({_dot_terms_sql("q.embedding", "v.embedding")}) / (q.nrm * v.nrm) AS cos
  FROM e q JOIN e v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES} AND v.label IN {FILT_LABELS!r}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id
  ) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(label AS INT) AS label,
       CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 6) AS cosine
FROM ranked WHERE rnk <= {TOP_K}
"""


@query("ann_filtered_topk", ANN_FILTERED_ORACLE)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1's broadcast-queries + map-side partial-top-k plan with the
    metadata predicate applied AT THE SCAN (shows up as a parquet
    PushedFilter on ``label``) — the filter prunes before the join,
    the distance evaluation, and the shuffle."""
    import pandas as pd  # noqa: F401 — mapInPandas worker dependency

    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_spark("embedding")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    v = e.filter(F.col("label").isin(*FILT_LABELS)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (
        F.col("q_nrm") * F.col("v_nrm")
    )
    scored = v.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", "label", cos.alias("cos"))

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "cos", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(TOP_K)
                )

    pruned = scored.mapInPandas(
        partial_topk,
        "query_id long, neighbor_id long, label int, cos double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("label").cast("int").alias("label"),
            F.col("rnk").cast("long").alias("rnk"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# G14 — MMR (maximal marginal relevance) diversified top-k: the RAG
# reranking step that trades pure relevance for coverage. Greedy:
# pick argmax of lambda*rel(d) - (1-lambda)*max_{s in S} sim(d, s),
# K times, over a per-query candidate pool of the C most relevant
# vectors. Greedy selection is inherently sequential, but the
# sequence is per-query and pool-bounded (C rows), so it runs inside
# ONE `applyInPandas` group per query — queries parallelize across
# the cluster, and no iteration ever touches the corpus again. The
# oracle replays the K selection rounds as unrolled CTEs.
# --------------------------------------------------------------------------

MMR_Q = 3  # queries = vec_id < 3
MMR_C = 8  # candidate pool per query (top-C by relevance)
MMR_K = 4  # diversified selections per query
MMR_LAMBDA = 0.7


def _mmr_rounds_sql() -> str:
    parts = []
    for r in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM sel{i}" for i in range(1, r)
        )
        score = (
            f"{MMR_LAMBDA!r} * c.rel - {1 - MMR_LAMBDA!r} * p.mx"
        )
        parts.append(f"""
selected{r} AS ({prev}),
pen{r} AS (
  SELECT c.query_id, c.neighbor_id, MAX(m.sim) AS mx
  FROM cand c
  JOIN sim m ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
  JOIN selected{r} s ON s.query_id = m.query_id AND s.neighbor_id = m.id_b
  GROUP BY 1, 2
),
sel{r} AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT c.query_id, c.neighbor_id,
           {score} AS score,
           ROW_NUMBER() OVER (
             PARTITION BY c.query_id
             ORDER BY {score} DESC, c.neighbor_id
           ) AS rn
    FROM cand c
    JOIN pen{r} p ON p.query_id = c.query_id
                 AND p.neighbor_id = c.neighbor_id
    WHERE NOT EXISTS (SELECT 1 FROM selected{r} s
                      WHERE s.query_id = c.query_id
                        AND s.neighbor_id = c.neighbor_id)
  ) WHERE rn = 1
)""")
    return ",".join(parts)


MMR_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ({_dot_terms_sql("q.embedding", "v.embedding")}) / (q.nrm * v.nrm)
             AS rel
  FROM e q JOIN e v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {MMR_Q}
),
cand AS (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= {MMR_C}
),
sim AS (
  SELECT c1.query_id, c1.neighbor_id AS id_a, c2.neighbor_id AS id_b,
         ({_dot_terms_sql("e1.embedding", "e2.embedding")})
             / (e1.nrm * e2.nrm) AS sim
  FROM cand c1
  JOIN cand c2 ON c1.query_id = c2.query_id
              AND c1.neighbor_id <> c2.neighbor_id
  JOIN e e1 ON e1.vec_id = c1.neighbor_id
  JOIN e e2 ON e2.vec_id = c2.neighbor_id
),
sel1 AS (
  SELECT query_id, neighbor_id, {MMR_LAMBDA!r} * rel AS score FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
    FROM cand
  ) WHERE rn = 1
),
{_mmr_rounds_sql()}
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS mmr_rank,
       {r6_sql("score")} AS score
FROM (
  {" UNION ALL ".join(
      f"SELECT query_id, neighbor_id, {i} AS rnk, score FROM sel{i}"
      for i in range(1, MMR_K + 1)
  )}
)
"""


@query("mmr_diversified_topk", MMR_ORACLE)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relevance scoring + pool restriction are distributed (broadcast
    query set, G1-style partial top-k); the C²-bounded per-query edge
    list then feeds ONE `applyInPandas` group per query that replays
    the greedy rounds in plain floats — bit-identical to the oracle
    because rel/sim are computed JVM-side with the same left-assoc
    dot products, and lambda arithmetic is the same two IEEE ops."""
    import pandas as pd

    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_spark("embedding")
    )
    q = e.filter(F.col("vec_id") < MMR_Q).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    v = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
    )
    rel = _dot_terms_spark("q_emb", "v_emb") / (
        F.col("q_nrm") * F.col("v_nrm")
    )
    scored = v.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", rel.alias("rel"))

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "rel", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(MMR_C)
                )

    pruned = scored.mapInPandas(
        partial_topk, "query_id long, neighbor_id long, rel double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("neighbor_id")
    )
    # pin the C-per-query pool: it feeds BOTH sides of the pairwise-sim
    # join and the rel edge list — without the pin each consumer
    # re-executes the whole corpus relevance scan + partial top-k
    # (this plan used to show 9 embeddings FileScans)
    cand = pin(
        pruned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_C)
        .drop("rn"),
        "mmr pool",
    )
    # Re-attach embeddings to the C·|queries|-row pool, then build the
    # per-query pairwise-sim edge list JVM-side (C² rows per query).
    emb = e.select("vec_id", "embedding", "nrm")
    # c1 also feeds two subtrees (pair sims + the rel edge list); the
    # pin keeps the pool-to-embedding join single-execution
    c1 = cand.join(
        emb, cand.neighbor_id == emb.vec_id
    ).select(
        "query_id",
        F.col("neighbor_id").alias("id_a"),
        "rel",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    c1 = pin(c1, "mmr pool embeddings")
    c2 = cand.join(
        emb, cand.neighbor_id == emb.vec_id
    ).select(
        "query_id",
        F.col("neighbor_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    sim = _dot_terms_spark("emb_a", "emb_b") / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    pair_sims = (
        c1.join(c2, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("query_id", "id_a", "id_b", sim.alias("sim"))
    )
    # LEFT join so a query whose pool is a single candidate (no pairs)
    # still reaches the greedy group as one sim-less row instead of
    # vanishing — the oracle emits such queries truncated, not absent.
    edges = c1.select("query_id", "id_a", "rel").join(
        pair_sims, ["query_id", "id_a"], "left"
    )

    lam, mu = MMR_LAMBDA, 1 - MMR_LAMBDA

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qid = int(pdf["query_id"].iloc[0])
        rels = (
            pdf[["id_a", "rel"]]
            .drop_duplicates("id_a")
            .set_index("id_a")["rel"]
            .to_dict()
        )
        sims = {
            (int(a), int(b)): s
            for a, b, s in zip(pdf["id_a"], pdf["id_b"], pdf["sim"])
            if pd.notna(b)  # null id_b = the sim-less single-candidate row
        }
        selected: list[int] = []
        out = []
        for step in range(1, MMR_K + 1):
            best_id, best_score = None, None
            for cid in sorted(rels):  # ascending id = oracle tiebreak
                if cid in selected:
                    continue
                mx = (
                    max(sims[(cid, s)] for s in selected)
                    if selected
                    else 0.0
                )
                score = lam * rels[cid] - mu * mx
                if best_score is None or score > best_score:
                    best_id, best_score = cid, score
            if best_id is None:
                # candidate pool exhausted before MMR_K picks: emit the
                # truncated row set, matching the oracle's graceful
                # degradation (its ROW_NUMBER simply runs out of rows)
                # instead of appending None and KeyError-ing next step.
                break
            selected.append(best_id)
            out.append((qid, best_id, step, best_score))
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "mmr_rank", "score"]
        )

    picked = edges.groupBy("query_id").applyInPandas(
        greedy, "query_id long, neighbor_id long, mmr_rank int, score double"
    )
    return picked.select(
        "query_id",
        "neighbor_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        r6(F.col("score")).alias("score"),
    )


# --------------------------------------------------------------------------
# G15 — two-stage quantized-rerank ANN: stage 1 scores EVERY corpus
# vector against the query set using the int8 codes (G5's per-vector
# affine scheme) — at 100 TB this is the pass that matters, reading
# 4 bytes/dim less than floats and bounded by memory bandwidth — and
# keeps the top-M per query; stage 2 re-scores only those M with
# full-precision cosine and emits the top-k. The production pattern
# (FAISS SQ8 + rerank) expressed as two bounded DataFrame stages.
# Determinism: reconstruction vmin + c*vstep and both dot products
# are the same left-associated IEEE chains on both engines.
# --------------------------------------------------------------------------

RERANK_M = 30

_RECON_SQL = (
    f"list_transform(list_transform(v.embedding, x -> CAST(floor("
    f"(CAST(x AS DOUBLE) - v.vmin) / v.vstep + 0.5) AS BIGINT)), "
    f"c -> v.vmin + c * v.vstep)"
)

QUANT_RERANK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm,
         CAST(list_min(embedding) AS DOUBLE) AS vmin,
         greatest(
           (CAST(list_max(embedding) AS DOUBLE)
            - CAST(list_min(embedding) AS DOUBLE)) / {QUANT_LEVELS}.0,
           1e-12
         ) AS vstep
  FROM embeddings
),
recon AS (
  SELECT v.vec_id, v.embedding, v.nrm,
         {_RECON_SQL} AS r
  FROM e v
),
rn AS (
  SELECT vec_id, embedding, nrm, r, {_norm_sql("r")} AS rnrm FROM recon
),
approx AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         v.embedding AS v_emb, v.nrm AS v_nrm, q.embedding AS q_emb,
         q.nrm AS q_nrm,
         ({_dot_terms_sql("q.embedding", "v.r")}) / (q.nrm * v.rnrm)
             AS acos
  FROM e q JOIN rn v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
stage1 AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY acos DESC, neighbor_id) AS arnk
    FROM approx
  ) WHERE arnk <= {RERANK_M}
),
stage2 AS (
  SELECT query_id, neighbor_id, acos,
         ({_dot_terms_sql("q_emb", "v_emb")}) / (q_nrm * v_nrm) AS cos
  FROM stage1
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
       {r6_sql("cos")} AS cosine, {r6_sql("acos")} AS approx_cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM stage2
) WHERE rnk <= {TOP_K}
"""


@query("ann_quantized_rerank_topk", QUANT_RERANK_ORACLE)
def ann_quantized_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 never touches float embeddings except to derive the
    per-vector (vmin, vstep, codes) projection — map-side, then the
    G1 partial-top-k bound on the shuffle; stage 2's exact join is
    M·|queries| rows."""
    import pandas as pd  # noqa: F401

    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_spark("embedding")
    )
    vmin = F.array_min("embedding").cast("double")
    vstep = F.greatest(
        (
            F.array_max("embedding").cast("double")
            - F.array_min("embedding").cast("double")
        )
        / F.lit(float(QUANT_LEVELS)),
        F.lit(1e-12),
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
        vmin.alias("vmin"),
        vstep.alias("vstep"),
    ).withColumn(
        "r",
        F.expr(
            f"transform(transform(v_emb, x -> cast(floor("
            f"(cast(x as double) - vmin) / vstep + 0.5) as bigint)), "
            f"c -> vmin + c * vstep)"
        ),
    ).withColumn("rnrm", _norm_spark("r"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    acos = _dot_terms_spark("q_emb", "r") / (F.col("q_nrm") * F.col("rnrm"))
    approx = corpus.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        "v_emb",
        "v_nrm",
        "q_emb",
        "q_nrm",
        acos.alias("acos"),
    )

    def partial_topm(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "acos", "neighbor_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(RERANK_M)
                )

    pruned = approx.mapInPandas(
        partial_topm,
        "query_id long, neighbor_id long, v_emb array<float>, "
        "v_nrm double, q_emb array<float>, q_nrm double, acos double",
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("acos"), F.asc("neighbor_id")
    )
    stage1 = (
        pruned.withColumn("arnk", F.row_number().over(w1))
        .filter(F.col("arnk") <= RERANK_M)
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (
        F.col("q_nrm") * F.col("v_nrm")
    )
    stage2 = stage1.select(
        "query_id", "neighbor_id", "acos", cos.alias("cos")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        stage2.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            r6(F.col("cos")).alias("cosine"),
            r6(F.col("acos")).alias("approx_cosine"),
        )
    )


# --------------------------------------------------------------------------
# G16 — Matryoshka truncation audit: rank with only the FIRST
# TRUNC_DIM dimensions (the MRL deployment trick — a prefix of the
# vector is itself a usable embedding at a fraction of the scan
# bytes) and measure recall@k against the full-precision ranking.
# The 100 TB story: a 4x-truncated first pass reads 4x less and this
# query is the quality gate that says what that costs — the G6/G8
# audit applied to the dimension axis instead of the index axis.
# --------------------------------------------------------------------------

TRUNC_DIM = 16


def _dot_terms_sql_k(a: str, b: str, k: int) -> str:
    return " + ".join(
        f"CAST({a}[{d}] AS DOUBLE) * CAST({b}[{d}] AS DOUBLE)"
        for d in range(1, k + 1)
    )


def _norm_sql_k(a: str, k: int) -> str:
    return f"sqrt({_dot_terms_sql_k(a, a, k)})"


TRUNC_RECALL_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_norm_sql("embedding")} AS nrm,
         {_norm_sql_k("embedding", TRUNC_DIM)} AS tnrm
  FROM embeddings
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({_dot_terms_sql("q.embedding", "v.embedding")})
                      / (q.nrm * v.nrm) DESC, v.vec_id
           ) AS rnk
    FROM e q JOIN e v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rnk <= {TOP_K}
),
trunc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({_dot_terms_sql_k("q.embedding", "v.embedding",
                                         TRUNC_DIM)})
                      / (q.tnrm * v.tnrm) DESC, v.vec_id
           ) AS rnk
    FROM e q JOIN e v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rnk <= {TOP_K}
)
SELECT x.query_id,
       COUNT(l.neighbor_id) AS n_hits,
       {r4_sql(f"COUNT(l.neighbor_id) / {TOP_K}.0")} AS recall_at_k
FROM exact x
LEFT JOIN trunc l
  ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
GROUP BY x.query_id
"""


@query("ann_truncated_recall_at_k", TRUNC_RECALL_ORACLE)
def ann_truncated_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both rankings broadcast the query set and scan the corpus once
    each; the truncated side's dot/norm run over slice(embedding, 1,
    TRUNC_DIM) with the same left-assoc fold as the oracle's 16-term
    chain."""
    e = (
        t(spark, sf_dir, "embeddings")
        .withColumn("nrm", _norm_spark("embedding"))
        .withColumn(
            "temb", F.slice("embedding", 1, TRUNC_DIM)
        )
        .withColumn("tnrm", _norm_spark("temb"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("temb").alias("q_temb"),
        F.col("tnrm").alias("q_tnrm"),
    )
    v = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
        F.col("temb").alias("v_temb"),
        F.col("tnrm").alias("v_tnrm"),
    )
    joined = v.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    )

    def topk(score) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos"), F.asc("neighbor_id")
        )
        return (
            joined.withColumn("cos", score)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    exact = topk(
        _dot_terms_spark("q_emb", "v_emb")
        / (F.col("q_nrm") * F.col("v_nrm"))
    )
    trunc = topk(
        _dot_terms_spark("q_temb", "v_temb")
        / (F.col("q_tnrm") * F.col("v_tnrm"))
    )
    return (
        exact.join(
            trunc.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            r4(F.count("hit") / float(TOP_K)).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# G17 — embedding-space health histogram: cosine similarity of a
# deterministic pseudo-random pairing (vec i with vec (i+137) mod N),
# binned to 0.1 buckets. The collapse detector an embedding pipeline
# watches: a healthy space concentrates near 0, a collapsed encoder
# (or a bad normalization step) pushes mass toward 1. One self-join
# on the derived partner id — |N| rows through the join, nothing
# quadratic; the 137 stride is coprime to any realistic N so the
# pairing is a single cycle touching every vector.
# --------------------------------------------------------------------------

PAIR_STRIDE = 137

COS_HEALTH_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm
  FROM embeddings
),
n AS (SELECT COUNT(*) AS n FROM e),
pairs AS (
  SELECT a.vec_id,
         ({_dot_terms_sql("a.embedding", "b.embedding")})
             / (a.nrm * b.nrm) AS cos
  FROM e a CROSS JOIN n
  JOIN e b ON b.vec_id = (a.vec_id + {PAIR_STRIDE}) % n.n
  WHERE a.vec_id <> b.vec_id
)
SELECT CAST(floor((cos + 1.0) / 0.1) AS INT) AS cos_bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {r4_sql("MIN(cos)")} AS bin_min,
       {r4_sql("MAX(cos)")} AS bin_max
FROM pairs
GROUP BY 1
"""


@query("embedding_cosine_health", COS_HEALTH_ORACLE)
def embedding_cosine_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One broadcast scalar N + one equi-join on the derived partner
    id; at corpus scale the join shuffles |N| narrow rows once."""
    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_spark("embedding")
    )
    n = e.agg(F.count(F.lit(1)).alias("n"))
    a = e.crossJoin(F.broadcast(n)).select(
        "vec_id",
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
        ((F.col("vec_id") + PAIR_STRIDE) % F.col("n")).alias("partner"),
    )
    b = e.select(
        F.col("vec_id").alias("partner"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = _dot_terms_spark("a_emb", "b_emb") / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    pairs = (
        a.join(b, "partner")
        .filter(F.col("vec_id") != F.col("partner"))
        .select(cos.alias("cos"))
    )
    return pairs.groupBy(
        F.floor((F.col("cos") + 1.0) / 0.1).cast("int").alias("cos_bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        r4(F.min("cos")).alias("bin_min"),
        r4(F.max("cos")).alias("bin_max"),
    )


# --------------------------------------------------------------------------
# G18 — product-quantization ANN (ADC): the memory-bound scale path
# real vector stores use when even int8 per-dim (G15) is too large.
# The embedding splits into PQ_M=8 subspaces; each gets a PQ_K=16
# codeword codebook from one refined Lloyd round on the SAME integer
# grid as G12 (init = vec_id % k, exact BIGINT distances, integer-
# rounded centroid updates — bit-identical across engines). Every
# corpus vector compresses to 8 code ids (4 bytes vs 256); queries
# never touch the corpus vectors again: each query precomputes a
# 16-entry distance LUT per subspace and asymmetric distances are
# Σ_m LUT_m[code_m]. Measured recall@10 vs exact L2 ≈ 0.28 on the
# near-random synthetic vectors (real clustered embeddings fare far
# better; production composes with G15's exact-rerank stage).
#
# 100 TB: the codebook is k·dim rows (broadcast); encoding is one
# broadcast join + one (vec_id, sub) agg; ADC scoring joins the
# |corpus|-row CODE table (8 ints/vector) against broadcast
# 5×16-row per-subspace LUTs and prunes map-side with G1's partial
# top-k — the corpus embeddings are read exactly once, to build codes.
# --------------------------------------------------------------------------

PQ_K = 16
PQ_M = 8
PQ_SUB_DIM = DIM // PQ_M


def _pq_oracle() -> str:
    """Generated like the pagerank/LPA oracles: the subspace count is
    a parameter, so the wide code pivot and the per-subspace LUT joins
    are emitted programmatically."""
    codes_cols = ",\n         ".join(
        f"MAX(CASE WHEN sub = {m} THEN cluster END) AS code{m}"
        for m in range(PQ_M)
    )
    lut_joins = "\n".join(
        f"  JOIN lut l{m} ON l{m}.sub = {m} AND l{m}.cluster = w.code{m}"
        + ("" if m == 0 else f" AND l{m}.query_id = l0.query_id")
        for m in range(PQ_M)
    )
    adist = " + ".join(f"l{m}.d" for m in range(PQ_M))
    return f"""
WITH qrel AS MATERIALIZED (
  SELECT vec_id, CAST(s.pos AS INT) AS pos,
         CAST(FLOOR(CAST(s.pos AS DOUBLE) / {PQ_SUB_DIM}) AS INT) AS sub,
         CAST(floor(CAST(s.val AS DOUBLE) * {KM_GRID} + 0.5) AS BIGINT) AS q
  FROM (
    SELECT vec_id,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> struct_pack(pos := i - 1, val := embedding[i]))) AS s
    FROM embeddings
  )
),
c0 AS MATERIALIZED (
  SELECT sub, CAST(vec_id % {PQ_K} AS INT) AS cluster, pos,
         CAST(floor((2.0 * SUM(q) + COUNT(*)) / (2.0 * COUNT(*)))
              AS BIGINT) AS cq
  FROM qrel GROUP BY 1, 2, 3
),
a1 AS MATERIALIZED (
  SELECT vec_id, sub, cluster FROM (
    SELECT vec_id, sub, cluster,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, sub ORDER BY dist, cluster
           ) AS rn
    FROM (
      SELECT q.vec_id, q.sub, c.cluster,
             SUM((q.q - c.cq) * (q.q - c.cq)) AS dist
      FROM qrel q JOIN c0 c ON c.pos = q.pos
      GROUP BY 1, 2, 3
    )
  ) WHERE rn = 1
),
c1 AS MATERIALIZED (
  SELECT a.sub, a.cluster, q.pos,
         CAST(floor((2.0 * SUM(q.q) + COUNT(*)) / (2.0 * COUNT(*)))
              AS BIGINT) AS cq
  FROM qrel q JOIN a1 a ON a.vec_id = q.vec_id AND a.sub = q.sub
  GROUP BY 1, 2, 3
),
codes AS MATERIALIZED (
  SELECT vec_id, sub, cluster FROM (
    SELECT vec_id, sub, cluster,
           ROW_NUMBER() OVER (
             PARTITION BY vec_id, sub ORDER BY dist, cluster
           ) AS rn
    FROM (
      SELECT q.vec_id, q.sub, c.cluster,
             SUM((q.q - c.cq) * (q.q - c.cq)) AS dist
      FROM qrel q JOIN c1 c ON c.pos = q.pos
      GROUP BY 1, 2, 3
    )
  ) WHERE rn = 1
),
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, q.sub, c.cluster,
         SUM((q.q - c.cq) * (q.q - c.cq)) AS d
  FROM qrel q JOIN c1 c ON c.pos = q.pos
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2, 3
),
wide AS (
  SELECT vec_id,
         {codes_cols}
  FROM codes GROUP BY vec_id
),
scored AS (
  SELECT l0.query_id, w.vec_id AS neighbor_id, {adist} AS adist
  FROM wide w
{lut_joins}
  WHERE w.vec_id <> l0.query_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
       {r6_sql(f"sqrt(CAST(adist AS DOUBLE)) / {KM_GRID}")} AS approx_l2
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adist, neighbor_id
  ) AS rnk
  FROM scored
)
WHERE rnk <= {TOP_K}
"""


PQ_ORACLE = _pq_oracle()


# ---- PQ building blocks, shared by ann_pq_topk (G18) and the IVF-PQ
# composition (G20, tests-only). Pure plan builders — extracting them
# does not change G18's executed plan (asserted by the G20 test's
# normalized-plan identity check at extraction time).


def _pq_qrel(e: DataFrame) -> DataFrame:
    """(vec_id, pos, sub, q) integer grid relation, pinned: it feeds
    five subtrees (init centroids, refine assign, refined centroids,
    codes, LUT), so one materialization means the corpus is exploded
    exactly once."""
    return pin(
        e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            F.floor(F.col("pos") / PQ_SUB_DIM).cast("int").alias("sub"),
            F.floor(F.col("val").cast("double") * KM_GRID + 0.5)
            .cast("bigint")
            .alias("q"),
        ),
        "pq grid",
    )


def _pq_centroids(qrel: DataFrame, assign: DataFrame) -> DataFrame:
    return (
        qrel.join(assign, ["vec_id", "sub"])
        .groupBy("sub", "cluster", "pos")
        .agg(
            F.floor(
                (2.0 * F.sum("q") + F.count(F.lit(1)))
                / (2.0 * F.count(F.lit(1)))
            )
            .cast("bigint")
            .alias("cq")
        )
    )


def _pq_assign_codes(qrel: DataFrame, cent: DataFrame) -> DataFrame:
    diff = F.col("q") - F.col("cq")
    d = (
        qrel.join(F.broadcast(cent.select("pos", "cluster", "cq")), "pos")
        .groupBy("vec_id", "sub", "cluster")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    # arg-min as MIN over a (dist, cluster) struct: lexicographic
    # struct ordering gives the same min-cluster tiebreak as the
    # previous rank window, but as a partial-aggregable groupBy —
    # map-side combine instead of a full sort shuffle of the
    # |vectors|·M·K distance relation.
    return d.groupBy("vec_id", "sub").agg(
        F.min(F.struct("dist", "cluster"))["cluster"].alias("cluster")
    )


def _pq_train(qrel: DataFrame) -> DataFrame:
    """Two grid-exact Lloyd rounds; returns the refined codebook
    pinned (it feeds codes + LUT)."""
    # init cluster = vec_id % k is a pure function of vec_id, so the
    # first centroid pass computes it inline on qrel — no distinct
    # assignment frame, no (vec_id, sub) join for round 0
    c0 = qrel.groupBy(
        "sub",
        (F.col("vec_id") % PQ_K).cast("int").alias("cluster"),
        "pos",
    ).agg(
        F.floor(
            (2.0 * F.sum("q") + F.count(F.lit(1))) / (2.0 * F.count(F.lit(1)))
        )
        .cast("bigint")
        .alias("cq")
    )
    return pin(_pq_centroids(qrel, _pq_assign_codes(qrel, c0)), "pq codebook")


def _pq_lut(qrel: DataFrame, cent: DataFrame) -> DataFrame:
    """(query_id, sub, cluster, d) distance lookup table — query-side
    only, |queries|·M·K rows."""
    return (
        qrel.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cent.select("pos", "cluster", "cq")), "pos")
        .groupBy(F.col("vec_id").alias("query_id"), "sub", "cluster")
        .agg(
            F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))).alias("d")
        )
    )


def _pq_wide_codes(codes: DataFrame) -> DataFrame:
    """One row per vector with its M code ids as columns."""
    return codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub") == m, F.col("cluster"))).alias(f"code{m}")
            for m in range(PQ_M)
        ]
    )


def _pq_adc_join(scored: DataFrame, lut: DataFrame) -> DataFrame:
    """Attach the M per-subspace LUT distances to a code frame with
    ONE broadcast join (r17 replan; was M=8 chained broadcast joins,
    each a separate broadcast build + AQE stage — 16 extra jobs per
    run at two call sites). The LUT collapses to one |queries|-row
    frame holding a (sub·K + cluster) → d map; each d_m is then an
    in-row element_at. If the code frame has no query_id yet (G18's
    full scan) the single join is the |queries|-way fan-out the old
    code0 join performed; if it already carries query_id (G20's IVF
    candidates) the join is map-side on query_id. Lookups can't miss:
    codes only ever name clusters present in the codebook, and the
    LUT covers every (query, sub, codebook-cluster) combination, so
    inner-join semantics are preserved exactly. d stays an integer
    (grid-exact), so the downstream sum is order-insensitive."""
    lut_map = lut.groupBy("query_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (F.col("sub") * PQ_K + F.col("cluster"))
                        .cast("int")
                        .alias("k"),
                        F.col("d").alias("v"),
                    )
                )
            )
        ).alias("__lut")
    )
    if "query_id" in scored.columns:
        scored = scored.join(F.broadcast(lut_map), "query_id")
    else:
        scored = scored.crossJoin(F.broadcast(lut_map))
    for m in range(PQ_M):
        scored = scored.withColumn(
            f"d{m}",
            F.element_at(
                F.col("__lut"),
                (F.lit(m * PQ_K) + F.col(f"code{m}")).cast("int"),
            ),
        )
    return scored.drop("__lut")


@query("ann_pq_topk", PQ_ORACLE)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401 — mapInPandas worker dependency

    e = t(spark, sf_dir, "embeddings")
    # No spread on the qrel scan: the explode is integer projection
    # (cheap per row), and the Lloyd cost sits in the post-checkpoint
    # shuffles, which re-balance on their own. A/B: SURVEY.md item 13 (r11).
    qrel = _pq_qrel(e)
    c1 = _pq_train(qrel)
    codes = _pq_assign_codes(qrel, c1)
    lut = _pq_lut(qrel, c1)
    wide = _pq_wide_codes(codes)
    # chained broadcast LUT joins: the first fans the code table out by
    # query (x N_QUERIES rows), the rest stay map-side — the corpus
    # embeddings never re-enter, only the 8-int code rows flow
    scored = _pq_adc_join(wide, lut)
    scored = scored.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        sum((F.col(f"d{m}") for m in range(PQ_M)), F.lit(0)).alias("adist"),
    )

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(["query_id", "adist", "neighbor_id"])
                    .groupby("query_id", sort=False)
                    .head(TOP_K)
                )

    pruned = scored.mapInPandas(
        partial_topk, "query_id long, neighbor_id long, adist long"
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            r6(F.sqrt(F.col("adist").cast("double")) / KM_GRID).alias("approx_l2"),
        )
    )


# --------------------------------------------------------------------------
# G19 — hybrid lexical+vector retrieval fused by reciprocal rank
# fusion (the production RAG hybrid-search readout). THREE independent
# per-query rankings over the SAME corpus (doc_id ≡ vec_id in
# testdata): a lexical more-like-this ranking by distinct-token
# Jaccard to the query document, a BM25 more-like-this ranking over
# the same capped query terms (r10 — the Okapi scoring H22 gates,
# per query document), and the exact-cosine vector ranking over the
# aligned embeddings. RRF (operators/retrieval.rrf_fuse) sums
# 1/(k0+rank) per (query, doc) — rank-only fusion, no score
# calibration across systems.
#
# Scale shape (100 TB): the query side of BOTH rankings is
# |queries|-bounded and broadcast; the corpus is scanned once per
# modality; candidate lists are top-C-per-query before fusion, so the
# fuse aggregate and the fused-rank window move C·|queries|·2 rows.
# The lexical token join is BOUNDED (r10 replan, Lucene-MLT shape —
# operators/retrieval.mlt_token_jaccard_ranking): tokens in more than
# HYB_DF_MAX_FRAC of docs are screened out of both sides and both set
# sizes, and each query keeps only its HYB_QUERY_TERMS rarest tokens,
# so the candidate intermediate is ≤ |queries|·M·(frac-capped df)
# rows instead of Σ_tok q_count(tok)·df(tok). The testdata vocabulary
# is uniform (31 tokens, df ≈ 0.8·N), so the screen keeps everything
# there; the rarest-M cap binds (docs hold ~23 distinct tokens).
# --------------------------------------------------------------------------

HYB_CAND_K = 20  # per-system candidate depth feeding the fusion
HYB_K0 = 60  # the Cormack et al. constant
HYB_TOP_K = 10
HYB_DF_MAX_FRAC = 0.95  # stopword screen: drop tokens in > frac·N docs
HYB_QUERY_TERMS = 16  # rarest-M query-term cap (Lucene maxQueryTerms)
HYB_BM25_K1 = 1.2  # Okapi saturation (H22's constants)
HYB_BM25_B = 0.75  # Okapi length normalization

HYBRID_RRF_ORACLE = f"""
WITH dt AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS rawtoks
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(list_distinct(rawtoks)) AS tok FROM dt
),
tfs AS (
  SELECT doc_id, len(rawtoks) AS dl, unnest(rawtoks) AS tok FROM dt
),
n AS (SELECT COUNT(*) AS n FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM (SELECT doc_id, MIN(dl) AS dl FROM tfs GROUP BY doc_id)
),
keep AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
  HAVING COUNT(DISTINCT doc_id)
         <= (SELECT n FROM n) * {HYB_DF_MAX_FRAC}
),
scr AS (
  SELECT t.doc_id, t.tok, k.df
  FROM tok t JOIN keep k USING (tok)
),
qt AS (
  SELECT doc_id AS query_id, tok, df,
         COUNT(*) OVER (PARTITION BY doc_id) AS qsz
  FROM (
    SELECT doc_id, tok, df, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY df, tok
    ) AS rn
    FROM scr WHERE doc_id < {N_QUERIES}
  ) WHERE rn <= {HYB_QUERY_TERMS}
),
jscr AS (
  SELECT doc_id, tok, COUNT(*) OVER (PARTITION BY doc_id) AS csz
  FROM scr
),
inter AS (
  SELECT q.query_id, c.doc_id, q.qsz, c.csz, COUNT(*) AS i
  FROM jscr c JOIN qt q ON c.tok = q.tok AND c.doc_id <> q.query_id
  GROUP BY 1, 2, 3, 4
),
lexk AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY CAST(i AS DOUBLE) / (qsz + csz - i) DESC, doc_id
    ) AS rnk
    FROM inter
  ) WHERE rnk <= {HYB_CAND_K}
),
btf AS (
  SELECT q.query_id, c.doc_id, c.dl, c.tok, q.df, COUNT(*) AS tf
  FROM tfs c JOIN qt q ON c.tok = q.tok AND c.doc_id <> q.query_id
  GROUP BY 1, 2, 3, 4, 5
),
bsc AS (
  SELECT query_id, doc_id,
         {r6_sql(
             f"SUM(ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))"
             f" * tf * ({HYB_BM25_K1} + 1.0)"
             f" / (tf + {HYB_BM25_K1}"
             f" * (1.0 - {HYB_BM25_B} + {HYB_BM25_B} * dl / s.avgdl)))"
         )} AS bscore
  FROM btf CROSS JOIN stats s
  GROUP BY 1, 2
),
bmk AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY bscore DESC, doc_id
    ) AS rnk
    FROM bsc
  ) WHERE rnk <= {HYB_CAND_K}
),
e AS (
  SELECT vec_id, embedding, {_norm_sql("embedding")} AS nrm
  FROM embeddings
),
vs AS (
  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
         ({_dot_terms_sql("q.embedding", "v.embedding")})
           / (q.nrm * v.nrm) AS cos
  FROM e q JOIN e v ON v.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
veck AS (
  SELECT query_id, doc_id, rnk FROM (
    SELECT query_id, doc_id, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos DESC, doc_id
    ) AS rnk
    FROM vs
  ) WHERE rnk <= {HYB_CAND_K}
),
fused AS (
  SELECT query_id, doc_id,
         SUM(1.0 / ({HYB_K0} + rnk)) AS score,
         CAST(COUNT(*) AS INTEGER) AS n_rankings
  FROM (SELECT * FROM lexk UNION ALL SELECT * FROM bmk
        UNION ALL SELECT * FROM veck)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, {r6_sql("score")} AS rrf_score, n_rankings,
       CAST(fused_rank AS INTEGER) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY {r6_sql("score")} DESC, doc_id
  ) AS fused_rank
  FROM fused
)
WHERE fused_rank <= {HYB_TOP_K}
"""


@query("hybrid_rrf_search_topk", HYBRID_RRF_ORACLE)
def hybrid_rrf_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical (df-bounded token-Jaccard MLT) + BM25 MLT + vector
    (exact cosine) rankings fused by RRF. Determinism across engines:
    Jaccard is one double division of exact integers, the rarest-M
    query-term cap orders by (integer df, token string), BM25 ranks on
    its 6-dp-quantized score (H22's recipe), cosine reuses G1's
    left-assoc chain, and the fused rank orders by the quantized RRF
    score (3-term float sums are association-order sensitive at the
    ulp level) — every rank window tie-breaks on doc_id.

    r10 replan: the lexical side moved to bounded operators
    (operators/retrieval.mlt_candidate_terms + jaccard/bm25 scorers):
    stopword-grade tokens (df > HYB_DF_MAX_FRAC·N) are screened out of
    the joins and the set sizes, and each query keeps only its
    HYB_QUERY_TERMS rarest tokens — the r9 verdict's unbounded
    Σ q_count(tok)·df(tok) fan-out is now ≤ |queries|·M·(frac-capped
    df); the verdict's preferred BM25 third ranking fuses through the
    same capped terms. Scores changed, oracle updated symmetrically,
    GATE_PINned 10.

    r11 replan: ONE tokenize pass instead of two. The pinned relation
    is now the tf-annotated distinct-token table — explode raw
    occurrences once, groupBy (doc, dl, tok) count — whose rows ARE
    the distinct relation and whose `tf` column carries the BM25
    multiplicities (map-side combine collapses the occurrence stream
    to distinct-relation size before the exchange, the same size the
    checkpoint writes anyway). BM25 consumes it with tf_col="tf"
    (skipping its per-(query, doc, tok) tf groupBy — the multiplicity
    rides in-row), so the documents text is read and split exactly
    once. Result set bit-identical to the r10 plan (exceptAll both
    ways = 0 at sf0.1); A/B interleaved min-of-3: 10.8s -> 3.9s in
    the same session. GATE_PINned 11.

    Parity: the reference has no retrieval surface (its closest shape
    is Athena full-scan SQL, athena.sql); hybrid fusion is the
    training-data/RAG extension SURVEY §2 G19 claims.
    """
    import pandas as pd  # noqa: F401 — mapInPandas worker dependency

    from drive_bc_datapipeline_spark.operators.retrieval import (
        bm25_mlt_ranking,
        jaccard_mlt_ranking,
        mlt_candidate_terms,
        rrf_fuse,
    )

    # ---- lexical rankings: bounded more-like-this, two scorers over
    # ONE screen + capped-term computation. The pinned relation is the
    # tf-annotated distinct-token table (doc_id, dl, tok, tf): its
    # rows feed the df screen, the query side, the Jaccard corpus side
    # and the corpus stats; its tf column feeds BM25 — one text scan,
    # one tokenize, for all consumers. qt itself is pinned inside
    # mlt_candidate_terms (|queries|·M rows).
    d = t(spark, sf_dir, "documents")
    # spread: the testdata scan is one row group = one input partition,
    # which would single-thread the tokenize (and pin that layout into
    # toks' consumers); no-op on multi-file corpora. ROUND-ROBIN, not
    # hash-by-doc_id (r11 A/B: rr 3.38s vs hash 4.17s min-of-3
    # interleaved): the whole doc-length token stream is built on the
    # spread layout, and hashing by doc_id leaves doc-length skew in
    # the tokenize+partial-agg stage that round-robin evens out.
    ds = spread(d)
    raw = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # groupBy, not array_distinct: the partial (map-side) aggregate
    # collapses occurrences to the distinct relation BEFORE the
    # exchange, and the count rides along as tf — BM25's multiplicity
    # for free, no second tokenize. Eager: measured faster than
    # folding the materialization into the qt pin job (lazy checkpoint
    # serializes the toks build into the consumer job's critical path).
    toks = pin(
        ds.select(
            "doc_id", F.size(raw).alias("dl"), F.explode(raw).alias("tok")
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        "hybrid tokens",
    )
    # screen denominator = |documents| (Lucene's maxDocFreqPct is over
    # all docs): a parquet footer count, no extra aggregate in-plan;
    # tokens_distinct holds by construction (the groupBy above).
    scrbase, qt = mlt_candidate_terms(
        toks,
        F.col("doc_id") < N_QUERIES,
        max_df_frac=HYB_DF_MAX_FRAC,
        max_query_terms=HYB_QUERY_TERMS,
        n_docs=d.count(),
        tokens_distinct=True,
    )
    lex = jaccard_mlt_ranking(scrbase, qt, cand_k=HYB_CAND_K)
    # corpus stats from the pinned relation: one narrow (doc, dl)
    # aggregate, no extra text scan.
    stats = (
        toks.groupBy("doc_id")
        .agg(F.min("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("__n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias(
                "__avgdl"
            ),
        )
    )
    # BM25 side: the SAME pinned relation, multiplicities in-row.
    bm = bm25_mlt_ranking(
        toks,
        qt,
        stats,
        k1=HYB_BM25_K1,
        b=HYB_BM25_B,
        cand_k=HYB_CAND_K,
        tf_col="tf",
    )

    # ---- vector ranking: G1's broadcast-queries shape with map-side
    # partial top-k ahead of the rank window's exchange.
    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_spark("embedding")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    v = e.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("v_emb"),
        F.col("nrm").alias("v_nrm"),
    )
    cos = _dot_terms_spark("q_emb", "v_emb") / (
        F.col("q_nrm") * F.col("v_nrm")
    )
    scored = v.join(
        F.broadcast(q), F.col("doc_id") != F.col("query_id")
    ).select("query_id", "doc_id", cos.alias("cos"))

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "cos", "doc_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(HYB_CAND_K)
                )

    pruned = scored.mapInPandas(
        partial_topk, "query_id long, doc_id long, cos double"
    )
    wvec = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    vec = (
        pruned.withColumn("rank", F.row_number().over(wvec))
        .filter(F.col("rank") <= HYB_CAND_K)
        .select("query_id", "doc_id", "rank")
    )

    fused = rrf_fuse([lex, bm, vec], k0=HYB_K0, top_k=HYB_TOP_K)
    return fused.select(
        "query_id",
        "doc_id",
        r6(F.col("rrf_score")).alias("rrf_score"),
        "n_rankings",
        "fused_rank",
    )


# --------------------------------------------------------------------------
# G20 (tests-only) — IVF-PQ ANN: the composition a 100 TB vector
# service actually deploys (FAISS IndexIVFPQ shape, by_residual=false).
# G4's deterministic coarse quantizer routes each query to nprobe
# cells; G18's PQ-ADC scores ONLY the vectors assigned to those cells,
# from the M-byte code table — the full-precision corpus is read once
# (to train/encode) and never re-enters the query path. Tests-only by
# SURVEY design: the registry is capped at 200 keys, and the unrolled
# IVF×PQ oracle would restate G4's and G18's SQL verbatim; instead the
# sequential reference in tests/test_retrieval.py replays the integer
# grid math end-to-end (the E6/K20/F16 pattern) and a normalized-plan
# identity check pins the shared-helper extraction.
# --------------------------------------------------------------------------


def ann_ivfpq_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE
) -> DataFrame:
    """IVF cell routing + PQ asymmetric-distance scoring.

    Scale shape: the cell ranking is ONE |corpus|×NLIST broadcast pass
    (same pinned `cells` relation as G4); candidates are an equi-join
    of the corpus assignment against the broadcast |queries|·nprobe
    probe list; ADC is map-side broadcast-LUT joins over candidate
    rows only, then per-batch partial top-k ahead of the final window.
    Nothing in the query path scales with |corpus| except the pruned
    candidate stream itself.
    """
    import pandas as pd  # noqa: F401 — mapInPandas worker dependency

    e = t(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm_spark("embedding")
    )
    cent = e.filter(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    ccos = _dot_terms_spark("embedding", "cemb") / (
        F.col("nrm") * F.col("cnrm")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cid")
    )
    cells = pin(
        e.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crnk", F.row_number().over(w_assign))
        .filter(
            (F.col("crnk") == 1)
            | ((F.col("crnk") <= nprobe) & (F.col("vec_id") < N_QUERIES))
        )
        .select("vec_id", "cid", "crnk"),
        "ivfpq cells",
    )
    assign = cells.filter(F.col("crnk") == 1).select("vec_id", "cid")
    probes = cells.filter(
        (F.col("crnk") <= nprobe) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "cid")

    qrel = _pq_qrel(e.select("vec_id", "embedding"))
    c1 = _pq_train(qrel)
    codes = _pq_assign_codes(qrel, c1)
    lut = _pq_lut(qrel, c1)
    wide = _pq_wide_codes(codes)

    cand = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = _pq_adc_join(cand.join(wide, "vec_id"), lut).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        sum((F.col(f"d{m}") for m in range(PQ_M)), F.lit(0)).alias("adist"),
    )

    def partial_topk(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(["query_id", "adist", "neighbor_id"])
                    .groupby("query_id", sort=False)
                    .head(TOP_K)
                )

    pruned = scored.mapInPandas(
        partial_topk, "query_id long, neighbor_id long, adist long"
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            r6(F.sqrt(F.col("adist").cast("double")) / KM_GRID).alias(
                "approx_l2"
            ),
        )
    )
