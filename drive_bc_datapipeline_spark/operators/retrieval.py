"""Hybrid-retrieval rank fusion + bounded lexical candidates (G19).

Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009): given K
independent rankings of candidates per query (the gated G19 fuses
THREE systems: the df-bounded token-Jaccard more-like-this ranking
and the BM25 more-like-this ranking below — both consuming the same
capped query terms — plus G1's exact cosine ranking; ``rrf_fuse``
takes any list), fuse them by

    rrf(d) = Σ_i 1 / (k0 + rank_i(d))

summing only over rankings that contain d. RRF is the production
default for lexical+vector fusion because it needs no score
calibration — ranks are scale-free — and a document missing from one
ranking simply contributes nothing.

Spark shape: union the (query_id, doc_id, rank) relations (map-side,
no shuffle), ONE hash aggregate on (query_id, doc_id) sums the
reciprocal contributions, and the per-query top-k is a
query-partitioned rank window. At 100 TB of candidates this is one
shuffle on the fused key plus one on query_id — candidate lists are
top-N-per-query sized (bounded by upstream retrieval), so both
exchanges move k·|queries|·|rankings| rows, never corpus-scale data.

Determinism: rank_i are integers, so the fused score is an exact sum
of unit fractions with k0 <= 60-ish denominators. With 3+ rankings the
sum's ASSOCIATION order is engine- and row-order-dependent (±1 ulp),
so the fused rank orders by the 6-dp-quantized score (r10; the H22
recipe — distinct rank profiles differ by ≥ ~1e-4 at k0=60, far above
the grid, while equal profiles collapse to the doc_id tiebreak
identically in every engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.session import pin

# Quantization contract shared by the scorers below: nudge by an
# epsilon far above float noise but far below the 6-dp grid, then
# round — the same boundary-nudge rule as plans.registry.r6/EPS4
# (kept as a module constant here so the operator layer stays
# import-independent of the plans layer; tests/test_retrieval.py
# asserts the two never diverge).
QUANT_EPS = 1e-9


def mlt_token_jaccard_ranking(
    toks: DataFrame,
    query_pred: Column,
    *,
    max_df_frac: float = 0.95,
    max_query_terms: int = 16,
    cand_k: int = 20,
    doc_col: str = "doc_id",
    tok_col: str = "tok",
) -> DataFrame:
    """Per-query lexical more-like-this ranking with BOUNDED fan-out:
    (query_id, doc_id, rank) by token-Jaccard between the query's
    capped token set and each candidate's screened token set.

    The naive shape — corpus tokens ⋈ query tokens on the raw token —
    fans out df(tok) rows per query occurrence of tok, dominated at
    corpus scale by exactly the stopword-grade tokens that carry no
    relevance signal. This operator bounds it the way Lucene's
    MoreLikeThis does:

    1. **df screen** (``max_df_frac``): tokens present in more than
       frac·|docs| documents are dropped from BOTH sides (and from the
       Jaccard set sizes), so no single token can fan out by more than
       frac·|docs| — stopwords never reach the join.
    2. **rarest-M query terms** (``max_query_terms``): each query keeps
       only its M lowest-df tokens (ties broken on the token string),
       so the join input is ≤ M rows per query and the candidate
       intermediate is ≤ Σ of the query's M smallest dfs — in a
       Zipfian vocabulary those are precisely the rare, high-signal
       terms.

    The score is exact Jaccard |q∩c| / |q∪c| over the capped query set
    and the screened candidate set (integer counts, one double
    division — cross-engine deterministic; rank ties break on doc_id).

    ``toks`` must be one row per (doc, distinct token); ``query_pred``
    selects the query documents (e.g. ``F.col("doc_id") < 5``).

    Scale notes: the df relation is one map-side-combinable aggregate
    (vocab-sized output) broadcast back onto the token stream — at a
    vocabulary too large to broadcast, drop the hint and let the
    screen run as a shuffle join (the F3 caveat, semantics unchanged).
    The per-doc screened sizes ride a doc-partitioned window — one
    narrow (doc, tok) exchange, strictly smaller than the raw token
    stream post-screen. Nothing downstream of the screen exceeds
    |queries|·M·(frac-capped df) rows.
    """
    scrbase, qt = mlt_candidate_terms(
        toks,
        query_pred,
        max_df_frac=max_df_frac,
        max_query_terms=max_query_terms,
        doc_col=doc_col,
        tok_col=tok_col,
    )
    return jaccard_mlt_ranking(
        scrbase, qt, cand_k=cand_k, doc_col=doc_col, tok_col=tok_col
    )


def jaccard_mlt_ranking(
    scrbase: DataFrame,
    qt: DataFrame,
    *,
    cand_k: int = 20,
    doc_col: str = "doc_id",
    tok_col: str = "tok",
) -> DataFrame:
    """The Jaccard scoring stage over ``mlt_candidate_terms`` output —
    split out so a plan fusing several MLT rankings (Jaccard + BM25)
    computes the screen and the capped query terms ONCE."""
    scr = scrbase.select(doc_col, tok_col).withColumn(
        "__csz", F.count(F.lit(1)).over(Window.partitionBy(doc_col))
    )
    inter = (
        scr.join(
            F.broadcast(qt.select("__query_id", tok_col, "__qsz")), tok_col
        )
        .filter(F.col(doc_col) != F.col("__query_id"))
        .groupBy("__query_id", doc_col, "__qsz", "__csz")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = F.col("__i").cast("double") / (
        F.col("__qsz") + F.col("__csz") - F.col("__i")
    )
    w_rank = Window.partitionBy("__query_id").orderBy(F.desc("__jac"), doc_col)
    return (
        inter.withColumn("__jac", jac)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= cand_k)
        .select(
            F.col("__query_id").alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            "rank",
        )
    )


def mlt_candidate_terms(
    toks: DataFrame,
    query_pred: Column,
    *,
    max_df_frac: float = 0.95,
    max_query_terms: int = 16,
    doc_col: str = "doc_id",
    tok_col: str = "tok",
    n_docs: int | None = None,
    tokens_distinct: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The shared bounding machinery behind the MLT rankings: returns
    ``(scrbase, qt)`` where

    - ``scrbase`` is the screened corpus token stream (doc_col,
      tok_col, __df) — tokens with df > max_df_frac·|docs| dropped;
    - ``qt`` is the capped per-query term relation (__query_id,
      tok_col, __df, __qsz) — each query's ``max_query_terms`` rarest
      screened tokens, ordered by (df, token), with the capped set
      size alongside.

    ``qt`` is |queries|·M rows and pinned, so consumers of the
    QUERY-TERM subtree — the Jaccard ranking, a BM25 ranking, any
    other candidate generator — never re-run its df aggregate + screen
    + rarest-M window. ``scrbase`` itself is returned UNPINNED: each consumer of
    the corpus side re-executes the df aggregate + screen join unless
    the caller pins it (callers with one scrbase consumer, like the
    gated hybrid plan, don't need to).

    Stage-count knobs (r10, the gated plan uses both): ``n_docs``
    passes the screen denominator as a driver scalar (skips the
    ndocs aggregate + broadcast cross-join — callers usually know
    \\|docs\\| from a metadata-cheap count); ``tokens_distinct``
    declares ``toks`` is already one row per (doc, distinct token),
    skipping the defensive dropDuplicates. Duplicate (doc, token)
    rows are deduped UP FRONT when not declared distinct (r10 review
    fix: every downstream consumer — the rarest-M cap, __qsz, the
    Jaccard intersection and __csz — counts rows, so a surviving
    duplicate would silently corrupt scores, not just the df).
    """
    reserved = [c for c in toks.columns if c.startswith("__")]
    if reserved:
        raise ValueError(f"toks must not carry __-prefixed columns: {reserved}")
    if not tokens_distinct:
        toks = toks.dropDuplicates([doc_col, tok_col])
    dfrel = toks.groupBy(tok_col).agg(F.count(F.lit(1)).alias("__df"))
    if n_docs is not None:
        keep = dfrel.filter(
            F.col("__df") <= F.lit(float(n_docs)) * F.lit(float(max_df_frac))
        ).select(tok_col, "__df")
    else:
        ndocs = toks.select(F.countDistinct(doc_col).alias("__n"))
        keep = (
            dfrel.crossJoin(F.broadcast(ndocs))
            .filter(F.col("__df") <= F.col("__n") * F.lit(float(max_df_frac)))
            .select(tok_col, "__df")
        )
    scrbase = toks.select(doc_col, tok_col).join(F.broadcast(keep), tok_col)
    w_rare = Window.partitionBy(doc_col).orderBy("__df", tok_col)
    qt = pin(
        scrbase.filter(query_pred)
        .withColumn("__rn", F.row_number().over(w_rare))
        .filter(F.col("__rn") <= max_query_terms)
        .select(F.col(doc_col).alias("__query_id"), tok_col, "__df")
        .withColumn(
            "__qsz", F.count(F.lit(1)).over(Window.partitionBy("__query_id"))
        ),
        "query terms",
    )
    return scrbase, qt


def bm25_mlt_ranking(
    tf_toks: DataFrame,
    qt: DataFrame,
    stats: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    cand_k: int = 20,
    doc_col: str = "doc_id",
    tok_col: str = "tok",
    dl_col: str = "dl",
    tf_col: str | None = None,
) -> DataFrame:
    """Per-query BM25 more-like-this ranking (query, doc, rank) over
    the SAME capped query terms as the Jaccard ranking — the Okapi
    scoring H22 gates, generalized from one fixed term set to one term
    set per query document.

    ``tf_toks`` is the token stream with full doc length in-row
    (doc_col, dl_col, tok_col): by default one row per token
    OCCURRENCE (tf is counted after the query-term screen); with
    ``tf_col`` the caller passes a PRE-AGGREGATED relation instead —
    exactly one row per (doc, distinct token) carrying its
    multiplicity — and the per-(query, doc, token) tf groupBy is
    skipped entirely (r11: lets the hybrid plan tokenize the corpus
    ONCE and feed both the distinct-set machinery and BM25 from the
    same pinned relation). The one-row-per-(doc, token) contract is
    the CALLER's to uphold and is deliberately unchecked here (a
    dropDuplicates would re-add the exact shuffle this path exists to
    skip): duplicate rows double-count straight into the score sum.
    The internal hybrid caller satisfies it by construction — its tf
    relation IS a groupBy(doc, dl, tok) output — and
    tests/test_retrieval.py pins tf_col-path == default-path scores
    on the same corpus (a duplicated relation would diverge). ``qt``/``stats`` come from
    ``mlt_candidate_terms`` and a 1-row (__n_docs, __avgdl)
    aggregate. Only postings matching a capped query term survive the
    broadcast join, so the shuffled relation is bounded by the capped
    terms' document frequencies (the H22 "query-terms-only tf" move,
    per query).

    Cross-engine determinism (H22's recipe): idf and the saturation
    denominator are single float expressions of exact integers; the
    per-(query, doc) score is rounded to 6 dp with the registry's
    epsilon nudge BEFORE ranking, and ranks tie-break on doc_id.
    """
    tf_cols = [tf_col] if tf_col is not None else []
    cand = (
        tf_toks.select(doc_col, dl_col, tok_col, *tf_cols)
        .join(F.broadcast(qt.select("__query_id", tok_col, "__df")), tok_col)
        .filter(F.col(doc_col) != F.col("__query_id"))
    )
    if tf_col is None:
        tf = cand.groupBy("__query_id", doc_col, tok_col, dl_col, "__df").agg(
            F.count(F.lit(1)).alias("__tf")
        )
    else:
        # One row per (doc, token) by caller contract: the multiplicity
        # rides in-row, no shuffle needed to recover it.
        tf = cand.withColumn("__tf", F.col(tf_col).cast("long")).drop(tf_col)
    idf = F.log(
        1.0
        + (F.col("__n_docs") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (
        1.0 - b + b * F.col(dl_col) / F.col("__avgdl")
    )
    term_score = idf * F.col("__tf") * (k1 + 1.0) / denom
    scored = (
        tf.crossJoin(F.broadcast(stats))
        .groupBy("__query_id", doc_col)
        .agg(F.round(F.sum(term_score) + QUANT_EPS, 6).alias("__score"))
    )
    w_rank = Window.partitionBy("__query_id").orderBy(
        F.desc("__score"), doc_col
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= cand_k)
        .select(
            F.col("__query_id").alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            "rank",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    top_k: int | None = None,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Fuse per-query rankings into (query_id, doc_id, rrf_score,
    n_rankings, fused_rank).

    Each input frame holds one retrieval system's output: 1-based
    integer ``rank_col`` per (query, doc); ranks beyond a system's
    result list are simply absent. ``top_k`` truncates the fused list
    per query (None keeps every fused candidate). ``fused_rank`` uses
    row_number with a doc_id tiebreak so the output is deterministic.

    ``rrf_score`` is returned QUANTIZED (QUANT_EPS nudge + 6 dp) and
    ``fused_rank`` orders on exactly that value (r10 review fix: the
    raw sum of 3+ unit fractions is association-order sensitive at
    the ulp level, and returning a raw score that can disagree with
    the returned rank would be self-inconsistent).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            (1.0 / (F.lit(float(k0)) + F.col(rank_col).cast("double"))).alias(
                "__contrib"
            ),
        )
        for r in rankings
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("__contrib") + QUANT_EPS, 6).alias("rrf_score"),
        F.count(F.lit(1)).cast("int").alias("n_rankings"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc_id")
    )
    out = fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
    if top_k is not None:
        out = out.filter(F.col("fused_rank") <= top_k)
    return out
