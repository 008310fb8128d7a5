"""Document plans (SURVEY §2 F, H): LLM-training-data dedup + text
analysis over the ``documents`` table.

All hash-bearing operators use md5 over strings so the DuckDB oracle
computes bit-identical values; the hot path stays JVM-side (builtin
``md5``/``split``/``transform`` column functions — no Python UDFs).

Scale notes (100 TB of documents):
- exact dedup: one shuffle on the 128-bit content hash; group sizes
  are the duplicate multiplicity → near-uniform.
- n-gram Jaccard: blocked on *rare* shingles (document frequency cap)
  so the candidate join fans out per rare-shingle bucket rather than
  all-pairs; verification joins touch only candidate pairs.
- minhash-LSH (see below): signature is map-side O(n·k); the only
  shuffles are the banding join and candidate verification.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.functions import text as text_fns
from drive_bc_datapipeline_spark.session import pin
from drive_bc_datapipeline_spark.tables import spread
from drive_bc_datapipeline_spark.plans.registry import (
    query,
    r2,
    r2_sql,
    r4,
    r4_sql,
    r6,
    r6_sql,
    t,
)

# --------------------------------------------------------------------------
# F1 — exact dedup via content hash.
# --------------------------------------------------------------------------

DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@query("dedup_exact", DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Shared shingling helpers (portable semantics: Spark transform/sequence
# ↔ DuckDB list_transform/generate_series, both 1-based substrings).
# --------------------------------------------------------------------------


def word_ngrams(df: DataFrame, n: int, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) word n-grams, computed JVM-side.

    Formulation note (perf): grams come from ``slice + array_join`` over
    a pre-split token array. The obvious alternative — n ``element_at``
    references inside the lambda — re-evaluates the un-CSE'd ``split``
    per reference and measured ~5x slower at sf0.1 (9.1s → 1.9s for the
    full explode+distinct). One narrow projection, no extra shuffle.

    ``distinct=False`` skips the dedup shuffle entirely — valid for
    consumers whose downstream math is duplicate-invariant (min-hash
    signatures; Jaccard verification via collect_set).
    """
    toks = df.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    out = toks.select(
        "doc_id", F.explode(text_fns.word_shingles("toks", n)).alias("shingle")
    ).filter(F.col("shingle") != "")
    return out.distinct() if distinct else out


def word_ngrams_sql(n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` (distinct (doc_id, shingle))."""
    parts = " || ' ' || ".join(f"tokens[i + {j}]" for j in range(n))
    return f"""
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(
                 generate_series(1, greatest(len(tokens) - {n - 1}, 0)),
                 i -> {parts}
             )) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
    ) WHERE shingle <> ''
    """


# --------------------------------------------------------------------------
# F3 — n-gram Jaccard near-dup pairs with rare-shingle blocking.
# Candidates = pairs sharing ≥1 shingle whose document frequency ≤ DF_CAP
# (classic similarity-join blocking: common shingles generate quadratic
# fan-out but no discriminative signal, so they are excluded from
# candidate generation — NOT from the Jaccard itself).
# --------------------------------------------------------------------------

NGRAM_N = 3
DF_CAP = 10
JACCARD_MIN = 0.2

# Session-scoped materialized intermediates: the verified near-dup pair
# sets are pure functions of (session, sf_dir) and feed several graph
# readouts (connected components x2, cluster histogram, triangles,
# k-core) as INPUT edges. Rebuilding the full block-verify pipeline per
# consumer re-executes its shuffles every time; materializing it once
# per session is the materialized-view move a production engine makes
# for a shared expensive intermediate. Keyed by applicationId so a new
# session never sees a stale frame; pinned (the frames are |verified
# pairs| rows — tiny).
# A process runs one SparkContext at a time, so entries of any other
# application are dead and are dropped before the next build: the memo
# never holds more than one session's frames.
# The dedup_* query keys themselves do NOT consult the memo: their
# bench/gate timings always measure the full pipeline.
_PAIR_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _memo_pairs(spark, sf_dir, key, build):
    app = spark.sparkContext.applicationId
    k = (app, sf_dir, key)
    df = _PAIR_MEMO.get(k)
    if df is None:
        for stale in [m for m in _PAIR_MEMO if m[0] != app]:
            del _PAIR_MEMO[stale]
        df = pin(build(), f"pairs {key}")
        _PAIR_MEMO[k] = df
    return df


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized verified ngram-Jaccard pair set (graph-consumer input)."""
    return _memo_pairs(
        spark, sf_dir, "ngram_jaccard",
        lambda: dedup_ngram_jaccard(spark, sf_dir),
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized verified SimHash pair set (graph-consumer input)."""
    return _memo_pairs(
        spark, sf_dir, "simhash", lambda: dedup_simhash(spark, sf_dir)
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized verified MinHash-LSH pair set (funnel input)."""
    return _memo_pairs(
        spark, sf_dir, "minhash_lsh",
        lambda: dedup_minhash_lsh(spark, sf_dir),
    )


NGRAM_JACCARD_ORACLE = f"""
WITH shingles AS ({word_ngrams_sql(NGRAM_N)}),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
),
rare AS (
  SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM shingles a
  JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN rare r ON a.shingle = r.shingle
),
inter AS (
  -- candidate-driven: fan-out is |cand| x shingles-per-doc, never df^2
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_id_a
  JOIN shingles b ON b.doc_id = c.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       ROUND(CAST(i.n_common AS DOUBLE)
             / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= {JACCARD_MIN}
"""


def _verify_jaccard(
    shingles: DataFrame,
    cand: DataFrame,
    threshold: float,
    hash_col: str | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact Jaccard via per-doc hash sets.

    Each doc's distinct shingles collapse to ONE row holding a sorted
    array of 64-bit shingle hashes; candidates join that compact frame
    twice (keyed equi-joins — AQE broadcasts it while it fits, falls
    back to shuffle join at scale) and ``array_intersect`` counts the
    overlap JVM-side. Versus re-joining the exploded shingle table
    (|cand| × shingles-per-doc rows through a shuffle + groupBy), this
    measured ~2x faster at sf0.1 and moves no wide rows.

    xxhash64 stands in for the shingle string only INSIDE the engine —
    the oracle compares final (doc pair, jaccard) values, which a 64-bit
    collision would perturb with probability ~(shingles/doc)²/2⁶⁴.

    ``hash_col``: callers that already hashed their shingle column
    (dedup_ngram_jaccard hashes before its blocking shuffles so every
    exchange carries 8-byte longs instead of shingle strings) pass its
    name to skip re-hashing here.
    """
    # Build hash-sets ONLY for docs that appear in some candidate pair:
    # blocking typically leaves a small fraction of the corpus as
    # candidates, so the collect_set aggregation — the expensive step —
    # shrinks from |corpus| to |candidate docs| (semi join first). At
    # 100 TB this is the difference between aggregating the whole
    # corpus's shingles and only the blocked sliver's. cand is
    # materialized once: it feeds three subtrees (two id projections +
    # the final join) and Spark re-executes the whole candidate
    # pipeline per subtree otherwise (measured 2x slower at sf0.1).
    cand = pin(cand, "jaccard candidates")
    cand_docs = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    h = (
        F.col(hash_col) if hash_col is not None else F.xxhash64("shingle")
    )
    # Pin ONE materialization of the per-doc hash sets: the frame is
    # aliased into BOTH sides of the pair join below, and without the
    # checkpoint Spark re-executes the semi-join + collect_set subtree
    # (and re-broadcasts it) once per alias — measured ~0.7 s of the
    # r6 verify cost at sf0.1.
    docsets = pin(
        shingles.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select("doc_id", h.alias("h"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hs")),
        "jaccard docsets",
    )
    a, b = docsets.alias("sa"), docsets.alias("sb")
    n_common = F.size(F.array_intersect(F.col("sa.hs"), F.col("sb.hs")))
    n_union = F.size("sa.hs") + F.size("sb.hs") - n_common
    jac = n_common.cast("double") / n_union
    # Size-bound prefilter AHEAD of the intersect in the conjunction:
    # |A∩B| ≤ min(|A|,|B|) ⇒ J ≤ min/max, so pairs whose set sizes are
    # too lopsided short-circuit past array_intersect entirely. On the
    # synthetic sf0.1 corpus this prunes only ~3% (docs are
    # size-homogeneous), but it's free — two size() probes on already-
    # joined arrays — and on a real heterogeneous corpus (or a higher
    # threshold) it's the classic AllPairs length filter.
    size_bound = (
        F.least(F.size("sa.hs"), F.size("sb.hs")).cast("double")
        >= threshold * F.greatest(F.size("sa.hs"), F.size("sb.hs"))
    )
    return (
        cand.join(F.broadcast(a), F.col("doc_id_a") == F.col("sa.doc_id"))
        .join(F.broadcast(b), F.col("doc_id_b") == F.col("sb.doc_id"))
        .filter(size_bound & (jac >= threshold))
        .select("doc_id_a", "doc_id_b", F.round(jac, 4).alias("jaccard"))
    )


@query("dedup_ngram_jaccard", NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate shape: df-count pass → keep shingles held by 2..DF_CAP
    docs (df=1 can't pair, so the broadcast set drops the unique-shingle
    majority) → per-shingle doc lists → in-array ordered-pair expansion.

    Versus a rare⋈shingles⋈shingles self-join (the previous plan), this
    never shuffles the full exploded shingle table a second time: after
    the df aggregate, only rare-shingle occurrences (each contributing
    ≤ DF_CAP(DF_CAP−1)/2 pairs) move. collect_set stays bounded because
    it only ever aggregates rare shingles — no hot-key array blowup. At
    a corpus where even the [2, DF_CAP] shingle set outgrows broadcast,
    drop the hint and let the filter run as a shuffle join — semantics
    unchanged.

    The shingle table is kept NON-distinct (like minhash): df uses
    countDistinct (one exchange, two-level agg — cheaper than a
    distinct shuffle followed by a count shuffle) and every downstream
    consumer (collect_set doc lists, collect_set verification) is
    duplicate-invariant.
    """
    d = t(spark, sf_dir, "documents")
    # Hash each shingle to 64 bits BEFORE any shuffle: the df
    # aggregate, the blocking join, and the verification docsets all
    # exchange 8-byte longs instead of n-gram strings (~3x fewer
    # shuffle bytes at this corpus; the ratio grows with n-gram
    # width). Collision risk is the same class _verify_jaccard already
    # documents (~|shingles|²/2⁶⁵ for any collision corpus-wide).
    # Pinned: the frame feeds three subtrees.
    # No spread — settled for the third time r17: a mid-round commit
    # briefly re-instated spread(by=doc_id) off an event-log profile
    # (the unspread checkpoint pins a 1-partition layout downstream),
    # but four interleaved A/Bs kept reading off <= on (r11: 3.7 vs
    # 4.5; r17 idle runs: 2.77 vs 3.41, 4.87 vs 4.85, 3.30 vs 3.25 —
    # two clear, two wash) and the post-commit bench regressed the key
    # +0.63s along with its graph consumers (dedup_clusters_lsss,
    # dedup_connected_components re-derive the pair relation). The
    # downstream stages re-balance anyway: the df-count aggregate's
    # own exchange follows immediately, so the spread exchange is pure
    # extra cost here, unlike the keys whose heavy work sits directly
    # on the checkpoint layout. A/B: OPTIMIZATION_r17.md entry 6.
    shingles = pin(
        word_ngrams(d, NGRAM_N, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("h")),
        "ngram shingles",
    )
    rare = (
        shingles.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= DF_CAP))
        .select("h")
    )
    pair_expr = F.expr(
        "flatten(transform(docs, (a, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "b -> named_struct('doc_id_a', a, 'doc_id_b', b))))"
    )
    cand = (
        shingles.join(F.broadcast(rare), "h")
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .distinct()
    )
    # r18 verify replan, A/B'd and reverted: OPTIMIZATION_r18.md §2
    return _verify_jaccard(shingles, cand, JACCARD_MIN, hash_col="h")


# --------------------------------------------------------------------------
# H1 — text quality scoring (length / punctuation / stopword ratios).
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
PUNCT_RE = "[.,!?;:]"

QUALITY_ORACLE = f"""
WITH stats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             x -> x IN {STOPWORDS!r})) AS n_stop,
         length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 4) AS punct_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) AS stopword_ratio,
       ROUND(CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1), 4) AS chars_per_token,
       CASE WHEN n_tokens >= 10
             AND CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) >= 0.05
            THEN 1 ELSE 0 END AS quality_ok
FROM stats
"""


@query("text_quality_score", QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tokens = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_tokens = F.size(tokens)
    n_chars = F.length("text")
    n_stop = F.size(F.filter(tokens, lambda x: x.isin(*STOPWORDS)))
    n_punct = n_chars - F.length(F.regexp_replace("text", PUNCT_RE, ""))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 4).alias(
            "chars_per_token"
        ),
        F.when((n_tokens >= 10) & (stop_ratio >= 0.05), 1)
        .otherwise(0)
        .alias("quality_ok"),
    )


# --------------------------------------------------------------------------
# H2 — marker-word language ID. Deterministic argmax with fixed
# tie-break order (marker hit counts, then priority order of languages).
# --------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "fast", "slow"),
    "de": ("data", "table", "row", "key", "merge"),
    "es": ("query", "filter", "group", "sort", "join"),
    "fr": ("window", "stream", "batch", "value", "hash"),
    "zh": ("spark", "scan", "agg", "column", "line"),
}


def _lang_score_sql(words: tuple[str, ...]) -> str:
    return f"len(list_filter(toks, x -> x IN {words!r}))"


LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql(LANG_MARKERS["en"])} AS s_en,
         {_lang_score_sql(LANG_MARKERS["de"])} AS s_de,
         {_lang_score_sql(LANG_MARKERS["es"])} AS s_es,
         {_lang_score_sql(LANG_MARKERS["fr"])} AS s_fr,
         {_lang_score_sql(LANG_MARKERS["zh"])} AS s_zh
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
)
SELECT doc_id, lang AS labeled_lang,
       CASE
         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         WHEN s_fr >= s_zh THEN 'fr'
         ELSE 'zh'
       END AS pred_lang
FROM scored
"""


@query("lang_id", LANG_ID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    def marker_count(words: tuple[str, ...]):
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    scores = {lang: marker_count(words) for lang, words in LANG_MARKERS.items()}
    s = {k: scores[k] for k in ("en", "de", "es", "fr", "zh")}
    pred = (
        F.when(
            (s["en"] >= s["de"])
            & (s["en"] >= s["es"])
            & (s["en"] >= s["fr"])
            & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return d.select("doc_id", F.col("lang").alias("labeled_lang"), pred.alias("pred_lang"))


# --------------------------------------------------------------------------
# H3 — token counting: whitespace + BPE-ish regex segmentation.
# --------------------------------------------------------------------------

BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS bpe_tokens
FROM documents
"""


@query("token_count", TOKEN_COUNT_ORACLE)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)"))
    return d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


# --------------------------------------------------------------------------
# H4 — document fingerprint: min-of-shingle-hashes (winnowing-lite) over
# 8-char rolling shingles. One md5 per shingle, min lexicographic hex —
# identical on both engines.
# --------------------------------------------------------------------------

FP_W = 8

FINGERPRINT_ORACLE = f"""
SELECT doc_id,
       min(md5(sh)) AS fingerprint
FROM (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, greatest(length(text) - {FP_W - 1}, 1)),
             i -> substr(text, CAST(i AS INTEGER), {FP_W})
         )) AS sh
  FROM documents
)
GROUP BY doc_id
"""


@query("doc_fingerprint", FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 replan: the per-doc min folds INSIDE the row (array_min over
    the transformed shingle array) instead of explode → hash aggregate.
    Same md5 count, identical result (lexicographic min over the same
    hex set), but zero explode fan-out and ZERO shuffle — a pure
    projection a 100 TB scan streams through. Tracked BENCH_full value
    ~2.4s steady at sf0.1 vs ~3.0s for the old explode+groupBy plan
    (~1.2x; the md5 work per doc is unchanged — the win is the removed
    shuffle, which is what matters at 100 TB). A/B-verified
    row-identical before the swap.

    r17: spread(by=doc_id) ahead of the projection — the event-log
    profile showed the whole key as ONE task (single-row-group scan;
    the per-character md5 transform runs through the interpreted
    higher-order-function path, not codegen), 31 cores idle. The
    exchange moves 5000 short rows; the md5 work then fans out. At
    100 TB the scan is wide and spread() no-ops, so the
    zero-shuffle-projection story is unchanged. A/B: see
    OPTIMIZATION_r17.md."""
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - (FP_W - 1), F.lit(1))),
        lambda i: F.substring(F.col("text"), i, FP_W),
    )
    return d.select(
        "doc_id",
        F.array_min(
            F.transform(shingles, lambda s: F.md5(s.cast("binary")))
        ).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# F2 — MinHash + LSH near-dup detection.
# Shingles: distinct word 5-grams. K=16 md5-seeded min-hashes (hex
# strings, lexicographic min — identical across engines). 4 bands x 4
# rows; candidate pairs share >=1 band; candidates are verified with
# exact Jaccard and thresholded.
#
# 100 TB path: signatures are map-side (one groupBy doc_id); the band
# join keys on (band_id, band_hash) whose cardinality grows with the
# corpus, so buckets stay small; verification touches candidates only.
# --------------------------------------------------------------------------

MH_N = 5          # shingle n-gram size
MH_K = 16         # number of minhash permutations
MH_BANDS = 4      # LSH bands (MH_K / MH_BANDS rows each)
MH_JACCARD = 0.7  # verification threshold


# K=16 minhashes from only 4 md5 evaluations: each 128-bit md5 yields
# four independent 32-bit (8-hex-char) slices. Lexicographic min over
# fixed-width hex == numeric min — identical in both engines, and 4x
# less hashing on the O(n·shingles) hot path.
MH_GROUPS = 4
MH_PER_GROUP = MH_K // MH_GROUPS


def _mh_slice_cols():
    """The 16 per-shingle hash slices as PROJECTION columns. Kept out of
    the aggregate expressions on purpose: projection codegen dedupes the
    4 md5 calls via subexpression elimination, while 16 min-aggs each
    embedding substr(md5(...)) re-hash per aggregate and inflate the
    generated aggregate method (slow janino compile on the cold path)."""
    cols = []
    for g in range(MH_GROUPS):
        h = F.md5(F.concat(F.lit(f"mh{g}|"), F.col("shingle")).cast("binary"))
        for j in range(MH_PER_GROUP):
            cols.append(
                F.substring(h, 8 * j + 1, 8).alias(f"h{g * MH_PER_GROUP + j}")
            )
    return cols


def _mh_cols_spark():
    return [F.min(f"h{i}").alias(f"h{i}") for i in range(MH_K)]


def _mh_cols_sql() -> str:
    parts = []
    for g in range(MH_GROUPS):
        for j in range(MH_PER_GROUP):
            parts.append(
                f"min(substr(md5('mh{g}|' || shingle), {8 * j + 1}, 8))"
                f" AS h{g * MH_PER_GROUP + j}"
            )
    return ",\n         ".join(parts)


def _band_exprs() -> list[list[str]]:
    rows = MH_K // MH_BANDS
    return [[f"h{b * rows + r}" for r in range(rows)] for b in range(MH_BANDS)]


MINHASH_ORACLE = f"""
WITH shingles AS ({word_ngrams_sql(MH_N)}),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         {_mh_cols_sql()}
  FROM shingles GROUP BY doc_id
),
bands AS (
{" UNION ALL ".join(
    f"  SELECT doc_id, {b} AS band_id, md5({' || '.join(cols)}) AS band_hash FROM sigs"
    for b, cols in enumerate(_band_exprs())
)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_id_a
  JOIN shingles b ON b.doc_id = c.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       ROUND(CAST(i.n_common AS DOUBLE)
             / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= {MH_JACCARD}
"""


@query("dedup_minhash_lsh", MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # duplicate shingles don't change min-hash mins or collect_set
    # verification → skip the distinct's 250k-row shuffle.
    # spread: parallelize the shingle explode + 16 min-hash slices off
    # the one-row-group scan (no-op on multi-file corpora); hash by
    # doc_id skips round-robin's local row sort. A/B: SURVEY.md item 13 (r11).
    shingles = word_ngrams(spread(d, by="doc_id"), MH_N, distinct=False)
    shingles = pin(shingles, "minhash shingles")
    # Pinned like estimate-quality's signature table: both sides of the
    # band self-join otherwise re-run the 16 min-aggregations (the
    # initial plan shows no ReusedExchange for the aliased subtrees).
    # |docs| rows x 16 fixed-width hex — dimension-bounded.
    sigs = pin(
        shingles.select("doc_id", *_mh_slice_cols())
        .groupBy("doc_id")
        .agg(*_mh_cols_spark()),
        "minhash signatures",
    )
    # ALL band hashes in one projection + posexplode — a union of four
    # sigs.select(...) branches would re-run the signature aggregation
    # once per band (union branches don't share subplans).
    band_arr = F.array(
        *[
            F.md5(F.concat(*[F.col(c) for c in cols]).cast("binary"))
            for cols in _band_exprs()
        ]
    )
    bands = sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band_id", "band_hash")
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_hash") == F.col("bb.band_hash"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_id_a"),
            F.col("bb.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    return _verify_jaccard(shingles, cand, MH_JACCARD)


# --------------------------------------------------------------------------
# F4 — SimHash near-dup detection (32-bit; weighted by token frequency).
# Token hash = first 8 hex chars of md5, decoded with a portable
# instr-based hex parse (identical SQL fragment runs on both engines).
# Candidates: pigeonhole on 8-bit chunks (hamming <= 3 implies >=1 of
# the 4 chunks is equal), then exact hamming filter via xor+bit_count.
#
# Design notes (scale):
# - 32 bits, not 16: on a 16-bit hash ~5k docs already produce ~1.5M
#   hamming<=3 pairs (birthday collisions, not near-dups) — the output
#   itself goes quadratic. 32 bits keeps random collisions ~1e-6/pair.
# - Candidate generation is an EQUI-join on (chunk_id, chunk_value)
#   after exploding each doc into its 4 chunks — a hash join Spark can
#   shuffle by key. An OR-of-chunk-equalities join predicate is not
#   equi-joinable and degenerates to a nested-loop over all pairs.
# --------------------------------------------------------------------------

SH_BITS = 32
SH_HAMMING_MAX = 3
SH_CHUNKS = 4  # 8-bit chunks; pigeonhole valid while SH_HAMMING_MAX < SH_CHUNKS

# Portable hex→int parser over the first 8 md5 hex chars.
_HEX32 = (
    "("
    + " + ".join(
        f"CAST(instr('0123456789abcdef', substr(md5(token), {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)


def _simhash_agg_sql() -> str:
    """SUM of +/-cnt per bit, folded into a 32-bit integer (as BIGINT)."""
    bits = []
    for j in range(SH_BITS):
        bit = f"(CAST(floor(h32 / {float(2 ** j)}) AS BIGINT) % 2)"
        bits.append(
            f"(CASE WHEN SUM(cnt * (2 * {bit} - 1)) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


_SIMHASH_DOCS_SQL = f"""
  SELECT doc_id, {_simhash_agg_sql()} AS simhash
  FROM (
    SELECT doc_id, token, COUNT(*) AS cnt, {_HEX32} AS h32
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    WHERE token <> ''
    GROUP BY doc_id, token
  )
  GROUP BY doc_id
"""

_CHUNKS_SQL = ", ".join(
    f"CAST(floor(simhash / {256 ** c}.0) AS BIGINT) % 256 AS c{c}"
    for c in range(SH_CHUNKS)
)

SIMHASH_ORACLE = f"""
WITH sim AS ({_SIMHASH_DOCS_SQL}),
chunked AS (
  SELECT doc_id, simhash, {_CHUNKS_SQL} FROM sim
),
bands AS (
{" UNION ALL ".join(
    f"  SELECT doc_id, simhash, {c} AS chunk_id, c{c} AS chunk_val FROM chunked"
    for c in range(SH_CHUNKS)
)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a
  JOIN bands b ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
             AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {SH_HAMMING_MAX}
"""


@query("dedup_simhash", SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) re-instated r17: the r11 "slower" A/B ran the
    # round-robin arm (local sort of wide text rows before the
    # exchange); the r17 event-log profile showed the simhash
    # two-level aggregation as ONE 1.25s task (the checkpoint pins
    # the single-row-group scan layout downstream). The by="doc_id"
    # hash arm skips the sort. A/B: see OPTIMIZATION_r17.md. At
    # 100 TB the scan is wide and spread() no-ops.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h32", F.expr(_HEX32))
    )
    bit_cases = []
    for j in range(SH_BITS):
        bit = (F.floor(F.col("h32") / float(2**j)).cast("long") % 2)
        s_j = F.sum(F.col("cnt") * (2 * bit - 1))
        bit_cases.append(F.when(s_j > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    simhash = reduce(lambda x, y: x + y, bit_cases).cast("long")
    # Pin the per-doc simhash table: both sides of the chunk self-join
    # otherwise re-run the tokenize + two-level aggregation (the plan
    # shows two documents scans and no ReusedExchange). |docs| rows x
    # one long — dimension-bounded.
    sim = toks.groupBy("doc_id").agg(simhash.alias("simhash"))
    sim = pin(sim, "simhash signatures")
    # explode into (chunk_id, chunk_val) bands → candidate equi-join
    chunks = F.array(
        *[
            (F.floor(F.col("simhash") / float(256**c)).cast("long") % 256)
            for c in range(SH_CHUNKS)
        ]
    )
    bands = sim.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("chunk_id", "chunk_val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= SH_HAMMING_MAX)
        .distinct()
    )


# --------------------------------------------------------------------------
# F6 — near-dup pairs → duplicate CLUSTERS via distributed connected
# components (operators/graph.py iterative label propagation; oracle =
# recursive-CTE transitive closure over the identical edge set).
# Near-dup similarity is not transitive, so this is the step that turns
# pairwise Jaccard hits into "keep one doc per cluster" decisions.
# --------------------------------------------------------------------------

CC_ORACLE = f"""
WITH RECURSIVE pairs AS ({NGRAM_JACCARD_ORACLE}),
sym AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
  UNION
  SELECT doc_id_b, doc_id_a FROM pairs
  UNION
  SELECT doc_id_a, doc_id_a FROM pairs
  UNION
  SELECT doc_id_b, doc_id_b FROM pairs
),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u
"""


@query("dedup_connected_components", CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.graph import connected_components

    edges = ngram_jaccard_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    cc = connected_components(edges, src="doc_id_a", dst="doc_id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query("dedup_clusters_lsss", CC_ORACLE)
def dedup_clusters_lsss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 via large-star/small-star contraction
    (operators/graph.connected_components_lsss) — same clusters as
    dedup_connected_components, O(log n) rounds instead of
    O(diameter). The driver gate proves both algorithms agree with
    the recursive-CTE transitive closure on the same edge set; the
    long-chain advantage is asserted in tests/test_graph.py (200-node
    chain, max_iter=12)."""
    from drive_bc_datapipeline_spark.operators.graph import (
        connected_components_lsss,
    )

    edges = ngram_jaccard_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    cc = connected_components_lsss(edges, src="doc_id_a", dst="doc_id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# H5 — deterministic train/eval split. Training pipelines need splits
# that are REPRODUCIBLE (same doc always lands in the same split, on
# any cluster, any run — rand()-based sampleBy is neither) and
# JOIN-FREE (the split is a pure function of the key). Bucket =
# md5(doc_id) mod 100, identical arithmetic in both engines.
# --------------------------------------------------------------------------

TRAIN_PCT = 80

# first 8 md5 hex chars of the doc_id string → int, mod 100
_SPLIT_BUCKET_SQL = (
    "(("
    + " + ".join(
        "CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), "
        f"{i + 1}, 1)) - 1 AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ") % 100)"
)

SPLIT_ORACLE = f"""
SELECT CASE WHEN {_SPLIT_BUCKET_SQL} < {TRAIN_PCT} THEN 'train' ELSE 'eval' END
         AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


@query("split_train_eval", SPLIT_ORACLE)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
    )
    return (
        d.withColumn(
            "split",
            F.when(bucket < TRAIN_PCT, "train").otherwise("eval"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# H6 — table profiling: per-column null/distinct/extent statistics in
# ONE pass (training-data validation gate; the reference eyeballed
# printSchema + counts).
# --------------------------------------------------------------------------

PROFILE_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT doc_id) AS distinct_doc_id,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
       COUNT(DISTINCT lang) AS distinct_lang,
       COUNT(DISTINCT source) AS distinct_source,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       MIN(length(text)) AS min_len,
       MAX(length(text)) AS max_len
FROM documents
"""


@query("table_profile_documents", PROFILE_ORACLE)
def table_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("distinct_doc_id"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        F.countDistinct("lang").alias("distinct_lang"),
        F.countDistinct("source").alias("distinct_source"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.min(F.length("text")).alias("min_len"),
        F.max(F.length("text")).alias("max_len"),
    )


# --------------------------------------------------------------------------
# F7 — edit-distance near-match on document prefixes, with exact-prefix
# blocking. Levenshtein is the classic "typo-level" dedup primitive
# (catches char-level variants that token-level Jaccard misses). The
# O(len²) DP cost per pair is only affordable on CANDIDATES, so pairs
# are blocked on a shared exact 8-char prefix — one equi-join — and the
# distance runs on 40-char prefixes of candidates only.
# --------------------------------------------------------------------------

LEV_BLOCK = 8
LEV_PREFIX = 40
LEV_MAX = 5

LEV_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         substr(text, 1, {LEV_BLOCK}) AS blk,
         substr(text, 1, {LEV_PREFIX}) AS prefix
  FROM documents
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_dist
FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= {LEV_MAX}
"""


@query("dedup_levenshtein_prefix", LEV_ORACLE)
def dedup_levenshtein_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.substring("text", 1, LEV_BLOCK).alias("blk"),
        F.substring("text", 1, LEV_PREFIX).alias("prefix"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= LEV_MAX)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            dist.cast("int").alias("edit_dist"),
        )
    )


# --------------------------------------------------------------------------
# H7 — stratified sampling with per-group rates (e.g. downsample
# dominant languages, keep the tail whole). Deterministic: the same
# hash bucket as H5 compared against a per-lang rate — reproducible on
# any run/cluster, no RNG, no join.
# --------------------------------------------------------------------------

STRATA_RATES = {"en": 50, "de": 30}  # pct kept; default for the tail
STRATA_DEFAULT = 100

_RATE_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_RATES.items())
    + f" ELSE {STRATA_DEFAULT} END"
)

STRATIFIED_ORACLE = f"""
SELECT lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {_SPLIT_BUCKET_SQL} < {_RATE_CASE_SQL} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
"""


@query("stratified_sample_documents", STRATIFIED_ORACLE)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
    )
    rate = F.expr(_RATE_CASE_SQL)
    return (
        d.withColumn("keep", (bucket < rate).cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("keep").alias("n_sampled"),
        )
    )


# --------------------------------------------------------------------------
# F8 — train/eval decontamination: eval documents sharing at least one
# 8-gram with ANY train document, with the shared-shingle count as the
# contamination score. The standard benchmark-decontamination op: a
# model must not be evaluated on text its training split contains.
# Splits reuse the deterministic H5 hash buckets; the check is one
# semi-style join on the shingle key (train side deduped — the 100 TB
# cost is |shingles| shuffled once, not train x eval).
# --------------------------------------------------------------------------

DECON_N = 8

DECON_ORACLE = f"""
WITH sh AS ({word_ngrams_sql(DECON_N)}),
b AS (
  SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket FROM documents
),
train_sh AS (
  SELECT DISTINCT shingle FROM sh JOIN b USING (doc_id)
  WHERE b.bucket < {TRAIN_PCT}
),
eval_sh AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN b USING (doc_id)
  WHERE b.bucket >= {TRAIN_PCT}
)
SELECT doc_id AS eval_doc_id, COUNT(*) AS n_shared_shingles
FROM eval_sh
WHERE shingle IN (SELECT shingle FROM train_sh)
GROUP BY doc_id
"""


@query("decontaminate_eval", DECON_ORACLE)
def decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) r17: the 8-gram shingle + md5-bucket projection
    # ran single-task on the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
    )
    # bucket is a pure function of doc_id — derive it INLINE on the
    # shingle frame instead of joining the corpus back (the join shape
    # re-ran the scan+shingle pipeline once per split branch: 4 scans)
    sh_b = word_ngrams(d, DECON_N).withColumn("bucket", bucket)
    train_sh = (
        sh_b.filter(F.col("bucket") < TRAIN_PCT).select("shingle").distinct()
    )
    eval_sh = sh_b.filter(F.col("bucket") >= TRAIN_PCT).select(
        "doc_id", "shingle"
    )
    return (
        eval_sh.join(train_sh, "shingle", "left_semi")
        .groupBy(F.col("doc_id").alias("eval_doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


# --------------------------------------------------------------------------
# H8 — intra-document repetition score: repeated-trigram mass per doc
# (repetitive boilerplate is low-quality training text; this is the
# doc-level counterpart of corpus-level dedup). One narrow pass: all
# trigrams vs distinct trigrams per doc.
# --------------------------------------------------------------------------

REP_N = 3

REPETITION_ORACLE = f"""
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, greatest(len(tokens) - {REP_N - 1}, 0)),
             i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]
         )) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(DISTINCT g) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*), 4)
         AS repetition
FROM grams
WHERE g <> ''
GROUP BY doc_id
"""


@query("doc_repetition_score", REPETITION_ORACLE)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) r17: the REP_N gram build ran single-task on
    # the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    grams = word_ngrams(d, REP_N, distinct=False)
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("shingle").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_grams"), 4
            ).alias("repetition"),
        )
    )


# --------------------------------------------------------------------------
# F10 — canonical selection: turn exact-dup groups (F1's hash-groupBy)
# into an explicit keep/drop mapping. Canonical = longest text, then
# lowest doc_id — the "keep the richest copy" policy a training-data
# pipeline applies before dropping duplicates.
#
# 100 TB: one hash shuffle + per-group window; group width = copies of
# one exact text, naturally bounded (and the window never sees more
# than a group at once).
# --------------------------------------------------------------------------

CANONICAL_ORACLE = """
WITH g AS (
  SELECT doc_id, n_chars, md5(text) AS text_hash FROM documents
),
ranked AS (
  SELECT doc_id, n_chars, text_hash,
         ROW_NUMBER() OVER (
           PARTITION BY text_hash ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM g
),
canon AS (
  SELECT text_hash, doc_id AS canonical_id FROM ranked WHERE rn = 1
)
SELECT g.doc_id, c.canonical_id,
       CAST(CASE WHEN g.doc_id = c.canonical_id THEN 0 ELSE 1 END
            AS INTEGER) AS is_dupe
FROM g JOIN canon c ON c.text_hash = g.text_hash
"""


@query("dedup_keep_canonical", CANONICAL_ORACLE)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
    )
    w = Window.partitionBy("text_hash").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    canonical = F.first("doc_id").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return g.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") != canonical).cast("int").alias("is_dupe"),
    )


# --------------------------------------------------------------------------
# H10 — per-document top terms by tf·(N/df) — a tf-idf-style relevance
# rank using EXACT rational arithmetic (tf·N/df is one IEEE division;
# ln()-based idf is libm-dependent and can differ in the last ulp
# between engines, which flips ranks on near-ties). Ranks break ties on
# the token string, so the top-k is fully deterministic.
#
# 100 TB: tf is one (doc, token) shuffle with map-side combine, df one
# token shuffle; the df side is orders smaller than the tf side
# (vocabulary vs corpus) and AQE broadcasts it when it fits. The final
# per-doc window shuffles on doc_id. No driver-side state: the corpus
# size joins in as a broadcast single-row aggregate.
# --------------------------------------------------------------------------

TOP_TERMS_K = 3

TERM_RELEVANCE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * nd.n_docs / df.df AS score
  FROM tf JOIN df ON df.token = tf.token CROSS JOIN nd
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, token
  ) AS rnk
  FROM scored
)
SELECT doc_id, token, CAST(rnk AS INTEGER) AS rnk,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       {r4_sql("score")} AS score
FROM ranked WHERE rnk <= {TOP_TERMS_K}
"""


@query("term_relevance_topk", TERM_RELEVANCE_ORACLE)
def term_relevance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    # Re-scan audit note: tf is (doc, token)-scale — proportional to
    # corpus tokens, NOT dimension-bounded — so its two consumers (df
    # aggregate + the scored join) re-scan pruned parquet rather than
    # checkpoint a corpus-sized relation; n_docs is a third, column-
    # pruned scan. 3 scans by design.
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    nd = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_TERMS_K)
        .select(
            "doc_id",
            "token",
            F.col("rnk").cast("int").alias("rnk"),
            "tf",
            "df",
            r4(F.col("score")).alias("score"),
        )
    )


# --------------------------------------------------------------------------
# H10 — corpus vocabulary statistics: total tokens, vocabulary size,
# hapax count (df=1 — the long tail that dominates LLM tokenizer
# training decisions), and the most frequent token (lexicographic
# tiebreak). One (doc,token)-free aggregation chain: token counts with
# map-side combine, then a tiny second agg.
#
# 100 TB: the token shuffle is the only big exchange; everything after
# it is vocabulary-sized (orders smaller than the corpus).
# --------------------------------------------------------------------------

VOCAB_STATS_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
  FROM toks WHERE token <> '' GROUP BY token
),
top AS (
  SELECT token FROM counts ORDER BY n DESC, token LIMIT 1
)
SELECT CAST((SELECT SUM(n) FROM counts) AS BIGINT) AS n_tokens,
       CAST((SELECT COUNT(*) FROM counts) AS BIGINT) AS vocab_size,
       CAST((SELECT COUNT(*) FROM counts WHERE df = 1) AS BIGINT) AS n_hapax_docs,
       CAST((SELECT MAX(n) FROM counts) AS BIGINT) AS max_count,
       (SELECT token FROM top) AS top_token
"""


@query("vocab_stats", VOCAB_STATS_ORACLE)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("df"),
        )
    )
    # top token in the SAME aggregation: min over a (-n, token) struct
    # is lexicographic (highest count, then smallest token) — a
    # separate sort-limit branch would re-execute the corpus-wide
    # token explode+shuffle a second time (no exchange reuse across
    # the crossJoin's independent subtrees).
    top = F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("token").alias("t")))
    return counts.agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum((F.col("df") == 1).cast("long")).alias("n_hapax_docs"),
        F.max("n").alias("max_count"),
        top.getField("t").alias("top_token"),
    )


# --------------------------------------------------------------------------
# F11 — MinHash sketch quality gate: for every LSH candidate pair,
# the signature-estimated Jaccard (matching minhash components / k)
# against the exact Jaccard — the same estimator-vs-truth audit
# ann_recall_at_k runs for the ANN path. est is an exact multiple of
# 1/16 and exact Jaccard is one rational division, so both engines
# agree bit-for-bit.
#
# 100 TB: runs on candidate pairs only (the banding join's output), so
# its cost is the sketch pipeline's own cost plus one docset join —
# the audit never touches non-candidate pairs.
# --------------------------------------------------------------------------

MINHASH_QUALITY_ORACLE = f"""
WITH shingles AS ({word_ngrams_sql(MH_N)}),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         {_mh_cols_sql()}
  FROM shingles GROUP BY doc_id
),
bands AS (
{" UNION ALL ".join(
    f"  SELECT doc_id, {b} AS band_id, md5({' || '.join(cols)}) AS band_hash FROM sigs"
    for b, cols in enumerate(_band_exprs())
)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_id_a
  JOIN shingles b ON b.doc_id = c.doc_id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
est AS (
  SELECT c.doc_id_a, c.doc_id_b,
         ({" + ".join(
             f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
             for i in range(MH_K)
         )}) / {MH_K}.0 AS est_jac
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_id_a
  JOIN sigs sb ON sb.doc_id = c.doc_id_b
)
SELECT e.doc_id_a, e.doc_id_b,
       ROUND(e.est_jac, 4) AS est_jaccard,
       ROUND(CAST(i.n_common AS DOUBLE)
             / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard,
       ROUND(abs(e.est_jac - CAST(i.n_common AS DOUBLE)
             / (sa.n_sh + sb.n_sh - i.n_common)), 4) AS est_err
FROM est e
JOIN inter i ON i.doc_id_a = e.doc_id_a AND i.doc_id_b = e.doc_id_b
JOIN sizes sa ON sa.doc_id = e.doc_id_a
JOIN sizes sb ON sb.doc_id = e.doc_id_b
"""


@query("minhash_estimate_quality", MINHASH_QUALITY_ORACLE)
def minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # spread by doc_id for dedup_minhash_lsh's one-row-group shingle
    # parallelism. A/B: SURVEY.md item 13 (r11).
    shingles = word_ngrams(spread(d, by="doc_id"), MH_N, distinct=False)
    shingles = pin(shingles, "minhash shingles")
    # Pin the signature table too: it feeds four subtrees (both sides
    # of the band self-join + both sides of the signature-agreement
    # compare). Measured at sf0.1: steady-state is a wash (AQE's
    # exchange reuse already de-duplicates most of the aggregation),
    # but the COLD pass — which is what the driver's once-per-round
    # gate and the first bench pass pay — drops ~2x (6.7s -> 3.7s).
    # |docs| rows x 16 fixed-width hex — linear, narrow.
    sigs = pin(
        shingles.select("doc_id", *_mh_slice_cols())
        .groupBy("doc_id")
        .agg(*_mh_cols_spark()),
        "minhash signatures",
    )
    band_arr = F.array(
        *[
            F.md5(F.concat(*[F.col(c) for c in cols]).cast("binary"))
            for cols in _band_exprs()
        ]
    )
    bands = sigs.select(
        "doc_id", F.posexplode(band_arr).alias("band_id", "band_hash")
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_hash") == F.col("bb.band_hash"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_id_a"),
            F.col("bb.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(MH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(MH_K)],
    )
    est = reduce(
        lambda x, y: x + y,
        [(F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(MH_K)],
    ) / float(MH_K)
    # exact Jaccard for the same candidate pairs (no threshold filter —
    # this is the audit, not the dedup decision). Hash-sets are built
    # for the full corpus here: this testdata's duplication rate puts
    # MOST docs in some candidate pair, so a candidate-restricted
    # semi-join (the _verify_jaccard trick) measured SLOWER (5.1s vs
    # 3.5s at sf0.1 — the extra materialization outweighs the shrink).
    # At a low-duplication 100 TB corpus, restrict like _verify_jaccard.
    docsets = (
        shingles.select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hs"))
    )
    da, db = docsets.alias("da"), docsets.alias("db")
    n_common = F.size(F.array_intersect(F.col("da.hs"), F.col("db.hs")))
    n_union = F.size("da.hs") + F.size("db.hs") - n_common
    jac = n_common.cast("double") / n_union
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn("est_jac", est)
        .join(da, F.col("doc_id_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_id_b") == F.col("db.doc_id"))
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round("est_jac", 4).alias("est_jaccard"),
            F.round(jac, 4).alias("jaccard"),
            F.round(F.abs(F.col("est_jac") - jac), 4).alias("est_err"),
        )
    )


# --------------------------------------------------------------------------
# H11 — per-source dedup / quality rollup: for each ingestion source,
# document count, distinct-text count, duplicate ratio, and mean doc
# length — the triage table that decides which feeds get dropped or
# re-crawled before training. One hash aggregation (count-distinct of
# the 128-bit content hash per source).
#
# 100 TB: single shuffle keyed by source; count(distinct md5) runs as
# a two-level aggregate (partial dedup map-side). Sources are few, so
# the final exchange is tiny; a pathological single-source corpus
# would fall back to the partial-agg tree without a hot reducer.
# --------------------------------------------------------------------------

SOURCE_ROLLUP_ORACLE = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 4)
         AS dup_ratio,
       ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
FROM documents
GROUP BY source
"""


@query("dedup_rate_by_source", SOURCE_ROLLUP_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(h).alias("n_unique"),
            F.round(
                1.0 - F.countDistinct(h).cast("double") / F.count(F.lit(1)), 4
            ).alias("dup_ratio"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        )
    )


# --------------------------------------------------------------------------
# H12 — corpus-wide top bigrams: the n-gram frequency table every
# tokenizer-training / corpus-inspection pipeline starts from.
# Deterministic top-20 via row_number ordered (count DESC, bigram ASC).
#
# 100 TB: explode fans each doc into ~n_tokens rows, the count is one
# shuffle on bigram with map-side partial aggregation, and the global
# top-k is a single-partition window over the already-aggregated
# relation — the classic wordcount shape, which is exactly what
# Catalyst plans here. No driver collect, no second corpus pass.
# --------------------------------------------------------------------------

TOP_BIGRAMS_ORACLE = """
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
bg AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks WHERE len(tk) >= 2
),
counted AS (
  SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
),
ranked AS (
  SELECT bigram, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rnk
  FROM counted
)
SELECT CAST(rnk AS INT) AS rnk, bigram, n
FROM ranked WHERE rnk <= 20
"""


@query("top_bigrams_corpus", TOP_BIGRAMS_ORACLE)
def top_bigrams_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    bigrams = (
        d.select(toks.alias("tk"))
        .filter(F.size("tk") >= 2)
        # sequence(0, size-2) is ascending because size >= 2 is already
        # guaranteed (sequence(1, 0) would DESCEND, not be empty).
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 2),"
                    " i -> concat(tk[i], ' ', tk[i + 1]))"
                )
            ).alias("bigram")
        )
    )
    counted = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    # Global top-20 via orderBy+limit = TakeOrderedAndProject (per-
    # partition partial top-k, then a 20-row merge on the driver side
    # of the exchange) — NOT a single-partition window over the whole
    # bigram vocabulary, which at corpus scale is billions of rows in
    # one task. The row_number window then ranks only the 20 survivors.
    top = counted.orderBy(F.desc("n"), F.asc("bigram")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("bigram"))
    return top.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "rnk", "bigram", "n"
    )


# --------------------------------------------------------------------------
# H13 — quality-filter funnel: stage-by-stage survival counts for the
# H1 quality gates — the triage readout a data curation run reports
# (how many docs each filter removes, and how many survive all).
# Single pass, conditional aggregation, one-row result; every ratio
# definition is shared verbatim with text_quality_score (H1).
#
# 100 TB: one narrow scan + map-side conditional sums into a 1-row
# global aggregate — no shuffle of row data at all.
# --------------------------------------------------------------------------

FUNNEL_ORACLE = f"""
WITH stats AS (
  SELECT length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             x -> x IN {STOPWORDS!r})) AS n_stop,
         length(text) - length(regexp_replace(text, '{PUNCT_RE}', '', 'g')) AS n_punct
  FROM documents
),
flags AS (
  SELECT CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) >= 0.05
              THEN 1 ELSE 0 END AS stop_ok,
         CASE WHEN CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.20
              THEN 1 ELSE 0 END AS punct_ok
  FROM stats
)
SELECT COUNT(*)                                        AS n_total,
       CAST(SUM(len_ok) AS BIGINT)                     AS n_len_ok,
       CAST(SUM(stop_ok) AS BIGINT)                    AS n_stop_ok,
       CAST(SUM(punct_ok) AS BIGINT)                   AS n_punct_ok,
       CAST(SUM(len_ok * stop_ok * punct_ok) AS BIGINT) AS n_pass_all
FROM flags
"""


@query("quality_filter_funnel", FUNNEL_ORACLE)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tokens = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_tokens = F.size(tokens)
    n_chars = F.length("text")
    n_stop = F.size(F.filter(tokens, lambda x: x.isin(*STOPWORDS)))
    n_punct = n_chars - F.length(F.regexp_replace("text", PUNCT_RE, ""))
    len_ok = (n_tokens >= 10).cast("long")
    stop_ok = (
        n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)) >= 0.05
    ).cast("long")
    punct_ok = (
        n_punct.cast("double") / F.greatest(n_chars, F.lit(1)) <= 0.20
    ).cast("long")
    return d.select(
        len_ok.alias("len_ok"),
        stop_ok.alias("stop_ok"),
        punct_ok.alias("punct_ok"),
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("len_ok").alias("n_len_ok"),
        F.sum("stop_ok").alias("n_stop_ok"),
        F.sum("punct_ok").alias("n_punct_ok"),
        F.sum(
            F.col("len_ok") * F.col("stop_ok") * F.col("punct_ok")
        ).alias("n_pass_all"),
    )


# --------------------------------------------------------------------------
# H14 — cross-source shingle overlap: for every source pair, how many
# distinct 8-gram shingles they share — the provenance contamination
# matrix a corpus curator reads to see which crawls echo each other
# (the pairwise generalization of decontaminate_eval's train/eval
# check; same 8-gram currency).
#
# 100 TB: the distinct (source, shingle) relation dedups map-side
# before its shuffle; the self-join keys on the shingle — high-
# cardinality with a bounded per-shingle source list (≤ |sources|), so
# fan-out per key is dim-bounded — and the pair rollup output is at
# most |sources|² rows. Boilerplate shingles shared by MANY sources
# multiply pairs quadratically in |sources| only, never in documents.
# --------------------------------------------------------------------------

OVERLAP_N = 8

_overlap_parts = " || ' ' || ".join(f"tokens[i + {j}]" for j in range(OVERLAP_N))

SOURCE_OVERLAP_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source,
           unnest(list_transform(
               generate_series(1, greatest(len(tokens) - {OVERLAP_N - 1}, 0)),
               i -> {_overlap_parts}
           )) AS shingle
    FROM (SELECT source, string_split(text, ' ') AS tokens FROM documents)
  ) WHERE shingle <> ''
)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS shared_shingles
FROM sh a
JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY a.source, b.source
"""


@query("cross_source_content_overlap", SOURCE_OVERLAP_ORACLE)
def cross_source_content_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) r17: tokenize+shingle+hash ran single-task on
    # the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    # Hash shingles to 64 bits BEFORE the distinct and the self-join
    # (the F3 hash-early pattern): both shuffles then carry fixed-width
    # keys instead of N-word strings. The join key is (h, shingle
    # length), not h alone: a bare-64-bit collision between DISTINCT
    # shingles shared across a source pair would inflate
    # shared_shingles vs the oracle's raw-string join with nothing
    # downstream to catch it (unlike the _verify_jaccard paths). The
    # length guard makes a miscount require equal hash AND equal byte
    # length — residual risk ~|same-length shingles|²/2⁶⁵, and the
    # shuffle rows grow 16 → 20 bytes, still far below the raw token
    # stream. Pinned: both sides of the self-join otherwise re-run the
    # full tokenize + explode + distinct (no ReusedExchange for the
    # aliased subtrees — the simhash/minhash finding).
    sh = pin(
        d.select("source", F.split("text", " ").alias("toks"))
        .select(
            "source",
            F.explode(text_fns.word_shingles("toks", OVERLAP_N)).alias(
                "shingle"
            ),
        )
        .filter(F.col("shingle") != "")
        .select(
            "source",
            F.xxhash64("shingle").alias("h"),
            F.length("shingle").alias("ln"),
        )
        .distinct(),
        "source shingles",
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.ln") == F.col("b.ln"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


# --------------------------------------------------------------------------
# H15 — feature hashing (the "hashing trick"): bag-of-words folded into
# a fixed D-bucket space, emitted as the sparse (doc_id, bucket, n)
# relation — vocabulary-free text featurization whose width is fixed
# no matter how the corpus grows (the property that makes it THE
# text-to-vector path at 100 TB: no vocab build, no dictionary
# broadcast, one narrow pass + one shuffle).
#
# The bucket hash is md5-derived on BOTH engines (first 8 hex chars →
# int mod D) — engine-native hashes (xxhash64 vs DuckDB's hash) don't
# match across engines, md5 does. ANSI note: the 8-hex parse fits an
# INT but the CAST goes through BIGINT for safety.
# --------------------------------------------------------------------------

FEAT_HASH_D = 64

FEATURE_HASHING_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents
)
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
            % {FEAT_HASH_D} AS INT) AS bucket,
       COUNT(*) AS n
FROM tok
GROUP BY 1, 2
"""


@query("text_feature_hashing", FEATURE_HASHING_ORACLE)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    )
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
        .cast("bigint")
        % FEAT_HASH_D
    ).cast("int")
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# H16 — training-shard packing: assign docs to fixed-capacity shards
# by cumulative size in deterministic doc_id order — the
# webdataset/tar-shard export step that turns a curated corpus into
# sequentially-readable training files.
#
# shard_id = floor(exclusive_prefix_sum(n_chars) / CAP): a document
# spans into the shard where its first byte lands (greedy packing,
# deterministic, no driver loop over docs).
#
# 100 TB: the oracle's `SUM() OVER (ORDER BY doc_id)` is the textbook
# SINGLE-partition window — unusable at scale. The engine side runs
# operators/prefix.exclusive_prefix_sum instead: range-partition +
# per-partition totals + broadcast offsets (the parallel-scan shape),
# bit-identical because integer addition is associative. The driver
# gate proves the two agree.
# --------------------------------------------------------------------------

SHARD_CAP_CHARS = 20_000

SHARD_PACKING_ORACLE = f"""
WITH scanned AS (
  SELECT doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING
         ), 0) AS start_off
  FROM documents
)
SELECT CAST(floor(start_off / {SHARD_CAP_CHARS}) AS BIGINT) AS shard_id,
       COUNT(*)     AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS shard_chars,
       MIN(doc_id)  AS first_doc,
       MAX(doc_id)  AS last_doc
FROM scanned
GROUP BY 1
"""


@query("shard_packing", SHARD_PACKING_ORACLE)
def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.prefix import (
        exclusive_prefix_sum,
    )

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scanned = exclusive_prefix_sum(
        d, order_col="doc_id", value_col="n_chars", out_col="start_off"
    )
    return (
        scanned.withColumn(
            "shard_id",
            F.floor(F.col("start_off") / SHARD_CAP_CHARS).cast("bigint"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("shard_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --------------------------------------------------------------------------
# H17 — training-window chunking: split each document into overlapping
# token windows (size CHUNK_W, stride CHUNK_S) — the step that turns a
# curated corpus into fixed-length training examples. Emitted as
# (doc_id, chunk_idx, n_tokens, chunk_md5): the hash stands in for the
# chunk text so the verified surface stays narrow (md5 is
# engine-identical; downstream consumers re-slice by idx).
#
# Tail rule: windows start at 0, S, 2S, ... while they have a full W
# tokens, plus one final short window for the remainder IF any tokens
# remain uncovered — every token lands in ≥1 chunk, docs shorter than
# W yield exactly one chunk.
#
# 100 TB: pure per-row array arithmetic (split → slice → explode), no
# shuffle at all — the plan is a single narrow projection stage, which
# is exactly what you want bolted in front of a tokenizer.
# --------------------------------------------------------------------------

CHUNK_W = 32
CHUNK_S = 24

CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
starts AS (
  SELECT doc_id, tk,
         CASE
           WHEN len(tk) <= {CHUNK_W} THEN [0]
           ELSE list_transform(
             range(0, ((len(tk) - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}) + 1),
             i -> i * {CHUNK_S})
         END AS offs
  FROM toks WHERE len(tk) > 0
)
SELECT doc_id,
       CAST(c.idx AS INT) AS chunk_idx,
       CAST(len(tk[c.off + 1 : c.off + {CHUNK_W}]) AS INT) AS n_tokens,
       md5(array_to_string(tk[c.off + 1 : c.off + {CHUNK_W}], ' '))
         AS chunk_md5
FROM (
  SELECT doc_id, tk,
         unnest(list_transform(range(1, len(offs) + 1),
                i -> struct_pack(idx := i - 1, off := offs[i]))) AS c
  FROM starts
)
"""


@query("chunk_documents", CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tk = F.filter(F.split("text", " "), lambda x: x != "")
    toks = d.select("doc_id", tk.alias("tk")).filter(F.size("tk") > 0)
    # starts: 0, S, ... covering every token; short docs → single [0]
    offs = F.expr(
        f"CASE WHEN size(tk) <= {CHUNK_W} THEN array(0) "
        f"ELSE transform("
        f"  sequence(0, cast(ceil((size(tk) - {CHUNK_W}) / {CHUNK_S}.0) as int)),"
        f"  i -> i * {CHUNK_S}) END"
    )
    chunks = toks.select(
        "doc_id", "tk", F.posexplode(offs).alias("chunk_idx", "off")
    )
    piece = F.expr(f"slice(tk, off + 1, {CHUNK_W})")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# H18 — token-entropy quality scoring: per-document unigram Shannon
# entropy (bits/token) and type-token ratio, rolled up per (lang,
# source). Low entropy = repetitive/templated text, the diversity
# signal quality filters threshold on; complements H8 (adjacent-line
# repetition) with a distribution-level measure.
#
# H = log2(N) - SUM(cnt * log2(cnt)) / N over the doc's token counts —
# one associative aggregate per doc, so the whole query is two
# hash-aggregate levels: (doc, token) counts → per-doc entropy →
# per-(lang, source) rollup.
#
# 100 TB: tokens never leave their map task un-aggregated twice — the
# (doc_id, token) combine is map-side partial, the per-doc frame is
# |docs| rows, the final rollup |lang x source|. No windows, no joins.
# --------------------------------------------------------------------------

TOKEN_ENTROPY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS token
  FROM documents
),
cnt AS (
  SELECT doc_id, lang, source, token, COUNT(*) AS c
  FROM tok WHERE token <> '' GROUP BY 1, 2, 3, 4
),
per_doc AS (
  SELECT doc_id, lang, source,
         SUM(c) AS n_tok,
         COUNT(*) AS n_types,
         log2(SUM(c)) - SUM(c * log2(c)) / SUM(c) AS entropy
  FROM cnt GROUP BY 1, 2, 3
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       {r4_sql('AVG(entropy)')} AS avg_entropy,
       {r4_sql('AVG(CAST(n_types AS DOUBLE) / n_tok)')} AS avg_ttr
FROM per_doc
GROUP BY lang, source
"""


@query("token_entropy_by_source", TOKEN_ENTROPY_ORACLE)
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("doc_id", "lang", "source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = cnt.groupBy("doc_id", "lang", "source").agg(
        F.sum("c").alias("n_tok"),
        F.count(F.lit(1)).alias("n_types"),
        (
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c")
        ).alias("entropy"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r4(F.avg("entropy")).alias("avg_entropy"),
        r4(F.avg(F.col("n_types").cast("double") / F.col("n_tok"))).alias(
            "avg_ttr"
        ),
    )


# --------------------------------------------------------------------------
# H19 — data-mixture weights: temperature-scaled source sampling (the
# multinomial-mixture step of an LLM training recipe — upsample small
# high-value sources, damp the head: w_s ∝ share_s^alpha, alpha=0.5).
# Emits per source its document share, temperature weight, and the
# expected docs drawn at a fixed sample budget.
#
# 100 TB: one two-level count aggregate over the corpus; the
# normalization joins a BROADCAST single-row total (sum over
# |sources| rows) — nothing driver-side, nothing quadratic.
# --------------------------------------------------------------------------

MIX_ALPHA = 0.5
MIX_BUDGET = 100_000

SOURCE_MIXTURE_ORACLE = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars_total
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_docs) AS n_all,
         SUM(POW(CAST(n_docs AS DOUBLE), {MIX_ALPHA})) AS z
  FROM per_src
)
SELECT p.source,
       p.n_docs,
       CAST(p.n_chars_total AS BIGINT) AS n_chars_total,
       {r6_sql('CAST(p.n_docs AS DOUBLE) / t.n_all')} AS share,
       {r6_sql(f'POW(CAST(p.n_docs AS DOUBLE), {MIX_ALPHA}) / t.z')} AS weight,
       {r2_sql(f'{MIX_BUDGET} * POW(CAST(p.n_docs AS DOUBLE), {MIX_ALPHA}) / t.z')}
         AS expected_samples
FROM per_src p CROSS JOIN tot t
"""


@query("source_mixture_weights", SOURCE_MIXTURE_ORACLE)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )
    tot = per_src.agg(
        F.sum("n_docs").alias("n_all"),
        F.sum(F.pow(F.col("n_docs").cast("double"), MIX_ALPHA)).alias("z"),
    )
    w = F.pow(F.col("n_docs").cast("double"), MIX_ALPHA) / F.col("z")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars_total",
        r6(F.col("n_docs").cast("double") / F.col("n_all")).alias("share"),
        r6(w).alias("weight"),
        r2(F.lit(MIX_BUDGET) * w).alias("expected_samples"),
    )


# --------------------------------------------------------------------------
# H20 — count-min-sketch heavy hitters: estimate token frequencies
# from a fixed 4x256 counter grid and audit the estimates against
# exact counts for the top-15 tokens. The CMS is the bounded-memory
# answer to "what are the frequent tokens" at 100 TB: the counter
# grid is 1 KB regardless of vocabulary size, counters merge by
# addition (associative — partial aggregation applies), and the
# estimate invariant est >= exact with overcount <= eps*N holds per
# row. Seeded md5 bucket hashes make the grid bit-identical in both
# engines, so the driver verifies the SKETCH itself, not just the
# final ranking.
#
# 100 TB plan shape: token counts (one shuffle w/ map-side combine)
# feed BOTH the exact top-k and the counter grid; the grid is built by
# fanning each token row into its 4 (row, bucket) cells via
# posexplode (one pass — an N-way union would re-execute the count
# subplan N times), then SUM per cell: 1,024 cells total, broadcast
# back against the 15 candidates.
# --------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_TOPK = 15


def _cms_bucket_sql(j: int) -> str:
    """Portable seeded bucket hash: first 8 md5 hex chars of
    'cms{j}|token' parsed hex->int, mod CMS_WIDTH."""
    return (
        "(("
        + " + ".join(
            f"CAST(instr('0123456789abcdef', substr(md5('cms{j}|' || token), "
            f"{i + 1}, 1)) - 1 AS BIGINT) * {16 ** (7 - i)}"
            for i in range(8)
        )
        + f") % {CMS_WIDTH})"
    )


CMS_HEAVY_ORACLE = f"""
WITH exact AS (
  SELECT token, COUNT(*) AS c
  FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  )
  WHERE token <> ''
  GROUP BY token
),
topk AS (
  SELECT token, c FROM exact ORDER BY c DESC, token LIMIT {CMS_TOPK}
),
cells AS (
  {" UNION ALL ".join(
      f"SELECT {j} AS j, {_cms_bucket_sql(j)} AS bucket, SUM(c) AS cnt "
      "FROM exact GROUP BY 2"
      for j in range(CMS_DEPTH)
  )}
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT token, c, {j} AS j, {_cms_bucket_sql(j)} AS bucket FROM topk"
      for j in range(CMS_DEPTH)
  )}
)
SELECT p.token,
       CAST(MAX(p.c) AS BIGINT)            AS n_exact,
       CAST(MIN(ce.cnt) AS BIGINT)         AS n_cms,
       CAST(MIN(ce.cnt) - MAX(p.c) AS BIGINT) AS overcount
FROM probes p JOIN cells ce ON ce.j = p.j AND ce.bucket = p.bucket
GROUP BY p.token
"""


@query("cms_heavy_hitters", CMS_HEAVY_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    exact = pin(
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c")),
        "token counts",
    )  # feeds cells + topk + probes; one materialization

    def bucket(j: int):
        return F.expr(_cms_bucket_sql(j))

    buckets = F.array(*[bucket(j) for j in range(CMS_DEPTH)])
    cells = (
        exact.select("c", F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("cnt"))
    )
    topk = exact.orderBy(F.desc("c"), F.asc("token")).limit(CMS_TOPK)
    probes = topk.select(
        "token", "c", F.posexplode(buckets).alias("j", "bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token")
        .agg(
            F.max("c").cast("bigint").alias("n_exact"),
            F.min("cnt").cast("bigint").alias("n_cms"),
            (F.min("cnt") - F.max("c")).cast("bigint").alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# H21 — normalization-aware exact dedup: dedup on md5 of CANONICAL
# text (lowercase, punctuation stripped, whitespace collapsed) vs the
# raw hash (F1). Catches the near-universal trivial variants (case,
# spacing, punctuation) that raw exact dedup misses, at exact-dedup
# cost — one hash + one distinct per doc, no pairwise anything. Per
# source: raw-unique vs normalized-unique counts; the gap is the
# trivial-variant duplication a pipeline removes for free.
# --------------------------------------------------------------------------

NORM_DEDUP_ORACLE = """
WITH normed AS (
  SELECT source,
         md5(text) AS raw_hash,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT raw_hash)  AS n_raw_unique,
       COUNT(DISTINCT norm_hash) AS n_norm_unique
FROM normed
GROUP BY source
"""


@query("dedup_normalized_text", NORM_DEDUP_ORACLE)
def dedup_normalized_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select(
            "source",
            F.md5(F.col("text").cast("binary")).alias("raw_hash"),
            F.md5(canon.cast("binary")).alias("norm_hash"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_hash").alias("n_raw_unique"),
            F.countDistinct("norm_hash").alias("n_norm_unique"),
        )
    )


# --------------------------------------------------------------------------
# H22 — BM25 ranked retrieval: score every document against a fixed
# term set with Okapi BM25 (k1=1.2, b=0.75) and return the top 20.
# The plan is the classic inverted-index shape expressed relationally:
# postings = explode(tokens) filtered to query terms (the only rows
# that survive the scan), tf via one shuffle keyed (doc, term), df is
# a |terms|-row broadcast, corpus stats (N, avgdl) a broadcast scalar.
# Global top-k runs as TakeOrdered (per-partition heads + driver merge
# of k·partitions rows — never a full sort).
#
# Cross-engine: avgdl is computed as CAST(SUM(dl) AS DOUBLE)/N in both
# engines (integer sum is exact, one double division), so per-doc
# scores are identical float expressions; ranking uses the quantized
# score (r6) with doc_id tiebreak.
# --------------------------------------------------------------------------

BM25_TERMS = ("spark", "merge", "window")
BM25_K1 = 1.2
BM25_B = 0.75

BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM docs
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM docs)
  WHERE token IN {BM25_TERMS!r}
  GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id,
         SUM(
           ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({BM25_K1} + 1.0)
           / (tf.tf + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
         ) AS score
  FROM tf
  JOIN df ON tf.token = df.token
  JOIN docs d ON tf.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, {r6_sql("score")} AS bm25_score
FROM scored
ORDER BY {r6_sql("score")} DESC, doc_id
LIMIT 20
"""


@query("bm25_search_topk", BM25_ORACLE)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    docs = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("dl")
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # query-terms-only tf relation feeds BOTH the df aggregate and the
    # scoring join — pin it so the tokenizing corpus scan runs once
    tf = pin(
        docs.select("doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
        "term frequencies",
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * (BM25_K1 + 1.0) / denom
    return (
        tf.join(F.broadcast(df_), "token")
        .join(docs.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(r6(F.sum(term_score)).alias("bm25_score"))
        .orderBy(F.col("bm25_score").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# H18 — order-insensitive table checksum per source: the cross-cluster
# consistency audit for a replicated corpus. Each row contributes a
# 32-bit slice of md5 over ALL its columns (null-tagged, '|'-joined);
# the per-group SUM of those slices is order- and partition-
# independent, so two clusters can verify a 100 TB table by exchanging
# |sources| rows instead of the data. Row hash is map-side JVM md5;
# the only shuffle is the tiny final groupBy.
# --------------------------------------------------------------------------

CHECKSUM_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(('0x' || substr(md5(
              CAST(doc_id AS VARCHAR) || '|' ||
              COALESCE(lang, '~') || '|' ||
              COALESCE(CAST(n_chars AS VARCHAR), '~') || '|' ||
              COALESCE(text, '~')), 1, 8)) AS BIGINT)) AS BIGINT)
         AS checksum
FROM documents
GROUP BY source
"""


@query("table_checksum_by_source", CHECKSUM_ORACLE)
def table_checksum_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    row_str = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.coalesce(F.col("lang"), F.lit("~")),
        F.coalesce(F.col("n_chars").cast("string"), F.lit("~")),
        F.coalesce(F.col("text"), F.lit("~")),
    )
    row_hash = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast(
        "bigint"
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).alias("checksum"),
    )


# --------------------------------------------------------------------------
# H19 — top co-occurring token pairs (market-basket over documents):
# unordered within-doc pairs, counted by document frequency. The
# scale-correct shape is ARRAY-SIDE pair expansion: one groupBy doc
# builds the sorted distinct-token array, then each doc emits its
# k·(k-1)/2 pairs MAP-SIDE (k = per-doc distinct tokens — for real
# corpora cap k by TF before expanding; here the vocabulary itself is
# tiny) into a partially-aggregated pair count. No corpus self-join.
# Top 20 with (n_docs DESC, tok_a, tok_b) determinism.
# --------------------------------------------------------------------------

COOCCUR_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_docs
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
)
SELECT tok_a, tok_b, CAST(n_docs AS BIGINT) AS n_docs
FROM pairs
ORDER BY n_docs DESC, tok_a, tok_b
LIMIT 20
"""


@query("token_cooccurrence_topk", COOCCUR_ORACLE)
def token_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) r17: the in-array pair expansion ran single-task
    # on the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    toks = d.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(F.col("text"), " "), lambda x: x != F.lit("")
                )
            )
        ).alias("arr"),
    )
    # map-side pair expansion over the per-doc sorted distinct array
    pairs = F.expr(
        """
        flatten(transform(arr, (a, i) ->
          transform(slice(arr, i + 2, size(arr)), b ->
            struct(a AS tok_a, b AS tok_b))))
        """
    )
    return (
        toks.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "tok_a", "tok_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L9 — triangle census of the near-duplicate graph: how clique-like
# are the dup clusters? (High clustering ⇒ F6's O(diameter) label
# propagation converges in 1–2 rounds; low ⇒ chains ⇒ use L6.)
# Edges are F4's simhash pairs (canonically u < v). Triangles via the
# ordered wedge join — e1(a,b) ⋈ e2(b,c) gives each candidate wedge
# exactly once (a<b<c), closed by one more equi-join on (a,c); global
# clustering = 3·triangles / wedges with wedges = Σ d(d−1)/2.
#
# 100 TB: the wedge join's fan-out is bounded by orienting edges
# low-degree → high-degree (each wedge then pivots at its LOWEST-
# degree vertex); id-orientation here is the same plan with a cheaper
# orientation key, correct because triangle counts are orientation-
# invariant.
# --------------------------------------------------------------------------

TRIANGLES_ORACLE = f"""
WITH pairs AS ({SIMHASH_ORACLE}),
edges AS (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS n_tri
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles,
       {r6_sql(
           "CASE WHEN (SELECT SUM(d * (d - 1)) FROM deg) = 0 THEN 0.0 "
           "ELSE 6.0 * (SELECT n_tri FROM tri) "
           "/ (SELECT SUM(d * (d - 1)) FROM deg) END"
       )} AS global_clustering
"""


@query("dup_graph_triangles", TRIANGLES_ORACLE)
def dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.graph import triangle_census

    pairs = simhash_pairs(spark, sf_dir).select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    )
    census = triangle_census(pairs, src="u", dst="v")
    return census.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        r6(F.col("global_clustering")).alias("global_clustering"),
    )


# --------------------------------------------------------------------------
# H25 — unigram LM scoring (perplexity-proxy quality filter): train
# the unigram model in one token aggregation, then score every doc by
# its average negative log2-likelihood — the classic cheap stand-in
# for model-based perplexity filtering in LLM data pipelines (high
# avg-NLL ⇒ rare-token soup; near-zero ⇒ boilerplate).
#
# 100 TB: the token count is the only corpus-sized shuffle; the model
# (vocabulary-sized, orders smaller) joins back NB-style — broadcast
# while it fits, hash join beyond — and the per-doc agg rides the
# same doc_id partitioning the explode preserved.
# --------------------------------------------------------------------------

UNIGRAM_NLL_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
freq AS (SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM freq)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       {r4_sql(
           "-SUM(log2(CAST(f.n AS DOUBLE) / t.total)) / COUNT(*)"
       )} AS avg_nll
FROM tk d JOIN freq f USING (tok) CROSS JOIN tot t
GROUP BY d.doc_id
"""


@query("unigram_logprob_score", UNIGRAM_NLL_ORACLE)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # pinned: the vocab-bounded LM table feeds the corpus total AND the
    # broadcast scoring join — unpinned, each consumer re-tokenizes the
    # whole corpus to rebuild it (same fix as zipf_slope)
    freq = pin(tk.groupBy("tok").agg(F.count(F.lit(1)).alias("n")), "token counts")
    tot = freq.agg(F.sum("n").cast("bigint").alias("total"))
    nll = -F.log2(F.col("n").cast("double") / F.col("total"))
    return (
        tk.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            r4(F.sum(nll) / F.count(F.lit(1))).alias("avg_nll"),
        )
    )


# --------------------------------------------------------------------------
# H26 — Zipf-law fit of the token frequency distribution: OLS of
# log2(freq) on log2(rank) in closed form (slope ≈ −1 for natural
# text; the deviation is a corpus-health signal tokenizer work keys
# off). Rank is a deterministic (n DESC, token) row_number over the
# VOCABULARY — orders smaller than the corpus, so the single-partition
# rank window is dimension-bounded, not data-bounded; the corpus
# itself is touched once by the token count.
# --------------------------------------------------------------------------

ZIPF_ORACLE = f"""
WITH tk AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT tok, COUNT(*) AS n FROM tk WHERE tok <> '' GROUP BY tok),
ranked AS (
  SELECT log2(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS x,
         log2(CAST(n AS DOUBLE)) AS y
  FROM freq
),
m AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ranked
)
SELECT CAST(k AS BIGINT) AS vocab_size,
       {r4_sql("(k * sxy - sx * sy) / (k * sxx - sx * sx)")} AS zipf_slope,
       {r4_sql(
           "(sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k"
       )} AS zipf_intercept,
       {r4_sql(
           "((k * sxy - sx * sy) * (k * sxy - sx * sy))"
           " / ((k * sxx - sx * sx) * (k * syy - sy * sy))"
       )} AS r_squared
FROM m
"""


@query("zipf_slope", ZIPF_ORACLE)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Distributed global rank WITHOUT a single-partition window over
    # the vocabulary (100M+ rows in one task at corpus scale). The
    # regression consumes only SUMS of log2(rank), and ranks within an
    # equal-frequency tie block are a fixed contiguous range whatever
    # the within-block order — so any distinct assignment inside the
    # block yields the same x multiset and the same sums (fp addition
    # order already absorbed by the r4 epsilon, as in every grouped
    # double sum here). Construction: rank = base(n) + soff(n, salt) +
    # row_number within (n, salt). base comes from an exclusive prefix
    # over the frequency-of-frequencies frame (|distinct n| rows —
    # O(sqrt(corpus tokens)) by sum bound, so its driver-side window
    # is provably tiny); soff from a per-n prefix over S salt cells;
    # the only heavy window is partitioned by (n, salt), which splits
    # the giant hapax tie block S ways instead of one task.
    S = 32
    # Pin the salted vocabulary: it feeds the block counts AND the
    # ranked join below, and each consumer otherwise re-tokenizes the
    # whole corpus to rebuild it (3 documents scans). Vocab rows are
    # sublinear in corpus size — a dimension-bounded pin.
    salted = freq.withColumn("salt", F.pmod(F.xxhash64("tok"), F.lit(S)).cast("int"))
    salted = pin(salted, "salted vocabulary")
    blk = salted.groupBy("n", "salt").agg(F.count(F.lit(1)).alias("cnt"))
    nn = blk.groupBy("n").agg(F.sum("cnt").alias("ncnt"))
    wn = Window.orderBy(F.desc("n")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = nn.withColumn(
        "base", F.coalesce(F.sum("ncnt").over(wn), F.lit(0))
    ).select("n", "base")
    ws = Window.partitionBy("n").orderBy("salt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    soff = blk.withColumn(
        "soff", F.coalesce(F.sum("cnt").over(ws), F.lit(0))
    ).select("n", "salt", "soff")
    wt = Window.partitionBy("n", "salt").orderBy("tok")
    ranked = (
        salted.join(F.broadcast(base), "n")
        .join(F.broadcast(soff), ["n", "salt"])
        .select(
            F.log2(
                (
                    F.col("base")
                    + F.col("soff")
                    + F.row_number().over(wt)
                ).cast("double")
            ).alias("x"),
            F.log2(F.col("n").cast("double")).alias("y"),
        )
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    k, sx, sy = F.col("k"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return m.select(
        k.cast("bigint").alias("vocab_size"),
        r4(slope).alias("zipf_slope"),
        r4((sy - slope * sx) / k).alias("zipf_intercept"),
        r4(
            ((k * sxy - sx * sy) * (k * sxy - sx * sy))
            / ((k * sxx - sx * sx) * (k * syy - sy * sy))
        ).alias("r_squared"),
    )


# --------------------------------------------------------------------------
# H27 — duplicate-cluster size histogram: after near-dup pairs are
# clustered (F6), HOW duplicated is the corpus? (size → cluster count,
# plus total docs absorbed per size). The histogram is two vocabulary-
# scale aggregations on top of the component labels — the readout a
# dedup run reports before deciding keep-one-per-cluster savings.
# Oracle reuses F6's recursive-closure clustering verbatim.
# --------------------------------------------------------------------------

CLUSTER_HIST_ORACLE = f"""
WITH comp AS ({CC_ORACLE}),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


@query("dup_cluster_size_histogram", CLUSTER_HIST_ORACLE)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.graph import (
        connected_components,
    )

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    comps = connected_components(pairs, "doc_id_a", "doc_id_b")
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )


# --------------------------------------------------------------------------
# H28 — stratified k-fold assignment: deterministic md5 folds (H5's
# split generalized to k=5) with per-(lang, fold) counts and the
# within-stratum share — the reproducible, join-free CV partitioning
# an ML data pipeline ships (every engine that can md5 agrees on the
# folds; no RNG, no state).
# --------------------------------------------------------------------------

K_FOLDS = 5

_FOLD_SQL = _SPLIT_BUCKET_SQL + f" % {K_FOLDS}"

KFOLD_ORACLE = f"""
WITH folds AS (
  SELECT lang, CAST({_FOLD_SQL} AS INT) AS fold FROM documents
),
strata AS (SELECT lang, COUNT(*) AS lang_n FROM folds GROUP BY lang)
SELECT f.lang, f.fold, COUNT(*) AS n_docs,
       {{share}} AS fold_share
FROM folds f JOIN strata s ON s.lang = f.lang
GROUP BY f.lang, f.fold, s.lang_n
""".format(share=r4_sql("COUNT(*) / CAST(s.lang_n AS DOUBLE)"))


@query("stratified_kfold_assignment", KFOLD_ORACLE)
def stratified_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fold = F.expr(
        _FOLD_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
    ).cast("int")
    folds = d.select("lang", fold.alias("fold"))
    strata = folds.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_n"))
    return (
        folds.join(F.broadcast(strata), "lang")
        .groupBy("lang", "fold", "lang_n")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            "fold",
            "n_docs",
            r4(F.col("n_docs") / F.col("lang_n").cast("double")).alias(
                "fold_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# H29 — inverted-index construction: token → document frequency, total
# term frequency, and the (capped) sorted posting list — the core
# retrieval artifact a search/RAG pipeline materializes from a corpus.
# Postings are emitted as a comma-joined string of the first
# POSTINGS_CAP doc_ids so the row stays bounded no matter how common
# the token is.
#
# 100 TB: one explode + one shuffle on token; collect_set is bounded
# per group by the cap at emit time (a production index would sort
# doc_ids within buckets via a secondary-sort write, same plan shape).
# Stop-word-scale tokens are the skew risk — the cap bounds the output
# row, and AQE skew-split bounds the reduce task.
# --------------------------------------------------------------------------

POSTINGS_CAP = 20
POSTINGS_TOP = 25

INVERTED_INDEX_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS token
  FROM documents
),
postings AS (
  SELECT token,
         COUNT(DISTINCT doc_id) AS df,
         COUNT(*) AS tf,
         array_to_string(
           list_sort(list(DISTINCT doc_id))[1:{POSTINGS_CAP}], ','
         ) AS posting_head
  FROM tok GROUP BY token
)
SELECT token, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf,
       posting_head
FROM postings
ORDER BY df DESC, token
LIMIT {POSTINGS_TOP}
"""


@query("inverted_index_postings", INVERTED_INDEX_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) r17: the tokenize explode ran single-task on
    # the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("token"),
    )
    head = F.array_join(
        F.transform(
            F.slice(
                F.array_sort(F.collect_set("doc_id")), 1, POSTINGS_CAP
            ),
            lambda x: x.cast("string"),
        ),
        ",",
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            head.alias("posting_head"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(POSTINGS_TOP)
    )


# --------------------------------------------------------------------------
# L10 — k-core peeling of the near-dup graph: iteratively drop nodes
# with degree < K and report (n_nodes, n_edges) after each of 3 fixed
# rounds — the density probe that separates clique-like dup clusters
# (survive peeling) from chain/star artifacts of banding collisions
# (peel away). Edges are F4's simhash pairs, like L9's census.
#
# 100 TB: each round is one degree aggregation (shuffle on node) and
# two semi-joins (shuffle on endpoint) — O(rounds · |E|), the standard
# distributed peel. The base edge set is pinned so the simhash banding
# pipeline runs once, not once per round; per-round readouts are COUNT
# aggregates, never collected.
# --------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_round_sql(r: int) -> str:
    # MATERIALIZED: each e{r} is referenced three times downstream —
    # inlined CTEs would re-evaluate the whole simhash pipeline
    # exponentially (3^rounds scans).
    return f"""
d{r} AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e{r} UNION ALL SELECT v AS node FROM e{r}
  ) GROUP BY node
),
n{r + 1} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {KCORE_K}),
e{r + 1} AS MATERIALIZED (
  SELECT u, v FROM e{r}
  WHERE u IN (SELECT node FROM n{r + 1})
    AND v IN (SELECT node FROM n{r + 1})
)"""


KCORE_ORACLE = (
    f"""
WITH pairs AS MATERIALIZED ({SIMHASH_ORACLE}),
e0 AS MATERIALIZED (SELECT doc_id_a AS u, doc_id_b AS v FROM pairs),
n0 AS (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0
  )
),"""
    + ",".join(_kcore_round_sql(r) for r in range(KCORE_ROUNDS))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round,"
        f" CAST((SELECT COUNT(*) FROM n{r}) AS BIGINT) AS n_nodes,"
        f" CAST((SELECT COUNT(*) FROM e{r}) AS BIGINT) AS n_edges"
        for r in range(KCORE_ROUNDS + 1)
    )
)


@query("kcore_peeling", KCORE_ORACLE)
def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 replan: per-round pins of the peeled edge/node frames. The
    unrolled loop previously rebuilt each round's frames from the
    round-0 lineage, so the final union's physical plan held ~110
    exchanges / ~100 sort-merge joins for 3 peel rounds (plan size grows
    quadratically with rounds — guide §3.3's planning-time trap; at real
    scale the re-executed prefix is also recomputed work AQE's exchange
    reuse only partially dedupes). Pinning each round keeps the
    plan linear: the counters union reads 8 one-row aggregates over
    pinned, bounded frames.
    Same arithmetic, same oracle, identical rows.

    Side effect (r17 ADVICE, same caveat as spread()): the 8 pins run
    AT PLAN-BUILD TIME — fn() triggers jobs even in explain/dump-only
    contexts. Every round's pinned blocks must stay alive until the
    final counters union executes (each round's counter row references
    that round's frames), so they are freed together when the returned
    DataFrame is garbage-collected, not incrementally — repeated builds
    in one session hold ~8 small pinned frames each until then."""
    edges = simhash_pairs(spark, sf_dir).select(
        F.col("doc_id_a").alias("u"), F.col("doc_id_b").alias("v")
    )
    edges = pin(edges, "kcore edges")
    nodes = edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    nodes = pin(nodes, "kcore nodes")
    rounds = []
    for r in range(KCORE_ROUNDS + 1):
        rounds.append(
            nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(
                F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges"
            )
        )
        if r == KCORE_ROUNDS:
            break
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        nodes = deg.filter(F.col("d") >= KCORE_K).select("node")
        nodes = pin(nodes, "kcore round nodes")
        edges = pin(
            edges.join(
                nodes.withColumnRenamed("node", "u"), "u", "left_semi"
            )
            .join(nodes.withColumnRenamed("node", "v"), "v", "left_semi"),
            "kcore round edges",
        )
    out = rounds[0]
    for frame in rounds[1:]:
        out = out.unionAll(frame)
    return out


# --------------------------------------------------------------------------
# H30 — winnowing fingerprint near-dup (MOSS): hash every k-gram, then
# per sliding window of W grams keep the RIGHTMOST-minimum hash — the
# guarantee is any shared substring of length >= k+W-1 yields at least
# one shared fingerprint, at ~2/(W+1) the density of full shingling.
# Docs sharing >= 2 winnowed fingerprints (df-capped to kill
# boilerplate) are reported as candidate pairs.
#
# The rightmost-min-of-window select is ONE window MIN over an integer
# key h·2^20 + (2^20−1−pos): minimizing the key minimizes h then
# maximizes pos — no argmin/struct aggregate needed, so the exact same
# expression runs on both engines.
#
# 100 TB: fingerprinting is a narrow per-doc pass (explode + bounded
# window, no shuffle until the fingerprint join); the pair join is
# equi-key on fingerprint with a df cap bounding fan-out — the same
# bucket-join shape as MinHash-LSH banding, at winnowing's lower
# fingerprint density.
# --------------------------------------------------------------------------

WIN_K = 4  # k-gram width (words)
WIN_W = 5  # winnowing window (grams)
WIN_POS_MOD = 1 << 20  # pos fits 2^20; key = h * 2^20 + (2^20-1-pos)
WIN_DF_CAP = 20
WIN_MIN_SHARED = 2
WIN_TOP = 25

WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         CAST(('0x' || substr(md5(
           array_to_string(arr[i:i + {WIN_K - 1}], ' ')), 1, 8)) AS BIGINT)
           AS h
  FROM toks, unnest(range(1, len(arr) - {WIN_K} + 2)) AS t(i)
  WHERE len(arr) >= {WIN_K}
),
keyed AS (
  SELECT doc_id, pos,
         h * {WIN_POS_MOD} + ({WIN_POS_MOD - 1} - pos) AS key
  FROM grams
),
winmin AS (
  SELECT doc_id, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW)
           AS wkey
  FROM keyed
),
fps AS (
  SELECT DISTINCT doc_id,
         CAST(floor(wkey / {WIN_POS_MOD}) AS BIGINT) AS fp
  FROM winmin WHERE pos >= {WIN_W - 1}
),
common AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING COUNT(*) BETWEEN 2 AND {WIN_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         COUNT(*) AS n_shared_fps
  FROM fps a
  JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE a.fp IN (SELECT fp FROM common)
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, CAST(n_shared_fps AS BIGINT) AS n_shared_fps
FROM pairs WHERE n_shared_fps >= {WIN_MIN_SHARED}
ORDER BY n_shared_fps DESC, doc_id_a, doc_id_b
LIMIT {WIN_TOP}
"""


@query("winnowing_fingerprint_pairs", WINNOW_ORACLE)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(by=doc_id) r17: gram build + window ran single-task on the
    # local one-row-group scan (event-log profile); no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    # guard: Spark's sequence() runs DESCENDING when end < start, so an
    # under-k doc must produce an empty gram array, not a reversed one
    grams = F.when(
        F.size("arr") >= WIN_K,
        F.expr(
            f"""transform(sequence(0, size(arr) - {WIN_K}), i ->
                  struct(CAST(i AS BIGINT) AS pos,
                         array_join(slice(arr, i + 1, {WIN_K}), ' ')
                           AS gram))"""
        ),
    ).otherwise(F.array())
    g = (
        d.select("doc_id", arr.alias("arr"))
        .select("doc_id", F.explode(grams).alias("g"))
        .select(
            "doc_id",
            F.col("g.pos").alias("pos"),
            F.conv(F.substring(F.md5("g.gram"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    keyed = g.select(
        "doc_id",
        "pos",
        (
            F.col("h") * WIN_POS_MOD + (WIN_POS_MOD - 1 - F.col("pos"))
        ).alias("key"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WIN_W - 1), 0)
    )
    # Pin the winnowed fingerprint relation: the tokenize + gram-hash +
    # window lineage is the expensive part and previously re-executed
    # once per consumer (df filter + both sides of the pair self-join =
    # 4 documents scans). The pinned frame is corpus-tokens/W rows of
    # 16 bytes — the same pin-the-exploded-relation call ngram-jaccard
    # makes. Pair generation then follows F3's in-array expansion: one
    # groupBy(fp) with the df cap applied to the collected doc list —
    # no fp self-join shuffle at all.
    fps = pin(
        keyed.select(
            "doc_id", "pos", F.min("key").over(w).alias("wkey")
        )
        .filter(F.col("pos") >= WIN_W - 1)
        .select(
            "doc_id",
            F.floor(F.col("wkey") / WIN_POS_MOD).cast("bigint").alias("fp"),
        )
        .distinct(),
        "winnowing fingerprints",
    )
    pair_expr = F.expr(
        "flatten(transform(docs, (a, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "b -> named_struct('doc_id_a', a, 'doc_id_b', b))))"
    )
    return (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= WIN_DF_CAP))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WIN_MIN_SHARED)
        .orderBy(F.col("n_shared_fps").desc(), "doc_id_a", "doc_id_b")
        .limit(WIN_TOP)
    )


# --------------------------------------------------------------------------
# F13 — EXACT set-similarity self-join via prefix filtering
# (AllPairs / PPJoin candidate generation; Bayardo et al. WWW'07,
# Xiao et al. WWW'08). A genuinely different candidate-generation
# family from the probabilistic blockers (F2 minhash banding, F4
# simhash bands, F3's df-capped rare-shingle heuristic): prefix
# filtering is LOSSLESS — the candidate set provably contains every
# pair with Jaccard >= the threshold, so the verified output equals
# the exact all-pairs join the oracle computes.
#
# Theorem (prefix filter): order every shingle by a global total
# order; keep, per doc, the first p = |S| - ceil(t*|S|) + 1 shingles
# ("prefix"). If J(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)), and
# the globally-smallest common element must land in BOTH prefixes
# (if it were outside A's prefix, all common elements would sit in
# A's last ceil(t*|A|)-1 positions — fewer slots than |A∩B|). So an
# equi-join on prefix shingles finds every qualifying pair.
#
# The global order used is (document-frequency ASC, hash ASC) — the
# canonical choice: rare shingles first means prefixes are made of
# LOW-fanout join keys, so candidate generation stays near-linear
# while common shingles (quadratic fan-out, no signal) are pushed
# into the suffixes that never join. At 100 TB: one shuffle for df,
# one groupBy for per-doc sorted arrays (map-side, bounded by doc
# length), one equi-join on prefix hashes whose per-key fan-out the
# df-ordering actively minimizes, then candidate-only verification.
# --------------------------------------------------------------------------

PPJ_N = 4
PPJ_MIN = 0.3

PREFIX_JACCARD_ORACLE = f"""
WITH sh AS ({word_ngrams_sql(PPJ_N)}),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
FROM inter
JOIN sz sa ON inter.doc_id_a = sa.doc_id
JOIN sz sb ON inter.doc_id_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {PPJ_MIN}
"""


@query("dedup_prefix_jaccard", PREFIX_JACCARD_ORACLE)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard>=t pairs via lossless prefix filtering.

    The oracle is the naive exact all-pairs shingle self-join; the
    engine produces the SAME pairs from a candidate set that only
    joins each doc's (df ASC, h ASC)-prefix — correct by the prefix
    theorem above, scalable because prefixes are rare-shingle-heavy.
    """
    d = t(spark, sf_dir, "documents")
    # Hash shingles to 64-bit longs before any exchange (same
    # rationale + collision class as dedup_ngram_jaccard). One eager
    # materialization feeds the df aggregate, the prefix build, and
    # the verification docsets. spread: the single-row-group testdata
    # scan would otherwise shingle on one core and pin a 1-partition
    # layout into every consumer's first stage (r10; no-op on
    # multi-file corpora).
    sh = pin(
        word_ngrams(spread(d), PPJ_N, distinct=True)
        .select("doc_id", F.xxhash64("shingle").alias("h")),
        "prefix shingles",
    )
    df_counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # Per-doc shingle array sorted by the global (df, h) order. The
    # array is bounded by document length — never corpus-sized.
    sorted_docs = (
        sh.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("ss"))
    )
    prefix = (
        sorted_docs.select(
            "doc_id",
            F.expr(
                f"slice(ss, 1, size(ss) - cast(ceil({PPJ_MIN} * size(ss)) "
                "as int) + 1)"
            ).alias("pref"),
        )
        .select("doc_id", F.explode("pref").alias("s"))
        .select("doc_id", F.col("s.h").alias("h"))
    )
    pair_expr = F.expr(
        "flatten(transform(docs, (a, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "b -> named_struct('doc_id_a', a, 'doc_id_b', b))))"
    )
    cand = (
        prefix.groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .distinct()
    )
    return _verify_jaccard(sh, cand, PPJ_MIN, hash_col="h")


# --------------------------------------------------------------------------
# H31 — chunk-level duplication mass (the "line-level dedup" readout
# of C4 / RefinedWeb, on 16-token chunks since the synthetic corpus
# has no newlines). Doc-level dedup (F1-F12) misses boilerplate that
# repeats INSIDE otherwise-unique documents; this measures, per
# source, how much of the corpus is made of chunks seen elsewhere.
# --------------------------------------------------------------------------

CHUNKDUP_W = 16
CHUNKDUP_HEAVY = 0.5

CHUNK_DUP_MASS_ORACLE = f"""
WITH ch AS (
  SELECT doc_id,
         unnest(list_transform(
             generate_series(1, CAST(ceil(len(tokens) / {CHUNKDUP_W}.0) AS BIGINT)),
             i -> array_to_string(
                 list_slice(tokens, (i - 1) * {CHUNKDUP_W} + 1, i * {CHUNKDUP_W}),
                 ' ')
         )) AS chunk
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
            AS tokens
        FROM documents)
),
cc AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk),
per_doc AS (
  SELECT ch.doc_id,
         COUNT(*) AS n_chunks,
         SUM(CASE WHEN cc.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM ch JOIN cc USING (chunk)
  GROUP BY ch.doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_chunks) AS BIGINT) AS n_chunks,
       CAST(SUM(p.n_dup) AS BIGINT) AS n_dup_chunks,
       ROUND(SUM(p.n_dup) / CAST(SUM(p.n_chunks) AS DOUBLE), 4) AS dup_ratio,
       CAST(SUM(CASE WHEN p.n_dup / CAST(p.n_chunks AS DOUBLE)
                          >= {CHUNKDUP_HEAVY} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_heavy_docs
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
"""


@query("chunk_dup_mass_by_source", CHUNK_DUP_MASS_ORACLE)
def chunk_dup_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-overlapping 16-token chunk hashes -> corpus-wide chunk df ->
    per-doc duplicated-chunk mass -> per-source rollup.

    Scale shape: chunks are hashed to 64-bit longs map-side, the df
    aggregate and the chunk->doc back-join both exchange 8-byte keys,
    and every aggregation has a map-side partial. Nothing is
    quadratic: a chunk shared by k docs costs k join rows (vs k² for
    pair expansion) because the readout needs per-doc mass, not pairs.
    """
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    chunks = pin(
        d.select("doc_id", toks.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    # greatest(.., 1) guards sequence(1, 0) which Spark
                    # (unlike DuckDB's generate_series) renders [1, 0];
                    # the chunk != '' filter drops the phantom empty
                    # chunk a token-less doc would then produce.
                    f"transform(sequence(1, greatest(cast(ceil(size(tk) / "
                    f"{CHUNKDUP_W}.0) as int), 1)), "
                    f"i -> array_join(slice(tk, (i - 1) * {CHUNKDUP_W} + 1, "
                    f"{CHUNKDUP_W}), ' '))"
                )
            ).alias("chunk"),
        )
        .filter(F.col("chunk") != "")
        .select("doc_id", F.xxhash64("chunk").alias("ch")),
        "chunk hashes",  # feeds chunk-df AND per-doc join
    )
    cdf = chunks.groupBy("ch").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        chunks.join(cdf, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("n_dup").cast("bigint").alias("n_dup_chunks"),
            F.round(
                F.sum("n_dup") / F.sum("n_chunks").cast("double"), 4
            ).alias("dup_ratio"),
            F.sum(
                F.when(
                    F.col("n_dup") / F.col("n_chunks").cast("double")
                    >= CHUNKDUP_HEAVY,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_heavy_docs"),
        )
    )


# --------------------------------------------------------------------------
# F16 driver gate — exact substring-run dedup (Lee et al. 2022
# ExactSubstr), rolled up per source: how many tokens sit inside some
# duplicated run of >= L tokens, per corpus slice. H31 answers the
# same question at fixed 16-token chunk granularity (misses runs that
# straddle chunk edges and over-counts partially-duplicated chunks);
# this is the position-exact version via stride-1 window hashing + a
# per-doc lag-window interval union (operators/substring_dedup.py —
# the sequential-reference property tests live there too).
#
# Cross-engine note: Spark classifies duplicates on (xxhash64(gram),
# char_len) where the oracle uses the gram string itself — identical
# up to same-length 64-bit collisions (~n²/2^65, the H14 argument).
#
# 100 TB: gram stream linear in corpus tokens, ONE map-side-combined
# hash aggregate finds duplicated windows, ONE equi-join back, the
# interval union is a doc-partitioned window, and the rollup is
# |sources| rows. source rides the per-doc frame (carry_cols) so the
# corpus is scanned exactly once.
# --------------------------------------------------------------------------

SUBSTR_L = 8

SUBSTR_DUP_MASS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
occ AS (
  SELECT doc_id, source, w.pos AS pos, w.g AS g
  FROM (
    SELECT doc_id, source,
           unnest(list_transform(range(0, len(tk) - {SUBSTR_L} + 1),
                  i -> struct_pack(pos := i,
                       g := array_to_string(
                              tk[i + 1 : i + {SUBSTR_L}], ' ')))) AS w
    FROM toks WHERE len(tk) >= {SUBSTR_L}
  )
),
dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2),
docc AS (SELECT o.doc_id, o.source, o.pos FROM occ o JOIN dup d USING (g)),
masked AS (
  SELECT doc_id, source,
         COALESCE(LEAST(pos - LAG(pos) OVER (PARTITION BY doc_id
                                             ORDER BY pos),
                        {SUBSTR_L}), {SUBSTR_L}) AS nm
  FROM docc
),
per_doc AS (
  SELECT doc_id, source, SUM(nm) AS masked FROM masked GROUP BY 1, 2
),
base AS (
  SELECT source, COUNT(*) AS n_docs, SUM(len(tk)) AS total_tokens
  FROM toks GROUP BY source
),
agg AS (
  SELECT source, COUNT(*) AS docs_with_dups, SUM(masked) AS masked_tokens
  FROM per_doc GROUP BY source
)
SELECT b.source,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(b.total_tokens AS BIGINT) AS total_tokens,
       CAST(COALESCE(a.docs_with_dups, 0) AS BIGINT) AS docs_with_dups,
       CAST(COALESCE(a.masked_tokens, 0) AS BIGINT) AS masked_tokens,
       CASE WHEN b.total_tokens > 0
            THEN {r6_sql("COALESCE(a.masked_tokens, 0)"
                         " / CAST(b.total_tokens AS DOUBLE)")}
            ELSE 0.0 END AS masked_frac
FROM base b LEFT JOIN agg a USING (source)
"""


@query("substring_dup_mass_by_source", SUBSTR_DUP_MASS_ORACLE)
def substring_dup_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.substring_dedup import (
        duplicated_span_stats,
    )

    # spread(by=doc_id) r17: the stride-1 window-hash gram stream ran
    # single-task on the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id").select(
        "doc_id", "source", "text"
    )
    stats = duplicated_span_stats(
        d, min_len=SUBSTR_L, carry_cols=("source",)
    )
    total = F.sum("n_tokens")
    masked = F.sum("masked_tokens")
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        total.cast("bigint").alias("total_tokens"),
        F.sum((F.col("masked_tokens") > 0).cast("int"))
        .cast("bigint")
        .alias("docs_with_dups"),
        masked.cast("bigint").alias("masked_tokens"),
        F.when(total > 0, r6(masked / total.cast("double")))
        .otherwise(F.lit(0.0))
        .alias("masked_frac"),
    )


# --------------------------------------------------------------------------
# H32 — asymmetric containment decontamination scores. F8 flags eval
# docs sharing ANY train 8-gram; real decontamination pipelines rank
# by CONTAINMENT |sh(eval) ∩ sh(train)| / |sh(eval)| (asymmetric
# Jaccard — robust to train docs being much longer than the eval
# item) and drop above a threshold. Emits the offending (eval, train)
# pair with its score, i.e. the audit trail reviewers ask for.
# --------------------------------------------------------------------------

CONT_N = 8
CONT_MIN = 0.3

CONTAINMENT_ORACLE = f"""
WITH sh AS ({word_ngrams_sql(CONT_N)}),
b AS (SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket FROM documents),
tr AS (SELECT sh.doc_id, shingle FROM sh JOIN b USING (doc_id)
       WHERE bucket < {TRAIN_PCT}),
ev AS (SELECT sh.doc_id, shingle FROM sh JOIN b USING (doc_id)
       WHERE bucket >= {TRAIN_PCT}),
esz AS (SELECT doc_id, COUNT(*) AS n FROM ev GROUP BY doc_id),
pairs AS (
  SELECT ev.doc_id AS eval_doc_id, tr.doc_id AS train_doc_id,
         COUNT(*) AS c
  FROM ev JOIN tr ON ev.shingle = tr.shingle
  GROUP BY 1, 2
)
SELECT eval_doc_id, train_doc_id,
       ROUND(CAST(c AS DOUBLE) / esz.n, 4) AS containment
FROM pairs JOIN esz ON pairs.eval_doc_id = esz.doc_id
WHERE CAST(c AS DOUBLE) / esz.n >= {CONT_MIN}
"""


@query("eval_containment_scores", CONTAINMENT_ORACLE)
def eval_containment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train⋈eval shingle equi-join -> per-pair overlap -> divide by
    the eval doc's shingle count.

    Scale shape: shingles hash to longs before the one equi-join; the
    join's per-key fan-out is (train docs with shingle) x (eval docs
    with shingle) — 8-gram keys are near-unique in natural text, so
    the output is intersection-sized, not cross-product-sized. The
    eval-size frame is |eval docs| rows (broadcastable). At 100 TB
    you'd additionally df-cap pathological boilerplate 8-grams; the
    synthetic corpus has none, and the cap would only REMOVE
    non-discriminative keys from the join, as F3 documents.

    r17: spread A/B-measured SLOWER here (interleaved min-of-3: on
    6.9s vs off 4.3s under load; the one equi-join already re-spreads
    the shingle stream and the projection is cheap enough that the
    extra exchange dominates) — left unspread.
    """
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace(
            "CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)"
        )
    )
    docs = d.select("doc_id", bucket.alias("bucket"))
    sh = pin(
        word_ngrams(d, CONT_N, distinct=True)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .join(docs, "doc_id"),
        "containment shingles",  # feeds train slice, eval slice, sizes
    )
    tr = sh.filter(F.col("bucket") < TRAIN_PCT).select(
        F.col("doc_id").alias("train_doc_id"), "h"
    )
    ev = sh.filter(F.col("bucket") >= TRAIN_PCT).select(
        F.col("doc_id").alias("eval_doc_id"), "h"
    )
    esz = ev.groupBy("eval_doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        ev.join(tr, "h")
        .groupBy("eval_doc_id", "train_doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cont = F.col("c").cast("double") / F.col("n")
    return (
        pairs.join(F.broadcast(esz), "eval_doc_id")
        .filter(cont >= CONT_MIN)
        .select(
            "eval_doc_id",
            "train_doc_id",
            F.round(cont, 4).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# F14 — incremental batch dedup: classify a NEW batch of documents
# against an EXISTING corpus without ever comparing corpus×corpus —
# the shape a production pipeline runs daily (the index side is
# precomputed once; each day's batch joins against it). Tiers:
# exact (content hash match), near (shares >= CONT_MIN of its
# 8-grams with some corpus doc), unique.
# --------------------------------------------------------------------------

INCR_NEAR_MIN = 0.3

INCREMENTAL_DEDUP_ORACLE = f"""
WITH b AS (SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket FROM documents),
corpus AS (SELECT d.* FROM documents d JOIN b USING (doc_id)
           WHERE bucket < {TRAIN_PCT}),
batch AS (SELECT d.* FROM documents d JOIN b USING (doc_id)
          WHERE bucket >= {TRAIN_PCT}),
sh AS ({word_ngrams_sql(CONT_N)}),
bsz AS (SELECT sh.doc_id, COUNT(*) AS n FROM sh
        JOIN batch USING (doc_id) GROUP BY sh.doc_id),
overlap AS (
  SELECT e.doc_id, MAX(cnt) AS best
  FROM (
    SELECT ev.doc_id, tr.doc_id AS tdoc, COUNT(*) AS cnt
    FROM (SELECT sh.doc_id, shingle FROM sh JOIN batch USING (doc_id)) ev
    JOIN (SELECT sh.doc_id, shingle FROM sh JOIN corpus USING (doc_id)) tr
      ON ev.shingle = tr.shingle
    GROUP BY 1, 2
  ) e
  GROUP BY e.doc_id
)
SELECT batch.doc_id,
       CASE
         WHEN md5(batch.text) IN (SELECT md5(text) FROM corpus)
           THEN 'exact'
         WHEN COALESCE(CAST(overlap.best AS DOUBLE) / bsz.n, 0)
                  >= {INCR_NEAR_MIN}
           THEN 'near'
         ELSE 'unique'
       END AS status
FROM batch
LEFT JOIN overlap USING (doc_id)
LEFT JOIN bsz USING (doc_id)
"""


@query("incremental_dedup_status", INCREMENTAL_DEDUP_ORACLE)
def incremental_dedup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup: NOTHING here scales with corpus², only
    with |batch| x (matching corpus rows).

    - exact tier: left-semi join of batch content hashes against the
      (in production: precomputed + bucketed) corpus hash index;
    - near tier: batch shingles equi-join corpus shingles, max
      per-batch-doc overlap, containment vs the batch doc's own
      shingle count.
    """
    # spread(by=doc_id) r17: md5 + 8-gram shingles ran single-task on
    # the local one-row-group scan; no-op at 100 TB.
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace(
            "CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)"
        )
    )
    docs = d.withColumn("bucket", bucket)
    corpus = docs.filter(F.col("bucket") < TRAIN_PCT)
    batch = docs.filter(F.col("bucket") >= TRAIN_PCT)

    exact = (
        batch.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("hsh")
        )
        .join(
            corpus.select(
                F.md5(F.col("text").cast("binary")).alias("hsh")
            ).distinct(),
            "hsh",
            "left_semi",
        )
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )

    # bucket is a pure function of doc_id, so the batch/corpus slices
    # are FILTERS on the shingle frame, not semi-joins against doc-id
    # lists — no extra documents scans, no join shuffles (same pattern
    # as decontaminate_eval's inline bucket)
    sh = word_ngrams(docs, CONT_N, distinct=True).select(
        "doc_id", F.xxhash64("shingle").alias("h"), bucket.alias("__b")
    )
    bsh = pin(
        sh.filter(F.col("__b") >= TRAIN_PCT).drop("__b"),
        "batch shingles",  # feeds sizes + the overlap join
    )
    csh = sh.filter(F.col("__b") < TRAIN_PCT).select(
        F.col("doc_id").alias("cdoc"), "h"
    )
    bsz = bsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    best = (
        bsh.join(csh, "h")
        .groupBy("doc_id", "cdoc")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("best"))
    )
    status = (
        F.when(F.col("is_exact") == 1, F.lit("exact"))
        .when(
            F.coalesce(
                F.col("best").cast("double") / F.col("n"), F.lit(0.0)
            )
            >= INCR_NEAR_MIN,
            F.lit("near"),
        )
        .otherwise(F.lit("unique"))
    )
    return (
        batch.select("doc_id")
        .join(F.broadcast(exact), "doc_id", "left")
        .join(best, "doc_id", "left")
        .join(bsz, "doc_id", "left")
        .select("doc_id", status.alias("status"))
    )


# --------------------------------------------------------------------------
# H33 — sequence-packing waste: how many padding tokens a fixed-length
# training batch layout burns, per source, for two layouts: pad each
# doc to the next multiple of MAX_LEN ("per-doc") vs concatenate the
# source's docs then chunk ("packed", the GPT-style layout whose only
# waste is the final partial chunk). The delta is the token budget
# recovered by sequence packing — a number LLM teams actually watch.
# --------------------------------------------------------------------------

PACK_LEN = 64

PACKING_WASTE_ORACLE = f"""
WITH tl AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(ceil(n / {PACK_LEN}.0) AS BIGINT)) AS BIGINT)
           AS padded_chunks,
       CAST(SUM(CAST(ceil(n / {PACK_LEN}.0) AS BIGINT)) * {PACK_LEN}
            - SUM(n) AS BIGINT) AS padded_waste,
       CAST(CAST(ceil(SUM(n) / {PACK_LEN}.0) AS BIGINT) AS BIGINT)
           AS packed_chunks,
       ROUND((SUM(CAST(ceil(n / {PACK_LEN}.0) AS BIGINT)) * {PACK_LEN}
              - SUM(n)) / CAST(SUM(CAST(ceil(n / {PACK_LEN}.0) AS BIGINT))
              * {PACK_LEN} AS DOUBLE), 4) AS waste_ratio
FROM tl
GROUP BY source
"""


@query("sequence_packing_waste", PACKING_WASTE_ORACLE)
def sequence_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow scan -> per-source integer aggregates; every number
    is exact integer arithmetic, the single shuffle carries |sources|
    groups with map-side partials."""
    d = t(spark, sf_dir, "documents")
    n = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    chunks = F.ceil(n / F.lit(float(PACK_LEN))).cast("bigint")
    return (
        d.select("source", n.alias("n"), chunks.alias("ch"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum("ch").cast("bigint").alias("padded_chunks"),
            (F.sum("ch") * PACK_LEN - F.sum("n"))
            .cast("bigint")
            .alias("padded_waste"),
            F.ceil(F.sum("n") / F.lit(float(PACK_LEN)))
            .cast("bigint")
            .alias("packed_chunks"),
            F.round(
                (F.sum("ch") * PACK_LEN - F.sum("n"))
                / (F.sum("ch") * PACK_LEN).cast("double"),
                4,
            ).alias("waste_ratio"),
        )
    )


# --------------------------------------------------------------------------
# H35 — the END-TO-END LLM data-prep funnel: quality gate -> language
# filter -> train split -> exact dedup -> near-dup drop -> eval
# decontamination, with per-stage survival counts. Each stage reuses
# the exact semantics of its standalone operator (H1 gates, H5 split
# buckets, F1 canonical hashing, F2 minhash-LSH verified pairs, F8
# 8-gram contamination), so this query IS the pipeline a training-
# data team runs, compressed to its stage-count readout. Near-dup
# drop rule: a doc is dropped if any VERIFIED near-dup pair partner
# with a smaller id survived exact dedup — the deterministic
# "keep first occurrence" rule (pairwise, not transitive closure;
# F6/F10 are the full-closure canonicalizers).
# --------------------------------------------------------------------------

FUNNEL_STAGES = (
    "all",
    "quality",
    "lang_en",
    "train_split",
    "exact_dedup",
    "near_dedup",
    "decontaminated",
)

LLM_FUNNEL_ORACLE = f"""
WITH flags AS (
  SELECT doc_id, text, lang, {_SPLIT_BUCKET_SQL} AS bucket,
         CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> ''))
                   >= 10
               AND CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN {STOPWORDS!r})) AS DOUBLE)
                   / greatest(len(list_filter(string_split(text, ' '),
                     x -> x <> '')), 1) >= 0.05
              THEN 1 ELSE 0 END AS q_ok,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
         CASE WHEN {_SPLIT_BUCKET_SQL} < {TRAIN_PCT} THEN 1 ELSE 0 END AS tr
  FROM documents
),
s4 AS (SELECT * FROM flags WHERE q_ok = 1 AND en = 1 AND tr = 1),
canon AS (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM s4 GROUP BY 1),
s5 AS (
  SELECT s4.doc_id FROM s4
  JOIN canon ON md5(s4.text) = canon.h AND s4.doc_id = canon.keep
),
pairs AS ({MINHASH_ORACLE}),
dropb AS (
  SELECT DISTINCT p.doc_id_b AS doc_id
  FROM pairs p JOIN s5 ON p.doc_id_a = s5.doc_id
),
sh AS ({word_ngrams_sql(DECON_N)}),
evsh AS (
  SELECT DISTINCT shingle FROM sh
  JOIN flags USING (doc_id) WHERE flags.bucket >= {TRAIN_PCT}
),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh
  WHERE shingle IN (SELECT shingle FROM evsh)
),
ann AS (
  SELECT f.q_ok, f.en, f.tr,
         CASE WHEN s5.doc_id IS NOT NULL THEN 1 ELSE 0 END AS k5,
         CASE WHEN db.doc_id IS NOT NULL THEN 0 ELSE 1 END AS nd,
         CASE WHEN ct.doc_id IS NOT NULL THEN 0 ELSE 1 END AS cl
  FROM flags f
  LEFT JOIN s5 ON s5.doc_id = f.doc_id
  LEFT JOIN dropb db ON db.doc_id = f.doc_id
  LEFT JOIN contaminated ct ON ct.doc_id = f.doc_id
),
counts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(q_ok) AS BIGINT) AS n2,
         CAST(SUM(q_ok * en) AS BIGINT) AS n3,
         CAST(SUM(q_ok * en * tr) AS BIGINT) AS n4,
         CAST(SUM(q_ok * en * tr * k5) AS BIGINT) AS n5,
         CAST(SUM(q_ok * en * tr * k5 * nd) AS BIGINT) AS n6,
         CAST(SUM(q_ok * en * tr * k5 * nd * cl) AS BIGINT) AS n7
  FROM ann
)
{" UNION ALL ".join(
    f"SELECT {i + 1} AS stage_idx, '{st}' AS stage,"
    f" n{i + 1} AS n_docs,"
    f" {r4_sql(f'CAST(n{i + 1} AS DOUBLE) / n1')} AS pct_of_start"
    f" FROM counts"
    for i, st in enumerate(FUNNEL_STAGES)
)}
"""


@query("llm_data_prep_funnel", LLM_FUNNEL_ORACLE)
def llm_data_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row-wise flag pass + three id-keyed joins + ONE aggregate;
    the 7 stage rows fan out of the 1-row counts frame via
    array+posexplode (union branches would re-execute the whole
    upstream per stage — the repo's documented pitfall).

    Scale shape: flags are scan-side column arithmetic; the exact-
    canonical join shuffles on the content hash (F1's cost); near-dup
    pairs come from the F2 plan (banded, candidate-verified); the
    contamination semi-join is F8's cost. Everything downstream of
    those joins is |dropped-ids|-sized.

    r17: spread(by=doc_id) ahead of the flags checkpoint — the eager
    checkpoint pins the scan's partitioning onto every downstream
    subtree (md5 canon, DECON_N shingles, eval shingles), which on the
    local single-row-group layout serialized them all on one core.
    No-op at 100 TB (wide scan). A/B: see OPTIMIZATION_r17.md.
    """
    d = spread(t(spark, sf_dir, "documents"), by="doc_id")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace(
            "CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)"
        )
    )
    tokens = F.filter(F.split("text", " "), lambda x: x != "")
    n_tokens = F.size(tokens)
    n_stop = F.size(F.filter(tokens, lambda x: x.isin(*STOPWORDS)))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    q_ok = F.when((n_tokens >= 10) & (stop_ratio >= 0.05), 1).otherwise(0)
    flags = pin(
        d.select(
            "doc_id",
            "text",
            q_ok.alias("q_ok"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("en"),
            F.when(bucket < TRAIN_PCT, 1).otherwise(0).alias("tr"),
            bucket.alias("bucket"),
        ),
        "funnel flags",
    )  # feeds s4, eval shingles, final agg

    s4 = flags.filter(
        (F.col("q_ok") == 1) & (F.col("en") == 1) & (F.col("tr") == 1)
    ).select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    canon = s4.groupBy("h").agg(F.min("doc_id").alias("keep"))
    s5 = (
        s4.join(canon, "h")
        .filter(F.col("doc_id") == F.col("keep"))
        .select("doc_id")
    )
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    dropb = (
        pairs.join(
            s5.select(F.col("doc_id").alias("doc_id_a")),
            "doc_id_a",
            "left_semi",
        )
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    sh = word_ngrams(
        flags.select("doc_id", "text"), DECON_N, distinct=True
    ).select("doc_id", F.xxhash64("shingle").alias("hs"))
    evsh = (
        sh.join(
            flags.filter(F.col("bucket") >= TRAIN_PCT).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        .select("hs")
        .distinct()
    )
    contaminated = (
        sh.join(evsh, "hs", "left_semi").select("doc_id").distinct()
    )
    ann = (
        flags.select("doc_id", "q_ok", "en", "tr")
        .join(s5.withColumn("k5", F.lit(1)), "doc_id", "left")
        .join(dropb.withColumn("d6", F.lit(1)), "doc_id", "left")
        .join(contaminated.withColumn("d7", F.lit(1)), "doc_id", "left")
        .select(
            "q_ok",
            "en",
            "tr",
            F.coalesce("k5", F.lit(0)).alias("k5"),
            (F.lit(1) - F.coalesce("d6", F.lit(0))).alias("nd"),
            (F.lit(1) - F.coalesce("d7", F.lit(0))).alias("cl"),
        )
    )
    c = ann.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("q_ok").cast("bigint").alias("n2"),
        F.sum(F.col("q_ok") * F.col("en")).cast("bigint").alias("n3"),
        F.sum(F.col("q_ok") * F.col("en") * F.col("tr"))
        .cast("bigint")
        .alias("n4"),
        F.sum(F.col("q_ok") * F.col("en") * F.col("tr") * F.col("k5"))
        .cast("bigint")
        .alias("n5"),
        F.sum(
            F.col("q_ok")
            * F.col("en")
            * F.col("tr")
            * F.col("k5")
            * F.col("nd")
        )
        .cast("bigint")
        .alias("n6"),
        F.sum(
            F.col("q_ok")
            * F.col("en")
            * F.col("tr")
            * F.col("k5")
            * F.col("nd")
            * F.col("cl")
        )
        .cast("bigint")
        .alias("n7"),
    )
    stage_arr = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(st).alias("stage"),
                F.col(f"n{i + 1}").alias("n_docs"),
            )
            for i, st in enumerate(FUNNEL_STAGES)
        ]
    )
    return (
        c.select("n1", F.explode(stage_arr).alias("s"))
        .select(
            F.col("s.stage_idx").alias("stage_idx"),
            F.col("s.stage").alias("stage"),
            F.col("s.n_docs").alias("n_docs"),
            r4(
                F.col("s.n_docs").cast("double") / F.col("n1")
            ).alias("pct_of_start"),
        )
    )


# --------------------------------------------------------------------------
# H36 — APPLY the H19 mixture: deterministic per-source quota
# sampling. H19 computes temperature-scaled weights; this draws the
# actual sample — quota_s = min(n_s, floor(weight_s * budget)), docs
# chosen by md5 rank within source (reproducible, RNG-free, stable
# under corpus growth of OTHER sources). kept_id_sum is an
# order-insensitive membership checksum: two clusters agree on the
# EXACT kept set, not just its size.
# --------------------------------------------------------------------------

APPLY_MIX_BUDGET = 300

APPLY_MIXTURE_ORACLE = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(POW(CAST(n_docs AS DOUBLE), {MIX_ALPHA})) AS z FROM per_src
),
quota AS (
  SELECT p.source, p.n_docs,
         least(p.n_docs,
               CAST(floor({APPLY_MIX_BUDGET}
                          * POW(CAST(p.n_docs AS DOUBLE), {MIX_ALPHA})
                          / t.z + 1e-9) AS BIGINT)) AS quota
  FROM per_src p CROSS JOIN tot t
),
ranked AS (
  SELECT d.doc_id, d.source,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS rnk
  FROM documents d
),
kept AS (
  SELECT r.source, r.doc_id
  FROM ranked r JOIN quota q ON q.source = r.source
  WHERE r.rnk <= q.quota
)
SELECT q.source,
       CAST(q.n_docs AS BIGINT) AS n_docs,
       q.quota,
       CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
FROM quota q LEFT JOIN kept k ON k.source = q.source
GROUP BY q.source, q.n_docs, q.quota
"""


@query("apply_mixture_sampling", APPLY_MIXTURE_ORACLE)
def apply_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts -> 1-row normalizer -> broadcast quota frame
    -> rank window PARTITIONED by source (the only heavy shuffle, and
    it's the same source-keyed exchange any per-source op pays) ->
    per-source rollup. The floor() is epsilon-nudged identically on
    both engines because the quota can land exactly on an integer
    (uniform sources make weight*budget exact) while z is an
    order-sensitive double sum.
    """
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    z = per_src.agg(
        F.sum(F.pow(F.col("n_docs").cast("double"), MIX_ALPHA)).alias("z")
    )
    # feeds the keep-filter AND the final readout join — tiny
    # |sources|-row frame, pin it
    quota = pin(
        per_src.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.least(
                F.col("n_docs").cast("bigint"),
                F.floor(
                    APPLY_MIX_BUDGET
                    * F.pow(F.col("n_docs").cast("double"), MIX_ALPHA)
                    / F.col("z")
                    + 1e-9
                ).cast("bigint"),
            ).alias("quota"),
        ),
        "mixture quota",
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w).alias("rnk")
    )
    kept = ranked.join(F.broadcast(quota.select("source", "quota")), "source").filter(
        F.col("rnk") <= F.col("quota")
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
    )
    return (
        quota.join(kept_agg, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "quota",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("kept_id_sum", F.lit(0))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
    )


# --------------------------------------------------------------------------
# H37 — bigram-LM perplexity proxy with add-one smoothing: H25's
# unigram scorer ignores word order; the conditional bigram model
# P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V) is the cheapest scorer that
# penalizes scrambled text, and its corpus pass is still two hash
# aggregations (bigram counts + unigram counts) joined back onto the
# bigram stream. The smoothing constant makes the model total and
# keeps every probability rational-over-integer — cross-engine exact
# up to the r4-nudged log sum.
# --------------------------------------------------------------------------

BIGRAM_NLL_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, u.w1 AS w1, u.bg AS bg FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
               i -> {{'w1': t[i], 'bg': t[i] || ' ' || t[i + 1]}})) AS u
    FROM tk WHERE len(t) >= 2
  )
),
bgc AS (SELECT bg, COUNT(*) AS nbg FROM bg GROUP BY bg),
ugc AS (
  SELECT tok, COUNT(*) AS nug FROM (
    SELECT unnest(t) AS tok FROM tk
  ) GROUP BY tok
),
voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM ugc)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {r4_sql(
           "-SUM(log2((CAST(c.nbg AS DOUBLE) + 1)"
           " / (u.nug + voc.v))) / COUNT(*)"
       )} AS avg_nll
FROM bg b
JOIN bgc c USING (bg)
JOIN ugc u ON u.tok = b.w1
CROSS JOIN voc
GROUP BY b.doc_id
"""


@query("bigram_logprob_score", BIGRAM_NLL_ORACLE)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two corpus hash-aggregates (bigram df, unigram df) + one
    broadcast scalar V; scoring joins ride the bigram stream's
    existing doc_id grouping — no windows, no self-joins."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    bg = pin(
        d.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2), i -> "
                    "named_struct('w1', t[i], "
                    "'bg', concat(t[i], ' ', t[i + 1])))"
                )
            ).alias("u"),
        )
        .select("doc_id", F.col("u.w1").alias("w1"), F.col("u.bg").alias("bg")),
        "bigram counts",  # feeds bigram df AND scoring join
    )
    toks_all = d.select(F.explode(toks).alias("tok"))
    ugc = toks_all.groupBy("tok").agg(F.count(F.lit(1)).alias("nug"))
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("nbg"))
    voc = ugc.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    nll = -F.log2(
        (F.col("nbg").cast("double") + 1) / (F.col("nug") + F.col("v"))
    )
    return (
        bg.join(bgc, "bg")
        .join(ugc, F.col("w1") == F.col("tok"))
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            r4(F.sum(nll) / F.count(F.lit(1))).alias("avg_nll"),
        )
    )


# --------------------------------------------------------------------------
# H38 — deterministic token-dropout augmentation: the noise-injection
# step of a training recipe, made REPRODUCIBLE — keep/drop is a pure
# function of (doc_id, position) via md5, no RNG, so re-running a
# 100 TB augmentation job yields byte-identical shards (and the
# oracle can hash the augmented text itself). Drop rate = 3/16
# (first md5 hex digit < 3). Everything is one narrow projection —
# no shuffle at all until a consumer aggregates.
# --------------------------------------------------------------------------

DROP_HEX_LT = 3

_DROP_KEEP_SQL = (
    "instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)"
    " || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1"
)

TOKEN_DROPOUT_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
kept AS (
  SELECT doc_id, len(t) AS n_tokens,
         list_filter(
           list_transform(range(1, len(t) + 1),
             i -> CASE WHEN {_DROP_KEEP_SQL} >= {DROP_HEX_LT}
                       THEN t[i] ELSE NULL END),
           x -> x IS NOT NULL
         ) AS kt
  FROM tk
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(kt) AS BIGINT) AS n_kept,
       md5(array_to_string(kt, ' ')) AS aug_hash
FROM kept
"""


@query("token_dropout_augment", TOKEN_DROPOUT_ORACLE)
def token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle narrow plan; the keep decision and the augmented-
    text hash are identical md5 arithmetic on both engines, so the
    oracle verifies the augmented CONTENT, not just its size."""
    d = t(spark, sf_dir, "documents")
    keep_case = (
        "transform(tk, (x, j) -> CASE WHEN "
        "instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)"
        " || ':' || CAST(j + 1 AS STRING)), 1, 1)) - 1 >= "
        f"{DROP_HEX_LT} THEN x ELSE NULL END)"
    )
    return (
        d.select(
            "doc_id",
            F.filter(F.split("text", " "), lambda x: x != "").alias("tk"),
        )
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("n_tokens"),
            F.expr(
                f"filter({keep_case}, x -> x IS NOT NULL)"
            ).alias("kt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("kt").cast("bigint").alias("n_kept"),
            F.md5(F.array_join("kt", " ").cast("binary")).alias("aug_hash"),
        )
    )


# --------------------------------------------------------------------------
# H39 — classifier evaluation readout: confusion matrix of the H2
# language-ID heuristic against the labeled `lang` column, with
# per-label recall. The eval loop every filtering classifier in a
# data pipeline needs — composed directly from the H2 plan, so the
# numbers grade exactly what ships.
# --------------------------------------------------------------------------

LANG_CONFUSION_ORACLE = f"""
WITH preds AS ({LANG_ID_ORACLE}),
cm AS (
  SELECT labeled_lang, pred_lang, COUNT(*) AS n
  FROM preds GROUP BY 1, 2
),
tot AS (
  SELECT labeled_lang, SUM(n) AS n_label FROM cm GROUP BY labeled_lang
)
SELECT cm.labeled_lang, cm.pred_lang,
       CAST(cm.n AS BIGINT) AS n,
       {r4_sql("CAST(cm.n AS DOUBLE) / tot.n_label")} AS label_share,
       CASE WHEN cm.labeled_lang = cm.pred_lang THEN 1 ELSE 0 END
           AS is_correct
FROM cm JOIN tot USING (labeled_lang)
"""


@query("lang_id_confusion", LANG_CONFUSION_ORACLE)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = lang_id(spark, sf_dir)
    cm = preds.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.groupBy("labeled_lang").agg(F.sum("n").alias("n_label"))
    return (
        cm.join(F.broadcast(tot), "labeled_lang")
        .select(
            "labeled_lang",
            "pred_lang",
            F.col("n").cast("bigint").alias("n"),
            r4(F.col("n").cast("double") / F.col("n_label")).alias(
                "label_share"
            ),
            F.when(F.col("labeled_lang") == F.col("pred_lang"), 1)
            .otherwise(0)
            .alias("is_correct"),
        )
    )


# --------------------------------------------------------------------------
# H43 — per-source (domain) quota cap: RefinedWeb/C4-style "no single
# domain dominates the corpus" sampling. Each source keeps its first
# DOMAIN_CAP docs in deterministic pseudo-random order (the H5 md5
# bucket, tie-broken by doc_id) and the query reports the per-source
# keep funnel. The rank window is partitioned BY SOURCE — at 100 TB
# each domain ranks independently (one shuffle on source; a pathological
# mega-domain is exactly the case AQE skew-split handles), never a
# global ordering.
# --------------------------------------------------------------------------

DOMAIN_CAP = 15

DOMAIN_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY {_SPLIT_BUCKET_SQL}, doc_id
         ) AS rn
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars,
       {r4_sql(f"SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END)"
               " * 1.0 / COUNT(*)")} AS kept_frac
FROM ranked
GROUP BY source
"""


@query("domain_cap_sample", DOMAIN_CAP_ORACLE)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
    )
    w = Window.partitionBy("source").orderBy(bucket.asc(), F.col("doc_id"))
    kept = F.col("rn") <= DOMAIN_CAP
    return (
        d.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
            r4(
                F.sum(kept.cast("int")) * F.lit(1.0) / F.count(F.lit(1))
            ).alias("kept_frac"),
        )
    )


# --------------------------------------------------------------------------
# H41 — per-source KL divergence of the unigram token distribution vs
# the whole corpus: the standard mixture-drift / domain-shift health
# metric (which sources' token statistics deviate most from the blend
# the model will train on). Every source token also appears in the
# corpus distribution, so q > 0 by construction and the sum is finite.
# Plan shape at 100 TB: one (source, token) shuffle with map-side
# partial aggregation, a token-keyed join against the corpus counts
# (itself a re-aggregation of the same frame), and a broadcast of the
# |sources|-row totals; production would persist the (source, token)
# counts once rather than recompute per report.
# --------------------------------------------------------------------------

SOURCE_KL_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
sc AS (
  SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS c
  FROM tok WHERE tok <> '' GROUP BY source, tok
),
stot AS (SELECT source, SUM(c) AS st FROM sc GROUP BY source),
cc AS (SELECT tok, SUM(c) AS tc FROM sc GROUP BY tok),
ctot AS (SELECT SUM(tc) AS ct FROM cc)
SELECT s.source,
       CAST(st.st AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       {r6_sql("SUM((s.c / st.st) * ln((s.c / st.st) / (c.tc / ctot.ct)))")}
         AS kl_divergence
FROM sc s
JOIN stot st USING (source)
JOIN cc c USING (tok)
CROSS JOIN ctot
GROUP BY s.source, st.st
"""


@query("source_kl_divergence", SOURCE_KL_ORACLE)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # The (source, token) counts feed FOUR subtrees (main frame, source
    # totals, corpus counts, corpus total); without pinning, Spark
    # re-executes the scan+explode+agg once per subtree. One pin = one
    # token shuffle, reused everywhere.
    sc = pin(
        d.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c")),
        "source token counts",
    )
    stot = sc.groupBy("source").agg(F.sum("c").alias("st"))
    cc = sc.groupBy("tok").agg(F.sum("c").alias("tc"))
    ctot = cc.agg(F.sum("tc").alias("ct"))
    p = F.col("c") / F.col("st")
    q = F.col("tc") / F.col("ct")
    return (
        sc.join(F.broadcast(stot), "source")
        .join(cc, "tok")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source", "st")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            r6(F.sum(p * F.log(p / q))).alias("kl_divergence"),
        )
        .select(
            "source",
            F.col("st").cast("bigint").alias("n_tokens"),
            F.col("n_distinct_tokens").cast("bigint"),
            "kl_divergence",
        )
    )


# --------------------------------------------------------------------------
# H42 — reproducible training-shard manifest: the "global shuffle"
# step before training. Every doc gets a pseudo-random but fully
# deterministic shard (md5 bucket % N) and intra-shard position
# (bucket, doc_id order), so any two runs — or two engines — produce
# byte-identical shard files. The manifest proves it: per shard, a
# position-weighted checksum over (rank, doc_id) that differs if even
# two docs swap order. Rank windows are shard-partitioned (the shard
# count caps parallelism here, so production uses N >> cores; the
# SHAPE — no global ordering — is what scales).
# --------------------------------------------------------------------------

N_SHARDS = 8

SHARD_MANIFEST_ORACLE = f"""
WITH ranked AS (
  SELECT CAST({_SPLIT_BUCKET_SQL} % {N_SHARDS} AS INT) AS shard,
         doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY {_SPLIT_BUCKET_SQL} % {N_SHARDS}
           ORDER BY {_SPLIT_BUCKET_SQL}, doc_id
         ) AS rank
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(rank * (doc_id % 1000003)) AS BIGINT) AS order_checksum
FROM ranked
GROUP BY shard
"""


@query("training_shard_manifest", SHARD_MANIFEST_ORACLE)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    bucket = F.expr(
        _SPLIT_BUCKET_SQL.replace("CAST(doc_id AS VARCHAR)", "CAST(doc_id AS STRING)")
    )
    w = Window.partitionBy("shard").orderBy("bucket", "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars", bucket.alias("bucket"))
        .withColumn("shard", (F.col("bucket") % N_SHARDS).cast("int"))
        .withColumn("rank", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.col("rank") * (F.col("doc_id") % 1000003))
            .cast("bigint")
            .alias("order_checksum"),
        )
    )
