"""Named-query registry: the single source of truth for the engine's
query surface.

Every capability row in SURVEY.md §2 registers here as
``(name, spark_fn, oracle_sql)``; ``__spark_entry__.py`` re-exports it
for the driver. Oracle SQL is ANSI DuckDB-runnable against the same
parquet tables (pre-registered views).

Cross-engine determinism rules (so the driver's order-insensitive
value-hash matches):
- alias every computed column identically on both sides;
- round double aggregates (``round(x, 2)`` money, ``round(x, 4)``
  ratios/averages) — both engines round half-away-from-zero for
  positive doubles;
- cast calendar parts (year/month/day/hour) to INT on both sides;
- make every top-k / rank deterministic with an explicit key tiebreak.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# ---------------------------------------------------------------------------
# Driver-gate ordering.
#
# The round driver's CORRECTNESS gate checks only the FIRST
# ``GATE_WINDOW`` keys of ``queries()`` in dict order — fewer than the
# registry holds, so the ordering decides which keys get a driver row
# this round. Earlier rounds hand-maintained a pin list + stride
# rotation; that grew stale-coverage debt (round 6 pinned 41 keys and
# relaxed the staleness bound to 17 rounds). Round 7 replaces it with a
# self-maintaining scheme driven by the driver's own artifacts:
#
# 1. ``GATE_PIN`` is now a {key: min_green_round} dict of FORCED
#    re-verifications (a key whose plan changed must earn a fresh green
#    row). A pin auto-expires the moment the artifacts show a fully
#    green row for that key in a round >= min_green_round — no manual
#    r+1 cleanup, no possibility of a forgotten pin stretching the
#    rotation stride.
# 2. Every other key is ordered by STALENESS: never-driver-gated keys
#    first (so new queries always debut in their first round), then by
#    last-green round ascending (a key whose latest row failed sorts by
#    its older last-green, floating it back into the window), ties
#    broken alphabetically.
#
# Because each round's driver run stamps green rows for the whole
# window, the stalest tail advances by (GATE_WINDOW - active pins)
# keys per round, so full-registry coverage needs
# ceil(|registry| / GATE_WINDOW) rounds once pins expire —
# tests/test_registry.py simulates exactly this and asserts the 4-round
# bound. History comes from the CORRECTNESS_r*.json artifacts the
# driver leaves at the repo root (fixed within a round, so the order is
# deterministic; local pytest covers every key every run regardless).
# ---------------------------------------------------------------------------

GATE_WINDOW = 50

#: key -> earliest round whose green row satisfies the pin. Add an
#: entry when a query's PLAN changes materially (set it to the current
#: round + 1, i.e. the next driver round); never remove entries by
#: hand — expired pins are inert and document the re-verification.
GATE_PIN: dict[str, int] = {
    # round-7 plan changes that must earn a fresh green row:
    "dedup_ngram_jaccard": 7,  # verification replan (size-bound prefilter)
    "mmr_diversified_topk": 7,  # empty-pool guard in the greedy loop
    # round-7 memoized pair-input rewire (materialized intermediate):
    "dedup_connected_components": 7,
    "dedup_clusters_lsss": 7,
    "dup_cluster_size_histogram": 7,
    "dup_graph_triangles": 7,
    "llm_data_prep_funnel": 7,
    # round-7 pinned-subtree replans (FileScan-count cuts):
    # (kcore_peeling and ann_pq_topk were round-7 pins too — their
    # r17 optimization re-pins below supersede them; each key appears
    # once per the duplicate-literal hygiene rule above):
    "kmeans_embeddings": 7,
    "ann_ivf_topk": 7,
    "ann_ivf_recall_at_k": 7,
    "apply_mixture_sampling": 7,
    "chi2_type_by_dow": 7,
    "mutual_info_type_hour": 7,
    "max_concurrent_intervals": 7,
    "value_outliers_mad": 7,
    "bm25_search_topk": 7,
    "decontaminate_eval": 7,
    # round-7 hash-early replan; round-8 (h, length) collision guard on
    # the self-join key — no r7 green row exists, so the bump to 8 is
    # the same window slot, just documented precisely:
    "cross_source_content_overlap": 8,
    # round-7 re-scan-audit replans (pinned bounded frames / fan-out
    # instead of per-consumer fact re-scans):
    "incremental_dedup_status": 7,
    "winnowing_fingerprint_pairs": 7,
    "zipf_slope": 7,
    "join_cardinality_estimate": 7,
    "unigram_logprob_score": 7,
    "dedup_simhash": 7,
    # minhash_estimate_quality and dedup_minhash_lsh were pinned at 7
    # here too (satisfied by their r8 green rows); a dict literal can't
    # carry the same key twice, so those expired pins live in this
    # comment and the keys appear once below with their r11 re-pins
    # (r11 verdict hygiene item — the duplicate literals were F601-class
    # noise, behavior unchanged since Python kept the later value):
    # round-9 replan: fingerprint min folded in-row (array_min) —
    # explode+groupBy removed, zero-shuffle projection (that pin,
    # value 9, is superseded by the r17 spread re-pin below):
    # round-10 replan: lexical candidate generation bounded (df screen
    # + rarest-M query terms — Lucene MLT shape); scores change (qsz
    # is now the capped set size), oracle updated symmetrically. That
    # pin (value 10, satisfied by the r10 green row) is superseded by
    # the r11 single-tokenize entry below — a dict literal can't carry
    # the same key twice, so the expired pin lives in this comment:
    # round-10 replan: driver-side iteration over the collected
    # ≤|types|² edge matrix (enumerable-domain boundedness) replaces
    # the distributed join-agg rounds; same arithmetic, same oracle.
    # That pin (value 10, satisfied by its r10 green row) is
    # superseded by the r19 local-relation entry below — a dict
    # literal can't carry the same key twice.
    # round-10 rewire: consumes F9's pairs through the session pair
    # memo (materialized-view rule; rows identical, cold==warm-tested).
    # Already in the r10 window (last green r5) — no extra slot:
    "semantic_dedup_canonical": 10,
    # round-10 replan: spread() widens the single-row-group scan before
    # the CPU-heavy projections (rows identical; layout-only; no-op on
    # multi-file corpora). A/B-kept only where it measured faster —
    # regex-heavy pii scrub and the d²-fan-out PCA Gram — plus the F13
    # shingle pin (flat, kept for consumer-stage layout); light
    # tokenize+partial-agg keys were A/B-reverted (the exchange cost
    # more than single-core tokenize). All in the r10 window — free:
    "dedup_prefix_jaccard": 10,
    # pii_scrub_stats and embedding_pca_projection were pinned at 10
    # here too (satisfied by their r10 green rows); a dict literal
    # can't carry the same key twice, so those expired pins live in
    # this comment and the keys appear once below with their r14
    # spread(by=) re-pins:
    # round-11 replan: spread() widens the one-row-group scan ahead of
    # the shingle explode (layout-only; rows identical; no-op on
    # multi-file corpora). A/B-kept with tools/ab_spread.py
    # (interleaved arms, min-of-3 at sf0.1): minhash_lsh 2.81->2.20s,
    # estimate_quality 3.18->2.62s; a second A/B then switched both to
    # hash-by-doc_id partitioning (2.20->1.61s, 2.62->1.45s — skips
    # round-robin's pre-exchange local row sort; tables.spread
    # docstring). The same treatment was A/B-REVERTED on
    # dedup_ngram_jaccard, dedup_simhash and ann_pq_topk (slower).
    # NOTE these two are r8-era (the r10 verdict mislabeled them
    # in-window), so each pin spends an r11 slot:
    "dedup_minhash_lsh": 11,
    "minhash_estimate_quality": 11,
    # round-11 replan: one tokenize pass — the pinned relation is the
    # tf-annotated distinct-token table (groupBy count with map-side
    # combine); BM25 consumes tf in-row (tf_col), the second documents
    # text scan is gone. Result set bit-identical (exceptAll both ways
    # = 0 at sf0.1); A/B interleaved min-of-3 in one session: 10.8s ->
    # 3.9s. NOT in the r11 staleness window (last green r10) — this
    # pin deliberately spends one window slot, the round's only such:
    "hybrid_rrf_search_topk": 11,
    # round-14 replan: the banked spread(by=) switches land — hash
    # partitioning on the table's unique id replaces round-robin
    # (skips the pre-exchange local row sort; A/B tracked in
    # tables.spread: pii 0.84→0.52s, pca 1.24→1.13s at sf0.1). Both
    # keys are r10-green and inside the r14 staleness window, so the
    # pins are free (zero extra slots):
    "pii_scrub_stats": 14,
    # embedding_pca_projection was pinned at 14 here (satisfied by its
    # r14 green row); a dict literal can't carry the same key twice, so
    # that expired pin lives in this comment and the key appears once
    # below with its r15 revert pin:
    # round-15 replan: the pca spread(by="vec_id") switch REVERTED to
    # round-robin — the r14-verdict-ordered interleaved idle A/B at the
    # r15 HEAD (tools/ab_spread_by.py, min-of-3, load 0.75) read hash
    # 1.094s vs rr 1.069s (a wash; the r14 banked prior was measured
    # pre-switch), and the r14 tracked artifacts showed the switch
    # regressing (1.25 driver / 1.38 idle vs the 0.98 r13 rr floor).
    # pii_scrub_stats re-measured in the same A/B session: by= KEEPS
    # (0.492 vs 0.558) — no change, its r14 pin stands. pca is
    # r14-green, outside the r15 r11-era window, so this pin spends
    # one r15 slot:
    "embedding_pca_projection": 15,
    # round-16 replan (the r15 verdict's Next #2): the multimodal
    # decode cores are REAL now — I1b builds actual 24-bit BMPs from
    # the text bytes and features the DECODED pixel array (new
    # px_sum/top_left_r columns), I4 builds actual PCM WAVs and
    # windows the DECODED samples (new sample_rate/n_samples
    # columns); oracles updated to the same arithmetic. Both keys are
    # r14-green, outside the r16 r12-era window, so each pin spends
    # one r16 slot:
    "multimodal_image_stub": 16,
    "multimodal_audio_features_stub": 16,
    # round-17 plan change (r16 verdict Next #4): the I2 resize key
    # replans from length arithmetic to the REAL pixel path
    # (decode → NN grid → re-encode → re-decode → feature; new
    # px_sum/top_left_r columns, oracle restates the grid math from
    # the text convention) — must earn a fresh green row:
    "multimodal_resize_stub": 17,
    # round-17 plan change: the I3 frame-sample key replans from the
    # 1-KiB-slice stand-in to a REAL YUV4MPEG2 parse (new
    # px_sum/y_sum columns; oracle restates the planar layout from
    # the text convention) — must earn a fresh green row:
    "multimodal_frame_sample_stub": 17,
    # round-17 OPTIMIZATION replans (results oracle-identical, plans
    # changed — each must earn a fresh green row):
    # ADC LUT collapse: M chained broadcast joins -> ONE broadcast
    # map-lookup join (snapshot regenerated):
    "ann_pq_topk": 17,
    # spread(by=doc_id) re-parallelization of the single-row-group
    # local scan (profile: the whole key ran as one task):
    "doc_fingerprint": 17,
    # per-round localCheckpoint in the peel loop (plan was growing
    # quadratically with rounds — ~110 exchanges for 3 rounds):
    "kcore_peeling": 17,
    # (r18 note: a dedup_ngram_jaccard verification replan was built,
    # gate-pinned here at 18, then REVERTED after three tracked bench
    # runs read it consistently slower — see the comment at the key's
    # plan; no r18 pin ships because the shipped plan is the r17 one.)
    # round-19 replans: relations built from Python rows (prefix sums,
    # the bbox table, the PageRank result) are now JVM LocalRelations
    # (session.local_frame) instead of Python-RDD scans — the plans
    # read LocalTableScan where they read Scan ExistingRDD; results
    # unchanged. Found by diffing every key's formatted plan before
    # and after (tools/dump_round_plans.py); no other key moved.
    "exact_auc_purchase": 19,
    "geo_bbox_contains": 19,
    "pagerank_type_graph": 19,
    "shard_packing": 19,
    "user_rfm_segments": 19,
}


def _repo_root() -> str:
    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _gate_history() -> dict[str, int]:
    """key -> most recent round with a fully green driver row.

    Parsed from the CORRECTNESS_r*.json artifacts at the repo root.
    Keys absent from every artifact have never been driver-gated.
    """
    import glob
    import json

    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json")):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            rows = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for key, row in rows.items():
            ok = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                # hash_match is None for rows-only (oracle-less) checks;
                # only an explicit False is a failure.
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if ok and rnd > last_green.get(key, -1):
                last_green[key] = rnd


    return last_green


def active_pins(history: dict[str, int] | None = None) -> list[str]:
    """Pins not yet satisfied by a green row at >= their min round."""
    hist = _gate_history() if history is None else history
    return [
        k
        for k, min_rnd in GATE_PIN.items()
        if k in QUERIES and hist.get(k, -1) < min_rnd
    ]


def ordered_queries(
    history: dict[str, int] | None = None,
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES re-keyed for the driver gate: never-gated debuts first,
    then unexpired pins, then everything else stalest-first.

    ``history`` injects a synthetic last-green map (tests simulate
    multi-round rotation with it); default reads the driver artifacts.
    """
    hist = _gate_history() if history is None else history
    pinned = active_pins(hist)
    # Debuts outrank pins: a never-gated key has NO driver row at all,
    # while a pinned key has history and its pin stays active until a
    # satisfying green row lands — a pin squeezed out of a full window
    # simply floats into the next round's. This keeps a debut-heavy
    # round (round 7 pays 46 at once) from re-creating never-gated
    # debt just because plans changed elsewhere.
    debuts = sorted(k for k in QUERIES if k not in hist)
    pinned = [k for k in pinned if k not in debuts]
    rest = sorted(
        (k for k in QUERIES if k not in pinned and k not in debuts),
        key=lambda k: (hist.get(k, -1), k),
    )
    return {k: QUERIES[k] for k in [*debuts, *pinned, *rest]}

# ---------------------------------------------------------------------------
# Cross-engine safe rounding.
#
# Aggregates of decimal-grid data can land EXACTLY on a rounding half
# (e.g. a centroid of -25.25625): the unrounded doubles then differ
# between engines by summation-order noise (~1e-13) and round() flips
# the last digit. The fix: nudge by an epsilon far above fp noise but
# far below the output precision, identically in both engines, so no
# true value can sit on a boundary. Use the _sql twins in oracle text.
# ---------------------------------------------------------------------------

EPS2 = 1e-5  # for ROUND(x, 2): >> cross-engine noise, << 0.005 boundary gap
EPS4 = 1e-9  # for ROUND(x, 4) and ROUND(x, 6)


def r2(col):
    from pyspark.sql import functions as F

    return F.round(col + EPS2, 2)


def r4(col):
    from pyspark.sql import functions as F

    return F.round(col + EPS4, 4)


def r6(col):
    from pyspark.sql import functions as F

    return F.round(col + EPS4, 6)


def r2_sql(expr: str) -> str:
    return f"ROUND(({expr}) + {EPS2!r}, 2)"


def r4_sql(expr: str) -> str:
    return f"ROUND(({expr}) + {EPS4!r}, 4)"


def r6_sql(expr: str) -> str:
    return f"ROUND(({expr}) + {EPS4!r}, 6)"


def query(name: str, oracle: str | None = None):
    """Register a named query (and optionally its DuckDB oracle)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: (session id, path, mtime_ns, size) -> (session, lazy DataFrame).
#: METADATA memo only: a DataFrame is an unresolved plan, so every
#: action against a memoized frame still scans the parquet — nothing
#: here caches results or intermediates. What it skips is the
#: ``spark.read.parquet`` footer read + file listing that each of the
#: ~252 ``t()`` calls per bench pass repaid for the same 10 static
#: files (~40-80ms each — r17 micro-bench, tens of seconds across the
#: 3-pass bench). The stat() in the key invalidates the entry if a
#: file is rewritten in place (tmp-dir test fixtures), and keying on
#: the session object keeps frames from leaking across sessions. The
#: 100 TB analogue is the catalog/file-index cache every real
#: metastore-backed table already has (guide §6: avoid re-listing).
#:
#: Granularity caveat (r17 ADVICE): the stat is on the ``.parquet``
#: PATH the engine reads. For the single-file testdata that is the
#: data file itself; if a DIRECTORY-shaped dataset were rewritten by
#: mutating a part file in place without touching the directory entry
#: (no create/rename/delete), the dir mtime/size can stay equal and a
#: stale frame would be served — rewrite via fresh filenames (what
#: Spark/DuckDB writers do) to invalidate.
#:
#: Bounded (r17 ADVICE): a long-lived process cycling many sessions
#: (pytest) would otherwise accumulate strong references to stopped
#: SparkSessions and their JVM-backed frames forever. FIFO-evict past
#: ``_TCACHE_MAX`` — far above the ~10 live (session, table) pairs a
#: bench or suite holds, so eviction never hits the hot path.
_TCACHE: dict[tuple[int, str, int, int], tuple[SparkSession, DataFrame]] = {}
_TCACHE_MAX = 64


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (lazy parquet scan, metadata-memoized).

    ``events.ts`` is normalized to TIMESTAMP(µs) regardless of the
    on-disk encoding (µs timestamps pass through; NANOS files are read
    as raw longs and truncated) — see ``tables.read_events``.

    Shared-object contract (r17 ADVICE): repeated ``t()`` calls for
    one table return the IDENTICAL DataFrame object. A plan that joins
    a table to itself with column-object predicates
    (``df1[c] == df2[c]``) would hit Spark's ambiguous-self-join
    analysis; use ``.alias()`` on each side (as the existing self-join
    plans do) — do not rely on two ``t()`` calls producing independent
    lineage.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (id(spark), path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        hit = _TCACHE.get(key)
        # identity check guards against id() reuse after a session GC
        if hit is not None and hit[0] is spark:
            return hit[1]
    if name == "events":
        from drive_bc_datapipeline_spark.tables import read_events

        df = read_events(spark, path)
    else:
        df = spark.read.parquet(path)
    if key is not None:
        while len(_TCACHE) >= _TCACHE_MAX:
            _TCACHE.pop(next(iter(_TCACHE)))
        _TCACHE[key] = (spark, df)
    return df


def load_all_plans() -> None:
    """Import every plans module so registration side-effects run."""
    from drive_bc_datapipeline_spark.plans import (  # noqa: F401
        catalog,
        documents,
        embeddings,
        events,
        geo,
        ml,
        multimodal,
        tpch,
    )
