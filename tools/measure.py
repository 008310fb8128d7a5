#!/usr/bin/env python
"""One measurement tool for the registry's query keys.

    python tools/measure.py time KEY... [--passes N] [--out F]
    python tools/measure.py ab --conf NAME=A,B KEY... [--passes N]
    python tools/measure.py profile KEY...
    python tools/measure.py dump ROUND [SUFFIX] [KEY...]
    python tools/measure.py plans-md
    python tools/measure.py verify [SF_DIR] [KEY...]

Keys are checked against the registry before the JVM starts. Every
subcommand runs on ``session.get_spark``, on ``local[<CPUs of this
process>]`` unless ``SPARK_GRAFT_CPUS`` says otherwise. ``time``, ``ab``
and ``profile`` first run bench.py's warm-up (a lineitem count plus the
Python-worker prefork), and time a key with ``run_key``: build its plan
under a Spark job group named after the key, then write it to the noop
sink. ``--sf-dir`` defaults to ``SPARK_GRAFT_SF_DIR``, else the sf0.1
test data.

time      bench.py's protocol: one cold pass, N steady passes (default
          2) with ``clearCache`` between passes, and the minimum per
          key. One JSON line per key (``cold``, ``samples``, ``min``, and
          ``jobs``: the Spark jobs of the key's group in its last run),
          then the total and the load average at start and at end;
          ``--out`` writes the same to a file.
ab        A/B of one runtime SQL conf in one session. The arms run
          interleaved, each inside ``session.scoped_conf``, their order
          alternates each pass, and each arm reports its minimum. An arm
          whose minimum is 10% below the other's wins ("A clearly" /
          "B clearly"); anything closer is a "wash".
profile   one cold and one steady pass, then the event-log readout
          (perfbench/tracing.py) of each steady run: build and exec
          seconds, each job's wall time and description (the key, or
          "<key> / <label>" for a ``session.pin`` job, read from the
          status store), and per stage its tasks, summed run time,
          longest task, shuffle-write bytes and input bytes.
dump      ``explain('formatted')`` of each key (every key by default)
          into plans/r<ROUND>/<key>_<SUFFIX>.txt (SUFFIX defaults to
          "before"), with the run counters masked (``plan_id``, the
          application id in table locations, temp stream dirs, the
          checkout path) and expression ids renumbered per plan, so
          dumps of two runs or two checkouts differ below their header
          lines only where a plan moved; diff two suffixes to find them.
plans-md  regenerate PLANS.md: the final (post-AQE) plans of PICKS at
          sf0.01 on ``local[8]`` with 16 shuffle partitions.
verify    the Spark-vs-DuckDB check of every oracle key (default sf0.01)
          with the comparison of tests/test_oracle_parity.py; exits 1 on
          any mismatch or error.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time
import traceback
from collections.abc import Iterator
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from drive_bc_datapipeline_spark.plans import registry  # noqa: E402
from drive_bc_datapipeline_spark.session import get_spark, scoped_conf  # noqa: E402
from drive_bc_datapipeline_spark.tables import DEFAULT_SF_DIR  # noqa: E402
from tests.conftest import SF_CORRECT  # noqa: E402

PICKS = {
    "q1_pricing_summary": "Scan→filter→partial agg→exchange→final agg, all in whole-stage codegen. Filter and 7-column pruning reach the parquet scan.",
    "q6_forecast_revenue": "Every predicate pushed to the scan (PushedFilters); single-row result, so scan selectivity is the whole cost.",
    "q5_local_supplier": "All four dims broadcast; the only shuffle join is lineitem⋈orders.",
    "q18_large_orders": "Lineitem pre-aggregated and HAVING-filtered BEFORE joining dims — survivors only.",
    "dedup_minhash_lsh": "Shingle cache (scan spread()-widened off the one-row-group testdata layout, r11 A/B-kept) → map-side signatures → banding equi-join → array_intersect verification on candidates only.",
    "ann_cosine_topk": "Broadcast query set; one corpus scan; map-side partial top-k (mapInPandas) before the exchange.",
    "range_join_clicks_near_errors": "Bucket replication turns the interval predicate into an equi-join; exact Δt filter applied post-join.",
    "dedup_connected_components": "Iterative min-label propagation (plan shown = final iteration's step).",
    "dedup_ngram_jaccard": "Shingles hashed to 64-bit longs BEFORE any exchange (r6: every shuffle carries 8 bytes, not n-gram strings) → df-count agg → broadcast of pair-capable shingles → per-shingle doc lists → in-array pair expansion; the exploded shingle table is never shuffled a second time. r7: verification pins ONE docsets materialization (was re-executed per join alias) and short-circuits the AllPairs size bound ahead of array_intersect.",
    "catalog_table_roundtrip": "Catalog-name read with the partition-value predicate as PartitionFilters (plan-time directory prune, no data filter).",
    "term_relevance_topk": "tf shuffle with map-side combine; df side broadcast; WindowGroupLimit prunes per-doc rank before the final sort.",
    "ann_recall_at_k": "Both rankings broadcast the query set; LSH side scores same-bucket rows only; final compare joins two k-row-per-query sets.",
    "q2_min_cost_supplier": "WindowGroupLimit (partial+final) prunes to the per-part minimum BEFORE the window exchange; supplier⋈nation⋈region is a broadcast chain.",
    "q21_waiting_supplier": "EXISTS/NOT-EXISTS become semi + anti hash joins, all partitioned on l_orderkey — no cartesian, no window over the fact.",
    "hll_weekly_rollup": "Sketch path: ObjectHashAggregate with partial_hll_union_agg map-side — the weekly shuffle moves fixed-size sketch blobs, not events.",
    "hybrid_rrf_search_topk": "Hybrid RAG retrieval, three fused systems (r11, single tokenize): the pinned tf-annotated distinct-token relation feeds the df screen, the capped query terms (pinned, 16 rarest per query), the Jaccard corpus side, BM25 (tf in-row — zero documents FileScans in the executed plan) and the corpus stats; stopword-grade tokens dropped by the broadcast df-cap, so the lexical join intermediates are ≤ |queries|·M·capped-df, never Σ df(tok); vector side is G1's broadcast-queries + partial-top-k shape; RRF fusion is one hash aggregate on (query, doc) + a query-partitioned rank window over top-C candidate rows, ranked on the quantized score.",
    "bitmap_distinct_users": "Two-level exact distinct: rows fold into per-(key, bucket) bitmaps map-side; the second shuffle moves only bitmap blobs.",
    "pagerank_type_graph": "Weighted PageRank over the enumerable event-type graph (r10): ONE distributed window+agg pass builds the pinned weighted edge list; the 5 damped iterations run on the driver over the collected ≤|types|² edges (PCA d²-Gram boundedness, 4096-node guard) — the plan shown is the edge aggregate + the literal result projection; operators/graph.pagerank keeps the per-round join-agg shape for unbounded graphs.",
    "bm25_search_topk": "Inverted-index shape: postings explode filtered to query terms, broadcast df + corpus stats, TakeOrdered global top-k (never a full sort).",
    "embedding_gram_matrix": "Map-side upper-triangle pair expansion + single partial-agg groupBy — the shuffle carries only partitions x 36 partial sums, no self-join of the corpus.",
    "max_concurrent_intervals": "Sweep-line: union of +1/-1 points, per-type window running sum (no global single-partition window), broadcast peak join.",
    "shard_packing": "Distributed prefix sum: one range exchange pinned by an eager localCheckpoint (totals job and final job read identical blocks — determinism fix, r6), per-partition windows (no global single-partition sort), broadcast offset join.",
    "zorder_skipping_stats": "Deterministic z-bucket layout roundtrip: scan→project (md5 dims + Morton bucket, all codegen)→partitioned write; read-back groups by the partition column only — 16 bucket dirs, partition pruning available to any probe.",
    "stream_join_clicks_before_purchase": "J6 batch twin: both event slices from ONE cached scan lineage; equi shuffle join on user_id with the 60-minute range as post-join predicate; per-purchase aggregate bounds output.",
    "cms_heavy_hitters": "Token counts materialized once (localCheckpoint) feed the 1,024-cell counter grid (posexplode fan-out, partial-agg combine) AND the exact top-15; 15x4 probes broadcast-join the tiny grid.",
    "token_entropy_by_source": "Pure two-level hash aggregation: (doc, token) map-side combine -> per-doc entropy -> (lang, source) rollup. No joins, no windows, nothing driver-side.",
    "events_expectations_report": "One scan folds 4 row-wise rules into a single aggregate; uniqueness is a second 1-row distinct-count agg; broadcast cross join + posexplode fans out 5 result rows.",
    "embedding_pca_projection": "Distributed PCA: pass 1 = map-side upper-triangle integer Gram (d(d+1)/2 partial sums per task, bounded collect); pass 2 = unit direction as an ARRAY LITERAL inside a zip_with dot product — fully map-side, only the |labels|-row groupBy shuffles.",
    "dup_graph_triangles": "Ordered wedge join over the canonical (u<v) near-dup edge set (one localCheckpoint build feeds 4 subtrees); degrees/edges/triangles reduce to 1-row aggs broadcast-crossed into the single result row.",
    "unigram_logprob_score": "Unigram LM: one corpus token shuffle builds the model, PINNED (vocab-bounded) so the corpus-total agg and the broadcast scoring join read it instead of re-tokenizing; per-doc NLL agg rides the explode's doc_id grouping.",
    "ridge_value_model": "Closed-form ridge: single map-side-combined moment pass (9 sums), Cramer solve as column arithmetic on the 1-row frame (no driver round-trip), broadcast betas scored in a second scan for RMSE.",
    "snapshot_diff_orders": "CDC diff: ONE orders scan builds both new-snapshot branches (array+explode fan-out, no unionByName re-execution); full-outer join shuffles each side once on the key, classifier is map-side CASE, rollup reduces before the final tiny exchange.",
    "table_checksum_by_source": "Order-insensitive audit: md5 row slice computed in the scan projection (codegen), one map-side-combined groupBy — the shuffle carries |sources| partial sums.",
    "dedup_prefix_jaccard": "Lossless AllPairs/PPJoin: df-count shuffle -> per-doc (df ASC, h ASC)-sorted arrays (map-side, doc-length bounded) -> prefix explode equi-join on rare-heavy hashes -> candidate-only verification; recall-1 vs the naive all-pairs oracle by the prefix theorem.",
    "incremental_dedup_status": "Batch-vs-corpus only: exact tier = left-semi hash join of batch content hashes; near tier = batch-shingle x corpus-shingle equi-join -> max-overlap agg; batch/corpus slices are inline bucket filters on the shingle frame (bucket is a pure function of doc_id - no doc-list semi-joins); nothing corpus x corpus.",
    "eval_containment_scores": "One shingle equi-join (train x eval), per-pair count agg, broadcast eval-size divide; 8-gram keys keep join fan-out intersection-sized.",
    "chunk_dup_mass_by_source": "Chunk hashes computed map-side -> chunk-df agg -> per-doc back-join (k rows per shared chunk, never k^2 pairs) -> per-source rollup.",
    "ann_filtered_topk": "Label predicate reaches the parquet scan (PushedFilters) BEFORE the broadcast join and distance math; G1's map-side partial top-k bounds the shuffle.",
    "mmr_diversified_topk": "Distributed top-C pool (broadcast queries + mapInPandas partial top-k), C^2-bounded per-query sim edges, greedy rounds inside ONE applyInPandas group per query — iteration never touches the corpus again.",
    "join_cardinality_estimate": "Two map-side-combined per-key COUNT aggs + an ndv-sized count-frame join; per-side row counts and ndv fall out of ONE aggregate over each count frame - the estimated join is never executed.",
    "zipf_slope": "Salted two-level rank over the PINNED salted vocabulary (each consumer otherwise re-tokenizes the corpus); heavy window partitioned by (n, salt) splits the hapax tie block; base/offset frames are freq-of-freq sized (O(sqrt tokens)) and broadcast.",
    "apply_mixture_sampling": "Per-source counts -> 1-row normalizer -> broadcast quota -> source-partitioned rank window -> rollup; the only heavy shuffle is the source-keyed exchange.",
    "temporal_split_leakage": "1-row min/max span broadcast as the cut; one labeled scan folds into a user-keyed groupBy; all readouts ride the single 1-row rollup.",
    "geo_point_in_polygon": "Ray-cast containment as ONE codegen'd column expression over literal vertices — no join, no UDF; linear scan at any scale.",
    "user_trajectory_stats": "User-partitioned lag window (the only exchange) + haversine hop arithmetic + per-user rollup — sequential geo without self-joins.",
    "ann_quantized_rerank_topk": "Stage 1 scores int8 reconstructions corpus-wide with the partial-top-k shuffle bound; stage 2 exact-reranks only M x |queries| rows.",
    "ann_truncated_recall_at_k": "Both rankings share one broadcast query set; the truncated side's dot/norm run over slice(embedding, 1, 16) — the prefix-scan quality gate.",
    "ewma_daily_counts": "Type-partitioned window; the 10-lag weighted chain is pure column arithmetic over the tiny daily aggregate.",
    "dow_seasonality_residuals": "daily counts -> |types|x7 profile broadcast back -> residual rollup; profile and peak frames never shuffle the fact.",
    "token_dropout_augment": "Zero-shuffle narrow plan: keep/drop md5 arithmetic and the augmented-text hash all evaluate in the scan projection.",
    "llm_data_prep_funnel": "End-to-end composition: scan-side stage flags, content-hash canonical join, F2's banded near-dup pairs, 8-gram contamination semi-join — ONE final aggregate, 7 stage rows via array+posexplode (no union re-execution).",
    "user_rfm_segments": "ONE range-partitioned prefix scan ranks all three metrics: per-user rows fan out map-side (posexplode) into a stacked 3n-row frame ordered by struct(which, value, user_id); per-metric rank = global rank - which*n, with n read off the scan's driver-side totals (no count job). NTILE(4) reproduced as rank arithmetic; never a single-partition window.",
    "value_cusum_drift": "CUSUM closed form: pinned |types|x|days| daily frame (events scanned once) -> two per-type sequential windows (running sum + running min) -> broadcast mu/sigma join.",
    "source_kl_divergence": "(source, token) counts pinned ONCE (localCheckpoint) and reused by all four subtrees — without it Spark re-executes the scan+explode+agg per subtree; token-keyed join + broadcast source totals + 1-row corpus total.",
    "domain_cap_sample": "Single source-partitioned rank window over the scan (one exchange total) — per-domain quota with no global ordering anywhere.",
    "label_propagation_communities": "Sync weighted LPA: symmetrized edge frame cached + pre-partitioned on its join key; per-round join-agg + per-node top-1 window; localCheckpoint truncates lineage per round (plan shown = final round's step).",
    "training_shard_manifest": "Reproducible shard assignment: md5 bucket arithmetic in the scan projection, ONE shard-partitioned rank window, map-side-combined manifest agg — no global ordering.",
    "cdc_merge_apply": "CDC apply-and-audit: single fact scan fans each row through array+posexplode into keep/upd/del/ins entries; the pinned per-status aggregate feeds both the state readout and the broadcast op counts.",
    "kaplan_meier_retention": "KM survival: one user-partitioned lead window over the fact + broadcast 1-row corpus edge; all cumulative-product work on the bounded |distinct gap hours| frame.",
    "ann_pq_topk": "Product quantization: pinned grid relation (corpus exploded once) -> broadcast codebook joins for train/encode -> ADC phase touches only the 8-int-per-vector CODE table x chained broadcast per-subspace LUTs, with G1's map-side partial top-k bounding the shuffle.",
    "exact_auc_purchase": "Rank-sum AUC: ONE map-side-combined per-score aggregate over the fact, L4 two-phase prefix scan for the global midranks (pinned range partitioning, per-__pid local windows), 1-row final aggregate — no global sort, no threshold sweep.",
    "substring_dup_mass_by_source": "ExactSubstr dedup: tokenized corpus pinned once; stride-1 window hashes -> duplicated-(hash, len) hash aggregate -> semi-join back -> doc-partitioned lag-window interval union -> |sources|-row rollup. Nothing corpus².",
}

#: run counters that differ between two runs of one commit, and the
#: checkout's own path
DUMP_MASKS = (
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"local-\d+"), "local-<app>"),
    (re.compile(r"spark_graft_stream_\w+"), "spark_graft_stream_<tmp>"),
    (re.compile(re.escape(REPO)), "<repo>"),
)
#: expression ids come from one JVM-wide counter, and AQE's runtime
#: re-planning during a key's pin jobs draws a varying number of them
EXPR_ID = re.compile(r"#(\d+)")

PLANS_HEADER = """# PLANS — physical-plan audit (generated from live `explain`)

Evidence for the scale claims in SURVEY §6 / module docstrings: the
actual executed plans at sf0.01 (local[8]; identical plan shapes at
cluster scale — only partition counts change). Regenerate with
`python tools/measure.py plans-md`. Plan-property regressions are gated by
`tests/test_plan_properties.py`.
"""


def check_keys(keys: list[str], known) -> None:
    unknown = [k for k in keys if k not in known]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")


@contextmanager
def session(app: str, sf_dir: str, warm: bool = True, **settings) -> Iterator:
    """``get_spark`` (stopped on exit), after bench.py's warm-up when
    ``warm``; the JVM starts here, after every argument check."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark(app, **settings)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if warm:
            registry.t(spark, sf_dir, "lineitem").count()
            par = spark.sparkContext.defaultParallelism
            spark.range(par * 4).repartition(par).mapInPandas(
                lambda it: it, "id long"
            ).write.format("noop").mode("overwrite").save()
        yield spark
    finally:
        spark.stop()


def run_key(spark, key: str, sf_dir: str) -> tuple[float, float]:
    """Build ``key``'s plan and write it to the noop sink, both under a
    Spark job group named after the key; returns (build s, total s)."""
    spark.sparkContext.setJobGroup(key, key)
    t0 = time.time()
    df = registry.QUERIES[key](spark, sf_dir)
    build = time.time() - t0
    df.write.format("noop").mode("overwrite").save()
    return build, time.time() - t0


def bench_passes(spark, keys: list[str], sf_dir: str, passes: int) -> Iterator:
    """bench.py's protocol: one cold pass, then ``passes`` steady ones,
    with ``clearCache`` after each. Yields (pass, key, start, build s,
    total s) per run; pass 0 is the cold one."""
    for p in range(passes + 1):
        for key in keys:
            t0 = time.time()
            yield (p, key, t0, *run_key(spark, key, sf_dir))
        spark.catalog.clearCache()


def time_keys(spark, keys: list[str], sf_dir: str, passes: int) -> list[dict]:
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    runs: dict[str, list[float]] = {key: [] for key in keys}
    seen: dict[str, set[int]] = {key: set() for key in keys}
    jobs: dict[str, int] = {}
    for _, key, _, _, total in bench_passes(spark, keys, sf_dir, passes):
        runs[key].append(round(total, 3))
        bus.waitUntilEmpty()  # the status store has seen every job of the run
        ids = set(tracker.getJobIdsForGroup(key))
        jobs[key], seen[key] = len(ids - seen[key]), ids
    return [
        {"key": k, "cold": r[0], "samples": r[1:], "min": min(r[1:]), "jobs": jobs[k]}
        for k, r in runs.items()
    ]


def ab_keys(spark, conf: str, values, keys, sf_dir, passes) -> list[dict]:
    arms = [(f"A={values[0]}", values[0]), (f"B={values[1]}", values[1])]
    rows = []
    for key in keys:
        samples: dict[str, list[float]] = {label: [] for label, _ in arms}
        for p in range(passes):
            for label, value in arms if p % 2 == 0 else arms[::-1]:
                with scoped_conf(spark, {conf: value}):
                    samples[label].append(round(run_key(spark, key, sf_dir)[1], 3))
        (a, ma), (b, mb) = ((label, min(s)) for label, s in samples.items())
        verdict = "A clearly" if ma < mb * 0.9 else "B clearly" if mb < ma * 0.9 else "wash"
        rows.append({"key": key, **samples, "min": {a: ma, b: mb}, "verdict": verdict})
        print(json.dumps(rows[-1]), flush=True)
    return rows


def job_descriptions(spark, keys: list[str]) -> dict[int, str]:
    """The description of each job of ``keys``' groups, from the
    session's status store (the event-log readout carries none)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {}
    for key in keys:
        for jid in sc.statusTracker().getJobIdsForGroup(key):
            desc = store.job(jid).description()
            out[jid] = desc.get() if desc.isDefined() else ""
    return out


def print_profile(steady, log: dict, descriptions: dict[int, str]) -> None:
    for key, t0, build, total in steady:
        print(f"=== {key}: build {build:.3f}s exec {total - build:.3f}s")
        for jid, job in sorted(log["jobs"].items()):
            # jobs of this run: the key's group, submitted inside its window
            if job["group"] != key or not t0 - 1e-3 <= job["submit"] <= t0 + total:
                continue
            wall = f"{job['end'] - job['submit']:.3f}s" if job["end"] else "unfinished"
            print(f"  job {jid}: {wall}  {descriptions.get(jid, '')}")
            for sid in job["stages"]:
                st = log["stages"].get(sid)  # None: the stage was skipped
                if st:
                    print(
                        f"    stage {sid}: tasks {st['tasks']} run {st['run_s']:.2f}s "
                        f"max_task {st['max_task_s']:.3f}s "
                        f"shuffle_write {st['shuffle_write_bytes']}B "
                        f"input {st['input_bytes']}B"
                    )


def mask_run_counters(plan: str) -> str:
    """``plan`` with the run counters masked and its expression ids
    renumbered in order of first appearance (the plan's structure, which
    attribute feeds which operator, is kept)."""
    for pattern, repl in DUMP_MASKS:
        plan = pattern.sub(repl, plan)
    ids: dict[str, str] = {}
    return EXPR_ID.sub(lambda m: "#" + ids.setdefault(m.group(1), str(len(ids))), plan)


def dump_keys(spark, sf_dir: str, rnd: int, suffix: str, keys: list[str]) -> None:
    out_dir = os.path.join(REPO, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for key in keys:
        t0 = time.time()
        df = registry.QUERIES[key](spark, sf_dir)
        build = time.time() - t0
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {key} ({suffix}) sf_dir={sf_dir}\n")
            fh.write(f"-- plan-build wall: {build:.3f}s\n")
            fh.write(mask_run_counters(df._jdf.queryExecution().explainString(mode)))
        print(f"{key}: build {build:.3f}s -> {path}", file=sys.stderr)


def plans_md(spark, sf_dir: str) -> None:
    out = [PLANS_HEADER]
    for name, note in PICKS.items():
        df = registry.QUERIES[name](spark, sf_dir)
        df.collect()  # AQE: the final plan exists only after execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = re.sub(r"#\d+L?", "", plan).splitlines()  # drop expr ids
        if len(lines) > 40:
            lines = lines[:40] + [f"... ({len(lines) - 40} more lines)"]
        out.append(f"## {name}\n\n{note}\n\n```\n" + "\n".join(lines) + "\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))


def verify_keys(spark, sf_dir: str, keys: list[str]) -> int:
    from tests.test_oracle_parity import duck_con, normalize

    con = duck_con(sf_dir)
    bad = 0
    for name in keys:
        try:
            sdf = registry.QUERIES[name](spark, sf_dir)
            s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
            rel = con.sql(registry.ORACLES[name])
            d_cols, d_rows = rel.columns, rel.fetchall()
            if sorted(s_cols) != sorted(d_cols):
                err = f"cols {sorted(s_cols)} vs {sorted(d_cols)}"
            elif len(s_rows) != len(d_rows):
                err = f"rows {len(s_rows)} vs {len(d_rows)}"
            else:
                ns, nd = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
                mm = [(a, b) for a, b in zip(ns, nd) if a != b]
                err = mm and f"{len(mm)} rows differ; first: {mm[0]}"
            print(f"MISMATCH {name}: {err}" if err else f"OK {name} ({len(s_rows)} rows)")
        except Exception:
            err = traceback.format_exc(limit=3)
            print(f"ERROR {name}: {err}")
        bad += bool(err)
    print(f"--- {len(keys) - bad}/{len(keys)} keys clean at {sf_dir}")
    return bad


def _passes(text: str) -> int:
    if int(text) < 1:
        raise argparse.ArgumentTypeError("needs at least one pass")
    return int(text)


def parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("time", "ab", "profile"):
        p = sub.add_parser(cmd)
        p.add_argument("keys", nargs="+")
        p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
        if cmd != "profile":
            p.add_argument("--passes", type=_passes, default=2 if cmd == "time" else 3)
    sub.choices["time"].add_argument("--out")
    sub.choices["ab"].add_argument("--conf", required=True, help="NAME=A,B")
    p = sub.add_parser("dump")
    p.add_argument("round", type=int)
    p.add_argument("rest", nargs="*", metavar="[SUFFIX] [KEY...]")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sub.add_parser("plans-md")
    sub.add_parser("verify").add_argument("rest", nargs="*", metavar="[SF_DIR] [KEY...]")
    return ap


def cmd_time(args) -> int:
    load_start = round(os.getloadavg()[0], 2)
    with session("measure-time", args.sf_dir) as spark:
        rows = time_keys(spark, args.keys, args.sf_dir, args.passes)
    for row in rows:
        print(json.dumps(row))
    summary = {
        "total": round(sum(r["min"] for r in rows), 3),
        "load_start": load_start,
        "load_end": round(os.getloadavg()[0], 2),
        "sf_dir": args.sf_dir,
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({**summary, "queries": {r["key"]: r for r in rows}}, fh, indent=1)
    return 0


def cmd_ab(args) -> int:
    conf, _, values = args.conf.partition("=")
    values = values.split(",")
    if not conf or len(values) != 2:
        raise SystemExit(f"--conf wants NAME=A,B, got {args.conf!r}")
    with session("measure-ab", args.sf_dir) as spark:
        ab_keys(spark, conf, values, args.keys, args.sf_dir, args.passes)
    return 0


def cmd_profile(args) -> int:
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from tracing import event_log_conf, read_event_log

    work = tempfile.mkdtemp(prefix="measure-profile-")
    log_dir = os.path.join(work, "eventlog")
    event_log_conf(os.path.join(work, "conf"), log_dir)
    os.environ["SPARK_CONF_DIR"] = os.path.join(work, "conf")
    with session("measure-profile", args.sf_dir) as spark:
        steady = [
            run[1:] for run in bench_passes(spark, args.keys, args.sf_dir, 1) if run[0]
        ]
        descriptions = job_descriptions(spark, args.keys)
    print_profile(steady, read_event_log(log_dir), descriptions)
    shutil.rmtree(work)
    return 0


def cmd_dump(args) -> int:
    suffix, *keys = args.rest or ["before"]
    check_keys(keys, registry.QUERIES)
    # No warm-up: the dump's JVM work, and with it the expression ids in
    # the plans, stays that of a plain session.
    with session(f"dump_r{args.round}_plans", args.sf_dir, warm=False) as spark:
        dump_keys(spark, args.sf_dir, args.round, suffix, keys or sorted(registry.QUERIES))
    return 0


def cmd_plans_md(args) -> int:
    with session("plans", SF_CORRECT, False, master="local[8]", shuffle_partitions=16) as spark:
        plans_md(spark, SF_CORRECT)
    return 0


def cmd_verify(args) -> int:
    sf_dir, *keys = args.rest or [SF_CORRECT]
    check_keys(keys, registry.ORACLES)
    with session("measure-verify", sf_dir, warm=False) as spark:
        return 1 if verify_keys(spark, sf_dir, keys or sorted(registry.ORACLES)) else 0


COMMANDS = {
    "time": cmd_time, "ab": cmd_ab, "profile": cmd_profile,
    "dump": cmd_dump, "plans-md": cmd_plans_md, "verify": cmd_verify,
}


def main(argv: list[str] | None = None) -> int:
    args = parser().parse_args(argv)
    registry.load_all_plans()
    check_keys(getattr(args, "keys", []), registry.QUERIES)
    return COMMANDS[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
