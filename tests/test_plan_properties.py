"""Physical-plan property tests (SURVEY §6): the scale claims are
asserted, not just documented. If a refactor drops predicate pushdown,
column pruning, or a dim broadcast, these fail before any benchmark
notices.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE

import re

import pytest

from drive_bc_datapipeline_spark.plans import registry
from drive_bc_datapipeline_spark.plans.registry import QUERIES

registry.load_all_plans()

SF = SF_SMOKE


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_pushed_to_scan(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    # toString truncates long filter lists, so match to end-of-line
    pushed = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1), f"{col} not pushed: {pushed.group(1)}"


def test_q1_scan_prunes_columns(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    read = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert read, plan
    cols = read.group(1)
    # only the 7 columns q1 touches, not the full 11-column lineitem
    assert "l_orderkey" not in cols
    assert "l_partkey" not in cols
    assert "l_returnflag" in cols and "l_quantity" in cols


def test_q5_broadcasts_every_dim(spark):
    plan = plan_of(spark, "q5_local_supplier")
    # customer, supplier, nation, region all broadcast; the only
    # shuffle-worthy join is lineitem⋈orders
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_q1_uses_whole_stage_codegen_and_partial_agg(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    df.collect()  # AQE: codegen stage markers appear in the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen spans
    assert re.search(r"\*\(\d+\)", plan), plan
    # map-side partial aggregation before the exchange
    assert "partial_sum" in plan, plan


def test_anti_and_semi_joins_plan_as_joins(spark):
    anti = plan_of(spark, "anti_join_customers")
    assert "LeftAnti" in anti or "left_anti" in anti, anti
    semi = plan_of(spark, "semi_join_parts")
    assert "LeftSemi" in semi or "left_semi" in semi, semi


def test_documents_scan_prunes_for_token_count(spark):
    plan = plan_of(spark, "token_count")
    read = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert read, plan
    # text + doc_id only; lang/source/n_chars pruned away
    assert "source" not in read.group(1)
    assert "lang" not in read.group(1)


#: Keys ALLOWED to plan unpartitioned (single-partition) windows,
#: with the bound that makes each honest — every entry is a window
#: over an AGGREGATED, provably small frame, never the corpus. The
#: count is a ceiling: a plan improvement may drop below it, but one
#: NEW unpartitioned window anywhere in the registry fails the sweep.
UNPARTITIONED_WINDOW_ALLOWLIST = {
    # KM product = cumulative log-sum over the |distinct gap hours|
    # frame (≤ corpus-span hours, an aggregated series)
    "kaplan_meier_retention": 3,
    # percentage-of-total over the per-touch-type attribution summary
    # (≤ |event types| rows)
    "last_touch_attribution": 1,
    # row_number over the 20 survivors of TakeOrderedAndProject —
    # the corpus-scale rank is the limit pushdown, not the window
    "top_bigrams_corpus": 1,
    # log-rank regression over the |distinct token frequencies| frame
    # (the per-token rank itself is salted + partitioned)
    "zipf_slope": 1,
}


def _walk_physical(node, out):
    """Collect (simpleName, partitionSpec-empty?) for every Window
    exec node, descending through the AQE / query-stage / reused-
    exchange wrappers that hide their subtree from children()."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _walk_physical(node.initialPlan(), out)
        return
    if name.endswith("QueryStageExec"):
        _walk_physical(node.plan(), out)
        return
    if name == "ReusedExchangeExec":
        _walk_physical(node.child(), out)
        return
    if "Window" in name:
        try:
            empty = bool(node.partitionSpec().isEmpty())
        except Exception:
            empty = False
        out.append((name, empty))
    it = node.children().iterator()
    while it.hasNext():
        _walk_physical(it.next(), out)
    try:
        sub = node.subqueries().iterator()
        while sub.hasNext():
            _walk_physical(sub.next(), out)
    except Exception:
        pass


def test_no_cartesian_products_or_rogue_global_windows_anywhere(spark):
    """ONE sweep builds every registered plan and runs both registry-
    wide scale-killer audits: (a) no CartesianProduct node anywhere
    (q22's scalar-subquery cross join is a 1-row broadcast nested
    loop, which is fine); (b) no unpartitioned window outside the
    justified bounded-frame allowlist above — at 100 TB an
    unpartitioned window on a data-scale frame puts the dataset in
    one task, the exact failure mode the per-key tests (rfm,
    prefix_jaccard, exact_auc) pin individually."""
    rogue = {}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan()
        s = plan.toString()
        assert "CartesianProduct" not in s, f"{name} plans a cartesian"
        # row-at-a-time Python UDFs are banned everywhere; Python is
        # only ever Arrow-batched (MapInPandas / FlatMapGroupsInPandas
        # in the declared multimodal/stateful contracts)
        assert "BatchEvalPython" not in s, (
            f"{name} plans a row-at-a-time Python UDF"
        )
        wins = []
        _walk_physical(plan, wins)
        n_unpart = sum(1 for _n, e in wins if e)
        if n_unpart > UNPARTITIONED_WINDOW_ALLOWLIST.get(name, 0):
            rogue[name] = n_unpart
    assert not rogue, (
        f"unpartitioned windows outside the bounded-frame allowlist: "
        f"{rogue} — partition the window or, if the frame is provably "
        "aggregated/bounded, add it to the allowlist with its bound"
    )


def test_embedding_allpairs_guard_refuses_large_corpus(spark, monkeypatch):
    """F5's driver collect is gated: above the row ceiling it must fail
    loudly and point at the LSH scale path, never silently broadcast."""
    import pytest

    from drive_bc_datapipeline_spark.plans import embeddings as emb

    monkeypatch.setattr(emb, "EMB_ALLPAIRS_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        emb.dedup_embedding_cosine(spark, SF_SMOKE)


def test_q9_broadcasts_all_dims(spark):
    """part/supplier/nation ride broadcast joins; only lineitem⋈orders
    may shuffle."""
    plan = plan_of(spark, "q9_profit_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q16_exclusion_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_variety")
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_nearest_hub_partial_min_before_exchange(spark):
    """The argmin must collapse map-side: a partial_min aggregate runs
    BEFORE the per-event exchange, so the shuffle moves one row per
    event rather than one per (event, hub) pair."""
    plan = plan_of(spark, "geo_nearest_hub")
    assert "partial_min" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_term_relevance_df_side_broadcast(spark):
    """The vocabulary-sized df table must broadcast against tf; the
    WindowGroupLimit rank pushdown must trim before the full sort."""
    plan = plan_of(spark, "term_relevance_topk")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_ngram_jaccard_rare_set_broadcast(spark):
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pca_projection_is_deterministic(spark):
    """G10's driver-side power iteration must be a pure function of the
    (exact, integer) Gram matrix: two invocations — two Gram collects,
    two eigenvector computations — must agree bit-for-bit after the
    plan's rounding."""
    from drive_bc_datapipeline_spark.plans.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    a = sorted(
        tuple(r) for r in QUERIES["embedding_pca_projection"](spark, sf).collect()
    )
    b = sorted(
        tuple(r) for r in QUERIES["embedding_pca_projection"](spark, sf).collect()
    )
    assert a == b


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The 100 TB skew story is not just salting (L1) — AQE must split
    oversized post-shuffle partitions of a plain shuffle join at
    runtime. Build a join with one pathological key under thresholds
    tuned so the skew handler engages, then assert the FINAL adaptive
    plan actually rewrote the sort-merge join with skew=true."""
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # thresholds low enough that one hot key (150k of 200k rows)
        # counts as skewed; broadcast disabled so the join shuffles.
        # Two traps this test dodged the hard way: (1) the skew stats
        # are COMPRESSED shuffle bytes, so a constant key with no
        # payload compresses below any threshold — the md5 payload is
        # incompressible; (2) column pruning drops a payload the final
        # aggregate doesn't reference, so the aggregate must consume it.
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200_000).select(
            F.when(F.col("id") < 150_000, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(4000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("tag")
        )
        joined = left.join(right, "k").agg(
            F.sum(F.length("payload") + F.col("tag")).alias("s")
        )
        [[n]] = joined.collect()
        assert n > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_ann_filtered_pushes_label_predicate(spark):
    """G13's metadata filter must reach the parquet scan — pre-filter
    ANN is the whole point (prune before distance math)."""
    plan = plan_of(spark, "ann_filtered_topk")
    pushed = re.findall(r"PushedFilters: \[([^\n]*)", plan)
    assert any("label" in p for p in pushed), plan[:3000]


def test_prefix_jaccard_no_global_window(spark):
    """F13's candidate generation must never plan a single-partition
    window or a cartesian — prefix explode + equi-join only."""
    plan = plan_of(spark, "dedup_prefix_jaccard")
    assert "CartesianProduct" not in plan
    # every Window node must carry a partition spec
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).strip(), "unpartitioned window in plan"


def test_join_cardinality_never_joins_facts(spark):
    """L11 sizes the join from per-key COUNT frames; the fact⋈fact
    join itself must not appear (no join carries lineitem row payload
    columns — only count frames and 1-row scalar frames join)."""
    df = QUERIES["join_cardinality_estimate"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the only SortMergeJoin allowed is the ndv-sized count-frame join
    assert plan.count("SortMergeJoin") <= 1, plan[:3000]


def test_top_bigrams_uses_take_ordered(spark):
    """H12's global top-20 must be TakeOrdered / WindowGroupLimit-
    style partial top-k, not a full sort or an unpartitioned window
    over the whole bigram vocabulary."""
    df = QUERIES["top_bigrams_corpus"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:3000]


def test_zipf_heavy_window_is_partitioned(spark):
    """H26's rank construction: the vocabulary-sized window must be
    partitioned by (n, salt); only freq-of-freq-sized frames may use
    an unpartitioned running sum."""
    df = QUERIES["zipf_slope"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the row_number over the token stream appears with a two-column
    # partition spec (n, salt)
    assert re.search(r"row_number\(\).*partitionBy|\[n[^\]]*salt[^\]]*\]", plan) or (
        "salt" in plan
    ), plan[:3000]


def test_mmr_pool_is_bounded_before_pandas(spark):
    """G14: the greedy applyInPandas stage must sit above the C-bounded
    pool. Since round 7 the pool (built by the partial-top-k
    mapInPandas) is PINNED via localCheckpoint, so the final plan shows
    the greedy FlatMapGroupsInPandas over checkpoint RDDs with at most
    ONE embeddings FileScan (the re-attach join) — the corpus relevance
    scan no longer re-executes per consuming subtree (was 9 scans)."""
    df = QUERIES["mmr_diversified_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert plan.count("FileScan parquet") <= 1, plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]  # the pinned pool


def test_mmr_truncates_gracefully_on_tiny_pool(spark, tmp_path):
    """G14 regression (r6 ADVICE): a candidate pool smaller than MMR_K
    must yield a truncated per-query row set — not a None selection
    that KeyErrors the next greedy round, and not a silently dropped
    query (the single-candidate pool has zero pairwise-sim edges).
    Engine and oracle must agree on the truncated rows."""
    import duckdb

    from drive_bc_datapipeline_spark.plans.embeddings import DIM

    pad = [0.0] * (DIM - 2)  # oracle dot products unroll all DIM slots
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0] + pad, 0), (1, [0.6, 0.8] + pad, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    corpus.write.parquet(str(tmp_path / "embeddings.parquet"))

    df = QUERIES["mmr_diversified_topk"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in df.collect())
    # both vec_ids are queries (< MMR_Q); each pool = the other vector
    assert [(r[0], r[1], r[2]) for r in got] == [(0, 1, 1), (1, 0, 1)]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = sorted(con.sql(registry.ORACLES["mmr_diversified_topk"]).fetchall())
    assert got == want


def test_domain_cap_single_exchange(spark):
    """H43's per-domain quota must plan as exactly one hash exchange
    (the source-keyed window) — any global ordering or extra shuffle
    is a regression."""
    plan = plan_of(spark, "domain_cap_sample")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan.split("AdaptiveSparkPlan")[0], plan
    assert "windowspecdefinition(source" in plan, plan


def test_source_kl_pins_token_counts(spark):
    """H41 reuses the (source, token) counts in four subtrees; the
    eager localCheckpoint must leave at most ONE documents FileScan in
    the final plan (pre-pin the plan held four)."""
    plan = plan_of(spark, "source_kl_divergence")
    assert plan.count("FileScan parquet") <= 1, plan


def test_cusum_daily_frame_pinned(spark):
    """B50: the daily count frame feeds both the window pass and the
    mu/sigma stats — events must be scanned once."""
    plan = plan_of(spark, "value_cusum_drift")
    assert plan.count("FileScan parquet") <= 1, plan


def test_rfm_no_single_partition_window(spark):
    """B49's quartile ranks must come from the range-partitioned
    prefix scan: every window in the plan is partitioned (by __pid),
    never a global ORDER BY over all users."""
    plan = plan_of(spark, "user_rfm_segments")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # a partition column precedes the ORDER BY spec; a global
        # window starts directly with the order column + sort dir
        assert "__pid" in spec or "ASC NULLS FIRST" not in spec.split(",")[0], (
            spec,
            plan,
        )


def test_cdc_merge_single_fact_scan(spark):
    """C33: the array+posexplode fan-out plus the pinned per-status
    aggregate mean the orders fact is scanned exactly once — a union
    of keep/update/insert branches would scan it three times."""
    plan = plan_of(spark, "cdc_merge_apply")
    assert plan.count("FileScan parquet") <= 1, plan


def test_shard_manifest_window_is_shard_partitioned(spark):
    plan = plan_of(spark, "training_shard_manifest")
    assert "windowspecdefinition(shard" in plan, plan


def test_pq_pins_grid_relation(spark):
    """G18: the exploded grid relation feeds five subtrees; the eager
    localCheckpoint must leave at most one embeddings FileScan in the
    final plan, and the ADC joins must all be broadcasts."""
    plan = plan_of(spark, "ann_pq_topk")
    assert plan.count("FileScan parquet") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_kaplan_meier_windows(spark):
    """B51: the only event-scale window is the user-partitioned lead;
    the two global cumulative windows run after the (t)-groupBy, i.e.
    on the bounded |distinct gap hours| frame."""
    plan = plan_of(spark, "kaplan_meier_retention")
    assert "windowspecdefinition(user_id" in plan, plan


def test_kmeans_grid_is_pinned(spark):
    """G12: the quantized grid feeds every unrolled Lloyd step; the
    eager localCheckpoint leaves ZERO embeddings FileScans in the final
    plan (was 9) and no sort-based arg-min windows."""
    plan = plan_of(spark, "kmeans_embeddings")
    assert plan.count("FileScan parquet") == 0, plan
    assert "windowspecdefinition" not in plan, plan


def test_ivf_cells_pinned_and_queries_filtered(spark):
    """G4: one |corpus| x NLIST ranking pass (pinned cells), and the
    query-vector side carries the vec_id pushdown so the broadcast
    never ships the whole corpus."""
    plan = plan_of(spark, "ann_ivf_topk")
    assert plan.count("FileScan parquet") <= 2, plan
    assert "Scan ExistingRDD" in plan, plan


def test_mixture_sampling_single_fact_scan(spark):
    """H36: pinned per-source and quota frames leave exactly one
    documents scan (the rank window's) in the final plan."""
    plan = plan_of(spark, "apply_mixture_sampling")
    assert plan.count("FileScan parquet") <= 1, plan


def test_exact_auc_no_global_window_single_scan(spark):
    """E6 gate: the events scan happens once (eagerly, inside the L4
    prefix pin — ZERO FileScans survive in the final plan) and the
    midrank cumulative window is __pid-partitioned, never a
    single-partition global sort. The only SinglePartition exchange is
    the 1-row final aggregate."""
    plan = plan_of(spark, "exact_auc_purchase")
    assert plan.count("FileScan parquet") == 0, plan
    assert "windowspecdefinition(__pid" in plan, plan


def test_substring_dup_mass_pins_tokenized_corpus(spark):
    """F16 gate: the tokenized corpus is pinned once (ZERO documents
    FileScans survive — was 3 pre-pin: gram stream x2 + token counts)
    and the interval-union window partitions by doc_id."""
    plan = plan_of(spark, "substring_dup_mass_by_source")
    assert plan.count("FileScan parquet") == 0, plan
    assert "windowspecdefinition(doc_id" in plan, plan


def test_hybrid_rrf_pins_tokens_and_broadcasts_queries(spark):
    """G19 gate: the tf-annotated lexical (doc_id, dl, tok, tf)
    relation and the capped query terms are pinned once — r11's
    single-tokenize replan feeds BM25 from the same pin (tf in-row),
    so ZERO documents FileScans survive; the two remaining scans are
    the embeddings sides of the G1-shape cosine ranking. The token
    joins' query side is a broadcast hash join, and the rank windows
    partition by query_id (never a single-partition global sort)."""
    plan = plan_of(spark, "hybrid_rrf_search_topk")
    scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    assert len(scans) == 2, plan
    assert sum("embeddings" in ln for ln in scans) == 2, plan
    assert sum("documents" in ln for ln in scans) == 0, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "windowspecdefinition(query_id" in plan, plan


# ---------------------------------------------------------------------------
# Normalized-plan identity snapshots (r9 verdict #5): keys that share
# extracted helpers are pinned to a frozen executed plan, so a helper
# refactor that silently changes the physical plan fails a test
# instead of relying on builder diligence. Regenerate deliberately
# (after a pinned gate re-verification) with:
#     REGEN_PLAN_SNAPSHOTS=1 python -m pytest tests/test_plan_properties.py -k snapshot
# ---------------------------------------------------------------------------

import os
import pathlib

_SNAP_DIR = pathlib.Path(__file__).parent / "plan_snapshots"


def _normalize_plan(plan: str) -> str:
    """Strip per-session identifiers (exprIds, codegen plan ids) so
    two structurally identical plans compare equal across sessions."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return plan


def _pq_plan(spark):
    return plan_of(spark, "ann_pq_topk")


def _ivfpq_plan(spark):
    from drive_bc_datapipeline_spark.plans.embeddings import ann_ivfpq_topk

    df = ann_ivfpq_topk(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "key", ["ann_pq_topk", "ann_ivfpq_topk"], ids=str
)
def test_plan_snapshot_identity(spark, key):
    """G18/G20 share the PQ helper stack (grid quantize, Lloyd
    codebook, LUT/ADC builders); their executed plans must match the
    frozen snapshots bit-for-bit after identifier normalization."""
    live = _normalize_plan(
        {"ann_pq_topk": _pq_plan, "ann_ivfpq_topk": _ivfpq_plan}[key](spark)
    )
    snap_file = _SNAP_DIR / f"{key}.txt"
    if os.environ.get("REGEN_PLAN_SNAPSHOTS"):
        _SNAP_DIR.mkdir(exist_ok=True)
        snap_file.write_text(live)
        pytest.skip(f"regenerated {snap_file}")
    frozen = snap_file.read_text()
    assert live == frozen, (
        f"{key}: executed plan drifted from tests/plan_snapshots/{key}.txt."
        " If the change is deliberate, GATE_PIN the key (if gated) and"
        " regenerate with REGEN_PLAN_SNAPSHOTS=1."
    )


def test_dsir_weights_plan_broadcast_and_no_python(spark):
    """H47's weighing must keep the E7 scorer shape: the log-ratio
    table rides a BroadcastHashJoin, the per-doc sum partial-
    aggregates map-side, and no Python appears anywhere (the fail-
    fast branches are JVM raise_error expressions)."""
    from drive_bc_datapipeline_spark.operators.dsir import (
        dsir_importance_weights,
        dsir_resample,
    )
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    w = dsir_importance_weights(
        spark, docs, {0: 0.5, 1: -0.2}, -0.1, n_buckets=64
    )
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    sel_plan = (
        dsir_resample(w, 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in sel_plan, sel_plan
    assert "BatchEvalPython" not in sel_plan, sel_plan


def test_calibration_plans_single_scan_no_python(spark):
    """E11/E12: the fit and the report each cost ONE corpus aggregate
    (partial map-side), and apply is a broadcast equi-join — no
    Python, no second scan for validation (it rides the projections
    as raise_error branches)."""
    from drive_bc_datapipeline_spark.operators.classifier import (
        apply_isotonic_calibration,
        score_hashed_linear,
    )
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    scored = score_hashed_linear(spark, docs, {3: 0.5}, n_buckets=64)
    applied = apply_isotonic_calibration(
        scored, [(5, 4, 2, 0.5), (9, 2, 2, 1.0)], n_bins=10
    )
    plan = applied._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # the complete bin table joins broadcast; the corpus side is the
    # probe — one scan of the scored relation, no extra count job
    assert "BroadcastHashJoin" in plan, plan
    scored_plan = (
        scored._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == scored_plan.count(
        "FileScan parquet"
    ), "apply added a corpus re-scan over the scored plan"


def _assert_local_model_table(plan: str) -> None:
    """A model table built from Python rows must scan as a JVM
    LocalTableScan. A ``createDataFrame(<python list>)`` relation plans
    as ``Scan ExistingRDD`` over a PythonRDD, which the BatchEvalPython
    / ArrowEval checks above cannot see, yet every scan of it starts
    Python-worker tasks."""
    assert "LocalTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_model_tables_scan_in_the_jvm(spark, monkeypatch):
    """The scorer's weights, one training round's weights, DSIR's
    log-ratio table and the isotonic bin table are all LocalTableScans
    in the executed plans that consume them."""
    from pyspark.sql import functions as F

    from drive_bc_datapipeline_spark.operators import classifier
    from drive_bc_datapipeline_spark.operators.dsir import (
        dsir_importance_weights,
    )
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    scored = classifier.score_hashed_linear(
        spark, docs, {3: 0.5}, n_buckets=64
    )
    _assert_local_model_table(
        scored._jdf.queryExecution().executedPlan().toString()
    )
    weights = dsir_importance_weights(
        spark, docs, {0: 0.5, 1: -0.2}, -0.1, n_buckets=64
    )
    _assert_local_model_table(
        weights._jdf.queryExecution().executedPlan().toString()
    )
    calibrated = classifier.apply_isotonic_calibration(
        scored, [(5, 4, 2, 0.5), (9, 2, 2, 1.0)], n_bins=10
    )
    _assert_local_model_table(
        calibrated._jdf.queryExecution().executedPlan().toString()
    )

    # the per-round weight table is built inside the training loop:
    # capture the plan of the round the trainer actually runs
    plans = []
    real_round = classifier._gradient_frame

    def spy(feats, docs_, wdf):
        g = real_round(feats, docs_, wdf)
        plans.append(g._jdf.queryExecution().executedPlan().toString())
        return g

    monkeypatch.setattr(classifier, "_gradient_frame", spy)
    labelled = docs.select(
        "doc_id", "text", (F.col("doc_id") % 2).cast("int").alias("label")
    )
    classifier.train_hashed_linear(
        spark, labelled, n_buckets=64, n_rounds=1
    )
    assert len(plans) == 1
    _assert_local_model_table(plans[0])
