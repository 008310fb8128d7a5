"""End-to-end batch pipeline runner (reference parity: the EMR job
flow etl.py → simple-analyses.py → parquet outputs, as one composable
entry point).

``run_pipeline`` executes a named subset of the registered queries and
writes each result as parquet under ``out_dir/<name>/``, with optional
partition columns for the big outputs so downstream readers prune.
A manifest JSON records row counts and schemas — the batch-job audit
trail the reference kept as stdout logs.

Scale notes: results stream straight from each query's plan into the
parquet writer — nothing is collected; each output directory is an
independent job so a failure resumes per-query (rerun overwrites
atomically via overwrite mode).

The curation jobs share one contract:

- ``build_curation_frames`` declares every stage-2 setting (classifier
  gate + DSIR + sharding) and its default exactly once;
  ``run_curation_pipeline`` and ``run_staged_curation`` forward theirs
  as keyword arguments, and the curation manifest records the
  ``"settings"`` the frames were built with.
- The CCNet LM travels as ONE list, ``[unigram, order2, ...]``
  (``len == lm_order``), from ``_fit_reference_lm_tables`` through
  the scorers, the streaming ``ccnet_gate`` and both publishers.
- Inputs use the operators' column names: documents ``doc_id``/
  ``text`` (plus ``source`` for the CCNet stage), seeds add ``label``.
- The stage-0 rule screen, the CCNet knob guards and the stage-0
  handoff check each have one copy (``_apply_rule_screen``,
  ``_check_ccnet_args``, ``_check_handoff``).
"""

from __future__ import annotations

import inspect
import json
import os
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.plans import registry
from drive_bc_datapipeline_spark.session import cached, pin

# Sensible partition layout for the outputs big enough to care.
PARTITION_BY: dict[str, list[str]] = {
    "etl_events_clean": ["year", "month"],
    "sessionize_events": [],
    "counts_by_type_month_year": ["year"],
}

DEFAULT_JOBS = [
    "etl_events_clean",
    "counts_by_type",
    "counts_by_type_month_year",
    "counts_by_day_month_year",
    "counts_by_hour",
    "top_users_by_events",
    "hourly_timeseries",
    "event_value_stats",
]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    jobs: list[str] | None = None,
) -> dict:
    """Run `jobs` (default: the reference's ETL+analytics set) and
    write each result to ``out_dir/<name>/``. Returns the manifest."""
    registry.load_all_plans()
    # Pipeline constituents that are no longer registry keys (their
    # gate slot was ceded under the 200-key cap) still run here — the
    # K7 runner is name-based, so resolve them from this fallback.
    from drive_bc_datapipeline_spark.plans import events as _events_plans

    extra_plans = {
        "counts_by_type_month_year": _events_plans.counts_by_type_month_year,
        "counts_by_day_month_year": _events_plans.counts_by_day_month_year,
        "counts_by_hour": _events_plans.counts_by_hour,
    }
    jobs = jobs if jobs is not None else DEFAULT_JOBS
    unknown = [
        j for j in jobs if j not in registry.QUERIES and j not in extra_plans
    ]
    if unknown:
        raise KeyError(f"unknown queries: {unknown}")

    manifest: dict = {"sf_dir": sf_dir, "jobs": {}}
    for name in jobs:
        t0 = time.time()
        df = (registry.QUERIES.get(name) or extra_plans[name])(spark, sf_dir)
        # Row counts via an Observation attached to the WRITE pass —
        # the metric rides the job that writes the parquet, so the
        # manifest costs zero extra jobs (the previous version
        # re-read every output directory and ran a second count scan
        # per job; at 100 TB that doubles the pipeline's read I/O).
        obs = Observation(f"rows_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        path = os.path.join(out_dir, name)
        writer = df.write.mode("overwrite")
        parts = PARTITION_BY.get(name, [])
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(path)
        # Manifest columns = the READ-BACK schema (footer-only scan, no
        # data I/O): partitionBy moves partition columns to the end of
        # the on-disk schema, so recording df.columns would disagree
        # with what readers see — and the re-read doubles as a smoke
        # check that the written output is loadable.
        manifest["jobs"][name] = {
            "path": path,
            "rows": obs.get["rows"],
            "columns": spark.read.parquet(path).columns,
            "seconds": round(time.time() - t0, 3),
        }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def _read_fresh_events(
    spark: SparkSession, source_path: str, state_path: str
):
    """``(fresh, watermark_us)``: the events of ``source_path`` with ts
    strictly beyond the high-watermark stored at ``state_path`` (-1
    before the first run), rows without an id or ts dropped — THE one
    copy of the watermark read both incremental jobs start from."""
    from drive_bc_datapipeline_spark.tables import read_events

    wm_us = -1
    if os.path.exists(state_path):
        with open(state_path) as f:
            wm_us = json.load(f)["watermark_us"]
    fresh = read_events(spark, source_path).filter(
        F.unix_micros("ts") > wm_us
    ).dropna(subset=["event_id", "ts"])
    return fresh, wm_us


def run_incremental_events(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    state_path: str,
) -> dict:
    """Incremental batch ETL with a persisted high-watermark.

    Processes only events with ts strictly beyond the stored watermark,
    appends them date-partitioned, then advances the watermark to the
    max ts seen — re-running against unchanged input is a no-op, so the
    scheduled-batch version of the streaming pipeline (J1) is
    idempotent without a checkpoint store. At 100 TB the ts filter
    prunes to the new date partitions; everything before the watermark
    is never re-read (predicate pushdown on the partition/sort column).
    """
    fresh, wm_us = _read_fresh_events(spark, source_path, state_path)
    batch = fresh.withColumn("event_date", F.to_date("ts")).withColumn(
        "hour", F.hour("ts").cast("int")
    )
    n = batch.count()
    if n > 0:
        batch.write.mode("append").partitionBy("event_date").parquet(out_dir)
        new_wm = batch.agg(F.max(F.unix_micros("ts"))).first()[0]
        with open(state_path, "w") as f:
            json.dump({"watermark_us": int(new_wm)}, f)
    return {"processed": n, "watermark_us": wm_us}


def run_incremental_rollup(
    spark: SparkSession,
    source_path: str,
    rollup_dir: str,
    state_path: str,
) -> dict:
    """K16: incremental aggregate maintenance — a (event_type, day)
    rollup table kept current from the high-watermark ETL WITHOUT
    recomputing history.

    Each run aggregates only rows beyond the stored watermark into
    day-partial sums, then MERGES them into the rollup via the K13
    upsert: existing (type, day) rows are replaced by old ⊕ delta
    (sum/count are mergeable, avg is re-derived at read), new days
    insert, and untouched day partitions are never rewritten (dynamic
    partition overwrite). Re-running with no new data is a no-op.

    This is incremental materialized-view maintenance in raw Spark:
    at 100 TB the daily refresh costs O(new data + touched rollup
    partitions), not O(history). Non-mergeable aggregates (distinct,
    exact quantiles) need sketch state instead — see hll_weekly_rollup
    (B25) / bitmap_distinct_users (B26) for the mergeable forms.
    """
    from drive_bc_datapipeline_spark.sources.io import upsert_partitioned

    fresh, wm_us = _read_fresh_events(spark, source_path, state_path)
    delta = fresh.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    if delta.isEmpty():
        return {"merged_rows": 0, "watermark_us": wm_us}

    if os.path.exists(rollup_dir):
        # the stored table carries the upsert's __ver ordering column;
        # it is dead weight for the merge arithmetic
        old = spark.read.parquet(rollup_dir).drop("__ver")
        touched = delta.select("event_type", "day")
        # old ⊕ delta on touched keys only; upsert replaces those rows
        merged = (
            old.join(F.broadcast(touched), ["event_type", "day"], "left_semi")
            .unionByName(delta)
            .groupBy("event_type", "day")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )
    else:
        merged = delta
    merged = merged.withColumn("__ver", F.lit(1))
    stats = upsert_partitioned(
        spark,
        rollup_dir,
        merged,
        keys=["event_type", "day"],
        order_col="__ver",
        partition_col="day",
    )
    new_wm = fresh.agg(F.max(F.unix_micros("ts"))).first()[0]
    with open(state_path, "w") as f:
        json.dump({"watermark_us": int(new_wm)}, f)
    return {"merged_rows": stats["rows_written"], "watermark_us": int(new_wm)}


def _check_heldout_args(val_frac: float | None, seeds_val) -> None:
    """Held-out-selection argument guards — ONE copy, called both by
    build_curation_frames and (r15 review catch) up-front by
    run_staged_curation, so an argument error surfaces before the
    corpus-scale prefilter stage runs rather than after it."""
    if val_frac is not None and seeds_val is not None:
        raise ValueError(
            "pass val_frac OR seeds_val, not both: one held-out "
            "definition per run, or the manifest's precision numbers "
            "are ambiguous"
        )
    if val_frac is not None and not 0.0 < val_frac < 1.0:
        raise ValueError(f"val_frac must be in (0, 1), got {val_frac}")


def _precision_at_cut(curve_rows: list, t: float) -> float | None:
    """Precision of the gate ``score >= t`` read off a collected PR
    curve: the curve is cumulative-from-the-top over OCCUPIED bins,
    so the cut's precision is the row at the lowest occupied
    threshold still >= t (unoccupied bins in between keep nothing).
    None when no row clears t — that cut keeps zero docs on the
    curve's population, so its precision is undefined."""
    keep = [r for r in curve_rows if r["threshold"] >= t - 1e-12]
    if not keep:
        return None
    return float(min(keep, key=lambda r: r["threshold"])["precision"])


def _apply_rule_screen(docs, *, rules: bool, rules_config: dict | None):
    """Stage 0 of any curation-shaped job (THE one copy, shared by the
    standalone curation job, the CCNet prefilter, and the staged
    composition): the H51 Gopher/C4/Dolma rule screen
    (``quality_rule_screen``) plus its one-row funnel. Returns
    ``(survivors, funnel_dict | None)`` — the survivors frame stays
    LAZY (the rules push into the consumer's own corpus scans; nothing
    is materialized) and carries the input schema exactly."""
    if rules_config is not None and not rules:
        raise ValueError(
            "rules_config without rules=True: the config would be "
            "silently ignored — enable the rule screen or drop it"
        )
    if not rules:
        return docs, None
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        quality_rule_screen,
    )

    survivors, funnel = quality_rule_screen(docs, **(rules_config or {}))
    return survivors, funnel.collect()[0].asDict()


def _check_handoff(
    funnel: dict | None, rules_config: dict | None, observed: int, by: str
) -> dict:
    """Reconcile the stage-0 handoff and return the manifest's rule
    fields — ONE copy for the three curation jobs. With the rule
    screen on (``funnel`` not None) the next stage (``by``) must have
    observed exactly the docs the funnel passed, and the corpus count
    is the funnel's n_total (the next stage only ever saw the
    survivors)."""
    if funnel is None:
        return {
            "n_docs": observed, "n_kept_rules": None, "rules": False,
            "rules_funnel": None, "rules_config": None,
        }
    if observed != funnel["n_pass_all"]:
        raise ValueError(
            f"stage handoff diverged: the rule screen passed "
            f"{funnel['n_pass_all']} docs but the {by} observed "
            f"{observed} — the lazy rules_ok predicate did not "
            "reproduce the funnel's cut"
        )
    return {
        "n_docs": funnel["n_total"], "n_kept_rules": funnel["n_pass_all"],
        "rules": True, "rules_funnel": funnel, "rules_config": rules_config,
    }


def build_curation_frames(
    spark: SparkSession,
    docs,
    seeds,
    target,
    *,
    k: int,
    n_buckets: int = 4096,
    n_rounds: int = 30,
    lr: float = 0.5,
    n_gram: int = 1,
    min_precision: float = 0.9,
    curve_bins: int = 1000,
    dsir_buckets: int = 4096,
    seed: int = 0,
    n_shards: int = 16,
    calibrate: bool = False,
    scrub: bool = False,
    val_frac: float | None = None,
    seeds_val=None,
    rules: bool = False,
    rules_config: dict | None = None,
) -> dict:
    """Build every frame of the curation recipe — the plan-level seam
    ``run_curation_pipeline`` writes and the chain test inspects:

        train (E9) → [isotonic calibration (E11/E12) if ``calibrate``]
          → pr-curve threshold (E10) → score+filter (E7)
          → DSIR fit/weigh/resample (H47) → seeded_shuffle (L13)

    Scoring-once guarantee: the corpus is scored by exactly ONE Spark
    job — the gate filter's pin — and every downstream
    consumer (DSIR bucket counts, importance weights, the selected
    write) reads the materialized kept-id relation instead of
    re-executing the scoring join (the r7 FileScan-audit discipline
    applied to the orchestration layer; the chain test pins that no
    scoring subtree survives in any downstream plan). The checkpoint
    holds ONE id column of the kept subset — far smaller than the
    corpus it saves four re-scores of.

    The corpus-count and kept-count ride that same checkpoint job as
    Observations (``gate_obs``) — no separate ``count()`` actions.

    Read-once label set: ``seeds`` (and ``seeds_val`` when given) are
    cached after the scrub and scanned once; training, the seed and
    held-out curves and calibration all read the cached rows, and the
    cache is released before this function returns (on a raise too).
    A label frame the caller has cached already is used as it is and
    stays cached.

    ``calibrate=True`` fits an isotonic table (E11) on the seed
    scores, audits it (E12 ECE/MCE/Brier), and selects the threshold
    on CALIBRATED probabilities — so ``threshold`` then means "keep
    docs with calibrated P(quality) >= t", the mixture-quota/budget
    semantics. Because the calibration step function is monotone
    non-decreasing in the score bin, the calibrated gate still
    collapses to a plain raw-score predicate (the chain test asserts
    the equivalence), so the corpus pass stays one scan + filter.

    Threshold selection (r15): by default the PR curve is computed on
    the SAME seeds the classifier was trained on, so ``min_precision``
    is an optimistic (in-sample) estimate of the gate's true corpus
    precision. Pass ``val_frac`` (a deterministic seed-split fraction)
    or ``seeds_val`` (a separate labeled frame) to select the
    threshold OUT-OF-SAMPLE instead: the classifier (and, with
    ``calibrate``, the isotonic table — it is model state too) fits
    on the train split only, the threshold is chosen on the held-out
    curve, and the frames carry BOTH precisions at the chosen cut
    (``precision_train`` / ``precision_val``) so the manifest can
    show how far in-sample optimism runs. ``val_frac`` splits on
    ``xxhash64(id, seed + 4)`` — a documented stream disjoint from
    DSIR's Gumbel draw and the shard shuffle (below) — so the split
    is reproducible and independent of every other seeded stage.

    Seeded randomness uses disjoint xxhash64 streams (documented so
    no stage reuses another's draw): DSIR's Gumbel selection consumes
    ``seed``; the shard shuffle consumes ``seed + 2`` (shard) and
    ``seed + 3`` (intra-shard position — ``seeded_shuffle`` itself
    spans two consecutive seeds); the validation split consumes
    ``seed + 4``.

    This signature is THE one declaration of the stage-2 settings and
    their defaults: ``run_curation_pipeline`` and ``run_staged_curation``
    forward theirs here, and the returned ``"settings"`` (every keyword
    argument but the ``seeds_val`` frame) is what the curation manifest
    records. Documents carry ``doc_id``/``text`` (plus ``source`` for
    the CCNet stage) and seeds ``doc_id``/``label``/``text``.
    """
    settings = {
        name: value for name, value in locals().items()
        if name not in ("spark", "docs", "seeds", "target", "seeds_val")
    }
    from drive_bc_datapipeline_spark.operators.classifier import (
        apply_isotonic_calibration,
        classifier_pr_curve,
        expected_calibration_error,
        isotonic_calibration_table,
        score_hashed_linear,
        train_hashed_linear,
    )
    from drive_bc_datapipeline_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_importance_weights,
        dsir_log_ratio,
        dsir_resample,
    )
    from drive_bc_datapipeline_spark.operators.sampling import (
        seeded_shuffle,
    )

    if scrub:
        # redact PII BEFORE the gate ever sees the text (CCNet/Dolma
        # order): seeds and corpus scrub identically so the trained
        # feature space matches what scoring sees, and the selected
        # write carries the redacted text. One extra JVM projection
        # per scan — no new jobs, no Python.
        from drive_bc_datapipeline_spark.operators.pii import scrub_pii

        docs = scrub_pii(docs)
        seeds = scrub_pii(seeds)
        if seeds_val is not None:
            # the held-out seeds must live in the same scrubbed
            # feature space the gate scores
            seeds_val = scrub_pii(seeds_val)
        # the DSIR target must live in the SAME scrubbed feature
        # space as the kept corpus it is matched against
        target = scrub_pii(target)

    # stage 0 AFTER the scrub (the staged-job ordering: rules read
    # the text the gate will score); corpus-only — seeds/target are
    # label/distribution inputs, not the corpus being screened
    docs, rules_funnel = _apply_rule_screen(
        docs, rules=rules, rules_config=rules_config
    )

    _check_heldout_args(val_frac, seeds_val)
    # The label frames are read ONCE: cached here, after the scrub,
    # for the call — every consumer (training, the seed and held-out
    # curves, calibration) is collected before this function returns,
    # so nothing it hands back reads them.
    with cached(seeds, seeds_val):
        seeds_train = seeds
        if val_frac is not None:
            # deterministic doc-level split on the seed+4 stream; pmod so
            # xxhash64's negative half doesn't silently empty the val side
            is_val = F.pmod(
                F.xxhash64(F.col("doc_id"), F.lit(seed + 4)), F.lit(1_000_000)
            ) < int(val_frac * 1_000_000)
            seeds_val = seeds.filter(is_val)
            seeds_train = seeds.filter(~is_val)

        w, b = train_hashed_linear(
            spark, seeds_train,
            n_buckets=n_buckets, n_rounds=n_rounds, lr=lr, n_gram=n_gram,
        )
        seed_scored = score_hashed_linear(
            spark, seeds_train, w, n_buckets=n_buckets, bias=b,
            n_gram=n_gram,
        ).join(seeds_train.select("doc_id", "label"), "doc_id")

        gate_col = "score"
        cal_table: list | None = None
        cal_audit: dict | None = None
        if calibrate:
            # E11: fit on the seed scores with the E10 bin convention so
            # the calibrated threshold maps exactly through the step fn
            cal_table = isotonic_calibration_table(
                seed_scored, n_bins=curve_bins
            )
            seed_scored = apply_isotonic_calibration(
                seed_scored, cal_table, n_bins=curve_bins
            )
            gate_col = "calibrated"
            # E12: audit the calibrated probabilities (seed-sized scan)
            cal_audit = expected_calibration_error(
                seed_scored, score_col=gate_col
            )

        curve_train = classifier_pr_curve(
            seed_scored, score_col=gate_col, n_bins=curve_bins,
        ).collect()
        held_out = seeds_val is not None
        if held_out:
            val_scored = score_hashed_linear(
                spark, seeds_val, w, n_buckets=n_buckets, bias=b,
                n_gram=n_gram,
            ).join(seeds_val.select("doc_id", "label"), "doc_id")
            if calibrate:
                val_scored = apply_isotonic_calibration(
                    val_scored, cal_table, n_bins=curve_bins
                )
            curve_sel = classifier_pr_curve(
                val_scored, score_col=gate_col, n_bins=curve_bins,
            ).collect()
            if not curve_sel:
                raise ValueError(
                    "held-out validation split is empty (val_frac "
                    f"{val_frac!r} on this seed set / empty seeds_val): "
                    "the threshold cannot be selected out-of-sample"
                )
        else:
            curve_sel = curve_train
        where = "held-out validation" if held_out else "seed"
        eligible = [r for r in curve_sel if r["precision"] >= min_precision]
        if not eligible:
            best = max(r["precision"] for r in curve_sel)
            raise ValueError(
                f"no threshold reaches precision {min_precision} on the "
                f"{where} set (best {best:.3f}): the gate is not usable — "
                "train longer, add seeds, or lower min_precision"
            )
        threshold = min(r["threshold"] for r in eligible)
        precision_sel = _precision_at_cut(curve_sel, threshold)
        precision_train = _precision_at_cut(curve_train, threshold)

        scored = score_hashed_linear(
            spark, docs, w, n_buckets=n_buckets, bias=b, n_gram=n_gram,
        )
        if calibrate:
            scored = apply_isotonic_calibration(
                scored, cal_table, n_bins=curve_bins
            )
        gate = F.col(gate_col) >= threshold
        gate_obs = Observation("gate_counts")
        kept_ids = pin(
            scored.observe(
                gate_obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(gate.cast("long")), F.lit(0)).alias("n_kept"),
            )
            .filter(gate)
            .select("doc_id"),
            "classifier gate scoring",  # THE one corpus-scoring job
        )
        # Spread by doc_id before the two DSIR passes' per-gram md5
        # work: the broadcast join keeps the corpus scan's partitioning,
        # which is ONE partition for a corpus read from one row group
        # (after a shuffled join Spark drops this repartition as
        # redundant). An explicit count, because AQE coalesces a tiny
        # repartition-by-column back to one partition.
        kept = docs.join(kept_ids, "doc_id").repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id"
        )

        table, default = dsir_log_ratio(
            dsir_bucket_counts(target, n_buckets=dsir_buckets),
            dsir_bucket_counts(kept, n_buckets=dsir_buckets),
            n_buckets=dsir_buckets,
        )
        weights = dsir_importance_weights(
            spark, kept, table, default, n_buckets=dsir_buckets,
        )
        sample = dsir_resample(weights, k, seed=seed)

        selected = seeded_shuffle(
            docs.join(sample.select("doc_id"), "doc_id"),
            "doc_id",
            seed=seed + 2,  # independent of the Gumbel stream at `seed`
            n_shards=n_shards,
        )
        return {
            "threshold": threshold,
            "threshold_selection": (
                "held-out" if held_out else "in-sample-seeds"
            ),
            # precision of the chosen cut on each curve: equal when the
            # selection is in-sample; the spread between them is the
            # in-sample optimism the r13 ADVICE warned about
            "precision_train": precision_train,
            "precision_val": precision_sel if held_out else None,
            "gate_col": gate_col,
            "gate_obs": gate_obs,
            # the trained model is small in-memory state a caller needs to
            # run the SAME gate incrementally (J11's streaming twin);
            # "weights" (unqualified) is the DSIR importance relation below
            "model_weights": w,
            "model_bias": b,
            "scored": scored,  # test seam: raw (+calibrated) corpus scores
            "kept_ids": kept_ids,
            "kept": kept,
            "weights": weights,
            "sample": sample,
            "selected": selected,
            "cal_table": cal_table,
            "cal_audit": cal_audit,
            "rules_funnel": rules_funnel,
            "settings": settings,
        }


def run_curation_pipeline(
    spark: SparkSession,
    docs,
    seeds,
    target,
    out_dir: str,
    *,
    publish_model_dir: str | None = None,
    **settings,
) -> dict:
    """The full curation recipe as ONE runnable job (the K7 runner's
    operational sibling for the E9/E10/E11/E7 + H47 + L13 chain the
    composition test pins): ``build_curation_frames`` (which see, for
    the scoring-once, calibration, in-sample-threshold, and seed-
    stream contracts) + the shard-partitioned ``out_dir/selected/``
    write + a manifest JSON. ``settings`` are ``build_curation_frames``'
    keyword arguments (``k`` and the stage-2 knobs), declared and
    defaulted there once; the manifest records the values that run
    used.

    Everything downstream of the driver-sized model state streams
    plan→writer (nothing corpus-scale is collected; the three counts
    ride Observations on the two jobs that run anyway); the manifest
    carries the decisions (threshold, counts, seed, and — when
    ``calibrate`` — the isotonic table with its ECE/MCE/Brier audit)
    so a rerun is auditable — and byte-identical apart from timings,
    which the test pins. ``publish_model_dir`` publishes the trained
    gate as the next classifier-gate version there.
    """
    t0 = time.time()
    frames = build_curation_frames(spark, docs, seeds, target, **settings)
    run = frames["settings"]
    out_path = os.path.join(out_dir, "selected")
    obs = Observation("rows_selected")
    (
        frames["selected"].observe(obs, F.count(F.lit(1)).alias("rows"))
        .repartition(run["n_shards"], "shard")
        .sortWithinPartitions("shard", "pos_key")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_path)
    )
    gate_counts = frames["gate_obs"].get
    manifest = {
        **_check_handoff(
            frames["rules_funnel"], run["rules_config"],
            int(gate_counts["n_docs"]), "gate",
        ),
        "n_kept": int(gate_counts["n_kept"]),
        "n_selected": obs.get["rows"],
        "threshold": frames["threshold"],
        "min_precision": run["min_precision"],
        # how the threshold was chosen: "in-sample-seeds" (curve on
        # the training seeds — optimistic) or "held-out" (curve on a
        # validation split the model never trained on). Both
        # precisions at the chosen cut are recorded so the optimism
        # gap is visible in the artifact, not just a caveat.
        "threshold_selection": frames["threshold_selection"],
        "precision_train": frames["precision_train"],
        "precision_val": frames["precision_val"],
        "val_frac": run["val_frac"],
        "calibrated": run["calibrate"],
        "pii_scrubbed": run["scrub"],
        "k": run["k"],
        "seed": run["seed"],
        "n_shards": run["n_shards"],
        "n_buckets": run["n_buckets"],
        # the gate's feature order: a scorer at the WRONG n_gram
        # silently reads a drifted feature space, so the manifest
        # carries it like curve_bins carries the bin convention
        "n_gram": run["n_gram"],
        "dsir_buckets": run["dsir_buckets"],
        # the bin convention: without it the calibration_table and
        # threshold cannot be interpreted or inverted downstream
        # (calibrated_threshold_to_raw at the wrong n_bins silently
        # halves or doubles the cut)
        "curve_bins": run["curve_bins"],
        "path": out_path,
        "seconds": round(time.time() - t0, 3),
    }
    if run["calibrate"]:
        manifest["calibration_table"] = [
            list(row) for row in frames["cal_table"]
        ]
        manifest["calibration_audit"] = frames["cal_audit"]
    if publish_model_dir is not None:
        from drive_bc_datapipeline_spark.streaming.pipeline import (
            classifier_gate_manifest,
            publish_gate_model,
        )

        # the published threshold lives in the gate's OWN score space:
        # calibrated runs ship the (cal_table, curve_bins) pair so the
        # versioned stream resolves it exactly like J11's handoff
        manifest["published_version"] = publish_gate_model(
            publish_model_dir,
            classifier_gate_manifest(
                frames["model_weights"], frames["model_bias"],
                frames["threshold"],
                n_buckets=run["n_buckets"], n_gram=run["n_gram"],
                cal_table=frames["cal_table"],
                curve_bins=run["curve_bins"] if run["calibrate"] else None,
            ),
        )
    with open(os.path.join(out_dir, "curation_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    # the trained model rides the RETURN (driver-sized state a
    # composing job needs to publish a combined gate) but not the
    # JSON file — weights can be up to n_buckets floats
    manifest["model"] = {
        "weights": frames["model_weights"],
        "bias": frames["model_bias"],
    }
    return manifest


def _check_ccnet_args(lm_order: int, lam: float, alpha: float) -> None:
    """The CCNet scorer-knob guards — ONE copy, run up front by the
    prefilter and the staged job: the scorer re-checks lam/alpha, but
    only AFTER the reference-scale LM fits have eagerly checkpointed,
    so a bad knob must fail here, before any job runs."""
    if lm_order not in (1, 2, 3, 4, 5):
        raise ValueError(
            f"lm_order={lm_order}: 1 (unigram, H49), 2 (bigram with "
            "unigram backoff, H50), 3 (trigram backoff chain, H52), "
            "or 4-5 (the generic chain; 5 = CCNet's KenLM order)"
        )
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam={lam}: interpolation weight is in [0, 1]")
    if alpha <= 0:
        raise ValueError(f"alpha={alpha}: add-alpha smoothing needs > 0")


def _fit_reference_lm_tables(
    reference, *, lm_order: int, alpha: float
) -> list:
    """``[unigram, order2, ..., order_{lm_order}]`` fit on the
    reference — THE one copy of the CCNet model fit, shared by
    ``run_ccnet_prefilter`` and the staged job's publish path (which
    must publish EXACTLY the tables the cut used, so it fits once
    here and injects them via ``tables=``). The list is the one shape
    of the LM chain everywhere: the scorers, the streaming gate and
    the publishers all take it (``len == lm_order``)."""
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        unigram_lm_table,
    )

    return [unigram_lm_table(reference, alpha=alpha)] + [
        ngram_lm_table(reference, k=k) for k in range(2, lm_order + 1)
    ]


def run_ccnet_prefilter(
    spark: SparkSession,
    docs,
    reference,
    out_dir: str,
    *,
    q: float = 2.0 / 3.0,
    alpha: float = 0.5,
    lm_order: int = 1,
    lam: float = 0.7,
    scrub: bool = False,
    rules: bool = False,
    rules_config: dict | None = None,
    publish_model_dir: str | None = None,
    tables=None,
) -> dict:
    """The CCNet prefilter (H49/H50 → H48) as ONE runnable job: fit
    the reference LM on ``reference`` (the high-quality target),
    score every document of ``docs`` under it, fit per-domain score
    quantiles at ``q``, drop each domain's worst tail, and write
    ``out_dir/kept/`` partitioned by source with a manifest JSON.

    ``lm_order`` picks the scorer: 1 = the smoothed unigram LM (H49);
    2-5 = the generic Jelinek-Mercer backoff chain at that order
    (H50/H52; order 5 is CCNet's KenLM order) — ``lam`` is the
    per-level interpolation weight at orders >= 2.
    Each order catches one scramble class the order below is blind
    to (2: word order vs vocabulary; 3: triples vs bigram stats;
    4/5: one range further — all separations test-pinned on planted
    multiset-preserving corpora). Every order produces the same
    (id, n_toks, avg_nll) relation, so everything downstream
    (threshold fit, filter, manifest) is scorer-agnostic.

    Scoring-once (the r14 curation-job discipline, applied from the
    start): the per-doc score relation — three narrow columns — is
    pinned, so the threshold fit and the filter both read
    the materialized scores instead of re-running the explode + LM
    join; the corpus/scored counts ride that job as Observations
    (token-less documents score nothing and are dropped — the H49
    contract — and the manifest reports them as n_docs − n_scored).
    The per-source thresholds are model state and land in the
    manifest whole, so the cut is auditable and re-applicable.

    ``scrub=True`` applies A8's PII scrub to docs AND reference first
    (both sides of the LM must live in the same feature space).

    ``publish_model_dir`` (r16) closes the batch-fit → streaming-gate
    rotation loop in ONE call: after the cut, the fitted LM tables +
    thresholds publish as a versioned gate model
    (``publish_ccnet_gate_model``), so every in-flight
    ``start_gate_stream(..., versioned_gate(spark, model_dir))`` sink
    swaps to this fit at its next micro-batch boundary; the manifest
    records the ``published_version``. ``tables`` injects the pre-fit
    ``[unigram, order2, ...]`` list (the
    ``_fit_reference_lm_tables`` shape) so a composing job can fit
    ONCE and publish exactly what the cut used; ``len(tables)`` must
    match ``lm_order``.
    """
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_filter,
        collect_domain_thresholds,
        domain_threshold_table,
    )
    from drive_bc_datapipeline_spark.operators.lm_score import (
        score_docs_under_lm,
        score_docs_under_ngram_chain,
    )

    _check_ccnet_args(lm_order, lam, alpha)
    t0 = time.time()
    if scrub:
        from drive_bc_datapipeline_spark.operators.pii import scrub_pii

        docs, reference = scrub_pii(docs), scrub_pii(reference)

    # stage 0 after the scrub (the staged-job ordering); lazy — the
    # rules_ok predicate pushes into the scoring job's own scan
    docs, rules_funnel = _apply_rule_screen(
        docs, rules=rules, rules_config=rules_config
    )

    if tables is None:
        tables = _fit_reference_lm_tables(
            reference, lm_order=lm_order, alpha=alpha
        )
    if len(tables) != lm_order:
        raise ValueError(
            f"injected tables are order-{len(tables)} but "
            f"lm_order={lm_order}: the cut would silently score the "
            "wrong order — fit them with _fit_reference_lm_tables at "
            "the job's own order"
        )
    if lm_order >= 2:
        scores = score_docs_under_ngram_chain(
            docs, tables, alpha=alpha, lam=lam
        )
    else:
        scores = score_docs_under_lm(docs, tables[0])
    # full-coverage frame: token-less docs surface as NULL avg_nll so
    # ONE pass counts both populations before the explicit drop
    cover = docs.select("doc_id", "source").join(scores, "doc_id", "left")
    score_obs = Observation("ccnet_scores")
    scored = pin(
        cover.observe(
            score_obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.count("avg_nll").alias("n_scored"),
        )
        .filter(F.col("avg_nll").isNotNull()),
        "ccnet scoring",  # THE one corpus-scoring job
    )
    # ONE execution of the fit aggregate: the collected rows feed both
    # the manifest and the filter (approx sketches need not reproduce
    # identical thresholds across executions — collecting twice could
    # make the manifest disagree with the cut actually applied).
    threshold_rows = collect_domain_thresholds(
        domain_threshold_table(scored, (q,), approx=True)
    )
    thresholds = {
        r["source"]: r["threshold"] for r in threshold_rows
    }
    kept_scored = apply_domain_filter(scored, threshold_rows, q)
    kept = docs.join(
        kept_scored.select("doc_id", "n_toks", "avg_nll"), "doc_id"
    )
    out_path = os.path.join(out_dir, "kept")
    keep_obs = Observation("ccnet_kept")
    (
        kept.observe(keep_obs, F.count(F.lit(1)).alias("rows"))
        .repartition("source")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(out_path)
    )
    counts = score_obs.get
    manifest = {
        **_check_handoff(
            rules_funnel, rules_config, int(counts["n_docs"]), "scorer"
        ),
        "n_scored": int(counts["n_scored"]),
        "n_tokenless_dropped": int(counts["n_docs"] - counts["n_scored"]),
        "n_kept": int(keep_obs.get["rows"]),
        "q": q,
        "alpha": alpha,
        "lm_order": lm_order,
        # the interpolation weight only participates at orders >= 2;
        # recording it unconditionally would imply it shaped the cut
        "lam": lam if lm_order >= 2 else None,
        "pii_scrubbed": scrub,
        "thresholds": {s: thresholds[s] for s in sorted(thresholds)},
        "path": out_path,
        "seconds": round(time.time() - t0, 3),
    }
    if publish_model_dir is not None:
        from drive_bc_datapipeline_spark.streaming.pipeline import (
            publish_ccnet_gate_model,
        )

        manifest["published_version"] = publish_ccnet_gate_model(
            publish_model_dir, tables=tables, thresholds=thresholds,
            q=q, alpha=alpha, lam=lam,
            # the screen is part of the published decision function
            # (the staged-gate r16 ADVICE class)
            rules_config=(rules_config or {}) if rules else None,
        )
    with open(os.path.join(out_dir, "ccnet_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def run_staged_curation(
    spark: SparkSession,
    docs,
    reference,
    seeds,
    target,
    out_dir: str,
    *,
    # stage 1 — CCNet prefilter (H49/H50 → H48)
    q: float = 2.0 / 3.0,
    alpha: float = 0.5,
    lm_order: int = 1,
    lam: float = 0.7,
    # scrub once here for both stages; stage 0 — the H51 rule screen
    scrub: bool = False,
    rules: bool = False,
    rules_config: dict | None = None,
    publish_model_dir: str | None = None,
    # stage 2 — classifier gate + DSIR: build_curation_frames' settings
    **gate,
) -> dict:
    """The production curation shape as ONE staged job: an optional
    rule-based heuristic screen FIRST (``rules=True`` — the
    Gopher/C4/Dolma stage-0 every real run applies), then the cheap
    LM prefilter cuts each domain's perplexity tail, then the
    classifier gate + DSIR + sharding run on the survivors — the
    rules → CCNet → classifier → DSIR pipeline every large curation
    run hand-wires today, with the parquet handoff internal and one
    run directory:

        out_dir/prefilter/kept/      stage-1 survivors (by source)
        out_dir/prefilter/ccnet_manifest.json
        out_dir/curation/selected/   final selection (by shard)
        out_dir/curation/curation_manifest.json
        out_dir/staged_manifest.json both manifests + reconciliation
                                     (+ the per-rule funnel when
                                     rules=True)

    ``gate`` holds ``k`` and the stage-2 settings, forwarded to
    ``build_curation_frames`` (which declares and defaults them): they
    are bound against its signature BEFORE stage 1 runs, so an
    unknown or missing setting raises ``TypeError`` and a held-out
    argument error raises ``ValueError`` without costing a
    corpus-scale prefilter pass. The published staged model reads its
    classifier settings (``n_buckets``, ``n_gram``, ``curve_bins``,
    the calibration table) from the curation manifest.

    Ordering matters for cost: the rule screen is a zero-shuffle
    codegen'd projection (its ``rules_ok`` predicate pushes into
    stage 1's own corpus scans — nothing is materialized), the
    prefilter is two corpus passes of cheap token joins, and both
    remove tails before the classifier scores anything, so the
    expensive stage reads only survivors — at 100 TB that is the
    difference between scoring the crawl and scoring the keep-worthy
    fraction of it. ``rules_config`` overrides the published Gopher
    thresholds (see ``operators/quality_rules.quality_rule_flags``);
    the staged manifest records the per-rule funnel so the drop
    decomposes by rule, plus the config that produced it.

    PII scrubbing composes at THIS level: ``scrub=True`` redacts
    docs, reference, seeds, and the DSIR target exactly once here
    and runs both stages with their own scrub off — the A8 scrub is
    documented non-idempotent (a redaction placeholder would match
    the digit-run class on a second pass), so letting each stage
    scrub independently would double-scrub the handoff text.

    Stage counts must reconcile: the curation stage's observed corpus
    count is asserted equal to the prefilter's kept count — a
    mismatch means the handoff read diverged from what stage 1 wrote
    (partial write, schema drift) and the job fails rather than
    silently curating a different corpus.
    """
    stage2 = inspect.signature(build_curation_frames).bind(
        spark, docs, seeds, target, **gate
    ).arguments
    _check_heldout_args(stage2.get("val_frac"), stage2.get("seeds_val"))
    _check_ccnet_args(lm_order, lam, alpha)
    t0 = time.time()
    if scrub:
        from drive_bc_datapipeline_spark.operators.pii import scrub_pii

        docs, reference, seeds, target = (
            scrub_pii(f) for f in (docs, reference, seeds, target)
        )
        if gate.get("seeds_val") is not None:
            gate["seeds_val"] = scrub_pii(gate["seeds_val"])

    # stage 0 through THE one helper (the funnel is one bounded
    # single-row action, the survivors stay lazy)
    docs, rules_funnel = _apply_rule_screen(
        docs, rules=rules, rules_config=rules_config
    )
    # fit the reference LM ONCE up front when the staged model will
    # be published: the published tables must be EXACTLY what the
    # cut used (the tables= injection seam), and both gate halves
    # must version TOGETHER (publish_staged_gate_model's contract)
    lm_tables = None
    if publish_model_dir is not None:
        lm_tables = _fit_reference_lm_tables(
            reference, lm_order=lm_order, alpha=alpha
        )
    m_pre = run_ccnet_prefilter(
        spark, docs, reference, os.path.join(out_dir, "prefilter"),
        q=q, alpha=alpha, lm_order=lm_order, lam=lam, tables=lm_tables,
    )
    screen = _check_handoff(
        rules_funnel, rules_config, m_pre["n_docs"], "prefilter"
    )
    m_cur = run_curation_pipeline(
        spark, spark.read.parquet(m_pre["path"]), seeds, target,
        os.path.join(out_dir, "curation"), **gate,
    )
    if m_cur["n_docs"] != m_pre["n_kept"]:
        raise ValueError(
            f"stage handoff diverged: prefilter kept {m_pre['n_kept']} "
            f"docs but the curation gate observed {m_cur['n_docs']} — "
            "the kept/ parquet read does not match what stage 1 wrote"
        )
    published_version = None
    if publish_model_dir is not None:
        from drive_bc_datapipeline_spark.streaming.pipeline import (
            publish_staged_gate_model,
        )

        calibrated = m_cur["calibrated"]
        published_version = publish_staged_gate_model(
            publish_model_dir,
            tables=lm_tables, thresholds=m_pre["thresholds"], q=m_pre["q"],
            weights=m_cur["model"]["weights"],
            bias=m_cur["model"]["bias"],
            threshold=m_cur["threshold"],
            alpha=alpha, lam=lam,
            n_buckets=m_cur["n_buckets"], n_gram=m_cur["n_gram"],
            # the stage-0 screen is part of the published decision
            # function: without it a rotated stream would keep
            # rule-failing docs the batch cut dropped (r16 ADVICE)
            rules_config=(rules_config or {}) if rules else None,
            cal_table=(
                [tuple(r) for r in m_cur["calibration_table"]]
                if calibrated else None
            ),
            curve_bins=m_cur["curve_bins"] if calibrated else None,
        )
    manifest = {
        **screen,
        "n_kept_prefilter": m_pre["n_kept"],
        "n_kept_gate": m_cur["n_kept"],
        "n_selected": m_cur["n_selected"],
        "pii_scrubbed": scrub,
        "published_version": published_version,
        "prefilter": m_pre,
        # the curation manifest's in-memory-only model rides the
        # RETURN, never the JSON (strip before dumping)
        "curation": {k: v for k, v in m_cur.items() if k != "model"},
        "path": m_cur["path"],
        "seconds": round(time.time() - t0, 3),
    }
    with open(os.path.join(out_dir, "staged_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest
