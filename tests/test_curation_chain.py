"""End-to-end curation-chain composition (the tokenizer-chain pattern
applied to the curation family).

Each stage is individually bit-matched (test_classifier.py,
test_dsir.py, test_ml_geo_operators.py); this file pins the SEAMS of
the full corpus-curation recipe — quality-classifier gate, then
distribution-matched selection, then reproducible ordering:

    train (E9) → pr-curve threshold (E10) → score+filter (E7)
      → DSIR fit/weigh/resample (H47) → seeded_shuffle (L13)

Composed invariants:
- conservation at every seam: kept + dropped == scored; the weight
  relation covers exactly the kept set; the sample is a k-subset of
  the kept set; the shuffle permutes the sample bijectively;
- the curve-selected threshold behaves as the plain corpus predicate
  ``score >= t`` (the E10 collapse, exercised here on the seam with a
  REAL trained model rather than synthetic scores);
- the quality gate keeps exactly the clean-vocabulary docs, and the
  DSIR stage then ENRICHES the target domain inside the kept set;
- determinism: a second full pass (same seeds) reproduces the selected
  ids and the shard/order assignment bit-for-bit.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.operators.classifier import (
    classifier_pr_curve,
    score_hashed_linear,
    train_hashed_linear,
)
from drive_bc_datapipeline_spark.operators.dsir import (
    dsir_bucket_counts,
    dsir_importance_weights,
    dsir_log_ratio,
    dsir_resample,
)
from drive_bc_datapipeline_spark.operators.sampling import seeded_shuffle

N_BUCKETS = 512
DSIR_BUCKETS = 256
K_SELECT = 30

_JUNK = ["zx9", "qq7", "###", "%%%", "vv2"]
_CLEAN = ["the", "fox", "dog", "reads", "plain", "prose", "words"]
_DOMAIN = ["spark", "shuffle", "partition", "broadcast", "join"]


def _doc(vocab: list[str], i: int, n: int = 8) -> str:
    return " ".join(vocab[(i + j) % len(vocab)] for j in range(n))


def _corpus_rows():
    """180 docs: ids 0-59 junk, 60-119 clean-general, 120-179
    clean-target-domain (clean words mixed with domain words). Texts
    are drawn from the SAME rotation space as the seeds (i % 10), so
    every corpus doc is a text twin of some labeled seed — its score
    lands inside the seed score range and the curve-derived threshold
    classifies the corpus exactly as it classified the seeds."""
    rows = []
    for i in range(60):
        rows.append((i, _doc(_JUNK, (i % 10) + 3)))
    for i in range(60):
        rows.append((60 + i, _doc(_CLEAN, (i % 10) + 3)))
    for i in range(60):
        j = i % 10
        mixed = _doc(_CLEAN, j, 4) + " " + _doc(_DOMAIN, j, 4)
        rows.append((120 + i, mixed))
    return rows


def _seed_rows():
    """40 labeled seeds, ids disjoint from the corpus: clean (both
    kinds) label 1, junk label 0."""
    rows = []
    for i in range(10):
        rows.append((1000 + i, 0, _doc(_JUNK, i + 3)))
        rows.append((1100 + i, 1, _doc(_CLEAN, i + 3)))
        rows.append(
            (1200 + i, 1, _doc(_CLEAN, i, 4) + " " + _doc(_DOMAIN, i, 4))
        )
        rows.append((1300 + i, 0, _doc(_JUNK, i + 7)))
    return rows


def _target_rows():
    """A small target-domain reference set (what we want more of),
    ids disjoint from corpus and seeds."""
    return [(2000 + i, _doc(_DOMAIN, i)) for i in range(20)]


def _run_chain(spark):
    seeds = spark.createDataFrame(
        _seed_rows(), "doc_id long, label int, text string"
    )
    corpus = spark.createDataFrame(
        _corpus_rows(), "doc_id long, text string"
    )
    target = spark.createDataFrame(
        _target_rows(), "doc_id long, text string"
    )

    # E9: train the quality gate on the labeled seeds
    w, b = train_hashed_linear(
        spark, seeds, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0
    )
    # E10: pick the highest-recall threshold with precision >= 0.95
    # from the curve over the SCORED SEEDS (the held-out-labels step)
    seed_scored = score_hashed_linear(
        spark, seeds, w, n_buckets=N_BUCKETS, bias=b
    ).join(seeds.select("doc_id", "label"), "doc_id")
    curve = classifier_pr_curve(seed_scored, n_bins=1000).collect()
    eligible = [r for r in curve if r["precision"] >= 0.95]
    assert eligible, "the trained gate must reach 0.95 precision"
    threshold = min(r["threshold"] for r in eligible)

    # E7: score + filter the corpus with the plain predicate the
    # curve's quantized rule collapses to
    scored = score_hashed_linear(
        spark, corpus, w, n_buckets=N_BUCKETS, bias=b
    )
    kept = scored.filter(F.col("score") >= threshold).select("doc_id")
    dropped = scored.filter(F.col("score") < threshold)
    kept_docs = corpus.join(kept, "doc_id")

    # H47: fit target-vs-kept, weigh the kept docs, resample k
    tc = dsir_bucket_counts(target, n_buckets=DSIR_BUCKETS)
    qc = dsir_bucket_counts(kept_docs, n_buckets=DSIR_BUCKETS)
    table, default = dsir_log_ratio(tc, qc, n_buckets=DSIR_BUCKETS)
    weights = dsir_importance_weights(
        spark, kept_docs, table, default, n_buckets=DSIR_BUCKETS
    )
    sample = dsir_resample(weights, K_SELECT, seed=11)

    # L13: reproducible training order for the selected docs
    shuffled = seeded_shuffle(
        sample.select("doc_id"), "doc_id", seed=5, n_shards=4
    )
    return {
        "corpus": corpus,
        "scored": scored,
        "threshold": threshold,
        "kept": kept,
        "dropped": dropped,
        "weights": weights,
        "sample": sample,
        "shuffled": {
            r["doc_id"]: (r["shard"], r["pos_key"])
            for r in shuffled.collect()
        },
    }


@pytest.mark.slow
def test_curation_chain_composes_end_to_end(spark):
    run = _run_chain(spark)

    kept_ids = {r["doc_id"] for r in run["kept"].collect()}
    # the gate keeps exactly the clean docs (both kinds), drops junk
    assert kept_ids == set(range(60, 180))
    # conservation through the filter seam
    assert run["kept"].count() + run["dropped"].count() == 180

    # the weight relation covers exactly the kept set — no silent
    # drops or dups crossing the E7→H47 seam
    w_rows = run["weights"].collect()
    assert {r["doc_id"] for r in w_rows} == kept_ids
    assert len(w_rows) == len(kept_ids)

    # the sample is a k-subset of the kept set
    sel = [r["doc_id"] for r in run["sample"].collect()]
    assert len(sel) == K_SELECT == len(set(sel))
    assert set(sel) <= kept_ids

    # DSIR enriched the target domain: domain docs (ids 120-179) are
    # overrepresented in the sample vs their share of the kept set
    dom_sel = sum(1 for d in sel if d >= 120)
    assert dom_sel / K_SELECT > 60 / 120

    # the shuffle permutes the sample bijectively with bounded shards
    assert set(run["shuffled"]) == set(sel)
    assert {s for s, _ in run["shuffled"].values()} <= set(range(4))

    # determinism: a full second pass reproduces threshold, selection
    # and ordering bit-for-bit
    again = _run_chain(spark)
    assert again["threshold"] == run["threshold"]
    assert {r["doc_id"] for r in again["sample"].collect()} == set(sel)
    assert again["shuffled"] == run["shuffled"]


@pytest.mark.slow
def test_run_curation_pipeline_job(spark, tmp_path):
    """The K7-style operational wrapper: one call runs the whole
    chain and writes selected/ + manifest. Reruns must reproduce the
    manifest (timings aside) and the selected set bit-for-bit."""
    import json

    from drive_bc_datapipeline_spark.jobs import run_curation_pipeline

    docs = spark.createDataFrame(
        _corpus_rows(), "doc_id long, text string"
    )
    seeds = spark.createDataFrame(
        _seed_rows(), "doc_id long, label int, text string"
    )
    target = spark.createDataFrame(
        _target_rows(), "doc_id long, text string"
    )
    out1, out2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    kwargs = dict(
        k=K_SELECT,
        n_buckets=N_BUCKETS,
        n_rounds=40,
        lr=1.0,
        min_precision=0.95,
        dsir_buckets=DSIR_BUCKETS,
        seed=11,
        n_shards=4,
    )
    m1 = run_curation_pipeline(spark, docs, seeds, target, out1, **kwargs)
    assert m1["n_docs"] == 180
    assert m1["n_kept"] == 120  # the gate keeps exactly the clean docs
    assert m1["n_selected"] == K_SELECT
    sel1 = spark.read.parquet(m1["path"])
    rows1 = sorted(
        (r["doc_id"], r["shard"], r["pos_key"]) for r in sel1.collect()
    )
    assert len(rows1) == K_SELECT
    ids1 = {d for d, _s, _p in rows1}
    assert ids1 <= set(range(60, 180))  # selected ⊆ kept
    # shard is a partition column readers can prune on
    assert set(sel1.columns) >= {"doc_id", "text", "shard", "pos_key"}
    # the manifest on disk matches the returned one
    with open(f"{out1}/curation_manifest.json") as f:
        assert json.load(f)["threshold"] == m1["threshold"]
    # rerun: identical decisions and identical selected set
    m2 = run_curation_pipeline(spark, docs, seeds, target, out2, **kwargs)
    for key in ("n_docs", "n_kept", "n_selected", "threshold", "k", "seed"):
        assert m2[key] == m1[key], key
    rows2 = sorted(
        (r["doc_id"], r["shard"], r["pos_key"])
        for r in spark.read.parquet(m2["path"]).collect()
    )
    assert rows2 == rows1
    # an unreachable precision target fails loudly, not silently:
    # every text appears with BOTH labels, so identical scores land
    # pos/neg twins in the same bin and no bin beats 0.5 precision
    import pytest

    twin_seeds = spark.createDataFrame(
        [(i, 0, _doc(_CLEAN, i)) for i in range(8)]
        + [(100 + i, 1, _doc(_CLEAN, i)) for i in range(8)],
        "doc_id long, label int, text string",
    )
    with pytest.raises(ValueError, match="not usable"):
        run_curation_pipeline(
            spark, docs, twin_seeds, target, str(tmp_path / "run3"),
            k=5, n_buckets=N_BUCKETS, n_rounds=5, lr=0.5,
            min_precision=0.95,
        )


def _frames_inputs(spark):
    docs = spark.createDataFrame(
        _corpus_rows(), "doc_id long, text string"
    )
    seeds = spark.createDataFrame(
        _seed_rows(), "doc_id long, label int, text string"
    )
    target = spark.createDataFrame(
        _target_rows(), "doc_id long, text string"
    )
    return docs, seeds, target



def test_run_curation_pipeline_leaves_cache_manager_as_found(
    spark, tmp_path
):
    """Session hygiene: the label set is cached for the call only. On
    success and on the "no threshold reaches precision" raise, the
    CacheManager holds exactly the entries it held before, and a seed
    frame the caller cached itself is still cached afterwards."""
    from pyspark import StorageLevel

    from drive_bc_datapipeline_spark.jobs import run_curation_pipeline

    docs, seeds, target = _frames_inputs(spark)
    cm = spark._jsparkSession.sharedState().cacheManager()
    kwargs = dict(
        k=5, n_buckets=N_BUCKETS, n_rounds=2, lr=1.0, min_precision=0.5,
        dsir_buckets=DSIR_BUCKETS, n_shards=2,
    )

    before = cm.numCachedEntries()
    m = run_curation_pipeline(
        spark, docs, seeds, target, str(tmp_path / "ok"), **kwargs
    )
    assert m["n_selected"] == 5
    assert cm.numCachedEntries() == before
    assert seeds.storageLevel == StorageLevel.NONE

    # every text appears with BOTH labels, so no score bin beats 0.5
    # precision and threshold selection raises after training
    twin_seeds = spark.createDataFrame(
        [(i, 0, _doc(_CLEAN, i)) for i in range(8)]
        + [(100 + i, 1, _doc(_CLEAN, i)) for i in range(8)],
        "doc_id long, label int, text string",
    )
    with pytest.raises(ValueError, match="no threshold reaches precision"):
        run_curation_pipeline(
            spark, docs, twin_seeds, target, str(tmp_path / "raise"),
            **{**kwargs, "min_precision": 0.95},
        )
    assert cm.numCachedEntries() == before

    seeds.cache()
    try:
        cached = cm.numCachedEntries()
        run_curation_pipeline(
            spark, docs, seeds, target, str(tmp_path / "cached"),
            **kwargs,
        )
        assert cm.numCachedEntries() == cached
        assert seeds.storageLevel != StorageLevel.NONE
    finally:
        seeds.unpersist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.slow
def test_build_curation_frames_scores_corpus_once(spark):
    """The r14 re-scan pin (the r7 FileScan-audit discipline applied
    to the orchestration layer): the corpus-scoring subtree — its
    sigmoid renders as ``EXP(-`` in the physical plan — must appear
    in the pre-gate scored frame and in NO downstream consumer.
    ``kept_ids`` is a materialized localCheckpoint (an ExistingRDD
    scan), so the DSIR bucket counts, the importance weights, the
    resample, and the selected write all reuse the ONE scoring job,
    and the corpus/kept counts ride that job as Observations instead
    of separate count() actions."""
    from drive_bc_datapipeline_spark.jobs import build_curation_frames

    docs, seeds, target = _frames_inputs(spark)
    fr = build_curation_frames(
        spark, docs, seeds, target,
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.95, dsir_buckets=DSIR_BUCKETS, seed=11,
        n_shards=4,
    )
    # positive control: the scoring subtree is recognizable by its
    # sigmoid — if this rendering ever changes, fix the pin with it
    assert "EXP(-" in _plan(fr["scored"])
    kp = _plan(fr["kept_ids"])
    assert "ExistingRDD" in kp or "LogicalRDD" in kp, kp
    for name in ("kept", "weights", "sample", "selected"):
        p = _plan(fr[name])
        assert "EXP(-" not in p, f"{name} re-executes the scoring join"
    # the gate counts rode the checkpoint job — no count() actions ran
    got = fr["gate_obs"].get
    assert got["n_docs"] == 180 and got["n_kept"] == 120

    # seed-stream ledger: the shard/order draw starts at seed + 2 so
    # it never reuses the Gumbel selection's xxhash64(id, seed) draw
    expected = {
        r["doc_id"]: (r["shard"], r["pos_key"])
        for r in fr["sample"]
        .select(
            "doc_id",
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(11 + 2)), F.lit(4))
            .cast("int")
            .alias("shard"),
            F.xxhash64(F.col("doc_id"), F.lit(11 + 3)).alias("pos_key"),
        )
        .collect()
    }
    got_sel = {
        r["doc_id"]: (r["shard"], r["pos_key"])
        for r in fr["selected"].select("doc_id", "shard", "pos_key").collect()
    }
    assert got_sel == expected


@pytest.mark.slow
def test_curation_calibrated_gate_collapses_to_raw_predicate(spark):
    """The E11 wiring seam (r13 verdict Next #3): with
    ``calibrate=True`` the threshold is selected on CALIBRATED
    probabilities, and because the isotonic step function is monotone
    non-decreasing in the raw-score bin, the calibrated gate must
    equal a plain raw-score bin predicate — the E10 collapse carried
    through E11, so the corpus pass stays one scan + filter."""
    import math

    from drive_bc_datapipeline_spark.jobs import build_curation_frames

    docs, seeds, target = _frames_inputs(spark)
    n_bins = 1000
    fr = build_curation_frames(
        spark, docs, seeds, target,
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.95, curve_bins=n_bins,
        dsir_buckets=DSIR_BUCKETS, seed=11, n_shards=4, calibrate=True,
    )
    assert fr["gate_col"] == "calibrated"
    assert set(fr["cal_audit"]) == {"n", "ece", "mce", "brier"}

    # the ONE copy of the step-function inversion (also what J11's
    # raw-score gate consumes)
    from drive_bc_datapipeline_spark.operators.classifier import (
        calibrated_threshold_to_raw,
    )

    t_cal = fr["threshold"]
    raw_t = calibrated_threshold_to_raw(
        fr["cal_table"], t_cal, n_bins=n_bins
    )
    b_star = round(raw_t * n_bins)

    rows = fr["scored"].collect()  # tiny test corpus: raw + calibrated
    raw_kept = {
        r["doc_id"]
        for r in rows
        if min(math.floor(r["score"] * n_bins), n_bins - 1) >= b_star
    }
    cal_kept = {r["doc_id"] for r in rows if r["calibrated"] >= t_cal}
    kept = {r["doc_id"] for r in fr["kept_ids"].collect()}
    assert kept == cal_kept == raw_kept
    # on this corpus the calibrated gate still keeps the clean docs
    assert kept == set(range(60, 180))


@pytest.mark.slow
def test_run_curation_pipeline_calibrated_manifest(spark, tmp_path):
    """calibrate=True records the isotonic table and its ECE/MCE/
    Brier audit in the manifest, and the run stays reproducible."""
    import json

    from drive_bc_datapipeline_spark.jobs import run_curation_pipeline

    docs, seeds, target = _frames_inputs(spark)
    kwargs = dict(
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.95, dsir_buckets=DSIR_BUCKETS, seed=11,
        n_shards=4, calibrate=True,
    )
    out1, out2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    m1 = run_curation_pipeline(spark, docs, seeds, target, out1, **kwargs)
    assert m1["calibrated"] is True
    assert m1["threshold_selection"] == "in-sample-seeds"
    # the bin convention rides along — without it the table and
    # threshold cannot be inverted downstream (J11 handoff)
    assert m1["curve_bins"] == 1000
    audit = m1["calibration_audit"]
    assert set(audit) == {"n", "ece", "mce", "brier"}
    table = m1["calibration_table"]
    # the table is model state: occupied bins, calibrated non-decreasing
    cals = [c for _b, _n, _np, c in table]
    assert cals == sorted(cals) and all(0.0 <= c <= 1.0 for c in cals)
    assert m1["n_docs"] == 180 and m1["n_kept"] == 120
    assert m1["n_selected"] == K_SELECT
    # the manifest JSON on disk round-trips the new fields
    with open(f"{out1}/curation_manifest.json") as f:
        disk = json.load(f)
    assert disk["calibration_table"] == [list(r) for r in table]
    # rerun: identical decisions, table, and selected set
    m2 = run_curation_pipeline(spark, docs, seeds, target, out2, **kwargs)
    for key in (
        "n_docs", "n_kept", "n_selected", "threshold",
        "calibration_table", "calibration_audit",
    ):
        assert m2[key] == m1[key], key
    rows1 = sorted(
        (r["doc_id"], r["shard"], r["pos_key"])
        for r in spark.read.parquet(m1["path"]).collect()
    )
    rows2 = sorted(
        (r["doc_id"], r["shard"], r["pos_key"])
        for r in spark.read.parquet(m2["path"]).collect()
    )
    assert rows1 == rows2


@pytest.mark.slow
def test_run_curation_pipeline_scrubs_pii(spark, tmp_path):
    """scrub=True redacts PII before the gate ever sees the text, so
    the selected output carries the scrubbed corpus and the manifest
    records the decision."""
    import re

    from drive_bc_datapipeline_spark.jobs import run_curation_pipeline
    from drive_bc_datapipeline_spark.operators.pii import PII_CLASSES

    docs, seeds, target = _frames_inputs(spark)
    # plant emails + IPs into a handful of clean-domain corpus docs:
    # the scrub must remove them without flipping the gate's verdict
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id").isin(125, 130, 135),
            # pure-PII tokens: the scrub removes them entirely, so the
            # gate's verdict on the planted docs must not flip
            F.concat(
                F.col("text"),
                F.lit(" bob@example.com 10.1.2.3 777"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    m = run_curation_pipeline(
        spark, planted, seeds, target, str(tmp_path / "scrubbed"),
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.95, dsir_buckets=DSIR_BUCKETS, seed=11,
        n_shards=4, scrub=True,
    )
    assert m["pii_scrubbed"] is True
    assert m["n_docs"] == 180 and m["n_kept"] == 120
    out = spark.read.parquet(m["path"]).collect()
    assert len(out) == K_SELECT
    for r in out:
        for pat in PII_CLASSES.values():
            assert not re.search(pat, r["text"]), (r["doc_id"], r["text"])


@pytest.mark.slow
def test_held_out_threshold_selection_diverges(spark, tmp_path):
    """r15 (r13 ADVICE / r14 verdict Next #3): threshold selection on
    a held-out seed set. A skewed validation frame — hard negatives
    whose text looks exactly like the positives — makes the in-sample
    precision at the chosen cut optimistic; the manifest must carry
    BOTH numbers and say the selection was held-out."""
    import json

    from drive_bc_datapipeline_spark.jobs import run_curation_pipeline

    docs = spark.createDataFrame(
        _corpus_rows(), "doc_id long, text string"
    )
    seeds = spark.createDataFrame(
        _seed_rows(), "doc_id long, label int, text string"
    )
    target = spark.createDataFrame(
        _target_rows(), "doc_id long, text string"
    )
    # the skew: half the val docs with CLEAN text carry label 0 (the
    # corpus contains clean-looking docs the curators reject), so at
    # any cut that keeps clean text, val precision ~ 0.5 while the
    # train curve (perfectly separable) reads 1.0
    seeds_val = spark.createDataFrame(
        [(3000 + i, 1, _doc(_CLEAN, i + 1)) for i in range(6)]
        + [(3100 + i, 0, _doc(_CLEAN, i + 11)) for i in range(6)]
        + [(3200 + i, 0, _doc(_JUNK, i + 1)) for i in range(6)],
        "doc_id long, label int, text string",
    )
    m = run_curation_pipeline(
        spark, docs, seeds, target, str(tmp_path / "ho"),
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.4, dsir_buckets=DSIR_BUCKETS, seed=11,
        n_shards=4, seeds_val=seeds_val,
    )
    assert m["threshold_selection"] == "held-out"
    assert m["precision_val"] is not None
    # the divergence seam: in-sample says the gate is near-perfect,
    # the held-out curve says half the kept docs are bad
    assert m["precision_train"] >= 0.95
    assert m["precision_val"] <= 0.7
    assert m["precision_train"] - m["precision_val"] >= 0.25
    with open(f"{tmp_path}/ho/curation_manifest.json") as f:
        disk = json.load(f)
    for key in ("threshold_selection", "precision_train", "precision_val"):
        assert disk[key] == m[key], key


@pytest.mark.slow
def test_val_frac_split_is_deterministic_and_guarded(spark, tmp_path):
    """val_frac splits the seeds on the documented seed+4 hash
    stream: reruns reproduce the same threshold and precisions, the
    manifest records the fraction, and the argument guards fail
    loudly."""
    import pytest

    from drive_bc_datapipeline_spark.jobs import (
        build_curation_frames,
        run_curation_pipeline,
    )

    docs = spark.createDataFrame(
        _corpus_rows(), "doc_id long, text string"
    )
    # double the seed set so a 0.3 split leaves both sides with both
    # labels under the hash split
    seeds = spark.createDataFrame(
        _seed_rows()
        + [(5000 + i, lab, txt) for i, (_, lab, txt) in enumerate(_seed_rows())],
        "doc_id long, label int, text string",
    )
    target = spark.createDataFrame(
        _target_rows(), "doc_id long, text string"
    )
    kwargs = dict(
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.9, dsir_buckets=DSIR_BUCKETS, seed=11,
        n_shards=4, val_frac=0.3,
    )
    m1 = run_curation_pipeline(
        spark, docs, seeds, target, str(tmp_path / "vf1"), **kwargs
    )
    m2 = run_curation_pipeline(
        spark, docs, seeds, target, str(tmp_path / "vf2"), **kwargs
    )
    assert m1["threshold_selection"] == "held-out"
    assert m1["val_frac"] == 0.3
    assert m1["precision_val"] is not None
    for key in ("threshold", "precision_train", "precision_val", "n_kept"):
        assert m1[key] == m2[key], key

    # guards: both held-out definitions at once, and a nonsensical
    # fraction, fail before any job runs
    with pytest.raises(ValueError, match="not both"):
        build_curation_frames(
            spark, docs, seeds, target, k=5,
            val_frac=0.3, seeds_val=seeds,
        )
    with pytest.raises(ValueError, match="val_frac"):
        build_curation_frames(
            spark, docs, seeds, target, k=5, val_frac=1.5,
        )
    # default path unchanged: in-sample, no val precision
    m3 = run_curation_pipeline(
        spark, docs, seeds, target, str(tmp_path / "ins"),
        k=K_SELECT, n_buckets=N_BUCKETS, n_rounds=40, lr=1.0,
        min_precision=0.9, dsir_buckets=DSIR_BUCKETS, seed=11,
        n_shards=4,
    )
    assert m3["threshold_selection"] == "in-sample-seeds"
    assert m3["precision_val"] is None
    assert m3["precision_train"] is not None


@pytest.mark.slow
def test_run_staged_curation_composes(spark, tmp_path):
    """r15 (r14 verdict Next #5): prefilter → gate → DSIR as ONE
    staged job on the real documents table — the kept/ parquet
    handoff is internal, both stage manifests land under one run
    directory, and the stage counts reconcile
    (n_kept_prefilter == the gate's observed corpus count)."""
    import json

    from drive_bc_datapipeline_spark.jobs import run_staged_curation
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    )
    # reference / target / seeds built FROM the table so the test
    # runs on real corpus text: reference = the longest docs (the
    # "high-quality" side), seeds labeled by a simple quality proxy
    # the classifier can learn, target = a disjoint sample
    with_len = docs.withColumn("__n", F.size(F.split("text", " ")))
    reference = (
        with_len.orderBy(F.desc("__n"), "doc_id").limit(100)
        .select("doc_id", "text")
    )
    seeds = (
        with_len.withColumn(
            "label", (F.col("__n") >= 40).cast("int")
        )
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "label", "text")
    )
    target = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")

    out = str(tmp_path / "staged")
    m = run_staged_curation(
        spark, docs, reference, seeds, target, out,
        k=30, q=0.8, lm_order=2, lam=0.6,
        n_buckets=256, n_rounds=25, lr=1.0,
        min_precision=0.5, dsir_buckets=512, seed=3, n_shards=4,
    )
    # reconciliation: the gate curated exactly what the prefilter kept
    assert m["n_kept_prefilter"] == m["curation"]["n_docs"]
    assert m["n_docs"] == 500
    assert 0 < m["n_kept_prefilter"] < 500  # the tail cut really cut
    assert m["n_selected"] == 30
    assert m["prefilter"]["lm_order"] == 2
    assert m["prefilter"]["lam"] == 0.6
    # one run directory, all three manifests on disk and consistent
    with open(f"{out}/staged_manifest.json") as f:
        disk = json.load(f)
    assert disk["n_kept_prefilter"] == m["n_kept_prefilter"]
    with open(f"{out}/prefilter/ccnet_manifest.json") as f:
        assert json.load(f)["n_kept"] == m["n_kept_prefilter"]
    with open(f"{out}/curation/curation_manifest.json") as f:
        assert json.load(f)["n_selected"] == 30
    # the final selection is a subset of the prefilter survivors
    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/prefilter/kept").collect()
    }
    sel_ids = {
        r["doc_id"] for r in spark.read.parquet(m["path"]).collect()
    }
    assert sel_ids <= kept_ids and len(sel_ids) == 30


@pytest.mark.slow
def test_run_staged_curation_scrubs_once(spark, tmp_path):
    """scrub=True composes at the STAGED level: the A8 scrub is
    non-idempotent (a redaction placeholder matches the digit-run
    class on a second pass), so the staged job scrubs all four
    inputs once and runs both stages with their own scrub off —
    manifests record where the scrub happened."""
    import re

    from drive_bc_datapipeline_spark.jobs import run_staged_curation
    from drive_bc_datapipeline_spark.operators.pii import PII_CLASSES

    docs = spark.createDataFrame(
        [
            (i, ("web", "books")[i % 2],
             _doc(_CLEAN, i + 1, 10) + " bob@example.com 10.1.2.3")
            for i in range(40)
        ]
        + [
            (100 + i, ("web", "books")[i % 2], _doc(_JUNK, i + 1, 10))
            for i in range(40)
        ],
        "doc_id long, source string, text string",
    )
    reference = spark.createDataFrame(
        [(i, _doc(_CLEAN, i, 12)) for i in range(20)],
        "doc_id long, text string",
    )
    seeds = spark.createDataFrame(
        [(1000 + i, 1, _doc(_CLEAN, i + 1, 8)) for i in range(10)]
        + [(2000 + i, 0, _doc(_JUNK, i + 1, 8)) for i in range(10)],
        "doc_id long, label int, text string",
    )
    target = spark.createDataFrame(
        [(3000 + i, _doc(_CLEAN, i, 8)) for i in range(10)],
        "doc_id long, text string",
    )
    m = run_staged_curation(
        spark, docs, reference, seeds, target, str(tmp_path / "scr"),
        k=10, q=0.9, n_buckets=N_BUCKETS, n_rounds=30, lr=1.0,
        min_precision=0.9, dsir_buckets=DSIR_BUCKETS, seed=7,
        n_shards=2, scrub=True,
    )
    assert m["pii_scrubbed"] is True
    # the stages did NOT scrub again — the staged job owns it
    assert m["prefilter"]["pii_scrubbed"] is False
    assert m["curation"]["pii_scrubbed"] is False
    # and the selected output is clean
    for r in spark.read.parquet(m["path"]).collect():
        for pat in PII_CLASSES.values():
            assert not re.search(pat, r["text"]), r["text"]


def test_staged_curation_validates_args_before_stage_one(spark, tmp_path):
    """Stage-2 argument errors must fail BEFORE the corpus-scale
    prefilter runs (review catch): no prefilter output may exist
    after the raise. An unknown stage-2 setting is a TypeError from
    binding against build_curation_frames' signature."""
    import os

    import pytest

    from drive_bc_datapipeline_spark.jobs import run_staged_curation

    docs = spark.createDataFrame(
        [(1, "web", "a b c")], "doc_id long, source string, text string"
    )
    tiny = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    seeds = spark.createDataFrame(
        [(1, 1, "a b")], "doc_id long, label int, text string"
    )
    out = str(tmp_path / "early")
    for kwargs, exc, match in [
        (dict(val_frac=1.5), ValueError, "val_frac"),
        (dict(val_frac=0.3, seeds_val=seeds), ValueError, "not both"),
        (dict(lam=1.5), ValueError, "lam"),
        (dict(lm_order=6), ValueError, "lm_order"),  # 5 is valid as of r17
        (dict(alpha=0.0), ValueError, "alpha"),
        (dict(rules_config={"min_words": 5}), ValueError,
         "rules_config without"),
        (dict(n_gramm=2), TypeError, "n_gramm"),
    ]:
        with pytest.raises(exc, match=match):
            run_staged_curation(
                spark, docs, tiny, seeds, tiny, out, k=1, **kwargs
            )
        assert not os.path.exists(os.path.join(out, "prefilter")), kwargs


@pytest.mark.slow
def test_staged_curation_threads_n_gram(spark, tmp_path):
    """Review catch (r16): run_staged_curation exposed the classifier
    knobs but not n_gram, so a staged run could never use the bigram
    gate (and a J13 stream could not match a staged n_gram=2
    manifest). The knob now reaches the curation manifest."""
    from drive_bc_datapipeline_spark.jobs import run_staged_curation

    pos = "alpha beta gamma delta"
    neg = "delta gamma beta alpha"
    docs = spark.createDataFrame(
        [(i, "web", pos) for i in range(6)]
        + [(10 + i, "web", neg) for i in range(6)],
        "doc_id long, source string, text string",
    )
    ref = spark.createDataFrame(
        [(i, pos) for i in range(4)], "doc_id long, text string"
    )
    seeds = spark.createDataFrame(
        [(100 + i, 1, pos) for i in range(6)]
        + [(200 + i, 0, neg) for i in range(6)],
        "doc_id long, label int, text string",
    )
    target = docs.limit(3).select("doc_id", "text")
    m = run_staged_curation(
        spark, docs, ref, seeds, target, str(tmp_path / "ng_staged"),
        k=3, q=0.9, n_buckets=256, n_rounds=150, lr=2.0, n_gram=2,
        min_precision=0.9, dsir_buckets=64, n_shards=2,
    )
    assert m["curation"]["n_gram"] == 2
    # the order-sensitive gate kept only reference-ordered survivors
    sel = {r["doc_id"] for r in spark.read.parquet(m["path"]).collect()}
    assert sel <= set(range(6))
