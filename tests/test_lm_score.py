"""Target-conditioned LM scoring (operators/lm_score.py) — the CCNet
scorer that feeds domain_filter.

Evidence: a sequential pure-Python reference (same smoothing formula,
dimension-by-dimension accumulation at 1e-9), OOV semantics, the
lower-perplexity-for-reference-like-text property, guards, plan pins
(no Python, no cartesian beyond the 1-row scalar ride), and the full
CCNet-triple composition (reference LM → corpus scores → per-domain
bands) on the real documents table.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.operators.lm_score import (
    score_docs_under_lm,
    unigram_lm_table,
)

SF = "/root/testdata/sf0.001"

REF = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the dog sleeps while the fox runs"),
    (3, "quick brown foxes and lazy dogs"),
]
DOCS = [
    (10, "web", "the quick fox and the lazy dog"),      # reference-like
    (11, "web", "zx9 qq7 blorp gnar wibble"),           # all OOV
    (12, "book", "the the the the"),                    # high-p tokens
    (13, "book", "fox dog unseen1 unseen2"),            # half OOV
]
ALPHA = 0.5


def _seq_lm():
    freq: dict[str, int] = {}
    for _i, t in REF:
        for tok in t.split(" "):
            if tok:
                freq[tok] = freq.get(tok, 0) + 1
    N = float(sum(freq.values()))
    V = float(len(freq))
    denom = N + ALPHA * (V + 1.0)
    logp = {t: math.log2((n + ALPHA) / denom) for t, n in freq.items()}
    oov = math.log2(ALPHA / denom)
    return logp, oov


def _seq_score(text: str) -> tuple[int, float]:
    logp, oov = _seq_lm()
    toks = [t for t in text.split(" ") if t]
    s = 0.0
    for t in toks:  # accumulate token-by-token, the repo float rule
        s += logp.get(t, oov)
    return len(toks), -s / len(toks)


@pytest.fixture()
def lm(spark):
    ref = spark.createDataFrame(REF, "doc_id long, text string")
    return unigram_lm_table(ref, alpha=ALPHA)


def test_lm_table_matches_sequential(spark, lm):
    logp, oov = _seq_lm()
    rows = lm.collect()
    got = {r["tok"]: r["logp"] for r in rows}
    assert got.pop(None) == pytest.approx(oov, abs=1e-9)
    assert set(got) == set(logp)
    for t, lp in logp.items():
        assert got[t] == pytest.approx(lp, abs=1e-9)
    # the smoothed distribution sums to 1 over V types + OOV
    total = sum(2 ** lp for lp in logp.values()) + 2 ** oov
    assert total == pytest.approx(1.0, abs=1e-9)


def test_scores_match_sequential(spark, lm):
    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["avg_nll"])
        for r in score_docs_under_lm(docs, lm).collect()
    }
    assert set(got) == {10, 11, 12, 13}
    for i, _src, t in DOCS:
        n, nll = _seq_score(t)
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(nll, abs=1e-9)
    # reference-like text scores LOWER (better) than OOV soup
    assert got[10][1] < got[11][1]
    # the all-OOV doc's nll is exactly the OOV mass
    _lp, oov = _seq_lm()
    assert got[11][1] == pytest.approx(-oov, abs=1e-9)


def test_tokenless_docs_drop_and_guards(spark, lm):
    docs = spark.createDataFrame(
        [(1, ""), (2, "the fox")], "doc_id long, text string"
    )
    got = score_docs_under_lm(docs, lm).collect()
    assert [r["doc_id"] for r in got] == [2]
    with pytest.raises(ValueError, match="alpha"):
        unigram_lm_table(docs, alpha=0.0)
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty reference"):
        unigram_lm_table(empty)
    with pytest.raises(ValueError, match="OOV row"):
        score_docs_under_lm(docs, lm.filter(F.col("tok").isNotNull()))


def test_plan_shapes(spark, lm):
    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    scored = score_docs_under_lm(docs, lm)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    for bad in ("CartesianProduct", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, plan
    # the vocabulary pin: the LM side reads the checkpoint, never a
    # re-tokenization of the reference corpus
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_ccnet_triple_composes(spark):
    """reference LM → corpus scores → per-domain thresholds → bands,
    on the real documents table: every scored doc gets a band, and
    each domain's head is its own lowest-nll third (the per-domain
    point — heads are per-source, not a global cut)."""
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_bands,
        domain_threshold_table,
    )
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    # reference = one source's docs; score EVERYTHING under it
    ref = docs.filter(F.col("source") == "src0").select("text")
    lm = unigram_lm_table(ref)
    scored = score_docs_under_lm(docs, lm).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    n = scored.count()
    table = domain_threshold_table(scored, (1 / 3, 2 / 3), approx=True)
    banded = apply_domain_bands(scored, table)
    rows = banded.collect()
    assert len(rows) == n
    per_src_head_max: dict[str, float] = {}
    per_src_tail_min: dict[str, float] = {}
    for r in rows:
        if r["band"] == "head":
            per_src_head_max[r["source"]] = max(
                per_src_head_max.get(r["source"], -1e9), r["avg_nll"]
            )
        elif r["band"] == "tail":
            per_src_tail_min[r["source"]] = min(
                per_src_tail_min.get(r["source"], 1e9), r["avg_nll"]
            )
    for src in per_src_head_max:
        if src in per_src_tail_min:
            # inside a domain, every head doc beats every tail doc
            assert per_src_head_max[src] <= per_src_tail_min[src]


def test_run_ccnet_prefilter_job(spark, tmp_path):
    """The K7-style operational wrapper for the CCNet triple: one
    call fits the reference LM, scores the corpus once, cuts each
    domain's tail at q, and writes kept/ + a manifest with the
    per-source thresholds. Counts reconcile; token-less docs are
    reported dropped; reruns reproduce the decisions."""
    import json

    from drive_bc_datapipeline_spark.jobs import run_ccnet_prefilter

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    # 3 domains x 12 docs: half reference-like, half OOV soup, plus
    # one token-less doc that must be dropped-and-counted
    rows = []
    i = 0
    for src in ("web", "books", "code"):
        for j in range(6):
            rows.append((i, src, "the quick fox dog %d" % j)); i += 1
        for j in range(6):
            rows.append((i, src, "zx%d qq%d blorp gnar" % (j, j))); i += 1
    rows.append((i, "web", ""))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out1 = str(tmp_path / "ccnet1")
    m1 = run_ccnet_prefilter(spark, docs, ref, out1, q=0.5)
    assert m1["n_docs"] == 37
    assert m1["n_scored"] == 36
    assert m1["n_tokenless_dropped"] == 1
    assert set(m1["thresholds"]) == {"web", "books", "code"}
    kept = spark.read.parquet(m1["path"])
    assert kept.count() == m1["n_kept"]
    # each domain cut its own tail: every domain keeps ~half, and the
    # kept halves are the reference-like docs (lower nll)
    per_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(6 <= per_src[s] <= 7 for s in ("web", "books", "code"))
    for r in kept.collect():
        assert "fox" in r["text"] or "quick" in r["text"], r["text"]
    # the audit columns ride the kept output
    assert {"n_toks", "avg_nll"} <= set(kept.columns)
    with open(f"{out1}/ccnet_manifest.json") as f:
        assert json.load(f)["thresholds"] == m1["thresholds"]
    # rerun reproduces every decision
    m2 = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "ccnet2"), q=0.5
    )
    for key in ("n_docs", "n_scored", "n_kept", "thresholds"):
        assert m2[key] == m1[key], key


def test_ccnet_job_collects_threshold_fit_exactly_once(
    spark, tmp_path, monkeypatch
):
    """r15 (r14 verdict What's-wrong #2): the job must execute the
    per-domain percentile fit ONCE — the collected rows feed BOTH the
    manifest and the filter. Collecting twice runs the corpus-scale
    aggregate twice, and an approx sketch need not reproduce the same
    thresholds, so the manifest could disagree with the applied cut.
    Pinned the way the curation chain pins scoring: count every path
    that can materialize the fit."""
    import drive_bc_datapipeline_spark.operators.domain_filter as dfm
    from drive_bc_datapipeline_spark.jobs import run_ccnet_prefilter

    calls = {"n": 0}
    real = dfm.collect_domain_thresholds

    def counting(table):
        calls["n"] += 1
        return real(table)

    monkeypatch.setattr(dfm, "collect_domain_thresholds", counting)

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    docs = spark.createDataFrame(
        [(i, ("web", "books")[i % 2], "the quick fox %d" % i)
         for i in range(8)]
        + [(8, "web", "zzq blorp"), (9, "books", "qqx gnar")],
        "doc_id long, source string, text string",
    )
    m = run_ccnet_prefilter(spark, docs, ref, str(tmp_path / "once"))
    assert calls["n"] == 1, calls
    # and the manifest thresholds ARE the applied thresholds: every
    # kept row respects its own domain's manifest value
    kept = spark.read.parquet(m["path"])
    for r in kept.select("source", "avg_nll").collect():
        assert r["avg_nll"] <= m["thresholds"][r["source"]] + 1e-12


def test_apply_accepts_precollected_rows(spark):
    """apply_domain_filter/_bands take pre-collected rows and produce
    the same result as the DataFrame path; the quantile matches with
    tolerance, so a q round-tripped through JSON still selects its
    row (r14 ADVICE)."""
    import json

    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_bands,
        apply_domain_filter,
        collect_domain_thresholds,
        domain_threshold_table,
    )

    scored = spark.createDataFrame(
        [(i, ("a", "b")[i % 2], float(i)) for i in range(20)],
        "doc_id long, source string, avg_nll double",
    )
    q = 2.0 / 3.0
    table = domain_threshold_table(scored, (q,), approx=False)
    rows = collect_domain_thresholds(table)

    via_df = sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored, table, q).collect()
    )
    via_rows = sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored, rows, q).collect()
    )
    assert via_df == via_rows and via_df

    # JSON round-trip perturbs nothing here, but a manifest-loaded q
    # must match by tolerance even if the last bit differs
    q_json = json.loads(json.dumps({"q": q}))["q"]
    import math

    q_ulp = math.nextafter(q, 1.0)
    assert sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored, rows, q_json).collect()
    ) == via_rows
    assert sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored, rows, q_ulp).collect()
    ) == via_rows

    # bands: rows path == df path
    table2 = domain_threshold_table(
        scored, (1.0 / 3.0, 2.0 / 3.0), approx=False
    )
    rows2 = collect_domain_thresholds(table2)
    b_df = {
        r["doc_id"]: r["band"]
        for r in apply_domain_bands(scored, table2).collect()
    }
    b_rows = {
        r["doc_id"]: r["band"]
        for r in apply_domain_bands(scored, rows2).collect()
    }
    assert b_df == b_rows and set(b_df.values()) == {
        "head", "middle", "tail"
    }


# ---------------------------------------------------------------------------
# H50 (r15) — bigram target-conditioned LM with unigram backoff
# ---------------------------------------------------------------------------

def _seq_bigram_lm():
    """Pure-Python reference of the fit: pair counts + context totals."""
    pc: dict[tuple[str, str], int] = {}
    for _i, t in REF:
        toks = [x for x in t.split(" ") if x]
        for a, b in zip(toks, toks[1:]):
            pc[(a, b)] = pc.get((a, b), 0) + 1
    ctx: dict[str, int] = {}
    for (a, _b), n in pc.items():
        ctx[a] = ctx.get(a, 0) + n
    return pc, ctx


def _seq_bigram_score(text: str, lam: float = 0.7) -> tuple[int, float]:
    logp, oov = _seq_lm()
    pc, ctx = _seq_bigram_lm()
    V = float(len(logp))
    toks = [t for t in text.split(" ") if t]
    s = 0.0
    prev = None
    for t in toks:  # position-by-position, the repo float rule
        p_ug = 2.0 ** logp.get(t, oov)
        if prev is None:
            p = p_ug
        else:
            p_bg = (pc.get((prev, t), 0) + ALPHA) / (
                ctx.get(prev, 0) + ALPHA * (V + 1.0)
            )
            p = lam * p_bg + (1.0 - lam) * p_ug
        s += -math.log2(p)
        prev = t
    return len(toks), s / len(toks)


@pytest.fixture()
def bg_lm(spark):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
    )

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    return ngram_lm_table(ref, k=2)


def test_bigram_table_matches_sequential(spark, bg_lm):
    pc, ctx = _seq_bigram_lm()
    rows = bg_lm.collect()
    got_pairs = {
        (r["w1"], r["w2"]): r["n"] for r in rows if r["w2"] is not None
    }
    got_ctx = {r["w1"]: r["n"] for r in rows if r["w2"] is None}
    assert got_pairs == pc
    assert got_ctx == ctx


def test_bigram_scores_match_sequential(spark, lm, bg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        score_docs_under_ngram_chain,
    )

    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["avg_nll"])
        for r in score_docs_under_ngram_chain(docs, [lm, bg_lm]).collect()
    }
    for i, _src, text in DOCS:
        n, nll = _seq_bigram_score(text)
        assert got[i][0] == n, i
        assert got[i][1] == pytest.approx(nll, abs=1e-9), (i, text)


def test_bigram_guards(spark, lm, bg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        score_docs_under_ngram_chain,
    )

    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="lam"):
        score_docs_under_ngram_chain(docs, [lm, bg_lm], lam=1.5)
    with pytest.raises(ValueError, match="alpha"):
        score_docs_under_ngram_chain(docs, [lm, bg_lm], alpha=0.0)
    # a unigram relation without its OOV row cannot back off
    with pytest.raises(ValueError, match="OOV"):
        score_docs_under_ngram_chain(
            docs, [lm.filter(F.col("tok").isNotNull()), bg_lm],
        )
    # tables fit on DIFFERENT references fail the same-reference
    # guard: a bigram context outside the unigram vocabulary proves
    # the mismatch (review catch — V/OOV from one corpus with pair
    # counts from another silently skews every conditional)
    other_ug = unigram_lm_table(
        spark.createDataFrame(
            [(1, "completely different vocabulary here")],
            "doc_id long, text string",
        ),
        alpha=ALPHA,
    )
    with pytest.raises(ValueError, match="different references"):
        score_docs_under_ngram_chain(docs, [other_ug, bg_lm])


def test_bigram_cut_differs_on_word_order(spark):
    """The verdict's A/B: a planted corpus where half the docs are
    the reference word order and half are the SAME words shuffled.
    Unigram avg_nll is order-blind (identical scores, the cut cannot
    separate them); the bigram scorer separates, and the per-domain
    H48 cut keeps exactly the ordered half."""
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_filter,
        domain_threshold_table,
    )
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    ref = spark.createDataFrame(
        [(i, "the quick fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string",
    )
    ordered = "the quick fox jumps over the lazy dog"
    shuffled = "dog the over fox lazy jumps quick the"  # same multiset
    assert sorted(ordered.split()) == sorted(shuffled.split())
    docs = spark.createDataFrame(
        [(i, "web", ordered) for i in range(6)]
        + [(100 + i, "web", shuffled) for i in range(6)],
        "doc_id long, source string, text string",
    )
    ug = unigram_lm_table(ref, alpha=ALPHA)
    ug_scores = {
        r["doc_id"]: r["avg_nll"]
        for r in score_docs_under_lm(docs, ug).collect()
    }
    # unigram: order-blind — every doc scores identically
    assert ug_scores[0] == pytest.approx(ug_scores[100], abs=1e-12)

    bg = ngram_lm_table(ref, k=2)
    bg_scored = score_docs_under_ngram_chain(docs, [ug, bg])
    bg_scores = {
        r["doc_id"]: r["avg_nll"] for r in bg_scored.collect()
    }
    assert bg_scores[0] < bg_scores[100] - 0.5  # order separates

    # the H48 median cut under the bigram scorer keeps exactly the
    # ordered half; under the unigram scorer the same cut keeps
    # everything (all docs tie at the domain threshold)
    scored_df = docs.join(
        bg_scored.select("doc_id", "avg_nll"), "doc_id"
    )
    table = domain_threshold_table(scored_df, (0.5,), approx=False)
    kept = sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored_df, table, 0.5).collect()
    )
    assert kept == list(range(6))

    ug_scored_df = docs.join(
        score_docs_under_lm(docs, ug).select("doc_id", "avg_nll"),
        "doc_id",
    )
    ug_table = domain_threshold_table(ug_scored_df, (0.5,), approx=False)
    ug_kept = sorted(
        r["doc_id"]
        for r in apply_domain_filter(ug_scored_df, ug_table, 0.5).collect()
    )
    assert ug_kept == sorted([*range(6), *range(100, 106)])


def test_bigram_plan_shapes(spark, lm, bg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        score_docs_under_ngram_chain,
    )

    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    scored = score_docs_under_ngram_chain(docs, [lm, bg_lm])
    plan = scored._jdf.queryExecution().executedPlan().toString()
    for bad in ("CartesianProduct", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, plan
    # the pair-count pin: both bigram consumers (pair rows + context
    # totals) read the checkpoint, never a re-tokenization
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_ccnet_job_lm_order_guard_and_bigram_manifest(spark, tmp_path):
    """lm_order outside {1..5} fails before any job runs (r17 widened
    the chain to order 5); order-1 manifests record lam as None (it
    did not shape the cut)."""
    from drive_bc_datapipeline_spark.jobs import run_ccnet_prefilter

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    docs = spark.createDataFrame(
        [(i, "web", "the quick fox %d" % i) for i in range(6)],
        "doc_id long, source string, text string",
    )
    with pytest.raises(ValueError, match="lm_order"):
        run_ccnet_prefilter(
            spark, docs, ref, str(tmp_path / "x"), lm_order=6
        )
    m = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "u"), q=0.5, lm_order=1
    )
    assert m["lm_order"] == 1 and m["lam"] is None


def test_bigram_table_empty_reference_fails(spark):
    """A reference with no 2-token doc cannot carry order signal —
    fail like unigram_lm_table does on an empty reference, instead of
    silently degrading lm_order=2 to order-blind scoring (review
    catch)."""
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
    )

    single = spark.createDataFrame(
        [(1, "alone"), (2, "one"), (3, "")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="no document.*>= 2 tokens"):
        ngram_lm_table(single, k=2)


# ---------------------------------------------------------------------------
# H52 (r16) — trigram backoff chain: fit, score, guards, the planted
# bigram-preserving-reorder A/B that only order 3 separates, and the
# lm_order=3 job arm.
# ---------------------------------------------------------------------------


def _seq_trigram_lm() -> tuple[dict, dict]:
    tc: dict[tuple[str, str, str], int] = {}
    ctx2: dict[tuple[str, str], int] = {}
    for _i, t in REF:
        toks = [x for x in t.split(" ") if x]
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            tc[(a, b, c)] = tc.get((a, b, c), 0) + 1
            ctx2[(a, b)] = ctx2.get((a, b), 0) + 1
    return tc, ctx2


def _seq_trigram_score(text: str, lam: float = 0.7) -> tuple[int, float]:
    logp, oov = _seq_lm()
    pc, ctx = _seq_bigram_lm()
    tc, ctx2 = _seq_trigram_lm()
    V = float(len(logp))
    toks = [t for t in text.split(" ") if t]
    s = 0.0
    for i, t in enumerate(toks):  # position-by-position
        p1 = 2.0 ** logp.get(t, oov)
        if i == 0:
            p = p1
        else:
            c1 = toks[i - 1]
            p2s = (pc.get((c1, t), 0) + ALPHA) / (
                ctx.get(c1, 0) + ALPHA * (V + 1.0)
            )
            p2 = lam * p2s + (1.0 - lam) * p1
            if i == 1:
                p = p2
            else:
                c2 = toks[i - 2]
                p3s = (tc.get((c2, c1, t), 0) + ALPHA) / (
                    ctx2.get((c2, c1), 0) + ALPHA * (V + 1.0)
                )
                p = lam * p3s + (1.0 - lam) * p2
        s += -math.log2(p)
    return len(toks), s / len(toks)


@pytest.fixture()
def tg_lm(spark):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
    )

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    return ngram_lm_table(ref, k=3)


def test_trigram_table_matches_sequential(spark, tg_lm):
    tc, ctx2 = _seq_trigram_lm()
    rows = tg_lm.collect()
    got_triples = {
        (r["w1"], r["w2"], r["w3"]): r["n"]
        for r in rows
        if r["w3"] is not None
    }
    got_ctx = {
        (r["w1"], r["w2"]): r["n"] for r in rows if r["w3"] is None
    }
    assert got_triples == tc
    assert got_ctx == ctx2


def test_trigram_scores_match_sequential(spark, lm, bg_lm, tg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        score_docs_under_ngram_chain,
    )

    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["avg_nll"])
        for r in score_docs_under_ngram_chain(
            docs, [lm, bg_lm, tg_lm],
        ).collect()
    }
    for i, _src, text in DOCS:
        n, nll = _seq_trigram_score(text)
        assert got[i][0] == n, i
        assert got[i][1] == pytest.approx(nll, abs=1e-9), (i, text)
    # lam=0 degrades exactly to the unigram scorer (the chain's base)
    got0 = {
        r["doc_id"]: r["avg_nll"]
        for r in score_docs_under_ngram_chain(
            docs, [lm, bg_lm, tg_lm], lam=0.0,
        ).collect()
    }
    for i, _src, text in DOCS:
        _, ug_nll = _seq_score(text)
        assert got0[i] == pytest.approx(ug_nll, abs=1e-9), i


def test_trigram_guards(spark, lm, bg_lm, tg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="lam"):
        score_docs_under_ngram_chain(docs, [lm, bg_lm, tg_lm], lam=-0.1)
    with pytest.raises(ValueError, match="alpha"):
        score_docs_under_ngram_chain(docs, [lm, bg_lm, tg_lm], alpha=0.0)
    with pytest.raises(ValueError, match="OOV"):
        score_docs_under_ngram_chain(
            docs, [lm.filter(F.col("tok").isNotNull()), bg_lm, tg_lm],
        )
    # trigram and bigram tables fit on different references: a
    # trigram context that is not a bigram pair proves the mismatch
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
    )

    other_bg = ngram_lm_table(
        spark.createDataFrame(
            [(1, "completely different vocabulary right here")],
            "doc_id long, text string",
        ),
        k=2,
    )
    other_ug = unigram_lm_table(
        spark.createDataFrame(
            [(1, "completely different vocabulary right here")],
            "doc_id long, text string",
        ),
        alpha=ALPHA,
    )
    with pytest.raises(ValueError, match="different references"):
        score_docs_under_ngram_chain(docs, [other_ug, other_bg, tg_lm])
    # a reference with no 3-token document cannot claim order 3
    with pytest.raises(ValueError, match=">= 3"):
        ngram_lm_table(
            spark.createDataFrame(
                [(1, "two words"), (2, "also short")],
                "doc_id long, text string",
            ),
            k=3,
        )


def test_trigram_separates_bigram_preserving_reorder(spark):
    """The r15 verdict's planted A/B for order 3: two documents with
    the SAME first token and the SAME bigram MULTISET — order-2
    scoring cannot tell them apart — where only one matches the
    reference's triples. The trigram chain separates them and the
    H48 cut keeps exactly the reference-ordered half."""
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_filter,
        domain_threshold_table,
    )
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    good = "a a b a b b"   # bigrams: aa ab ba ab bb, triples incl bab
    bad = "a b a a b b"    # SAME bigram multiset, triple baa instead
    assert sorted(zip(good.split(), good.split()[1:])) == sorted(
        zip(bad.split(), bad.split()[1:])
    )
    ref = spark.createDataFrame(
        [(i, good) for i in range(8)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, "web", good) for i in range(6)]
        + [(100 + i, "web", bad) for i in range(6)],
        "doc_id long, source string, text string",
    )
    ug = unigram_lm_table(ref, alpha=ALPHA)
    bg = ngram_lm_table(ref, k=2)
    tg = ngram_lm_table(ref, k=3)

    # order 2 is blind to the reorder: identical scores
    bg_scores = {
        r["doc_id"]: r["avg_nll"]
        for r in score_docs_under_ngram_chain(docs, [ug, bg]).collect()
    }
    assert bg_scores[0] == pytest.approx(bg_scores[100], abs=1e-12)

    # order 3 separates
    tg_scored = score_docs_under_ngram_chain(docs, [ug, bg, tg])
    tg_scores = {r["doc_id"]: r["avg_nll"] for r in tg_scored.collect()}
    assert tg_scores[0] < tg_scores[100] - 0.05

    scored_df = docs.join(tg_scored.select("doc_id", "avg_nll"), "doc_id")
    table = domain_threshold_table(scored_df, (0.5,), approx=False)
    kept = sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored_df, table, 0.5).collect()
    )
    assert kept == list(range(6))


def test_trigram_plan_shapes(spark, lm, bg_lm, tg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        score_docs_under_ngram_chain,
    )

    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    scored = score_docs_under_ngram_chain(docs, [lm, bg_lm, tg_lm])
    plan = scored._jdf.queryExecution().executedPlan().toString()
    for bad in ("CartesianProduct", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, plan
    # the triple-count pin: both trigram consumers read the checkpoint
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan


def test_ccnet_job_order_3_arm(spark, tmp_path):
    """run_ccnet_prefilter(lm_order=3) scores under the trigram chain:
    on the planted bigram-preserving corpus the order-3 job keeps the
    reference-ordered half while the order-2 job keeps everything,
    and the manifest records the order + lam."""
    from drive_bc_datapipeline_spark.jobs import run_ccnet_prefilter

    good = "a a b a b b"
    bad = "a b a a b b"
    ref = spark.createDataFrame(
        [(i, good) for i in range(8)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, "web", good) for i in range(6)]
        + [(100 + i, "web", bad) for i in range(6)],
        "doc_id long, source string, text string",
    )
    m3 = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "o3"), q=0.5, lm_order=3,
        lam=0.6,
    )
    assert m3["lm_order"] == 3 and m3["lam"] == 0.6
    kept3 = sorted(
        r["doc_id"] for r in spark.read.parquet(m3["path"]).collect()
    )
    assert kept3 == list(range(6))

    m2 = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "o2"), q=0.5, lm_order=2,
        lam=0.6,
    )
    kept2 = sorted(
        r["doc_id"] for r in spark.read.parquet(m2["path"]).collect()
    )
    assert kept2 == sorted([*range(6), *range(100, 106)])


# ---------------------------------------------------------------------------
# r17 — the generic order-k backoff chain (ngram_lm_table /
# score_docs_under_ngram_chain): one fit + one scorer for ANY order,
# with unigram/bigram/trigram as thin wrappers and KenLM-5 parity for
# the CCNet cut. Sequential reference generalizes the order-3 one.
# ---------------------------------------------------------------------------


def _seq_ngram_tables(k: int) -> tuple[dict, dict]:
    tc: dict[tuple, int] = {}
    ctx: dict[tuple, int] = {}
    for _i, t in REF:
        toks = [x for x in t.split(" ") if x]
        for i in range(len(toks) - k + 1):
            w = tuple(toks[i : i + k])
            tc[w] = tc.get(w, 0) + 1
            ctx[w[:-1]] = ctx.get(w[:-1], 0) + 1
    return tc, ctx


def _seq_chain_score(
    text: str, k: int, lam: float = 0.7
) -> tuple[int, float]:
    logp, oov = _seq_lm()
    tables = {m: _seq_ngram_tables(m) for m in range(2, k + 1)}
    V = float(len(logp))
    toks = [t for t in text.split(" ") if t]
    s = 0.0
    for i, t in enumerate(toks):
        p = 2.0 ** logp.get(t, oov)
        for m in range(2, min(i + 1, k) + 1):
            c = tuple(toks[i - m + 1 : i])
            tc, cx = tables[m]
            pms = (tc.get((*c, t), 0) + ALPHA) / (
                cx.get(c, 0) + ALPHA * (V + 1.0)
            )
            p = lam * pms + (1.0 - lam) * p
        s += -math.log2(p)
    return len(toks), s / len(toks)


def test_seq_chain_matches_seq_trigram():
    """The generic sequential reference IS the order-3 one at k=3
    (and the order-2/1 ones below) — anchor before trusting it."""
    for _i, _src, text in DOCS:
        assert _seq_chain_score(text, 3) == pytest.approx(
            _seq_trigram_score(text), abs=1e-12
        )
        assert _seq_chain_score(text, 2) == pytest.approx(
            _seq_bigram_score(text), abs=1e-12
        )


def test_ngram_table_matches_sequential(spark):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
    )

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    for k in (4, 5):
        tc, ctx = _seq_ngram_tables(k)
        rows = ngram_lm_table(ref, k=k).collect()
        cols = [f"w{j}" for j in range(1, k + 1)]
        got_tuples = {
            tuple(r[c] for c in cols): r["n"]
            for r in rows
            if r[cols[-1]] is not None
        }
        got_ctx = {
            tuple(r[c] for c in cols[:-1]): r["n"]
            for r in rows
            if r[cols[-1]] is None
        }
        assert got_tuples == tc, k
        assert got_ctx == ctx, k


def test_ngram_chain_scores_match_sequential(spark, lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    for k in (4, 5):
        tables = [lm] + [
            ngram_lm_table(ref, k=m) for m in range(2, k + 1)
        ]
        got = {
            r["doc_id"]: (r["n_toks"], r["avg_nll"])
            for r in score_docs_under_ngram_chain(docs, tables).collect()
        }
        for i, _src, text in DOCS:
            n, nll = _seq_chain_score(text, k)
            assert got[i][0] == n, (k, i)
            assert got[i][1] == pytest.approx(nll, abs=1e-9), (k, i)
        # lam=0 degrades exactly to the unigram scorer at ANY order
        got0 = {
            r["doc_id"]: r["avg_nll"]
            for r in score_docs_under_ngram_chain(
                docs, tables, lam=0.0
            ).collect()
        }
        for i, _src, text in DOCS:
            _, ug_nll = _seq_score(text)
            assert got0[i] == pytest.approx(ug_nll, abs=1e-9), (k, i)


@pytest.mark.slow
def test_order4_separates_trigram_preserving_reorder(spark):
    """The r16 verdict's planted A/B one order up: same first bigram,
    same TRIGRAM multiset (orders 1-3 provably blind), only the
    4-gram structure differs — the order-4 chain separates and the
    H48 cut keeps exactly the reference-ordered half."""
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_filter,
        domain_threshold_table,
    )
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    good = "a a a b a a"
    bad = "a a b a a a"
    g, b = good.split(), bad.split()
    assert g[:2] == b[:2]
    assert sorted(zip(g, g[1:], g[2:])) == sorted(zip(b, b[1:], b[2:]))
    assert sorted(zip(g, g[1:], g[2:], g[3:])) != sorted(
        zip(b, b[1:], b[2:], b[3:])
    )
    ref = spark.createDataFrame(
        [(i, good) for i in range(8)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, "web", good) for i in range(6)]
        + [(100 + i, "web", bad) for i in range(6)],
        "doc_id long, source string, text string",
    )
    ug = unigram_lm_table(ref, alpha=ALPHA)
    t2, t3, t4 = (ngram_lm_table(ref, k=m) for m in (2, 3, 4))

    s3 = {
        r["doc_id"]: r["avg_nll"]
        for r in score_docs_under_ngram_chain(
            docs, [ug, t2, t3]
        ).collect()
    }
    assert s3[0] == pytest.approx(s3[100], abs=1e-12)  # order-3 blind

    scored4 = score_docs_under_ngram_chain(docs, [ug, t2, t3, t4])
    s4 = {r["doc_id"]: r["avg_nll"] for r in scored4.collect()}
    assert s4[0] < s4[100] - 0.01

    scored_df = docs.join(scored4.select("doc_id", "avg_nll"), "doc_id")
    table = domain_threshold_table(scored_df, (0.5,), approx=False)
    kept = sorted(
        r["doc_id"]
        for r in apply_domain_filter(scored_df, table, 0.5).collect()
    )
    assert kept == list(range(6))


@pytest.mark.slow
def test_order5_separates_fourgram_preserving_reorder(spark):
    """KenLM-5 parity: same first trigram, same 4-GRAM multiset
    (orders 1-4 provably blind), only order 5 separates."""
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    good = "a a a a b a a a"
    bad = "a a a b a a a a"
    g, b = good.split(), bad.split()
    assert g[:3] == b[:3]
    assert sorted(zip(g, g[1:], g[2:], g[3:])) == sorted(
        zip(b, b[1:], b[2:], b[3:])
    )
    ref = spark.createDataFrame(
        [(i, good) for i in range(8)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "web", good), (2, "web", bad)],
        "doc_id long, source string, text string",
    )
    ug = unigram_lm_table(ref, alpha=ALPHA)
    tables4 = [ug] + [ngram_lm_table(ref, k=m) for m in (2, 3, 4)]
    tables5 = tables4 + [ngram_lm_table(ref, k=5)]
    s4 = {
        r["doc_id"]: r["avg_nll"]
        for r in score_docs_under_ngram_chain(docs, tables4).collect()
    }
    assert s4[1] == pytest.approx(s4[2], abs=1e-12)  # order-4 blind
    s5 = {
        r["doc_id"]: r["avg_nll"]
        for r in score_docs_under_ngram_chain(docs, tables5).collect()
    }
    assert s5[1] < s5[2] - 0.01


def test_ngram_chain_guards(spark, lm, bg_lm, tg_lm):
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_chain_stats,
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    with pytest.raises(ValueError, match="k="):
        ngram_lm_table(ref, k=1)
    # no document long enough for the order: fail-loud, by name
    with pytest.raises(ValueError, match="ngram_lm_table"):
        ngram_lm_table(
            spark.createDataFrame(
                [(1, "a b")], "doc_id long, text string"
            ),
            k=5,
        )
    with pytest.raises(ValueError, match="at least the unigram"):
        score_docs_under_ngram_chain(docs, [lm])
    with pytest.raises(ValueError, match="lam"):
        score_docs_under_ngram_chain(docs, [lm, bg_lm], lam=1.5)
    with pytest.raises(ValueError, match="alpha"):
        score_docs_under_ngram_chain(docs, [lm, bg_lm], alpha=0.0)
    # same-reference validation extends level by level: an order-4
    # table fit elsewhere has a context that is no reference trigram
    other = spark.createDataFrame(
        [(1, "p q r s t u")], "doc_id long, text string"
    )
    t4_other = ngram_lm_table(other, k=4)
    with pytest.raises(ValueError, match="order-4 context"):
        ngram_chain_stats([lm, bg_lm, tg_lm, t4_other])


def test_ccnet_job_order_4_and_5_arms(spark, tmp_path):
    """run_ccnet_prefilter(lm_order=4) keeps the reference-ordered
    half of the trigram-preserving planted corpus (the order-3 job
    keeps everything); lm_order=5 runs end-to-end and the manifests
    record order + lam; the injected-tables order guard covers the
    new orders."""
    from drive_bc_datapipeline_spark.jobs import (
        _fit_reference_lm_tables,
        run_ccnet_prefilter,
    )

    good = "a a a b a a"
    bad = "a a b a a a"
    ref = spark.createDataFrame(
        [(i, good) for i in range(8)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, "web", good) for i in range(6)]
        + [(100 + i, "web", bad) for i in range(6)],
        "doc_id long, source string, text string",
    )
    m4 = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "o4"), q=0.5, lm_order=4,
        lam=0.6,
    )
    assert m4["lm_order"] == 4 and m4["lam"] == 0.6
    kept4 = sorted(
        r["doc_id"] for r in spark.read.parquet(m4["path"]).collect()
    )
    assert kept4 == list(range(6))

    m3 = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "o3b"), q=0.5, lm_order=3,
        lam=0.6,
    )
    kept3 = sorted(
        r["doc_id"] for r in spark.read.parquet(m3["path"]).collect()
    )
    assert kept3 == sorted([*range(6), *range(100, 106)])

    # order 5 end-to-end on a corpus with >= 5-token docs
    good5 = "a a a a b a a a"
    ref5 = spark.createDataFrame(
        [(i, good5) for i in range(4)], "doc_id long, text string"
    )
    docs5 = spark.createDataFrame(
        [(1, "web", good5), (2, "web", "a a a b a a a a")],
        "doc_id long, source string, text string",
    )
    m5 = run_ccnet_prefilter(
        spark, docs5, ref5, str(tmp_path / "o5"), q=0.5, lm_order=5,
    )
    assert m5["lm_order"] == 5
    kept5 = [
        r["doc_id"] for r in spark.read.parquet(m5["path"]).collect()
    ]
    assert kept5 == [1]

    # injected tables at the wrong order fail by count
    tables3 = _fit_reference_lm_tables(ref, lm_order=3, alpha=0.5)
    with pytest.raises(ValueError, match="order-3"):
        run_ccnet_prefilter(
            spark, docs, ref, str(tmp_path / "bad"), lm_order=4,
            tables=tables3,
        )
    with pytest.raises(ValueError, match="lm_order=6"):
        run_ccnet_prefilter(
            spark, docs, ref, str(tmp_path / "bad6"), lm_order=6
        )


def test_ngram_chain_plan_shapes(spark, lm):
    """The order-5 plan keeps the documented shape: no cartesian, no
    Python, 2(k-1)+1 = 9 broadcast-able left joins over vocabulary-
    bounded checkpointed tables, no windows."""
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_lm_table,
        score_docs_under_ngram_chain,
    )

    ref = spark.createDataFrame(REF, "doc_id long, text string")
    docs = spark.createDataFrame(
        DOCS, "doc_id long, source string, text string"
    )
    tables = [lm] + [ngram_lm_table(ref, k=m) for m in range(2, 6)]
    scored = score_docs_under_ngram_chain(docs, tables)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    for bad in ("CartesianProduct", "BatchEvalPython", "ArrowEval",
                "Window"):
        assert bad not in plan, plan
    # the tuple-count pins: the checkpointed tables feed both halves
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
