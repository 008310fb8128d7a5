"""Tests for the Gopher/C4/Dolma rule-based quality screen (SURVEY
§2 H51, r16): sequential-reference bit-match, per-rule targeting,
edge semantics, the funnel rollup, and the staged-job stage-0
composition."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.operators.quality_rules import (
    GOPHER_REQUIRED_WORDS,
    RULE_FLAGS,
    quality_rule_flags,
    quality_rule_funnel,
)

# ---------------------------------------------------------------------------
# Sequential reference — an independent reimplementation of the
# documented rule semantics (repo test convention: the Spark plan and
# this must agree bit-for-bit on every flag).
# ---------------------------------------------------------------------------


def ref_flags(
    text: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_words: int = 2,
    required_words: tuple[str, ...] = GOPHER_REQUIRED_WORDS,
) -> dict[str, bool]:
    toks = [t for t in text.split(" ") if t != ""]
    n = len(toks)
    w1 = max(n, 1)
    mean_wl = sum(len(t) for t in toks) / w1
    n_hash = text.count("#")
    n_ellipsis = text.count("…") + text.count("...")
    lines = text.split("\n")
    bullet = sum(
        1 for ln in lines if ln.startswith(("- ", "* ", "• "))
    ) / len(lines)
    ellipsis = sum(
        1 for ln in lines if ln.endswith(("...", "…"))
    ) / len(lines)
    alpha = sum(1 for t in toks if re.search("[A-Za-z]", t)) / w1
    n_req = len({t.lower() for t in toks} & set(required_words))
    out = {
        "words_ok": min_words <= n <= max_words,
        "word_len_ok": n >= 1
        and min_mean_word_len <= mean_wl <= max_mean_word_len,
        "symbol_ok": n_hash / w1 <= max_symbol_word_ratio
        and n_ellipsis / w1 <= max_symbol_word_ratio,
        "bullet_ok": bullet <= max_bullet_line_frac,
        "ellipsis_ok": ellipsis <= max_ellipsis_line_frac,
        "alpha_ok": alpha >= min_alpha_word_frac,
        "required_ok": n_req >= min_required_words,
    }
    out["rules_ok"] = all(out.values())
    return out


def _compare(spark, texts: list[str], **cfg) -> None:
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality_rule_flags(df, **cfg).collect()
    }
    for i, text in enumerate(texts):
        want = ref_flags(text, **cfg)
        for name in (*RULE_FLAGS, "rules_ok"):
            assert got[i][name] == want[name], (
                f"doc {i} flag {name}: spark={got[i][name]} "
                f"ref={want[name]} text={text[:60]!r}"
            )


GOOD = (
    "the data and tables load with that batch of rows we have "
    "filed over time and the merge keeps every key stable so that "
    "all writers have room to append with no locks and the reader "
    "sees one consistent view of the data as rows arrive in order "
    "and the compactor folds small files into larger ones with care"
)


def test_good_document_passes_all_rules(spark):
    assert ref_flags(GOOD)["rules_ok"]  # the fixture really is good
    _compare(spark, [GOOD])


def test_each_rule_targets_its_own_failure(spark):
    """Seven fixtures, each failing EXACTLY one rule (verified
    against the reference first, then bit-matched on Spark)."""
    base = dict(min_words=10)  # shorter fixtures, same semantics
    cases = {
        # 9 words < min 10
        "words_ok": "the data and rows of that batch have keys",
        # mean word length < 3 (many 1-2 char words)
        "word_len_ok": "the of to be at it is on we go at my ox "
        "and that have with id",
        # '#' soup embedded in words (keeps length/alpha clean):
        # 8 symbols over ~64 words > the 0.1 cap
        "symbol_ok": GOOD + " stamp#tag#ref#one bond#mix#row#fit "
        "link#net#hub",
        # every line a bullet
        "bullet_ok": "\n".join(["- " + GOOD] * 4),
        # half the lines end in an ellipsis
        "ellipsis_ok": "\n".join([GOOD, GOOD + " …", GOOD + " ..."]),
        # digit soup: < 80% alphabetic words
        "alpha_ok": GOOD + " " + " ".join(str(i) for i in range(40)),
        # vocabulary with < 2 of the required set
        "required_ok": "data tables load batch rows filed over "
        "time merge keeps every key stable readers append",
    }
    for flag, text in cases.items():
        want = ref_flags(text, **base)
        assert not want[flag], f"{flag} fixture does not fail its rule"
        others = [f for f in RULE_FLAGS if f != flag]
        assert all(want[f] for f in others), (
            f"{flag} fixture also fails {[f for f in others if not want[f]]}"
        )
    _compare(spark, list(cases.values()), **base)


def test_edge_semantics_empty_and_unicode(spark):
    """The documented edges: empty text, whitespace-only, token-less
    symbol soup, unicode bullet/ellipsis, single unsplit blob."""
    texts = [
        "",
        "    ",
        "###",  # 0 words, 3 symbols: ratio 3/1 fails symbol_ok
        "• first\n• second\nplain tail",
        "one line that just ends…",
        "x" * 500,  # one giant 500-char word: mean length fails
        GOOD + "\n" + "* bullet row\n" * 2,
    ]
    _compare(spark, texts, min_words=1)
    _compare(spark, texts)  # gopher bounds too


def test_thresholds_are_inclusive_boundaries(spark):
    """Exactly-at-threshold documents PASS (<= / >= semantics),
    mirrored by the reference."""
    # exactly min_words words of exactly mean length 3
    text = " ".join(["abc"] * 10)
    cfg = dict(
        min_words=10, max_words=10,
        min_mean_word_len=3.0, max_mean_word_len=3.0,
        min_required_words=0, min_alpha_word_frac=1.0,
    )
    assert ref_flags(text, **cfg)["rules_ok"]
    _compare(spark, [text], **cfg)
    # one symbol in ten words at ratio cap 0.1 passes; two fail
    t1 = " ".join(["abc"] * 9) + " #"
    t2 = " ".join(["abc"] * 8) + " # #"
    cfg2 = dict(min_words=1, min_required_words=0,
                min_alpha_word_frac=0.0)
    _compare(spark, [t1, t2], **cfg2)


def test_symbol_ratio_is_per_symbol(spark):
    """Gopher A1.1 applies the 0.1 symbol-to-word cap to '#' and to
    ellipsis SEPARATELY (r16 ADVICE): a doc at 0.06 + 0.06 passes
    both per-symbol checks (the old combined ratio over-dropped it);
    either symbol alone over the cap still fails."""
    words = ["abc"] * 50
    both_under = " ".join(words) + " ### ………"  # 3 hash + 3 ellipsis
    hash_over = " ".join(words) + " " + "#" * 6  # 6/50 > 0.1
    ell_over = " ".join(words) + " " + "…" * 6
    cfg = dict(min_words=1, min_required_words=0,
               min_mean_word_len=0.0, min_alpha_word_frac=0.0)
    assert ref_flags(both_under, **cfg)["symbol_ok"]
    assert not ref_flags(hash_over, **cfg)["symbol_ok"]
    assert not ref_flags(ell_over, **cfg)["symbol_ok"]
    _compare(spark, [both_under, hash_over, ell_over], **cfg)


def test_random_corpus_property(spark):
    """Derandomized random documents over an alphabet that exercises
    every rule's machinery at once."""
    import random

    rng = random.Random(42)
    vocab = (
        list(GOPHER_REQUIRED_WORDS)
        + ["data", "x", "##", "…", "12345", "word", "lengthy-token",
           "a", "zz", "...", "- item", ""]
    )
    texts = []
    for _ in range(60):
        n = rng.randrange(0, 80)
        words = [rng.choice(vocab) for _ in range(n)]
        text = " ".join(words)
        if rng.random() < 0.5:
            text = text.replace(" data ", "\n- data ", 1)
        if rng.random() < 0.3:
            text += "\nplain closing line..."
        texts.append(text)
    _compare(spark, texts, min_words=5)


def test_funnel_counts_match_flags(spark):
    texts = [GOOD, "", "###", "\n".join(["- x"] * 3), GOOD + " …"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    flags = quality_rule_flags(df, min_words=5)
    row = quality_rule_funnel(flags).collect()[0]
    assert row["n_total"] == len(texts)
    for name in RULE_FLAGS:
        want = sum(
            1 for t in texts if ref_flags(t, min_words=5)[name]
        )
        assert row[f"n_{name}"] == want, name
    assert row["n_pass_all"] == sum(
        1 for t in texts if ref_flags(t, min_words=5)["rules_ok"]
    )


def test_config_guards():
    import pandas as pd  # noqa: F401 — spark-free guard checks

    class _Fake:  # guards fire before any plan is built
        pass

    with pytest.raises(ValueError, match="word bounds"):
        quality_rule_flags(_Fake(), min_words=10, max_words=5)
    with pytest.raises(ValueError, match="mean-word-length"):
        quality_rule_flags(_Fake(), min_mean_word_len=-1.0)
    with pytest.raises(ValueError, match="thresholds are >= 0"):
        quality_rule_flags(_Fake(), max_symbol_word_ratio=-0.1)
    with pytest.raises(ValueError, match="never pass"):
        quality_rule_flags(_Fake(), required_words=())


def test_rules_plan_is_pure_codegen(spark):
    """100 TB honesty: the flag projection contains no Python UDFs,
    no shuffles, no joins — one scan, one projection."""
    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = quality_rule_flags(df)._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "Join"):
        assert bad not in plan, f"{bad} in the rules plan:\n{plan}"


@pytest.mark.slow
def test_staged_curation_with_rule_screen(spark, tmp_path):
    """rules=True composes as stage 0 of the staged job: the funnel
    lands in the manifest, the reconciliation holds, and the final
    selection only ever contains rule survivors."""
    from drive_bc_datapipeline_spark.jobs import run_staged_curation
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    )
    with_len = docs.withColumn("__n", F.size(F.split("text", " ")))
    reference = (
        with_len.orderBy(F.desc("__n"), "doc_id").limit(100)
        .select("doc_id", "text")
    )
    seeds = (
        with_len.withColumn("label", (F.col("__n") >= 40).cast("int"))
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "label", "text")
    )
    target = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")

    cfg = dict(min_words=30, min_required_words=1)
    out = str(tmp_path / "staged_rules")
    m = run_staged_curation(
        spark, docs, reference, seeds, target, out,
        k=20, q=0.8, n_buckets=256, n_rounds=25, lr=1.0,
        min_precision=0.5, dsir_buckets=512, seed=3, n_shards=4,
        rules=True, rules_config=cfg,
    )
    # the funnel is the sequential rule application over the corpus
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    survivors = {
        i for i, t in texts.items() if ref_flags(t, **cfg)["rules_ok"]
    }
    assert m["n_docs"] == len(texts)
    assert m["n_kept_rules"] == len(survivors)
    assert m["rules_funnel"]["n_pass_all"] == len(survivors)
    assert m["rules_funnel"]["n_total"] == len(texts)
    assert m["rules_config"] == cfg
    # the screen actually screens, and downstream stages nest inside
    assert 0 < len(survivors) < len(texts)
    assert m["n_kept_prefilter"] <= len(survivors)
    sel_ids = {r["doc_id"] for r in spark.read.parquet(m["path"]).collect()}
    assert sel_ids <= survivors and len(sel_ids) == 20

    # config without the switch fails before any stage runs
    with pytest.raises(ValueError, match="rules_config without"):
        run_staged_curation(
            spark, docs, reference, seeds, target, str(tmp_path / "x"),
            k=5, rules_config=cfg,
        )


def test_flag_column_collision_refused(spark):
    """Review catch: withColumn silently REPLACES an existing column,
    so an input corpus already carrying a flag-named column must be
    refused by name instead of clobbered."""
    df = spark.createDataFrame(
        [(1, GOOD, True)], "doc_id long, text string, words_ok boolean"
    )
    with pytest.raises(ValueError, match="words_ok"):
        quality_rule_flags(df)


def test_funnel_empty_corpus_reads_zero(spark):
    """Review catch: sum over an empty frame is NULL; the funnel must
    read the honest zero so the staged reconciliation arithmetic
    works on an empty (fully pre-filtered) corpus."""
    df = spark.createDataFrame([], "doc_id long, text string")
    row = quality_rule_funnel(quality_rule_flags(df)).collect()[0]
    assert row["n_total"] == 0 and row["n_pass_all"] == 0
    for name in RULE_FLAGS:
        assert row[f"n_{name}"] == 0, name


# ---------------------------------------------------------------------------
# r16 — the C4-specific rule set (c4=True): doc-level variants of
# Raffel et al. 2020 §2.2, same sequential-reference discipline.
# ---------------------------------------------------------------------------


def ref_c4_flags(
    text: str,
    *,
    min_sentences: int = 3,
    banned_phrases=("terms of use", "privacy policy", "cookie policy",
                    "uses cookies"),
    **gopher_cfg,
) -> dict[str, bool]:
    out = ref_flags(text, **gopher_cfg)
    low = text.lower()
    out["curly_ok"] = "{" not in text
    out["lorem_ok"] = "lorem ipsum" not in low
    out["policy_ok"] = not any(p.lower() in low for p in banned_phrases)
    n_sent = text.count(".") + text.count("!") + text.count("?")
    out["sentences_ok"] = n_sent >= min_sentences
    out["rules_ok"] = all(v for k, v in out.items() if k != "rules_ok")
    return out


def _compare_c4(spark, texts: list[str], **cfg) -> None:
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        C4_FLAGS,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality_rule_flags(df, c4=True, **cfg).collect()
    }
    for i, text in enumerate(texts):
        want = ref_c4_flags(text, **cfg)
        for name in (*RULE_FLAGS, *C4_FLAGS, "rules_ok"):
            assert got[i][name] == want[name], (
                f"doc {i} flag {name}: spark={got[i][name]} "
                f"ref={want[name]}"
            )


GOOD_C4 = GOOD + ". This closes one thought. Another follows! Done?"


def test_c4_rules_target_their_own_failures(spark):
    """Four fixtures, each failing EXACTLY one C4 rule on top of a
    Gopher-clean base (sentence-terminated so sentences_ok holds)."""
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        C4_FLAGS,
    )

    base = dict(min_words=10)
    assert ref_c4_flags(GOOD_C4, **base)["rules_ok"]
    cases = {
        "curly_ok": GOOD_C4 + " if (x) { return y; }".replace("{", "{"),
        "lorem_ok": GOOD_C4 + " Lorem Ipsum dolor sit amet.",
        "policy_ok": GOOD_C4 + " This site uses cookies for analytics.",
        "sentences_ok": GOOD,  # no terminators at all
    }
    for flag, text in cases.items():
        want = ref_c4_flags(text, **base)
        assert not want[flag], f"{flag} fixture does not fail its rule"
        others = [f for f in (*RULE_FLAGS, *C4_FLAGS) if f != flag]
        bad = [f for f in others if not want[f]]
        assert not bad, f"{flag} fixture also fails {bad}"
    _compare_c4(spark, [GOOD_C4, *cases.values()], **base)


def test_c4_funnel_and_collision_and_default_off(spark):
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        C4_FLAGS,
    )

    texts = [GOOD_C4, GOOD_C4 + " { code }", "short."]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    flags = quality_rule_flags(df, min_words=10, c4=True)
    row = quality_rule_funnel(flags).collect()[0]
    for name in (*RULE_FLAGS, *C4_FLAGS):
        want = sum(
            1 for t in texts
            if ref_c4_flags(t, min_words=10)[name]
        )
        assert row[f"n_{name}"] == want, name
    # default (c4=False): the C4 columns are absent from flags AND
    # the funnel, so the Gopher-only contract is unchanged
    plain = quality_rule_flags(df, min_words=10)
    assert not set(C4_FLAGS) & set(plain.columns)
    prow = quality_rule_funnel(plain).collect()[0]
    assert not any(f"n_{n}" in prow.asDict() for n in C4_FLAGS)
    # collision guard covers the active C4 set too
    df2 = spark.createDataFrame(
        [(1, GOOD_C4, True)], "doc_id long, text string, curly_ok boolean"
    )
    with pytest.raises(ValueError, match="curly_ok"):
        quality_rule_flags(df2, c4=True)
    quality_rule_flags(df2)  # gopher-only: no collision, allowed


def ref_c4_line_flags(
    text: str,
    *,
    min_sentences: int = 3,
    min_line_words: int = 5,
    banned_phrases=("terms of use", "privacy policy", "cookie policy",
                    "uses cookies"),
    **gopher_cfg,
) -> dict[str, bool]:
    out = ref_flags(text, **gopher_cfg)
    low = text.lower()
    out["curly_ok"] = "{" not in text
    out["lorem_ok"] = "lorem ipsum" not in low
    out["policy_ok"] = not any(p.lower() in low for p in banned_phrases)
    kept = [
        ln for ln in text.split("\n")
        if ln.endswith((".", "!", "?", '"'))
        and len([t for t in ln.split(" ") if t]) >= min_line_words
    ]
    cleaned = re.sub(r"\.{2,}|…", "", "\n".join(kept))
    n_sent = (
        cleaned.count(".") + cleaned.count("!") + cleaned.count("?")
    )
    out["sentences_ok"] = n_sent >= min_sentences
    out["rules_ok"] = all(v for k, v in out.items() if k != "rules_ok")
    return out


def test_c4_line_level_sentences(spark):
    """c4_line=True is Raffel 2020's LINE-LEVEL screen: only
    terminal-punctuated lines with >= 5 words count as prose, and
    ellipsis runs are not sentence terminators — the "...-only" doc
    the doc-level variant passes must fail here (r16 verdict)."""
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        C4_FLAGS,
    )

    base = dict(min_words=10)
    ellipsis_only = GOOD + "..."  # its only "terminators" are the run
    assert ref_c4_flags(ellipsis_only, **base)["sentences_ok"]
    assert not ref_c4_line_flags(ellipsis_only, **base)["sentences_ok"]
    fixtures = [
        GOOD_C4,                      # one prose line, 4 terminators
        ellipsis_only,
        # the only terminated lines carry < 5 words: not prose
        GOOD + "\nYes.\nNo!\nWhy?",
        # unterminated navigation line contributes nothing
        GOOD_C4 + "\nhome | products | about us | contact",
        # end-quote counts as terminal punctuation
        GOOD + '\nhe said the words were "entirely fine there."'
        + "\nAnother full sentence sits here. And one more follows!",
        "",
    ]
    for t in fixtures[:1]:
        assert ref_c4_line_flags(t, **base)["sentences_ok"]
    df = spark.createDataFrame(
        list(enumerate(fixtures)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality_rule_flags(df, c4_line=True, **base).collect()
    }
    for i, t in enumerate(fixtures):
        want = ref_c4_line_flags(t, **base)
        for name in (*RULE_FLAGS, *C4_FLAGS, "rules_ok"):
            assert got[i][name] == want[name], (i, name)
    # the line variant IS the C4 set: flags present without c4=True,
    # and the funnel rolls them up like any active flag
    assert set(C4_FLAGS) <= set(got[0])
    row = quality_rule_funnel(
        quality_rule_flags(df, c4_line=True, **base)
    ).collect()[0]
    want_sent = sum(
        1 for t in fixtures if ref_c4_line_flags(t, **base)["sentences_ok"]
    )
    assert row["n_sentences_ok"] == want_sent
    # knob guard + the min_line_words knob is live
    with pytest.raises(ValueError, match="min_line_words"):
        quality_rule_flags(df, c4_line=True, min_line_words=-1)
    relaxed = {
        r["doc_id"]: r["sentences_ok"]
        for r in quality_rule_flags(
            df, c4_line=True, min_line_words=1, **base
        ).collect()
    }
    assert relaxed[2]  # the 1-word "Yes." lines now count as prose


@pytest.mark.slow
def test_staged_curation_with_c4_config(spark, tmp_path):
    """{"c4": True} in rules_config turns the combined screen on with
    zero job-surface changes; the funnel carries the C4 counts."""
    from drive_bc_datapipeline_spark.jobs import run_staged_curation
    from drive_bc_datapipeline_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "text"
    )
    with_len = docs.withColumn("__n", F.size(F.split("text", " ")))
    reference = (
        with_len.orderBy(F.desc("__n"), "doc_id").limit(100)
        .select("doc_id", "text")
    )
    seeds = (
        with_len.withColumn("label", (F.col("__n") >= 40).cast("int"))
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "label", "text")
    )
    target = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    cfg = dict(min_words=30, min_required_words=1, c4=True,
               min_sentences=0, repetition=True)
    m = run_staged_curation(
        spark, docs, reference, seeds, target, str(tmp_path / "c4"),
        k=10, q=0.8, n_buckets=256, n_rounds=25, lr=1.0,
        min_precision=0.5, dsir_buckets=512, seed=3, n_shards=4,
        rules=True, rules_config=cfg,
    )
    assert "n_curly_ok" in m["rules_funnel"]
    assert "n_dup_line_ok" in m["rules_funnel"]
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    survivors = {
        i for i, t in texts.items()
        if ref_c4_flags(t, min_words=30, min_required_words=1,
                        min_sentences=0)["rules_ok"]
        and ref_repetition_flags(t, min_words=30,
                                 min_required_words=1)["rules_ok"]
    }
    assert m["n_kept_rules"] == len(survivors)
    sel = {r["doc_id"] for r in spark.read.parquet(m["path"]).collect()}
    assert sel <= survivors and len(sel) == 10
    # the r16 leak class: with the extension sets on, NO flag column
    # may ride into the prefilter kept/ parquet or the final
    # selection — the published corpus schema is the input schema
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        C4_FLAGS,
        REPETITION_FLAGS,
    )

    flag_cols = {"rules_ok", *RULE_FLAGS, *C4_FLAGS, *REPETITION_FLAGS}
    kept_cols = set(
        spark.read.parquet(m["prefilter"]["path"]).columns
    )
    sel_cols = set(spark.read.parquet(m["path"]).columns)
    assert not kept_cols & flag_cols, kept_cols & flag_cols
    assert not sel_cols & flag_cols, sel_cols & flag_cols


# ---------------------------------------------------------------------------
# r16 — Gopher's line-repetition pair (repetition=True).
# ---------------------------------------------------------------------------


def ref_repetition_flags(
    text: str,
    *,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
    **gopher_cfg,
) -> dict[str, bool]:
    out = ref_flags(text, **gopher_cfg)
    lines = text.split("\n")
    seen: list[str] = []
    dup_lines = 0
    dup_chars = 0
    for ln in lines:
        if ln in seen:
            dup_lines += 1
            dup_chars += len(ln)
        else:
            seen.append(ln)
    total_chars = sum(len(ln) for ln in lines)
    out["dup_line_ok"] = dup_lines / len(lines) <= max_dup_line_frac
    out["dup_line_char_ok"] = (
        dup_chars / max(total_chars, 1) <= max_dup_line_char_frac
    )
    out["rules_ok"] = all(v for k, v in out.items() if k != "rules_ok")
    return out


def test_repetition_rules_match_reference(spark):
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        REPETITION_FLAGS,
    )

    boiler = "the data and rows of that batch have keys here"
    shorts = ["r%d" % i for i in range(9)]
    texts = [
        GOOD,                                   # no newlines: 0 dups
        # one LONG repeat among many short lines: 1/11 lines is under
        # the 0.3 line cap but its characters dominate (char fails)
        "\n".join([GOOD, *shorts, GOOD]),
        "\n".join([boiler] * 5),                 # 4 repeats of 5: both fail
        "\n".join([GOOD, "x", "x", "x"]),        # 2 short repeats of 4:
                                                 # line frac fails, char ok
        "",                                      # 1 empty line, 0 dups
    ]
    cfg = dict(min_words=5)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in quality_rule_flags(df, repetition=True, **cfg).collect()
    }
    for i, t in enumerate(texts):
        want = ref_repetition_flags(t, **cfg)
        for name in (*RULE_FLAGS, *REPETITION_FLAGS, "rules_ok"):
            assert got[i][name] == want[name], (i, name)
    # the fixtures actually exercise both directions
    assert got[1]["dup_line_ok"] and not got[1]["dup_line_char_ok"]
    assert not got[2]["dup_line_ok"] and not got[2]["dup_line_char_ok"]
    assert not got[3]["dup_line_ok"] and got[3]["dup_line_char_ok"]
    assert got[0]["dup_line_ok"] and got[0]["dup_line_char_ok"]
    # default-off: the columns are absent, funnel unchanged
    plain = quality_rule_flags(df, **cfg)
    assert not set(REPETITION_FLAGS) & set(plain.columns)
    # funnel counts the repetition flags when present
    row = quality_rule_funnel(
        quality_rule_flags(df, repetition=True, **cfg)
    ).collect()[0]
    for name in REPETITION_FLAGS:
        want = sum(
            1 for t in texts if ref_repetition_flags(t, **cfg)[name]
        )
        assert row[f"n_{name}"] == want, name
    # guard
    with pytest.raises(ValueError, match="max_dup_line_frac"):
        quality_rule_flags(df, repetition=True, max_dup_line_frac=-1.0)


# ---------------------------------------------------------------------------
# r17 — the rule screen reaches the NON-staged jobs too (verdict
# Next #6): run_ccnet_prefilter and run_curation_pipeline accept the
# same rules/rules_config pair as stage 0.
# ---------------------------------------------------------------------------


def test_ccnet_prefilter_with_rule_screen(spark, tmp_path):
    """Stage 0 in the standalone CCNet job: short docs fail the
    screen before the LM ever scores them; the manifest decomposes
    the drop and the published gate model carries the screen."""
    from drive_bc_datapipeline_spark.jobs import run_ccnet_prefilter
    from drive_bc_datapipeline_spark.streaming import pipeline as sp

    good = "a a b a b b"
    short = "a a"  # passes the LM cut, fails min_words=5
    cfg = dict(min_words=5, min_mean_word_len=0.0, min_required_words=0)
    ref = spark.createDataFrame(
        [(i, good) for i in range(8)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(i, "web", good) for i in range(3)]
        + [(20 + i, "web", short) for i in range(2)],
        "doc_id long, source string, text string",
    )
    model_dir = str(tmp_path / "ccr_models")
    m = run_ccnet_prefilter(
        spark, docs, ref, str(tmp_path / "ccr"), q=0.9,
        rules=True, rules_config=cfg, publish_model_dir=model_dir,
    )
    assert m["n_docs"] == 5 and m["n_kept_rules"] == 3
    assert m["rules_funnel"]["n_words_ok"] == 3
    assert m["rules_config"] == cfg
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(m["path"]).collect()
    )
    assert kept == [0, 1, 2]
    # no flag column rides into the published corpus
    cols = set(spark.read.parquet(m["path"]).columns)
    assert not cols & {"rules_ok", *RULE_FLAGS}
    # the published gate model records AND applies the screen
    _v, manifest = sp.read_current_gate_model(model_dir)
    assert manifest["rules_config"] == cfg
    sink = str(tmp_path / "ccr_sink")
    sp.gate_batch_writer(sink, sp.versioned_gate(spark, model_dir))(
        docs, 0
    )
    got = sorted(
        r["doc_id"] for r in sp.read_committed(spark, sink).collect()
    )
    assert got == [0, 1, 2]
    # guard: config without the knob
    with pytest.raises(ValueError, match="rules_config without"):
        run_ccnet_prefilter(
            spark, docs, ref, str(tmp_path / "bad"), rules_config=cfg
        )


@pytest.mark.slow
def test_curation_pipeline_with_rule_screen(spark, tmp_path):
    """Stage 0 in the standalone curation job: the gate trains and
    scores only rule survivors, the selection never contains a
    rule-failing doc, and the manifest decomposes the drop."""
    from drive_bc_datapipeline_spark.jobs import run_curation_pipeline

    pos = "alpha beta gamma delta epsilon zeta"
    neg = "zz junk bad words here now"
    short = "alpha beta"  # gate-friendly text, fails min_words=5
    cfg = dict(min_words=5, min_mean_word_len=0.0, min_required_words=0)
    seeds = spark.createDataFrame(
        [(100 + i, 1, pos) for i in range(8)]
        + [(200 + i, 0, neg) for i in range(8)],
        "doc_id long, label int, text string",
    )
    docs = spark.createDataFrame(
        [(i, pos) for i in range(4)]
        + [(10 + i, neg) for i in range(4)]
        + [(20 + i, short) for i in range(2)],
        "doc_id long, text string",
    )
    target = docs.limit(3)
    m = run_curation_pipeline(
        spark, docs, seeds, target, str(tmp_path / "cur_rules"),
        k=3, n_buckets=256, n_rounds=40, lr=1.0,
        min_precision=0.9, dsir_buckets=64, n_shards=2,
        rules=True, rules_config=cfg,
    )
    assert m["n_docs"] == 10 and m["n_kept_rules"] == 8
    assert m["rules_config"] == cfg
    sel = {
        r["doc_id"] for r in spark.read.parquet(m["path"]).collect()
    }
    assert sel <= set(range(4))  # pos survivors only
    cols = set(spark.read.parquet(m["path"]).columns)
    assert not cols & {"rules_ok", *RULE_FLAGS}
    with pytest.raises(ValueError, match="rules_config without"):
        run_curation_pipeline(
            spark, docs, seeds, target, str(tmp_path / "bad2"),
            k=3, rules_config=cfg,
        )
