"""Rule-based document-quality flags (SURVEY §2 H51, r16): the
Gopher/C4/Dolma stage-0 heuristic screen every production curation
run applies BEFORE any model-based gate.

The rule set is the published industry standard (Rae et al. 2021
"Gopher" §A.1.1; Raffel et al. 2020 "C4"; Soldaini et al. 2024
"Dolma"), re-expressed as ONE codegen'd projection — no Python in the
hot path, no shuffle, no UDFs:

1. word-count bounds            (Gopher: 50..100k words)
2. mean-word-length bounds      (Gopher: 3..10 chars)
3. symbol-to-word ratio         (Gopher: '#' and ellipsis <= 0.1/word)
4. bullet-line fraction         (Gopher: <= 90% of lines)
5. ellipsis-line fraction       (Gopher: <= 30% of lines)
6. alphabetic-word fraction     (Gopher: >= 80% of words)
7. required-word screen         (Gopher: >= 2 distinct of an 8-word
                                 English stop-word set)

``quality_rule_flags`` appends one boolean column per rule plus the
conjunction ``rules_ok``; ``quality_rule_funnel`` rolls the flags to
the H13 one-row funnel so a run manifest can show WHICH rule drops
what (a pass count per rule, not just the survivor count).
``quality_rule_screen`` is the two together as the stage-0 cut the
curation jobs (``rules=True``) and the streaming CCNet gate apply.

Edge semantics (mirrored exactly by the sequential reference in
tests/test_quality_rules.py): tokens are the repo-wide non-empty
single-space split; a token-less document has mean word length 0 and
alphabetic fraction 0 (fails both bounds) and symbol ratio
symbols/1; lines come from a plain "\\n" split, so every document has
>= 1 line and the line-fraction denominators never guard.

100 TB shape: pure column algebra over one text scan — Catalyst
fuses the flags into whatever scan the consumer runs (the staged job
pushes the ``rules_ok`` predicate into stage 1's own corpus pass
instead of materializing a flagged copy), and the funnel is one
partial-aggregable single-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Gopher's required-word screen: a real English document almost
#: surely contains >= 2 of these; keeps machine-generated keyword
#: soup out regardless of its length statistics.
GOPHER_REQUIRED_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

#: Flag columns in rule order (funnel + manifest iterate this).
RULE_FLAGS: tuple[str, ...] = (
    "words_ok", "word_len_ok", "symbol_ok", "bullet_ok",
    "ellipsis_ok", "alpha_ok", "required_ok",
)

#: The C4-specific additions (Raffel et al. 2020 §2.2), enabled with
#: ``c4=True``: pages with code braces, boilerplate filler, policy
#: boilerplate, or fewer than 3 sentences are dropped.
C4_FLAGS: tuple[str, ...] = (
    "curly_ok", "lorem_ok", "policy_ok", "sentences_ok",
)

#: Gopher's repetition rules (§A1.1, the line-level pair), enabled
#: with ``repetition=True``: templated/boilerplate pages repeat
#: whole lines; both signals are in-row array algebra over the line
#: split — no explode, no shuffle.
REPETITION_FLAGS: tuple[str, ...] = (
    "dup_line_ok", "dup_line_char_ok",
)

#: C4's policy-boilerplate screen: a page carrying any of these is
#: navigation/legal chrome, not prose.
C4_BANNED_PHRASES: tuple[str, ...] = (
    "lorem ipsum",  # kept separate as lorem_ok; listed for reference
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies",
)

_BULLET_PREFIXES = ("- ", "* ", "• ")  # "- ", "* ", "• "
_ELLIPSIS_SUFFIXES = ("...", "…")  # "...", "…"
#: C4's terminal punctuation (Raffel 2020 §2.2: period, exclamation
#: mark, question mark, end quotation mark) — a line not ending in
#: one is navigation/boilerplate, not a sentence.
_TERMINAL_SUFFIXES = (".", "!", "?", '"')
#: Ellipsis runs (2+ dots, or the one-char ellipsis) are removed
#: before counting sentence terminators — each dot of a "..." is NOT
#: a sentence boundary (the r16 doc-level screen counted it as one).
_ELLIPSIS_RUN_RE = r"\.{2,}|…"


def _count_occurrences(col: Column, sub: str) -> Column:
    """Non-overlapping occurrence count of a literal substring —
    length-difference arithmetic, stays in codegen (regexp_count
    would need the literal escaped)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(sub), F.lit(""))))
        / len(sub)
    ).cast("long")


def quality_rule_flags(
    df: DataFrame,
    *,
    text_col: str = "text",
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
    c4: bool = False,
    min_sentences: int = 3,
    banned_phrases: tuple[str, ...] = C4_BANNED_PHRASES[1:],
    c4_line: bool = False,
    min_line_words: int = 5,
    repetition: bool = False,
    max_dup_line_frac: float = 0.3,
    max_dup_line_char_frac: float = 0.2,
) -> DataFrame:
    """Append the seven Gopher rule flags (+ the four C4 flags when
    ``c4=True``) and the ``rules_ok`` conjunction to ``df``.

    Defaults are the published Gopher thresholds; every knob is a
    parameter because real runs tune them per corpus (C4 uses
    different line rules than Gopher — the RULE SET is the standard,
    the numbers are policy). The required-word match is
    case-insensitive and counts DISTINCT required words present
    (Gopher's "at least 2 of").

    The C4 set (Raffel et al. 2020 §2.2, doc-level variants):
    ``curly_ok`` — no ``{`` (code pages); ``lorem_ok`` — no
    "lorem ipsum" (case-insensitive); ``policy_ok`` — none of the
    ``banned_phrases`` (case-insensitive; C4's terms-of-use/cookies
    screen); ``sentences_ok`` — at least ``min_sentences`` sentence
    terminators (. ! ?). Because ``run_staged_curation``'s
    ``rules_config`` passes through verbatim, ``{"c4": True}`` turns
    the full Gopher+C4 screen on with zero job-surface changes.

    ``c4_line=True`` (r17) runs the C4 set with the paper's
    LINE-LEVEL sentence screen instead of the doc-level variant:
    only lines ending in terminal punctuation (. ! ? ") that carry
    at least ``min_line_words`` words count as prose, and
    ``sentences_ok`` counts terminators over THOSE lines only, with
    ellipsis runs (2+ dots, or "…") excluded — a page whose dots are
    all "..." separators has zero sentences here where the doc-level
    count saw three. Implies the C4 set (``c4=True`` is redundant
    alongside it); still one codegen'd projection over the line
    split — the line filter and the sentence count are in-row array
    algebra, no explode.

    ``repetition=True`` adds Gopher's line-repetition pair (§A1.1):
    ``dup_line_ok`` — the fraction of REPEAT lines (occurrences
    beyond each distinct line's first) is <= ``max_dup_line_frac``;
    ``dup_line_char_ok`` — the fraction of characters inside those
    repeat lines is <= ``max_dup_line_char_frac``. Both are in-row
    array algebra (array_distinct keeps first occurrences, so
    repeats = total − distinct for counts AND for joined-character
    lengths) — a templated page that repeats its boilerplate line
    fails where per-token statistics look clean.
    """
    if not 0 <= min_words <= max_words:
        raise ValueError(
            f"word bounds [{min_words}, {max_words}]: need "
            "0 <= min <= max"
        )
    if not 0.0 <= min_mean_word_len <= max_mean_word_len:
        raise ValueError(
            f"mean-word-length bounds [{min_mean_word_len}, "
            f"{max_mean_word_len}]: need 0 <= min <= max"
        )
    for name, v in (
        ("max_symbol_word_ratio", max_symbol_word_ratio),
        ("max_bullet_line_frac", max_bullet_line_frac),
        ("max_ellipsis_line_frac", max_ellipsis_line_frac),
        ("min_alpha_word_frac", min_alpha_word_frac),
    ):
        if v < 0:
            raise ValueError(f"{name}={v}: thresholds are >= 0")
    if min_required_words > 0 and not required_words:
        raise ValueError(
            f"min_required_words={min_required_words} with an empty "
            "required_words set can never pass — supply the word set "
            "or set min_required_words=0"
        )
    if min_sentences < 0:
        raise ValueError(f"min_sentences={min_sentences}: needs >= 0")
    if min_line_words < 0:
        raise ValueError(f"min_line_words={min_line_words}: needs >= 0")
    c4 = c4 or c4_line  # the line variant IS the C4 set, line-level
    for name, v in (
        ("max_dup_line_frac", max_dup_line_frac),
        ("max_dup_line_char_frac", max_dup_line_char_frac),
    ):
        if v < 0:
            raise ValueError(f"{name}={v}: thresholds are >= 0")
    # withColumn REPLACES an existing column silently — a corpus that
    # already carries a flag-named column would lose it and downstream
    # consumers would read OUR flag thinking it theirs (review catch)
    active_flags = (
        *RULE_FLAGS,
        *(C4_FLAGS if c4 else ()),
        *(REPETITION_FLAGS if repetition else ()),
    )
    taken = set(df.columns) & {*active_flags, "rules_ok"}
    if taken:
        raise ValueError(
            f"input already carries flag column(s) {sorted(taken)}: "
            "rename them — quality_rule_flags would silently replace "
            "them"
        )
    text = F.col(text_col)
    toks = F.filter(F.split(text, " "), lambda x: x != "")
    n_words = F.size(toks)
    w1 = F.greatest(n_words, F.lit(1))  # the documented /max(n,1) guard
    mean_wl = F.length(F.array_join(toks, "")).cast("double") / w1
    # Gopher A1.1 applies the symbol-to-word threshold to EACH
    # symbol separately ('#' and ellipsis); summing them into one
    # combined ratio is strictly tighter and over-drops docs that
    # pass each per-symbol check (r16 ADVICE — e.g. 0.06 hash +
    # 0.06 ellipsis)
    n_hash = _count_occurrences(text, "#")
    n_ellipsis = (
        _count_occurrences(text, "…") + _count_occurrences(text, "...")
    )
    lines = F.split(text, "\n")  # >= 1 element always
    n_lines = F.size(lines)
    is_bullet = lambda x: (  # noqa: E731 — column lambda, not a def
        x.startswith(_BULLET_PREFIXES[0])
        | x.startswith(_BULLET_PREFIXES[1])
        | x.startswith(_BULLET_PREFIXES[2])
    )
    is_ellipsis = lambda x: (  # noqa: E731
        x.endswith(_ELLIPSIS_SUFFIXES[0]) | x.endswith(_ELLIPSIS_SUFFIXES[1])
    )
    bullet_frac = (
        F.size(F.filter(lines, is_bullet)).cast("double") / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, is_ellipsis)).cast("double") / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
        .cast("double") / w1
    )
    # token-less doc: alpha_frac = 0/1 = 0 — fails the bound, by the
    # documented edge semantics (size(filter) of the empty array is 0)
    n_required = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(w) for w in required_words])
            if required_words
            else F.array().cast("array<string>"),
        )
    )
    flags: dict = {
        "words_ok": (n_words >= min_words) & (n_words <= max_words),
        "word_len_ok": (
            (n_words >= 1)
            & (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len)
        ),
        "symbol_ok": (
            (n_hash.cast("double") / w1 <= max_symbol_word_ratio)
            & (n_ellipsis.cast("double") / w1 <= max_symbol_word_ratio)
        ),
        "bullet_ok": bullet_frac <= max_bullet_line_frac,
        "ellipsis_ok": ellipsis_frac <= max_ellipsis_line_frac,
        "alpha_ok": alpha_frac >= min_alpha_word_frac,
        "required_ok": n_required >= min_required_words,
    }
    if repetition:
        n_lines_d = n_lines.cast("double")
        distinct_lines = F.array_distinct(lines)
        dup_line_frac = (
            (n_lines - F.size(distinct_lines)).cast("double") / n_lines_d
        )
        total_chars = F.length(F.array_join(lines, ""))
        first_chars = F.length(F.array_join(distinct_lines, ""))
        dup_char_frac = (
            (total_chars - first_chars).cast("double")
            / F.greatest(total_chars, F.lit(1)).cast("double")
        )
        flags["dup_line_ok"] = dup_line_frac <= max_dup_line_frac
        flags["dup_line_char_ok"] = dup_char_frac <= max_dup_line_char_frac
    if c4:
        lowered = F.lower(text)
        policy_hit = F.lit(False)
        for phrase in banned_phrases:
            policy_hit = policy_hit | lowered.contains(phrase.lower())
        if c4_line:
            kept_lines = F.filter(
                lines,
                lambda ln: (
                    ln.endswith(_TERMINAL_SUFFIXES[0])
                    | ln.endswith(_TERMINAL_SUFFIXES[1])
                    | ln.endswith(_TERMINAL_SUFFIXES[2])
                    | ln.endswith(_TERMINAL_SUFFIXES[3])
                )
                & (
                    F.size(F.filter(F.split(ln, " "), lambda x: x != ""))
                    >= min_line_words
                ),
            )
            sentence_src = F.regexp_replace(
                F.array_join(kept_lines, "\n"), _ELLIPSIS_RUN_RE, ""
            )
        else:
            sentence_src = text
        n_sentences = (
            _count_occurrences(sentence_src, ".")
            + _count_occurrences(sentence_src, "!")
            + _count_occurrences(sentence_src, "?")
        )
        flags["curly_ok"] = ~text.contains("{")
        flags["lorem_ok"] = ~lowered.contains("lorem ipsum")
        flags["policy_ok"] = ~policy_hit
        flags["sentences_ok"] = n_sentences >= min_sentences
    out = df
    all_ok = F.lit(True)
    for name in active_flags:
        out = out.withColumn(name, flags[name])
        all_ok = all_ok & flags[name]
    return out.withColumn("rules_ok", all_ok)


def quality_rule_funnel(flags: DataFrame) -> DataFrame:
    """One-row per-rule funnel over a ``quality_rule_flags`` output
    (the H13 shape): n_total, a pass count per rule PRESENT in the
    frame (the Gopher seven, plus the C4 four when the flags were
    built with ``c4=True``), n_pass_all — what a manifest records so
    "the rules dropped 12%" decomposes into WHICH rule did the
    dropping. Partial-aggregable single-row output; safe at any
    corpus size."""
    # coalesce(sum, 0): sum over an empty frame is NULL, and the
    # staged job compares the funnel against observed counts — a NULL
    # there would fail the reconciliation arithmetic instead of
    # reading as the honest zero (review catch)
    present = [
        name
        for name in (*RULE_FLAGS, *C4_FLAGS, *REPETITION_FLAGS)
        if name in flags.columns
    ]
    aggs = [F.count(F.lit(1)).alias("n_total")]
    aggs += [
        F.coalesce(F.sum(F.col(name).cast("long")), F.lit(0)).alias(
            f"n_{name}"
        )
        for name in present
    ]
    aggs.append(
        F.coalesce(F.sum(F.col("rules_ok").cast("long")), F.lit(0)).alias(
            "n_pass_all"
        )
    )
    return flags.agg(*aggs)


def quality_rule_screen(
    df: DataFrame, **config
) -> tuple[DataFrame, DataFrame]:
    """``(survivors, funnel)``: the rows of ``df`` that pass every
    active rule, with ``df``'s own schema (the appended flag set is
    dropped by set-difference, so every active flag goes), and the
    lazy one-row ``quality_rule_funnel`` of the same flags. THE one
    copy of the stage-0 screen, shared by the batch curation jobs and
    the streaming CCNet gate; ``config`` is ``quality_rule_flags``'
    keyword arguments. Both frames stay lazy: the ``rules_ok``
    predicate fuses into whatever scan the consumer runs."""
    flagged = quality_rule_flags(df, **config)
    added = [c for c in flagged.columns if c not in df.columns]
    survivors = flagged.filter(F.col("rules_ok")).drop(*added)
    return survivors, quality_rule_funnel(flagged)
