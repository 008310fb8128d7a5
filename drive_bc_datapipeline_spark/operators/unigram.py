"""Distributed unigram-LM tokenizer training (SURVEY §2 H45).

The second of the two tokenizer-training algorithms in production use
(Kudo 2018, "Subword Regularization" — the SentencePiece unigram
model; public algorithm), as a deterministic Viterbi-EM variant,
Spark-first and shaped like H44's BPE trainer:

- ONE corpus text pass builds the word-frequency table (map-side
  combinable; |rows| = word vocabulary, corpus-size-independent by
  Heaps' law). Everything after runs on that table, never the corpus.
- The seed vocabulary is every substring (length ≤ max_piece_len) of
  the distinct words with corpus frequency ≥ min_count, plus every
  single character (kept unprunable so segmentation always covers).
  Seed size is word-vocabulary-bounded, guarded at MAX_SEED_PIECES —
  model state, not data state (the kmeans-centroid / PQ-codebook
  class), so collecting the piece-count aggregate to the driver and
  broadcasting piece log-probs per round is 100 TB honest.
- Each EM round: E-step segments every WORD (not every document) by
  Viterbi under the broadcast piece log-probs — Arrow-batched
  mapInPandas over the word table (a per-word DP is not expressible
  as a column expression); piece counts aggregate distributed,
  weighted by word count. M-step: logp = log(count) - log(total).
  Deterministic divergences from the paper, mirrored exactly by the
  sequential reference in tests/test_unigram.py: hard (Viterbi) EM
  instead of forward-backward expected counts, and loss-free top-K
  pruning by (count desc, piece asc) instead of held-out likelihood
  loss.
- Pruning keeps max(vocab_size, ceil(|vocab|·keep_frac)) pieces per
  round until the vocabulary reaches vocab_size, then one final EM
  re-estimates probabilities; round count is therefore
  log-bounded (guarded at MAX_ROUNDS).

Parity: the reference repo has no tokenizer surface; this extends
H44 per the r10 verdict's LLM-pipeline brief. Tests-only by the
200-key registry cap (the E6/K20/F16 pattern).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.session import pin

#: Driver/broadcast piece-table bound — model state, corpus-independent
#: (the pagerank-edge-collect guard class).
MAX_SEED_PIECES = 262_144

#: Prune rounds are log(seed/vocab)/log(1/keep_frac); 32 covers any
#: sane (seed, vocab_size, keep_frac) and backstops a runaway loop.
MAX_ROUNDS = 32


#: Log-prob assigned to a character absent from the piece table (only
#: reachable when segmenting NEW text — training seeds every char):
#: harsh enough never to beat a covered path, finite so the DP stays
#: total. Mirrored by the sequential reference.
UNK_LOGP = -1e9


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs.

    DP left-to-right; candidate pieces at each end position are tried
    LONGEST FIRST and a strictly-better score is required to replace
    the incumbent, so ties resolve to the longest piece at the
    rightmost decision point — one deterministic rule, shared
    verbatim with the sequential reference (CPython float adds in
    identical order on both sides ⇒ bit-identical scores). A position
    no piece reaches falls back to its single char at UNK_LOGP.
    """
    n = len(word)
    best: list[float] = [0.0] + [-math.inf] * n
    back: list[int] = [0] * (n + 1)
    for i in range(1, n + 1):
        for ln in range(min(i, max_len), 0, -1):
            piece = word[i - ln : i]
            lp = logp.get(piece)
            if lp is None:
                continue
            score = best[i - ln] + lp
            if score > best[i]:
                best[i] = score
                back[i] = ln
        if back[i] == 0:  # unseen char: emit it raw, keep the DP total
            best[i] = best[i - 1] + UNK_LOGP
            back[i] = 1
    out: list[str] = []
    i = n
    while i > 0:
        out.append(word[i - back[i] : i])
        i -= back[i]
    out.reverse()
    return out


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) — the ONE corpus pass. Shares BPE's words_array so
    both tokenizer families (and the H46 fertility report) agree on
    what a word is."""
    from drive_bc_datapipeline_spark.operators.bpe import words_array

    return (
        df.select(F.explode(words_array(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _seed_pieces(
    wc: DataFrame, max_piece_len: int, min_count: int
) -> DataFrame:
    """(piece, cnt) seed: every substring of every word (length ≤
    max_piece_len) weighted by word count (occurrence-counted, so
    'aa' contributes 'a' twice); single chars survive min_count."""
    subs = F.expr(
        f"""flatten(transform(sequence(1, length(word)), i ->
            transform(sequence(1, least({max_piece_len},
                                        length(word) - i + 1)),
                      l -> substring(word, i, l))))"""
    )
    agg = (
        wc.select(F.col("cnt"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return agg.filter(
        (F.col("cnt") >= min_count) | (F.length("piece") == 1)
    )


def unigram_train(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    max_piece_len: int = 8,
    min_count: int = 2,
    keep_frac: float = 0.75,
) -> list[tuple[str, int, float]]:
    """Learn a unigram piece table from ``df[text_col]``.

    Returns [(piece, viterbi_count, logprob)] sorted by
    (count desc, piece asc) — at most ``vocab_size`` pieces unless
    single-character coverage requires more (single chars are never
    pruned).
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if not (0.0 < keep_frac < 1.0):
        raise ValueError(f"keep_frac must be in (0, 1), got {keep_frac}")
    # fail fast: max_piece_len=0 would make sequence(1, 0) DESCEND
    # ([1, 0]), seeding empty-string pieces via substring(word, i, 0)
    # and silently diverging from the sequential reference (r11 ADVICE)
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    wt = pin(word_counts(df, text_col), "unigram word counts")
    if not wt.take(1):
        raise ValueError("unigram_train needs a corpus with at least one word")
    seed = _seed_pieces(wt, max_piece_len, min_count)
    n_seed = seed.count()
    if n_seed > MAX_SEED_PIECES:
        raise ValueError(
            f"seed vocabulary {n_seed} exceeds MAX_SEED_PIECES "
            f"({MAX_SEED_PIECES}): raise min_count or lower "
            "max_piece_len — the piece table is driver/broadcast model "
            "state and must stay corpus-independent"
        )
    # driver model state: {piece: count}; probabilities from counts
    vocab = {r["piece"]: int(r["cnt"]) for r in seed.collect()}
    spark = df.sparkSession

    def em_counts(logp: dict[str, float], max_len: int) -> dict[str, int]:
        """One distributed E-step over the word table."""
        blogp = spark.sparkContext.broadcast(logp)

        def run(batches):
            import pandas as pd

            lp = blogp.value
            for pdf in batches:
                counts: dict[str, int] = {}
                for word, cnt in zip(pdf["word"], pdf["cnt"]):
                    for piece in _viterbi(word, lp, max_len):
                        counts[piece] = counts.get(piece, 0) + int(cnt)
                yield pd.DataFrame(
                    {"piece": list(counts), "c": list(counts.values())}
                )

        # destroy in finally: a failed E-step job must not leak the
        # broadcast for the session (one per failed round otherwise)
        try:
            rows = (
                wt.mapInPandas(run, "piece string, c long")
                .groupBy("piece")
                .agg(F.sum("c").alias("c"))
                .collect()
            )
        finally:
            blogp.destroy()
        return {r["piece"]: int(r["c"]) for r in rows}

    def logprobs(counts: dict[str, int]) -> dict[str, float]:
        total = float(sum(counts.values()))
        lt = math.log(total)
        return {p: math.log(c) - lt for p, c in counts.items()}

    max_len = max(max_piece_len, 1)
    for _ in range(MAX_ROUNDS):
        counts = em_counts(logprobs(vocab), max_len)
        # coverage floor: a single char the Viterbi never used keeps
        # count 1 so segmentation of unseen words stays total
        vocab = {
            p: counts.get(p, 1 if len(p) == 1 else 0)
            for p in vocab
            if len(p) == 1 or counts.get(p, 0) > 0
        }
        multi = [(p, c) for p, c in vocab.items() if len(p) > 1]
        chars = [(p, c) for p, c in vocab.items() if len(p) == 1]
        target_multi = max(vocab_size - len(chars), 0)
        if len(multi) <= target_multi:
            break
        # strictly decreasing: the frac schedule can stall at small
        # sizes (ceil(0.75·1) == 1), so cap at len-1 before the floor
        keep = max(
            target_multi,
            min(int(math.ceil(len(multi) * keep_frac)), len(multi) - 1),
        )
        multi.sort(key=lambda pc: (-pc[1], pc[0]))
        vocab = dict(chars + multi[:keep])
        if keep == target_multi:
            break
    # final re-estimate on the settled vocabulary
    counts = em_counts(logprobs(vocab), max_len)
    vocab = {
        p: counts.get(p, 1 if len(p) == 1 else 0)
        for p in vocab
        if len(p) == 1 or counts.get(p, 0) > 0
    }
    lps = logprobs(vocab)
    return sorted(
        ((p, c, lps[p]) for p, c in vocab.items()),
        key=lambda t: (-t[1], t[0]),
    )


def unigram_segment(
    df: DataFrame,
    pieces: list[tuple[str, int, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi-segment ``df[text_col]`` with a learned piece table:
    (id_col, pieces array<string>, n_pieces). Arrow-batched; the piece
    table ships as a plain broadcast dict (model state)."""
    logp = {p: lp for p, _c, lp in pieces}
    max_len = max((len(p) for p in logp), default=1)
    # carry the caller's id type through (string/int ids are legal too)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, pieces array<string>, n_pieces int"

    def run(batches):
        for pdf in batches:
            # (txt or ""): NULL text segments to zero pieces, matching
            # bpe_segment's convention instead of crashing on None
            segs = [
                [
                    piece
                    for w in (txt or "").split(" ")
                    if w
                    for piece in _viterbi(w, logp, max_len)
                ]
                for txt in pdf[text_col]
            ]
            yield type(pdf)(
                {
                    id_col: pdf[id_col],
                    "pieces": segs,
                    "n_pieces": [len(s) for s in segs],
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)
