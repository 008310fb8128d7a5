"""Tokenizer fertility / compression readout (SURVEY §2 H46).

Completes the H44/H45 tokenizer-training family with the go/no-go
metric for applying a trained vocabulary to a new corpus: per source,
pieces-per-word (fertility), bytes-per-token (compression) and the
OOV-token rate (tokens the segmenter emitted that are NOT in the
trained vocabulary — the Viterbi/char fallback path). A vocab trained
on one distribution "fits" a corpus when fertility stays near its
training value and OOV is ~0; a fertility jump or a non-trivial OOV
rate says retrain or re-mix before spending GPU-hours on tokenized
shards.

Spark-first shape (100 TB honest):
- consumes the (id, tokens, n_tokens) output of ``bpe_segment`` /
  ``unigram_segment`` — the report does NOT re-segment;
- per-document counters (words, text bytes, tokens) are JVM column
  expressions folded into ONE partial-aggregable groupBy(source);
- OOV detection is a broadcast LEFT ANTI join of the exploded token
  stream against the vocabulary relation (model state, ≤ H45's
  MAX_SEED_PIECES rows — never an In-list literal, which would inline
  262k comparisons into the plan) aggregated per source, then joined
  back on the tiny source dimension;
- ratios divide exact int64 counters as doubles — IEEE-deterministic,
  bit-matched by the sequential reference in
  tests/test_tokenizer_report.py.

Parity: the reference repo has no tokenizer surface (its text path is
Athena SQL over event payloads); this is the training-data extension
the r11 verdict ranked Next #3. Tests-only by the 200-key registry
cap (the E6/K20/F16/H44/H45 pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.operators.bpe import (
    EOW,
    word_freq_table,
    words_array,
)
from drive_bc_datapipeline_spark.session import local_frame, pin


def bpe_vocab(
    df: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """(token) — the vocabulary a BPE merge list can emit over the
    corpus it was trained on: every distinct character of the training
    words, the EOW marker, and every merged symbol.

    Built by exploding ``word_freq_table``'s initial symbol arrays —
    the EXACT split training used (one shared CHAR_SPLIT_RE copy, so
    vocabulary derivation can never drift from training; the r11
    $-anchor bug class) — over the deduplicated word vocabulary, not
    every corpus occurrence. Row count is alphabet + merges — model
    state.
    """
    chars = (
        word_freq_table(df, text_col)
        .select(F.explode("syms").alias("token"))
        .distinct()
    )
    learned = local_frame(
        df.sparkSession, [(EOW,)] + [(m[3],) for m in merges], "token string"
    )
    return chars.unionByName(learned).distinct()


def unigram_vocab(
    df: DataFrame, pieces: list[tuple[str, int, float]]
) -> DataFrame:
    """(token) — a unigram piece table as a vocabulary relation."""
    return local_frame(
        df.sparkSession, [(p,) for p, _c, _lp in pieces], "token string"
    ).distinct()


#: Id emitted for a token outside the vocabulary (the segmenters'
#: char-fallback output on unseen chars). Reserved below 0 so real ids
#: can stay dense from 0 — the shape embedding tables expect.
UNK_ID = -1


def token_id_table(
    vocab: DataFrame, *, by_frequency: DataFrame | None = None
) -> DataFrame:
    """(token, token_id) — a deterministic dense id assignment for a
    vocabulary relation.

    Default order is lexicographic (reproducible from the vocab alone);
    pass ``by_frequency`` — any (token, cnt) relation, e.g. a trained
    piece table — to assign ids by (count desc, token asc) so frequent
    pieces get small ids (the embedding-table locality convention).
    Ids are 0-based and gapless. The window runs over the vocabulary
    (model state, ≤ MAX_SEED_PIECES rows), never the corpus, so the
    single-partition rank is bounded and 100 TB honest — and GUARDED,
    not just documented (r12 ADVICE): the same MAX_SEED_PIECES count
    check ``encode_token_ids`` runs trips BEFORE the window, so a
    corpus-derived relation can't silently funnel through one
    partition.
    """
    from pyspark.sql import Window

    from drive_bc_datapipeline_spark.operators.unigram import (
        MAX_SEED_PIECES,
    )

    v = vocab.select("token").distinct()
    n_tokens = v.count()
    if n_tokens > MAX_SEED_PIECES:
        raise ValueError(
            f"vocabulary has {n_tokens} distinct tokens, over "
            f"MAX_SEED_PIECES ({MAX_SEED_PIECES}): the id table is "
            "driver/broadcast model state and must stay "
            "corpus-independent — a corpus-scale relation would "
            "funnel through the single-partition rank window"
        )
    if by_frequency is not None:
        v = v.join(
            by_frequency.groupBy("token").agg(F.sum("cnt").alias("cnt")),
            "token",
            "left",
        ).withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        order = [F.desc("cnt"), F.asc("token")]
    else:
        order = [F.asc("token")]
    w = Window.orderBy(*order)
    return v.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("int")
    ).select("token", "token_id")


def _collect_id_table(id_table: DataFrame) -> list:
    """MAX_SEED_PIECES-guarded collect of an id-table relation — THE
    one copy of the encode/decode model-state boundary (a
    corpus-derived relation must trip BEFORE any row reaches the
    driver)."""
    from drive_bc_datapipeline_spark.operators.unigram import (
        MAX_SEED_PIECES,
    )

    n_ids = id_table.count()
    if n_ids > MAX_SEED_PIECES:
        raise ValueError(
            f"id table has {n_ids} rows, over MAX_SEED_PIECES "
            f"({MAX_SEED_PIECES}): the mapping is driver/broadcast "
            "model state and must stay corpus-independent"
        )
    return id_table.collect()


def encode_token_ids(
    seg: DataFrame,
    id_table: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    unk_id: int = UNK_ID,
) -> DataFrame:
    """(id_col, token_ids array<int>, n_tokens, n_unk) — the bridge
    from segmentation (H44/H45) to shard packing/manifest (H16/H42):
    token strings become dense ids, order preserved, out-of-vocabulary
    tokens become ``unk_id``.

    Arrow-batched with the id table as a broadcast dict (model state,
    the segmenters' own pattern): an order-preserving array lookup is
    a per-element dict probe, not a join — posexplode + join + re-sort
    would shuffle the whole token stream twice to recover order the
    rows already have. The id table is guarded at H45's
    MAX_SEED_PIECES bound, tripping BEFORE any row reaches the driver.
    """
    mapping = {
        r["token"]: int(r["token_id"]) for r in _collect_id_table(id_table)
    }
    id_type = seg.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, token_ids array<int>, "
        "n_tokens int, n_unk int"
    )
    bmap = seg.sparkSession.sparkContext.broadcast(mapping)

    def run(batches):
        mp = bmap.value
        for pdf in batches:
            ids = [
                [mp.get(t, unk_id) for t in toks]
                for toks in pdf[tokens_col]
            ]
            yield type(pdf)(
                {
                    id_col: pdf[id_col],
                    "token_ids": ids,
                    "n_tokens": [len(x) for x in ids],
                    "n_unk": [
                        sum(1 for i in x if i == unk_id) for x in ids
                    ],
                }
            )

    return seg.select(id_col, tokens_col).mapInPandas(run, out_schema)


def decode_token_ids(
    enc: DataFrame,
    id_table: DataFrame,
    *,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
    unk_id: int = UNK_ID,
    unk_token: str = "<unk>",
) -> DataFrame:
    """(id_col, tokens array<string>, n_tokens, n_unk) — the inverse
    of ``encode_token_ids``, closing the round trip: dense ids back to
    token strings, order preserved, ``unk_id`` rendered as
    ``unk_token`` (information already lost at encode time).

    Same broadcast-dict shape as the encoder (the table is model
    state, MAX_SEED_PIECES-guarded; a join would shuffle the id
    stream twice to recover order). Two fail-fast contracts instead
    of silent corruption:
    - the table must be injective on token_id (a duplicated id has no
      well-defined inverse);
    - every id must be in the table or equal ``unk_id`` — an unknown
      id means the encoded corpus and the table are from different
      vocabularies, and mapping it to ``unk_token`` would silently
      change n_unk semantics. The error surfaces from the executor
      task wrapped by Spark, message preserved (test-pinned).

    A NULL ``ids_col`` value or a NULL array element also raises with
    a named message (not an opaque TypeError): the encoder never
    emits either, so both mean the input is not an encoder output.
    """
    rows = _collect_id_table(id_table)
    inverse = {int(r["token_id"]): r["token"] for r in rows}
    if len(inverse) != len(rows):
        raise ValueError(
            "id table is not injective on token_id: a duplicated id "
            "has no well-defined inverse (token_id_table emits a "
            "dense bijection — decode with the table you encoded with)"
        )
    if unk_id in inverse:
        raise ValueError(
            f"id table assigns unk_id ({unk_id}) to a real token: "
            "the sentinel must stay outside the dense id range"
        )
    id_type = enc.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, tokens array<string>, "
        "n_tokens int, n_unk int"
    )
    binv = enc.sparkSession.sparkContext.broadcast(inverse)

    def run(batches):
        mp = binv.value
        for pdf in batches:
            toks, unks = [], []
            for ids in pdf[ids_col]:
                if ids is None:
                    raise ValueError(
                        f"decode_token_ids: NULL {ids_col} — the "
                        "encoder never emits one; this is not an "
                        "encoder output"
                    )
                out, n_unk = [], 0
                for i in ids:
                    # NULL elements arrive as None or NaN depending
                    # on the Arrow->pandas path; i != i is the
                    # import-free NaN test
                    if i is None or i != i:
                        raise ValueError(
                            f"decode_token_ids: NULL element in "
                            f"{ids_col} — the encoder never emits "
                            "one; this is not an encoder output"
                        )
                    i = int(i)
                    if i == unk_id:
                        out.append(unk_token)
                        n_unk += 1  # counted by ID, not by the
                        # rendered string — a real vocab token may
                        # literally equal unk_token
                    else:
                        tok = mp.get(i)
                        if tok is None:
                            raise ValueError(
                                f"token id {i} is not in the id table "
                                f"and is not unk_id ({unk_id}): the "
                                "encoded corpus and the table come "
                                "from different vocabularies"
                            )
                        out.append(tok)
                toks.append(out)
                unks.append(n_unk)
            yield type(pdf)(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": [len(x) for x in toks],
                    "n_unk": unks,
                }
            )

    return enc.select(id_col, ids_col).mapInPandas(run, out_schema)


def tokenizer_fertility_report(
    df: DataFrame,
    seg: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-source fertility/compression report for a segmented corpus.

    ``df`` carries (id_col, source_col, text_col); ``seg`` is the
    segmenter output keyed by id_col with a ``tokens_col`` array;
    ``vocab`` is a 1-column (token) relation of the trained vocabulary
    (``bpe_vocab`` / ``unigram_vocab``).

    CALLER CONTRACT (the bm25 tf_col convention — stated, not
    silently assumed): ``seg`` must carry EXACTLY ONE row per id_col
    value of ``df``. The inner join means a doc missing from ``seg``
    silently vanishes from every counter (segment the same ``df`` you
    report on), and a duplicated id double-counts its doc —
    tests/test_tokenizer_report.py pins the report against a
    sequential reference over the full input, which any contract
    violation breaks.

    Returns (source, n_docs, n_words, n_tokens, n_text_bytes,
    n_oov_tokens, pieces_per_word, bytes_per_token, oov_token_rate)
    sorted by source; ratio columns are NULL when their denominator is
    zero (an all-empty source) rather than NaN/error. A NULL source is
    a legal group and keeps its OOV count (null-safe join below).
    """
    # words_array: the same word definition training and segmentation
    # use, so pieces-per-word divides consistent numerators/denominators
    words = words_array(F.col(text_col))
    # pinned: the joined per-doc relation feeds TWO aggregates
    # (counters, OOV anti-join); without the pin both subtrees re-scan
    # df + seg and re-run the join (the hybrid pinned-relation pattern)
    base = pin(
        df.select(
            id_col,
            source_col,
            F.size(words).alias("__nw"),
            F.octet_length(text_col).alias("__nb"),
        )
        .join(seg.select(id_col, tokens_col), id_col)
        .select(
            source_col,
            "__nw",
            "__nb",
            F.size(tokens_col).alias("__nt"),
            F.col(tokens_col).alias("__toks"),
        ),
        "fertility per doc",
    )
    per_source = base.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nw").cast("long").alias("n_words"),
        F.sum("__nt").cast("long").alias("n_tokens"),
        F.sum("__nb").cast("long").alias("n_text_bytes"),
    )
    # OOV = emitted tokens absent from the trained vocabulary: explode
    # the token stream and broadcast-anti-join the model-state relation
    # (no shuffle on the corpus side; the groupBy partial-aggregates)
    oov = (
        base.select(source_col, F.explode("__toks").alias("token"))
        .join(F.broadcast(vocab.select("token")), "token", "left_anti")
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_oov_tokens"))
        .withColumnRenamed(source_col, "__oov_src")
    )
    # eqNullSafe: a NULL source is a legal group in both aggregates; a
    # plain equi-join would never match it and coalesce its real OOV
    # count down to 0 — masking exactly the signal this report exists
    # to surface
    out = (
        per_source.join(
            oov,
            per_source[source_col].eqNullSafe(oov["__oov_src"]),
            "left",
        )
        .drop("__oov_src")
        .withColumn(
            "n_oov_tokens", F.coalesce("n_oov_tokens", F.lit(0).cast("long"))
        )
        .withColumn(
            "pieces_per_word",
            F.when(
                F.col("n_words") > 0,
                F.col("n_tokens").cast("double") / F.col("n_words"),
            ),
        )
        .withColumn(
            "bytes_per_token",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_text_bytes").cast("double") / F.col("n_tokens"),
            ),
        )
        .withColumn(
            "oov_token_rate",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov_tokens").cast("double") / F.col("n_tokens"),
            ),
        )
    )
    return out.orderBy(source_col)
