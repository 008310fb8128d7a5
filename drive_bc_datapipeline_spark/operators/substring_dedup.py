"""Exact substring-run deduplication (SURVEY §2 F16).

The ExactSubstr modality of Lee et al. 2022 ("Deduplicating Training
Data Makes Language Models Better"): find every token span of length
>= L that occurs more than once in the corpus and mask/remove the
duplicated tokens — finer-grained than document- or chunk-level dedup
(F1/H31), which this repo already covers. The reference pipeline has
no analogue (its dedup is ``dropDuplicates(id)`` in etl.py); this
operator is part of the LLM-training-data toolbox the brief requires.

Spark-first shape instead of the paper's suffix array: every length-L
token window is hashed map-side (H17's chunk machinery generalized to
stride 1), duplicated window hashes are found with ONE hash aggregate,
and the union of each doc's duplicated windows is reduced to maximal
masked runs with ONE per-doc window pass (lag + min(gap, L) interval
arithmetic — no per-position fan-out beyond the gram stream itself).

Equivalence to the suffix-array formulation: a substring of length
M >= L is duplicated iff ALL of its length-L windows are duplicated,
and the union of those windows covers exactly its M tokens; conversely
any position covered by a duplicated L-window lies inside a duplicated
substring of length >= L. So the masked-position set below equals the
paper's, at threshold L, with no suffix structure.

At 100 TB: the gram stream is linear in corpus tokens (one 16-byte key
per token), the duplicate detection is one map-side-combined hash
aggregate on (hash, char_len), the semi-join back is an equi-join on
the same key, and the run-merge window partitions by doc_id — nothing
is ever corpus², no driver state, no collect. The (hash, char_len)
composite key is the H14 collision guard: a bare 64-bit hash would
silently merge distinct grams at ~n²/2^65 odds; the length component
confines that to same-length collisions for +4 bytes of shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.session import pin


def _tokens(text_col: str):
    # H17's tokenization (plans/documents.py chunk_documents): split on
    # single spaces, drop empties — keeps parity with the chunk family.
    return F.filter(F.split(text_col, " "), lambda x: x != "")


def _dup_window_occurrences(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int,
    min_count: int,
    cross_doc_only: bool,
    carry_cols: tuple[str, ...] = (),
):
    """(doc_id, pos) of every length-``min_len`` token window whose
    content occurs often enough to count as duplicated, plus the
    per-doc token counts frame (all docs, for the left join back).
    ``carry_cols`` (functionally dependent on the id, e.g. source)
    ride the per-doc frame so callers can roll up without re-scanning
    the corpus for the dimension."""
    # Pin the tokenized corpus ONCE (the H31 move): three consumers
    # read it — the gram stream feeds both the duplicate-detection
    # aggregate and the semi-join probe, and the per-doc counts frame
    # joins back at the end. Without the pin each consumer re-scans the
    # source parquet (3 FileScans observed); with it the text is read
    # and split exactly once.
    toks = pin(
        docs.select(
            F.col(id_col).alias("doc_id"),
            *carry_cols,
            _tokens(text_col).alias("tk"),
        )
        .select("doc_id", *carry_cols, "tk", F.size("tk").alias("n_tokens")),
        "substring tokens",
    )
    n_tokens = toks.select("doc_id", *carry_cols, "n_tokens")
    # Window starts 0..n-L. sequence(0, n-L) DESCENDS when n < L (the
    # functions/text lesson), so short docs are filtered out first.
    gram = F.array_join(
        F.expr(f"slice(tk, pos + 1, {int(min_len)})"), " "
    )
    occ = (
        toks.filter(F.col("n_tokens") >= min_len)
        .select(
            "doc_id",
            "tk",
            F.explode(
                F.sequence(F.lit(0), F.col("n_tokens") - min_len)
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(gram).alias("gh"),
            F.length(gram).cast("int").alias("glen"),
        )
    )
    dup_cond = (
        (F.countDistinct("doc_id") >= 2)
        if cross_doc_only
        else (F.count(F.lit(1)) >= min_count)
    )
    dup_grams = (
        occ.groupBy("gh", "glen")
        .agg(dup_cond.alias("__dup"))
        .filter(F.col("__dup"))
        .select("gh", "glen")
    )
    dup_occ = occ.join(dup_grams, ["gh", "glen"], "left_semi").select(
        "doc_id", "pos"
    )
    return dup_occ, n_tokens


def duplicated_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    min_count: int = 2,
    cross_doc_only: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document masked-span accounting for exact substring dedup.

    A token position is masked iff it is covered by some length-
    ``min_len`` window whose content occurs >= ``min_count`` times in
    the corpus (or, with ``cross_doc_only``, in >= 2 distinct docs —
    the decontamination-flavored variant that ignores intra-doc
    repetition). Returns one row per input doc:

      doc_id, n_tokens, dup_windows (duplicated window occurrences in
      this doc), masked_tokens, masked_runs (maximal contiguous masked
      spans), masked_frac.

    Interval union without materializing positions: windows at starts
    p sorted per doc contribute min(gap, L) new masked tokens each
    (L for the first); a gap > L closes a maximal run. Adjacent runs
    (gap == L exactly) merge — their masked tokens touch.
    """
    dup_occ, n_tokens = _dup_window_occurrences(
        docs, text_col, id_col, min_len, min_count, cross_doc_only,
        carry_cols,
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    per_doc = (
        dup_occ.select(
            "doc_id",
            "pos",
            F.coalesce(
                F.least(gap, F.lit(min_len)), F.lit(min_len)
            ).alias("__new_masked"),
            (gap.isNull() | (gap > min_len)).cast("int").alias("__new_run"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_windows"),
            F.sum("__new_masked").alias("masked_tokens"),
            F.sum("__new_run").alias("masked_runs"),
        )
    )
    zero = F.lit(0).cast("bigint")
    return n_tokens.join(per_doc, "doc_id", "left").select(
        "doc_id",
        *carry_cols,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("dup_windows").cast("bigint"), zero).alias(
            "dup_windows"
        ),
        F.coalesce(F.col("masked_tokens").cast("bigint"), zero).alias(
            "masked_tokens"
        ),
        F.coalesce(F.col("masked_runs").cast("bigint"), zero).alias(
            "masked_runs"
        ),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce(F.col("masked_tokens"), zero)
                / F.col("n_tokens"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("masked_frac"),
    )


def mask_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    min_count: int = 2,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Remove duplicated token runs (Lee et al.'s ExactSubstr cut):
    returns (doc_id, text_masked, masked_tokens) with every masked
    position's token dropped and the survivors re-joined on spaces.

    The per-doc merged runs are collected into an array (bounded by
    masked_runs — spans, not tokens) and the cut is a map-side indexed
    ``filter`` over the token array: O(tokens · runs) per doc, with
    runs small by construction. Docs with nothing masked pass through
    byte-identical (single-space tokenization assumed, as in H17).
    """
    dup_occ, _ = _dup_window_occurrences(
        docs, text_col, id_col, min_len, min_count, cross_doc_only
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    runs = (
        dup_occ.select(
            "doc_id",
            "pos",
            F.sum((gap.isNull() | (gap > min_len)).cast("int"))
            .over(w)
            .alias("__run_id"),
        )
        .groupBy("doc_id", "__run_id")
        .agg(
            F.min("pos").cast("int").alias("s"),
            (F.max("pos") + min_len - 1).cast("int").alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__runs")
        )
    )
    masked = F.coalesce(
        F.col("__runs"), F.array().cast("array<struct<s:int,e:int>>")
    )
    kept = F.filter(
        _tokens(text_col),
        lambda tok, i: ~F.exists(
            masked, lambda r: (i >= r["s"]) & (i <= r["e"])
        ),
    )
    n_toks = F.size(_tokens(text_col))
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("text_masked"),
            (n_toks - F.size(kept)).cast("bigint").alias("masked_tokens"),
        )
    )
