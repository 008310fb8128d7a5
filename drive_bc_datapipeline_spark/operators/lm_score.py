"""Target-conditioned language-model scoring (the CCNet scorer).

H25/H37 score a corpus under ITS OWN token statistics
(self-perplexity — a repetition/fluency signal). The CCNet recipe
(Wenzek et al. 2020) needs the other direction: train the LM on a
HIGH-QUALITY reference corpus (their KenLM on Wikipedia), score the
raw corpus under it, then cut per domain — lower perplexity = closer
to the reference. This module is that scorer as a standalone
operator; its output column (``avg_nll``) is exactly what
``operators/domain_filter`` consumes, closing the CCNet triple:

    unigram_lm_table(reference) → score_docs_under_lm(corpus)
      → domain_threshold_table → apply_domain_bands / filter

The LM is an add-alpha-smoothed unigram table (the KenLM stand-in the
environment allows — no external LM libs; the Spark-side contract is
the point): logp(tok) = log2((n_tok + alpha) / (N + alpha·(V + 1))),
with the SAME formula's unseen-token mass as the OOV score, so the
distribution sums to 1 over V known types + one OOV bucket.

Scale shape: the table fit is ONE explode + partial-aggregable
groupBy over the REFERENCE corpus (vocabulary-bounded output).
Scoring is one explode + equi-join (AQE broadcasts a small
vocabulary; a web-scale vocabulary falls back to a hash join — both
fine, the join key is the token) + one partial-aggregable
groupBy(doc). Nothing corpus-scale is collected; the scalar
normalizers ride a 1-row cross join, the H25 shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.session import pin


def unigram_lm_table(
    ref: DataFrame,
    *,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Fit the smoothed unigram LM on the reference corpus: returns
    one row per vocabulary type ``(tok, logp)`` plus the scalar OOV
    mass as the single row ``(NULL, logp_oov)`` — one relation, so a
    consumer joins once and coalesces to the OOV row's value.

    Single-space tokenization (the corpus-wide H3/H25 convention);
    empty reference corpora fail loudly (an LM with no mass scores
    nothing meaningfully).
    """
    if alpha <= 0:
        raise ValueError(f"alpha={alpha}: add-alpha smoothing needs > 0")
    tk = ref.select(
        F.explode(F.split(text_col, " ")).alias("tok")
    ).filter(F.col("tok") != "")
    freq = tk.groupBy("tok").agg(F.count(F.lit(1)).alias("__n"))
    # vocabulary-bounded; consumed by the normalizer AND the logp
    # projection — pin it so the reference corpus tokenizes once
    freq = pin(freq, "unigram lm counts")
    if freq.isEmpty():  # cheap: reads the materialized checkpoint
        raise ValueError(
            "unigram_lm_table: empty reference corpus — the LM has "
            "no mass to score under"
        )
    totals = freq.agg(
        F.sum("__n").cast("double").alias("__tot"),
        F.count(F.lit(1)).cast("double").alias("__vocab"),
    )
    denom = F.col("__tot") + alpha * (F.col("__vocab") + 1.0)
    known = (
        freq.crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.log2((F.col("__n") + alpha) / denom).alias("logp"),
        )
    )
    oov = totals.select(
        F.lit(None).cast("string").alias("tok"),
        F.log2(F.lit(alpha) / denom).alias("logp"),
    )
    return known.unionByName(oov)


def unigram_oov_logp(lm: DataFrame) -> float:
    """The validated OOV-mass read: the LM table's single NULL-token
    row. ONE bounded collect — a long-lived consumer scoring many
    batches under one frozen table (the J12 streaming gate) calls
    this once and passes the scalar to the scorer, instead of paying
    the probe per micro-batch (r15 review catch)."""
    oov_rows = lm.filter(F.col("tok").isNull()).select("logp").collect()
    if len(oov_rows) != 1:
        raise ValueError(
            "the LM table must carry exactly one NULL-token OOV row "
            f"(got {len(oov_rows)}) — fit it with unigram_lm_table"
        )
    return float(oov_rows[0]["logp"])


def score_docs_under_lm(
    docs: DataFrame,
    lm: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_logp: float | None = None,
) -> DataFrame:
    """(id, n_toks, avg_nll) for every document with >= 1 token,
    under the reference LM: avg_nll = −mean(logp(tok)), OOV tokens
    taking the table's NULL-row mass. Token-less documents are
    DROPPED (the H25 convention — there is nothing to score; filter
    or handle them upstream, they would otherwise reach the
    domain-threshold fit as NULLs and fail it loudly).

    One explode + one equi-join on the token + one partial-aggregable
    groupBy(doc); the single OOV row rides in as a broadcast scalar.
    ``oov_logp``: pass ``unigram_oov_logp(lm)`` read once to skip the
    per-call probe when scoring many batches under one frozen table.
    """
    if oov_logp is None:
        oov_logp = unigram_oov_logp(lm)
    tk = docs.select(
        F.col(id_col),
        F.explode(F.split(text_col, " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    joined = tk.join(lm.filter(F.col("tok").isNotNull()), "tok", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (
                -F.sum(F.coalesce(F.col("logp"), F.lit(oov_logp)))
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )


def ngram_lm_table(
    ref: DataFrame,
    *,
    k: int,
    text_col: str = "text",
) -> DataFrame:
    """Fit the order-``k`` half of the target-conditioned backoff LM
    on the reference corpus (ONE generic fit for every order, ``k=2``
    the bigram table, ``k=3`` the trigram): tuple counts plus their
    context totals in ONE relation —

        (w1 .. wk,       n)  adjacent-k-tuple count c(w1 .. wk)
        (w1 .. NULL,     n)  context total c(w1 .. w_{k-1})

    Pure counting, the H37 in-row adjacent-tuple build: one explode
    over a transform of the token array (no windows, no self-joins);
    context totals aggregate from the vocabulary-bounded tuple counts,
    not a second corpus pass; no fit-time smoothing parameter, so no
    score-time knob can mismatch. Fails loudly on a reference with no
    ``k``-token document — a tuple-less table would degrade every
    order-``k`` term to the uniform constant while the caller
    believes it scores order ``k``.

    CCNet proper scores under a 5-gram KenLM (Wenzek et al. 2020);
    ``k=5`` with ``score_docs_under_ngram_chain`` is that order
    parity in the environment's no-external-LM terms.
    """
    if k < 2:
        raise ValueError(
            f"k={k}: the n-gram tables start at order 2 — fit order 1 "
            "with unigram_lm_table"
        )
    cols = [f"w{j}" for j in range(1, k + 1)]
    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    fields = ", ".join(f"'w{j + 1}', t[i + {j}]" for j in range(k))
    tuples = (
        ref.select(toks.alias("t"))
        .filter(F.size("t") >= k)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {k}), i -> "
                    f"named_struct({fields}))"
                )
            ).alias("u")
        )
        .select(*[f"u.{c}" for c in cols])
    )
    tc = tuples.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    # vocabulary-bounded; feeds the tuple rows AND the context totals
    tc = pin(tc, "ngram lm counts")
    if tc.isEmpty():  # cheap: reads the materialized checkpoint
        raise ValueError(
            f"ngram_lm_table(k={k}): no document in the reference has "
            f">= {k} tokens — an order-{k} table fit on it carries no "
            f"order-{k} signal; fit a lower order or fix the "
            "reference corpus"
        )
    ctx = tc.groupBy(*cols[:-1]).agg(
        F.lit(None).cast("string").alias(cols[-1]),
        F.sum("n").alias("n"),
    )
    return tc.unionByName(ctx)


def ngram_chain_stats(tables: list) -> tuple[float, float]:
    """(V, oov_logp) for the order-``len(tables)`` chain scorer, with
    the FULL same-reference validation chain (r17, one generic copy):
    the unigram table's single-OOV-row contract, then level by level
    every order-``m`` context (w1 .. w_{m-1}) must be an adjacent
    tuple of the order-``m-1`` table (for m=2: a unigram vocabulary
    word) — a stray context proves two tables were fit on different
    corpora (the detectable direction; a superset-corpus lower table
    passes). ``len(tables)`` bounded probes over vocabulary-sized
    model state — long-lived consumers (the J12 streaming gate) call
    ONCE and pass the result to the scorer.

    ``tables``: ``[unigram, order2, ..., orderK]`` — ``unigram`` from
    ``unigram_lm_table``, the rest from ``ngram_lm_table``.
    """
    if len(tables) < 2:
        raise ValueError(
            "the chain needs at least the unigram table and one "
            "n-gram table: [unigram, order2, ...]"
        )
    unigram = tables[0]
    probe = unigram.groupBy().agg(
        F.count(F.col("tok")).alias("v"),
        F.max(F.when(F.col("tok").isNull(), F.col("logp"))).alias("oov"),
        F.count(F.when(F.col("tok").isNull(), 1)).alias("n_oov_rows"),
    ).collect()[0]
    if probe["n_oov_rows"] != 1:
        raise ValueError(
            "the unigram table must carry exactly one NULL-token OOV "
            f"row (got {probe['n_oov_rows']}) — fit it with "
            "unigram_lm_table"
        )
    for m in range(2, len(tables) + 1):
        cols = [f"w{j}" for j in range(1, m + 1)]
        contexts = (
            tables[m - 1]
            .filter(F.col(cols[-1]).isNull())
            .select(*cols[:-1])
        )
        if m == 2:
            lower = unigram.filter(F.col("tok").isNotNull()).select(
                F.col("tok").alias("w1")
            )
        else:
            lower = (
                tables[m - 2]
                .filter(F.col(cols[-2]).isNotNull())
                .select(*cols[:-1])
            )
        stray = contexts.join(lower, cols[:-1], "left_anti").limit(
            1
        ).collect()
        if stray:
            got = tuple(stray[0][c] for c in cols[:-1])
            raise ValueError(
                f"order-{m} context {got!r} is not "
                + ("in the unigram vocabulary" if m == 2
                   else f"an adjacent tuple of the order-{m - 1} table")
                + " — the tables were fit on different references; "
                "fit every order on the same corpus"
            )
    return float(probe["v"]), float(probe["oov"])


def score_docs_under_ngram_chain(
    docs: DataFrame,
    tables: list,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    lam: float = 0.7,
    stats: tuple[float, float] | None = None,
) -> DataFrame:
    """(id, n_toks, avg_nll) under the interpolated backoff CHAIN of
    order ``k = len(tables)``, one ``lam`` per level (the
    Jelinek-Mercer recursion — r17's ONE generic scorer, deleting the
    r16 order-2/3 near-copies):

        p1(w)               = p_ug(w)                  (backoff base)
        pm(w | c_{m-1}..c1) = lam * pms + (1 - lam) * p_{m-1}

    where pms = (c(ctx w) + alpha) / (c(ctx) + alpha * (V + 1)) is
    the add-alpha-smoothed order-m conditional. Token i scores under
    the deepest chain its position allows (position 0 → p1, position
    1 → p2, …), so ``lam=0`` degrades exactly to the unigram scorer
    at ANY order and a tuple-less context degrades smoothly through
    the uniform term while the backoff carries the score. Same
    (id, n_toks, avg_nll) shape at every order: ``domain_filter``
    and the jobs consume any order unchanged.

    ``alpha`` smooths every conditional of order >= 2 (one value,
    the run_ccnet_prefilter convention); the unigram backoff keeps
    the logp baked at ITS fit — the documented contract of the r16
    scorers, unchanged.

    Plan: one explode carrying each token WITH its k-1 in-row
    contexts (no windows), ``2(k-1) + 1`` vocabulary-bounded left
    joins (tuple + context table per level, plus the unigram — AQE
    broadcasts them), one partial-aggregable groupBy(doc). The
    V/OOV scalars and the same-reference guards ride
    ``ngram_chain_stats`` — pass its result as ``stats`` when
    scoring many batches under one frozen model.
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam={lam}: interpolation weight is in [0, 1]")
    if alpha <= 0:
        raise ValueError(f"alpha={alpha}: add-alpha smoothing needs > 0")
    if len(tables) < 2:
        raise ValueError(
            "the chain needs at least the unigram table and one "
            "n-gram table: [unigram, order2, ...] — score order 1 "
            "with score_docs_under_lm"
        )
    if stats is None:
        stats = ngram_chain_stats(tables)
    v, oov_logp = float(stats[0]), float(stats[1])
    k = len(tables)

    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    ctx_fields = ", ".join(
        f"'c{m}', IF(i >= {m}, t[i - {m}], CAST(NULL AS STRING))"
        for m in range(1, k)
    )
    pos = (
        docs.select(F.col(id_col), toks.alias("t"))
        .filter(F.size("t") >= 1)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 1), i -> "
                    f"named_struct('w', t[i], {ctx_fields}))"
                )
            ).alias("u"),
        )
        .select(
            id_col,
            F.col("u.w").alias("w"),
            *[F.col(f"u.c{m}").alias(f"c{m}") for m in range(1, k)],
        )
    )
    j = pos
    for m in range(2, k + 1):
        cols = [f"w{j_}" for j_ in range(1, m + 1)]
        tab = tables[m - 1]
        # the order-m tuple rows: contexts c_{m-1}..c1 then the token
        tup = tab.filter(F.col(cols[-1]).isNotNull()).select(
            *[F.col(c).alias(f"__t{m}_{i}") for i, c in enumerate(cols)],
            F.col("n").alias(f"__nt{m}"),
        )
        tup_cond = F.lit(True)
        for i in range(m - 1):
            tup_cond = tup_cond & (
                F.col(f"c{m - 1 - i}") == F.col(f"__t{m}_{i}")
            )
        tup_cond = tup_cond & (F.col("w") == F.col(f"__t{m}_{m - 1}"))
        ctx = tab.filter(F.col(cols[-1]).isNull()).select(
            *[
                F.col(c).alias(f"__c{m}_{i}")
                for i, c in enumerate(cols[:-1])
            ],
            F.col("n").alias(f"__nc{m}"),
        )
        ctx_cond = F.lit(True)
        for i in range(m - 1):
            ctx_cond = ctx_cond & (
                F.col(f"c{m - 1 - i}") == F.col(f"__c{m}_{i}")
            )
        j = j.join(tup, tup_cond, "left").join(ctx, ctx_cond, "left")
    ug = tables[0].filter(F.col("tok").isNotNull()).select(
        F.col("tok").alias("__ut"), F.col("logp").alias("__ulogp"),
    )
    j = j.join(ug, F.col("w") == F.col("__ut"), "left")

    p_prev = F.pow(
        F.lit(2.0), F.coalesce(F.col("__ulogp"), F.lit(oov_logp))
    )
    branches: list = [(F.col("c1").isNull(), p_prev)]
    for m in range(2, k + 1):
        pms = (
            (F.coalesce(F.col(f"__nt{m}"), F.lit(0)).cast("double")
             + alpha)
            / (
                F.coalesce(F.col(f"__nc{m}"), F.lit(0)).cast("double")
                + alpha * (v + 1.0)
            )
        )
        p_m = lam * pms + (1.0 - lam) * p_prev
        if m < k:
            branches.append((F.col(f"c{m}").isNull(), p_m))
        p_prev = p_m
    p = F.when(*branches[0])
    for cond, val in branches[1:]:
        p = p.when(cond, val)
    p = p.otherwise(p_prev)
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (-F.sum(F.log2(p)) / F.count(F.lit(1))).alias("avg_nll"),
        )
    )

