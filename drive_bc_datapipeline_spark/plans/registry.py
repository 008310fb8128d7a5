"""Named-query registry: the single source of truth for the engine's
query surface.

Every capability row in SURVEY.md §2 registers here as
``(name, spark_fn, oracle_sql)``; ``__spark_entry__.py`` re-exports it
for the driver. Oracle SQL is ANSI DuckDB-runnable against the same
parquet tables (pre-registered views).

Cross-engine determinism rules (so the driver's order-insensitive
value-hash matches):
- alias every computed column identically on both sides;
- round double aggregates (``round(x, 2)`` money, ``round(x, 4)``
  ratios/averages) — both engines round half-away-from-zero for
  positive doubles;
- cast calendar parts (year/month/day/hour) to INT on both sides;
- make every top-k / rank deterministic with an explicit key tiebreak.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from drive_bc_datapipeline_spark.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# ---------------------------------------------------------------------------
# Driver-gate ordering.
#
# The round driver's CORRECTNESS gate checks only the FIRST
# ``GATE_WINDOW`` keys of ``queries()`` in dict order — fewer than the
# registry holds, so the ordering decides which keys get a driver row
# this round. Earlier rounds hand-maintained a pin list + stride
# rotation; that grew stale-coverage debt (round 6 pinned 41 keys and
# relaxed the staleness bound to 17 rounds). Round 7 replaces it with a
# self-maintaining scheme driven by the driver's own artifacts:
#
# 1. ``GATE_PIN`` is now a {key: min_green_round} dict of FORCED
#    re-verifications (a key whose plan changed must earn a fresh green
#    row). A pin auto-expires the moment the artifacts show a fully
#    green row for that key in a round >= min_green_round — no manual
#    r+1 cleanup, no possibility of a forgotten pin stretching the
#    rotation stride.
# 2. Every other key is ordered by STALENESS: never-driver-gated keys
#    first (so new queries always debut in their first round), then by
#    last-green round ascending (a key whose latest row failed sorts by
#    its older last-green, floating it back into the window), ties
#    broken alphabetically.
#
# Because each round's driver run stamps green rows for the whole
# window, the stalest tail advances by (GATE_WINDOW - active pins)
# keys per round, so full-registry coverage needs
# ceil(|registry| / GATE_WINDOW) rounds once pins expire —
# tests/test_registry.py simulates exactly this and asserts the 4-round
# bound. History comes from the CORRECTNESS_r*.json artifacts the
# driver leaves at the repo root (fixed within a round, so the order is
# deterministic; local pytest covers every key every run regardless).
# ---------------------------------------------------------------------------

GATE_WINDOW = 50

#: key -> earliest round whose green row satisfies the pin. Add an
#: entry when a query's PLAN changes materially (set it to the current
#: round + 1, i.e. the next driver round). Delete an entry once it has
#: expired (``active_pins()`` no longer lists it): an expired pin is
#: inert, and git history plus the CORRECTNESS_r*.json artifacts keep
#: the record of its re-verification.
GATE_PIN: dict[str, int] = {
    # round-19 replans: relations built from Python rows (prefix sums,
    # the bbox table, the PageRank result) are now JVM LocalRelations
    # (session.local_frame) instead of Python-RDD scans — the plans
    # read LocalTableScan where they read Scan ExistingRDD; results
    # unchanged. Found by diffing every key's formatted plan before
    # and after (`tools/measure.py dump`); no other key moved.
    "exact_auc_purchase": 19,
    "geo_bbox_contains": 19,
    "pagerank_type_graph": 19,
    "shard_packing": 19,
    "user_rfm_segments": 19,
}


def _repo_root() -> str:
    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _gate_history() -> dict[str, int]:
    """key -> most recent round with a fully green driver row.

    Parsed from the CORRECTNESS_r*.json artifacts at the repo root.
    Keys absent from every artifact have never been driver-gated.
    """
    import glob
    import json

    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json")):
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            rows = json.load(open(path))
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for key, row in rows.items():
            ok = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                # hash_match is None for rows-only (oracle-less) checks;
                # only an explicit False is a failure.
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if ok and rnd > last_green.get(key, -1):
                last_green[key] = rnd


    return last_green


def active_pins(history: dict[str, int] | None = None) -> list[str]:
    """Pins not yet satisfied by a green row at >= their min round."""
    hist = _gate_history() if history is None else history
    return [
        k
        for k, min_rnd in GATE_PIN.items()
        if k in QUERIES and hist.get(k, -1) < min_rnd
    ]


def ordered_queries(
    history: dict[str, int] | None = None,
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES re-keyed for the driver gate: never-gated debuts first,
    then unexpired pins, then everything else stalest-first.

    ``history`` injects a synthetic last-green map (tests simulate
    multi-round rotation with it); default reads the driver artifacts.
    """
    hist = _gate_history() if history is None else history
    pinned = active_pins(hist)
    # Debuts outrank pins: a never-gated key has NO driver row at all,
    # while a pinned key has history and its pin stays active until a
    # satisfying green row lands — a pin squeezed out of a full window
    # simply floats into the next round's. This keeps a debut-heavy
    # round (round 7 pays 46 at once) from re-creating never-gated
    # debt just because plans changed elsewhere.
    debuts = sorted(k for k in QUERIES if k not in hist)
    pinned = [k for k in pinned if k not in debuts]
    rest = sorted(
        (k for k in QUERIES if k not in pinned and k not in debuts),
        key=lambda k: (hist.get(k, -1), k),
    )
    return {k: QUERIES[k] for k in [*debuts, *pinned, *rest]}

# ---------------------------------------------------------------------------
# Cross-engine safe rounding.
#
# Aggregates of decimal-grid data can land EXACTLY on a rounding half
# (e.g. a centroid of -25.25625): the unrounded doubles then differ
# between engines by summation-order noise (~1e-13) and round() flips
# the last digit. The fix: nudge by an epsilon far above fp noise but
# far below the output precision, identically in both engines, so no
# true value can sit on a boundary. Use the _sql twins in oracle text.
# ---------------------------------------------------------------------------

EPS2 = 1e-5  # for ROUND(x, 2): >> cross-engine noise, << 0.005 boundary gap
EPS4 = 1e-9  # for ROUND(x, 4) and ROUND(x, 6)


def r2(col):
    from pyspark.sql import functions as F

    return F.round(col + EPS2, 2)


def r4(col):
    from pyspark.sql import functions as F

    return F.round(col + EPS4, 4)


def r6(col):
    from pyspark.sql import functions as F

    return F.round(col + EPS4, 6)


def r2_sql(expr: str) -> str:
    return f"ROUND(({expr}) + {EPS2!r}, 2)"


def r4_sql(expr: str) -> str:
    return f"ROUND(({expr}) + {EPS4!r}, 4)"


def r6_sql(expr: str) -> str:
    return f"ROUND(({expr}) + {EPS4!r}, 6)"


def query(name: str, oracle: str | None = None):
    """Register a named query (and optionally its DuckDB oracle)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: (session id, path, mtime_ns, size) -> (session, lazy DataFrame).
#: METADATA memo only: a DataFrame is an unresolved plan, so every
#: action against a memoized frame still scans the parquet — nothing
#: here caches results or intermediates. What it skips is the
#: ``spark.read.parquet`` footer read + file listing that each of the
#: ~252 ``t()`` calls per bench pass repaid for the same 10 static
#: files (~40-80ms each — r17 micro-bench, tens of seconds across the
#: 3-pass bench). The stat() in the key invalidates the entry if a
#: file is rewritten in place (tmp-dir test fixtures), and keying on
#: the session object keeps frames from leaking across sessions. The
#: 100 TB analogue is the catalog/file-index cache every real
#: metastore-backed table already has (guide §6: avoid re-listing).
#:
#: Granularity caveat (r17 ADVICE): the stat is on the ``.parquet``
#: PATH the engine reads. For the single-file testdata that is the
#: data file itself; if a DIRECTORY-shaped dataset were rewritten by
#: mutating a part file in place without touching the directory entry
#: (no create/rename/delete), the dir mtime/size can stay equal and a
#: stale frame would be served — rewrite via fresh filenames (what
#: Spark/DuckDB writers do) to invalidate.
#:
#: Bounded (r17 ADVICE): a long-lived process cycling many sessions
#: (pytest) would otherwise accumulate strong references to stopped
#: SparkSessions and their JVM-backed frames forever. FIFO-evict past
#: ``_TCACHE_MAX`` — far above the ~10 live (session, table) pairs a
#: bench or suite holds, so eviction never hits the hot path.
_TCACHE: dict[tuple[int, str, int, int], tuple[SparkSession, DataFrame]] = {}
_TCACHE_MAX = 64


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (lazy parquet scan, metadata-memoized).

    ``events.ts`` is normalized to TIMESTAMP(µs) regardless of the
    on-disk encoding (µs timestamps pass through; NANOS files are read
    as raw longs and truncated) — see ``tables.read_events``.

    Shared-object contract (r17 ADVICE): repeated ``t()`` calls for
    one table return the IDENTICAL DataFrame object. A plan that joins
    a table to itself with column-object predicates
    (``df1[c] == df2[c]``) would hit Spark's ambiguous-self-join
    analysis; use ``.alias()`` on each side (as the existing self-join
    plans do) — do not rely on two ``t()`` calls producing independent
    lineage.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (id(spark), path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        hit = _TCACHE.get(key)
        # identity check guards against id() reuse after a session GC
        if hit is not None and hit[0] is spark:
            return hit[1]
    df = load_table(spark, sf_dir, name)
    if key is not None:
        while len(_TCACHE) >= _TCACHE_MAX:
            _TCACHE.pop(next(iter(_TCACHE)))
        _TCACHE[key] = (spark, df)
    return df


def load_all_plans() -> None:
    """Import every plans module so registration side-effects run."""
    from drive_bc_datapipeline_spark.plans import (  # noqa: F401
        catalog,
        documents,
        embeddings,
        events,
        geo,
        ml,
        multimodal,
        tpch,
    )
