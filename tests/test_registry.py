"""Registry invariants: oracle coverage and gate-window rotation."""

from __future__ import annotations

from drive_bc_datapipeline_spark.plans import registry

registry.load_all_plans()


def test_every_query_has_an_oracle():
    """The driver's correctness gate is only as strong as oracle
    coverage — a registered query without an oracle silently downgrades
    to a rows-only check. As of round 4 every query has one; keep it
    that way (add here deliberately if a future op is truly
    non-SQL-expressible)."""
    missing = sorted(set(registry.QUERIES) - set(registry.ORACLES))
    assert missing == []


def test_debuts_then_pins_lead_the_window():
    """Ordering contract: never-gated debuts first (a debut has NO
    driver row at all), then unexpired pins (a pin squeezed out of a
    full window floats into the next round), then stalest-first."""
    hist = registry._gate_history()
    ordered = list(registry.ordered_queries())
    debuts = sorted(k for k in registry.QUERIES if k not in hist)
    pinned = [
        k for k in registry.active_pins(hist)
        if k in registry.QUERIES and k not in debuts
    ]
    assert ordered[: len(debuts)] == debuts
    assert ordered[len(debuts): len(debuts) + len(pinned)] == pinned
    assert len(debuts) <= registry.GATE_WINDOW
    assert set(ordered) == set(registry.QUERIES)


def test_rotation_covers_every_query_within_bound():
    """Simulate the staleness-driven rotation forward from the real
    driver artifacts: each simulated round stamps a green row for every
    key in that round's window, so debuts and the stalest tail advance
    by GATE_WINDOW keys per round. Every registered key must earn a
    green row within 4 rounds — the steady-state coverage budget
    (round 6's hand-pinned scheme let this stretch to 17; the
    artifact-driven ordering restores the bound structurally). If the
    registry outgrows 4 * GATE_WINDOW keys this fails: raise the bound
    deliberately or trim the registry, don't let it drift."""
    hist = dict(registry._gate_history())
    start = max(hist.values(), default=0) + 1
    uncovered = set(registry.QUERIES)
    rounds = 0
    while uncovered and rounds < 10:
        window = list(registry.ordered_queries(history=hist))[
            : registry.GATE_WINDOW
        ]
        for k in window:
            hist[k] = start + rounds
        uncovered -= set(window)
        rounds += 1
    assert not uncovered, f"rotation never reaches {sorted(uncovered)[:5]}..."
    assert rounds <= 4, (
        f"gate rotation needs {rounds} rounds to cover "
        f"{len(registry.QUERIES)} keys; budget is 4"
    )


def test_pins_expire_on_green_row():
    """A GATE_PIN entry must stop occupying a window slot the moment
    the artifacts show a green row at >= its min round — expired pins
    are inert, so the rotation stride self-restores without manual
    cleanup."""
    if not registry.GATE_PIN:
        return
    key, min_rnd = next(iter(registry.GATE_PIN.items()))
    assert key in registry.active_pins({key: min_rnd - 1})
    assert key not in registry.active_pins({key: min_rnd})


def test_debuts_lead_the_unpinned_window():
    """Never-driver-gated keys must sort ahead of every gated key so a
    new query always debuts in its first driver round."""
    hist = registry._gate_history()
    ordered = list(registry.ordered_queries(history=hist))
    pinned = set(registry.active_pins(hist))
    tail = [k for k in ordered if k not in pinned]
    seen_gated = False
    for k in tail:
        if k in hist:
            seen_gated = True
        else:
            assert not seen_gated, f"debut {k} sorted after a gated key"


def test_rotation_is_deterministic_within_a_round():
    assert list(registry.ordered_queries()) == list(registry.ordered_queries())


def test_every_query_output_is_atomic(spark):
    """The external correctness gate canonicalizes results with pandas
    hashing, which crashes on array/map/struct cells (round-3's only
    hard error was an array<double> column). Every registered query
    must emit atomic columns only — nested features belong serialized
    (JSON/signature) before they reach the output schema."""
    from pyspark.sql.types import AtomicType

    from tests.conftest import SF_SMOKE

    offenders = []
    for name, fn in registry.QUERIES.items():
        schema = fn(spark, SF_SMOKE).schema
        for field in schema.fields:
            if not isinstance(field.dataType, AtomicType):
                offenders.append((name, field.name, str(field.dataType)))
    assert offenders == []


def test_gate_pin_literal_has_no_duplicate_keys():
    """r11 shipped GATE_PIN with the same key at two values (Python
    silently keeps the later one — F601-class noise the r11 verdict
    flagged); expired pins must move into comments, not shadowed
    literals. Parse the source so the gate catches the bug class, not
    the runtime dict it hides in."""
    import ast
    import collections
    import inspect

    from drive_bc_datapipeline_spark.plans import registry as reg_mod

    tree = ast.parse(inspect.getsource(reg_mod))
    dup_sets = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = [
                k.value
                for k in node.keys
                if isinstance(k, ast.Constant)
            ]
            dups = [
                k for k, c in collections.Counter(keys).items() if c > 1
            ]
            if dups:
                dup_sets.append(dups)
    assert dup_sets == []


def test_t_memoizes_metadata_and_invalidates_on_rewrite(spark, tmp_path):
    """r17: t() memoizes the LAZY DataFrame per (session, path, mtime,
    size) — repeated calls skip the parquet footer re-read but every
    action still scans the files (the memo holds an unresolved plan,
    not results), and rewriting the file in place invalidates the
    entry via the stat in the key."""
    import time

    sf_dir = str(tmp_path)
    path = f"{sf_dir}/part.parquet"
    spark.range(3).toDF("p_partkey").write.mode("overwrite").parquet(path)

    df1 = registry.t(spark, sf_dir, "part")
    assert registry.t(spark, sf_dir, "part") is df1  # memo hit
    assert df1.count() == 3  # actions compute from the files

    time.sleep(0.05)  # ensure the rewrite lands a new mtime_ns
    spark.range(5).toDF("p_partkey").write.mode("overwrite").parquet(path)
    df2 = registry.t(spark, sf_dir, "part")
    assert df2 is not df1  # stat change invalidated the memo
    assert df2.count() == 5  # fresh read reflects the rewrite


def test_tcache_is_bounded(spark, tmp_path, monkeypatch):
    """r18 (r17 ADVICE): the t() metadata memo FIFO-evicts past
    _TCACHE_MAX so a long-lived process cycling sessions/tables can't
    accumulate JVM-backed frames forever; evicted entries simply
    re-read footers on the next call (still correct)."""
    import time

    monkeypatch.setattr(registry, "_TCACHE_MAX", 4)
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/part.parquet"
    n_writes = 7
    for i in range(n_writes):
        spark.range(i + 1).toDF("p_partkey").write.mode(
            "overwrite"
        ).parquet(path)
        registry.t(spark, sf_dir, "part")
        time.sleep(0.005)  # distinct mtime_ns per rewrite
    assert len(registry._TCACHE) <= 4
    # an evicted entry re-loads on demand (fresh object, correct rows)
    assert registry.t(spark, sf_dir, "part").count() == n_writes


def test_pair_memo_drops_entries_of_other_applications(spark, monkeypatch):
    """A process runs one SparkContext at a time, so a memo entry keyed
    by another applicationId is dead: the next build drops it, and the
    live entry is reused without building again."""
    from drive_bc_datapipeline_spark.plans import documents

    memo = {("stale-app", "sf", "k"): object()}
    monkeypatch.setattr(documents, "_PAIR_MEMO", memo)
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    df = documents._memo_pairs(spark, "sf", "k", build)
    live = (spark.sparkContext.applicationId, "sf", "k")
    assert list(memo) == [live]
    assert df.count() == 3
    assert documents._memo_pairs(spark, "sf", "k", build) is df
    assert builds == [1]
