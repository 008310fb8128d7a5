"""Session helpers: the scoped conf change, the one pin primitive and
the one scoped cache, plus the rule that no other module picks between
checkpoint and cache itself."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import drive_bc_datapipeline_spark
from drive_bc_datapipeline_spark.session import DESCRIPTION, cached, pin, scoped_conf

ABSENT = "spark.drive_bc.test.scoped_absent"
PRESENT = "spark.drive_bc.test.scoped_present"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """Inside the block both keys carry the scoped values; afterwards
    the key that was unset is unset again and the key that was set has
    its old value back — on a normal exit and after a raise."""
    spark.conf.set(PRESENT, "before")
    try:
        assert spark.conf.get(ABSENT, None) is None
        with scoped_conf(spark, {ABSENT: "1", PRESENT: "2"}):
            assert spark.conf.get(ABSENT) == "1"
            assert spark.conf.get(PRESENT) == "2"
        assert spark.conf.get(ABSENT, None) is None
        assert spark.conf.get(PRESENT) == "before"

        with pytest.raises(RuntimeError, match="inside the block"):
            with scoped_conf(spark, {ABSENT: "3", PRESENT: "4"}):
                assert spark.conf.get(ABSENT) == "3"
                raise RuntimeError("inside the block")
        assert spark.conf.get(ABSENT, None) is None
        assert spark.conf.get(PRESENT) == "before"
    finally:
        spark.conf.unset(PRESENT)


def test_get_spark_ships_the_join_and_coalescing_confs(spark):
    """The session prefers shuffled-hash joins and keeps AQE's
    coalescing floor at the Spark default; both are fixed in get_spark,
    with no env override."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        == "1m"
    )


GROUP = "session-test-pin"


@pytest.fixture
def pin_group(spark):
    """A job group with description ``"outer"`` on this thread, removed
    again afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "outer")
    yield sc
    for prop in ("spark.jobGroup.id", DESCRIPTION, "spark.job.interruptOnCancel"):
        sc.setLocalProperty(prop, None)


def _descriptions(sc, seen: set[int]) -> list[str]:
    """Descriptions of the group's jobs not in ``seen``, read from the
    status store (which the UI being off does not disable)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ids = set(sc.statusTracker().getJobIdsForGroup(GROUP)) - seen
    return sorted(jsc.statusStore().job(i).description().get() for i in ids)


def test_pin_names_its_job_and_restores_the_description(spark, pin_group):
    """The pin's one job runs in the caller's job group, described as
    ``"<outer> / <label>"``; the outer description comes back after a
    normal return and after a raise, and the group is never touched."""
    sc = pin_group
    seen = set(sc.statusTracker().getJobIdsForGroup(GROUP))
    pinned = pin(spark.range(10), "ten rows")
    assert _descriptions(sc, seen) == ["outer / ten rows"]
    assert sc.getLocalProperty(DESCRIPTION) == "outer"
    assert sc.getLocalProperty("spark.jobGroup.id") == GROUP
    assert pinned.count() == 10

    with pytest.raises(Exception, match="pin-boom"):
        pin(spark.range(1).select(F.raise_error(F.lit("pin-boom"))), "raises")
    assert sc.getLocalProperty(DESCRIPTION) == "outer"
    assert sc.getLocalProperty("spark.jobGroup.id") == GROUP


def test_pin_without_an_outer_description_uses_the_label(spark, pin_group):
    sc = pin_group
    sc.setLocalProperty(DESCRIPTION, None)
    seen = set(sc.statusTracker().getJobIdsForGroup(GROUP))
    pin(spark.range(3), "bare label")
    assert _descriptions(sc, seen) == ["bare label"]
    assert sc.getLocalProperty(DESCRIPTION) is None


def test_cached_releases_only_its_own_frames(spark):
    """``cached`` caches what is not cached yet and releases exactly
    that on every exit: a frame the caller cached stays cached."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    mine = spark.range(5).selectExpr("id * 2 AS x")
    callers = spark.range(7).selectExpr("id * 3 AS y").cache()
    try:
        n0 = cache_manager.numCachedEntries()
        with cached(mine, callers, None):
            assert mine.storageLevel != StorageLevel.NONE
            assert cache_manager.numCachedEntries() == n0 + 1
        assert mine.storageLevel == StorageLevel.NONE
        assert callers.storageLevel != StorageLevel.NONE

        with pytest.raises(RuntimeError, match="inside the block"):
            with cached(mine, callers):
                assert mine.count() == 5
                raise RuntimeError("inside the block")
        assert mine.storageLevel == StorageLevel.NONE
        assert callers.storageLevel != StorageLevel.NONE
        assert cache_manager.numCachedEntries() == n0
    finally:
        callers.unpersist()


PACKAGE = pathlib.Path(drive_bc_datapipeline_spark.__file__).parent
MATERIALIZE = {"localCheckpoint", "cache", "persist", "unpersist"}
#: (module, top-level function, call) of the materializations that stay
#: explicit outside session.py, each for the reason at its call site
EXPLICIT = {
    # lazy lineage truncations: the round's count materializes them
    ("operators/graph.py", "connected_components", "localCheckpoint"),
    ("operators/graph.py", "connected_components_lsss", "localCheckpoint"),
    # the rolling cur/prev state chain
    ("operators/ml.py", "kcenter_coreset", "persist"),
    ("operators/ml.py", "kcenter_coreset", "unpersist"),
    # the prefilter the gate hands to the writer as aux for release
    ("streaming/pipeline.py", "staged_gate", "persist"),
    ("streaming/pipeline.py", "staged_gate", "unpersist"),
    ("streaming/pipeline.py", "gate_batch_writer", "unpersist"),
}


def test_only_session_picks_checkpoint_or_cache():
    """Every localCheckpoint/cache/persist/unpersist call in the package
    sits in session.py (``pin``, ``cached``) or at one of the explicit
    sites above, and the graph truncations stay lazy."""
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        if module == "session.py":
            continue
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in MATERIALIZE
                ):
                    continue
                site = (module, getattr(top, "name", None), node.func.attr)
                lazy = any(
                    k.arg == "eager" and getattr(k.value, "value", None) is False
                    for k in node.keywords
                )
                if site not in EXPLICIT or (
                    node.func.attr == "localCheckpoint" and not lazy
                ):
                    stray.append(f"{module}:{node.lineno} {node.func.attr}")
    assert not stray, f"materialize through session.pin / session.cached: {stray}"
