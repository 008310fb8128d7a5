"""tools/measure.py: the timing protocol, the conf A/B's restore and arm
order, and the key check that runs before any Spark session starts."""

from __future__ import annotations

import importlib.util
import os

import pytest

from drive_bc_datapipeline_spark.plans import registry
from tests.conftest import SF_SMOKE as SF

registry.load_all_plans()

KEY = "ann_cosine_topk"
PRESENT = "spark.drive_bc.test.measure_present"
ABSENT = "spark.drive_bc.test.measure_absent"


def _load_measure():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "measure.py",
    )
    spec = importlib.util.spec_from_file_location("measure", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


measure = _load_measure()


@pytest.fixture
def fresh_job_group(spark):
    """run_key leaves its job group on the thread; give the shared
    session back without it."""
    yield
    sc = spark.sparkContext
    for prop in ("spark.jobGroup.id", "spark.job.description",
                 "spark.job.interruptOnCancel"):
        sc.setLocalProperty(prop, None)


def test_time_reports_cold_samples_min_and_jobs(spark, fresh_job_group):
    (row,) = measure.time_keys(spark, [KEY], SF, passes=2)
    assert row["key"] == KEY
    assert isinstance(row["cold"], float)
    assert len(row["samples"]) == 2
    assert row["min"] == min(row["samples"])
    assert row["jobs"] >= 1


def _raises(spark, sf_dir):
    raise RuntimeError("key failed")


@pytest.mark.parametrize("conf", [PRESENT, ABSENT])
def test_ab_restores_the_conf(spark, monkeypatch, fresh_job_group, conf):
    """Each arm runs inside scoped_conf: a key that was set gets its old
    value back, one that was unset is unset again — after a normal run
    and after a key that raises."""
    if conf == PRESENT:
        spark.conf.set(PRESENT, "before")
    expected = "before" if conf == PRESENT else None
    try:
        (row,) = measure.ab_keys(spark, conf, ["x", "y"], [KEY], SF, passes=1)
        assert row["verdict"] in ("A clearly", "B clearly", "wash")
        assert set(row["min"]) == {"A=x", "B=y"}
        assert spark.conf.get(conf, None) == expected

        monkeypatch.setitem(registry.QUERIES, "raising_key", _raises)
        with pytest.raises(RuntimeError, match="key failed"):
            measure.ab_keys(spark, conf, ["x", "y"], ["raising_key"], SF, passes=1)
        assert spark.conf.get(conf, None) == expected
    finally:
        spark.conf.unset(PRESENT)


def test_ab_alternates_arm_order_each_pass(spark, monkeypatch):
    seen = []

    def fake_run_key(spark_, key, sf_dir):
        seen.append(spark_.conf.get(ABSENT))
        return 0.0, 0.1

    monkeypatch.setattr(measure, "run_key", fake_run_key)
    measure.ab_keys(spark, ABSENT, ["a", "b"], [KEY], SF, passes=4)
    assert seen == ["a", "b", "b", "a", "a", "b", "b", "a"]


@pytest.mark.parametrize(
    "argv",
    [
        ["time", KEY, "no_such_key"],
        ["ab", "--conf", f"{ABSENT}=a,b", "no_such_key"],
        ["ab", "--conf", ABSENT, KEY],
        ["profile", "no_such_key"],
        ["dump", "1", "check", "no_such_key"],
        ["verify", SF, "no_such_key"],
    ],
)
def test_bad_arguments_exit_before_any_session(monkeypatch, argv):
    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(measure, "get_spark", no_session)
    with pytest.raises(SystemExit):
        measure.main(argv)


def test_dump_masks_the_run_counters():
    """Two dumps of one commit differ in run counters: each is replaced
    by a fixed token, and expression ids are renumbered in order of
    first appearance, so the plan's structure is all that is left."""
    plan = (
        "Exchange hashpartitioning(o_orderkey#812L, x#97, 8), [plan_id=731]\n"
        "Input [2]: [x#97, o_orderkey#812L]\n"
        f"Location: file:{measure.REPO}/w/gate_orders__local-1760912345678/p\n"
        "PushedFilters: [IsNotNull(path)] /tmp/spark_graft_stream_k2x_9ab/src\n"
    )
    assert measure.mask_run_counters(plan) == (
        "Exchange hashpartitioning(o_orderkey#0L, x#1, 8), [plan_id=<n>]\n"
        "Input [2]: [x#1, o_orderkey#0L]\n"
        "Location: file:<repo>/w/gate_orders__local-<app>/p\n"
        "PushedFilters: [IsNotNull(path)] /tmp/spark_graft_stream_<tmp>/src\n"
    )


def test_profile_prints_each_jobs_description(capsys):
    log = {
        "jobs": {
            3: {"group": KEY, "submit": 10.0, "end": 10.5, "stages": [7]},
            4: {"group": KEY, "submit": 10.6, "end": 11.0, "stages": []},
            5: {"group": "other", "submit": 10.6, "end": 11.0, "stages": []},
        },
        "stages": {7: {"tasks": 4, "run_s": 1.0, "max_task_s": 0.3,
                       "shuffle_write_bytes": 10, "input_bytes": 20}},
    }
    measure.print_profile(
        [(KEY, 10.0, 0.55, 1.2)], log, {3: f"{KEY} / shingles", 4: KEY}
    )
    out = capsys.readouterr().out.splitlines()
    assert out[1] == f"  job 3: 0.500s  {KEY} / shingles"
    assert out[3] == f"  job 4: 0.400s  {KEY}"
    assert not any("job 5" in line for line in out)
