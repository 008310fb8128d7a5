"""Session helpers that touch only the session's conf: no Spark job."""

from __future__ import annotations

import pytest

from drive_bc_datapipeline_spark.session import scoped_conf

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
