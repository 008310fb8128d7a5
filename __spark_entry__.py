"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose the full registry from
``drive_bc_datapipeline_spark.plans`` (SURVEY.md §2 inventory).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from drive_bc_datapipeline_spark.plans import registry
from drive_bc_datapipeline_spark.plans.registry import ORACLES, QUERIES

registry.load_all_plans()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented capability from SURVEY.md §2.

    Key order is ``registry.ordered_queries()``: never-gated debuts,
    then active ``GATE_PIN`` re-verifications, then the rest
    stalest-first — the driver's correctness gate reads the first 50
    keys, so new and re-planned queries land in that window.
    """
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query."""
    ordered = registry.ordered_queries()
    return {k: ORACLES[k] for k in ordered if k in ORACLES}
