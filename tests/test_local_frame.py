"""``session.local_frame``: Python rows as a JVM LocalRelation.

The helper replaces ``spark.createDataFrame(<python list>, schema)``
for every model table, lookup table and Python-computed result in the
package, so it must be a drop-in: the same values, the same declared
schema, the same row order — and a plan that never starts a Python
worker.
"""

from __future__ import annotations

import json
import math

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from drive_bc_datapipeline_spark.session import local_frame

ROWS = [
    (3, 2**40, 0.5, "b"),
    (None, None, None, None),
    (-1, -(2**62), float("nan"), ""),
    (2**31 - 1, 7, float("inf"), "ünïcode"),
    (-(2**31), 0, float("-inf"), "a b"),
    (0, 1, -0.0, "x"),
]
DDL = "i int, l bigint, d double, s string"


def _same(got, want) -> bool:
    """Exact equality that also tells NaN and -0.0 apart."""
    if isinstance(want, float):
        if math.isnan(want):
            return isinstance(got, float) and math.isnan(got)
        return got == want and math.copysign(1, got) == math.copysign(1, want)
    return got == want and type(got) is type(want)


def test_values_schema_and_order_round_trip(spark):
    df = local_frame(spark, ROWS, DDL)
    assert df.schema == StructType(
        [
            StructField("i", IntegerType()),
            StructField("l", LongType()),
            StructField("d", DoubleType()),
            StructField("s", StringType()),
        ]
    )
    got = [tuple(r) for r in df.collect()]
    assert len(got) == len(ROWS)
    for g, w in zip(got, ROWS):  # collect() order == input order
        assert all(_same(a, b) for a, b in zip(g, w)), (g, w)


def test_order_kept_across_partitions(spark):
    rows = [(i, f"r{i}") for i in range(5000, 0, -1)]
    df = local_frame(spark, rows, "k int, v string")
    assert [tuple(r) for r in df.collect()] == rows


def test_struct_schema_keeps_nullability(spark):
    schema = StructType(
        [
            StructField("round", IntegerType(), False),
            StructField("radius", DoubleType(), True),
        ]
    )
    df = local_frame(spark, [(0, None), (1, 2.5)], schema)
    assert df.schema == schema
    # the JVM side carries the same nullability, not only the Python
    # schema object the frame was built with
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == schema
    assert [tuple(r) for r in df.collect()] == [(0, None), (1, 2.5)]


def test_empty_rows_give_empty_frame_with_schema(spark):
    df = local_frame(spark, [], DDL)
    assert df.schema == local_frame(spark, ROWS, DDL).schema
    assert df.collect() == []


def test_plan_is_a_local_relation(spark):
    for rows in (ROWS, []):
        df = local_frame(spark, rows, DDL)
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan, plan
