"""Distributed prefix sum (exclusive running total) — the two-phase
shape that makes order-dependent cumulatives scale.

A naive cumulative sum is `SUM(x) OVER (ORDER BY k)`: one global
ordering → Spark plans a SINGLE-partition window, and at 100 TB one
task owns the entire dataset. The scalable form is the classic
parallel scan:

  1. range-partition + sort by the ordering key (one shuffle — the
     same cost any global sort pays);
  2. per-partition totals (one tiny job: |partitions| numbers to the
     driver — bounded by cluster parallelism, not data);
  3. exclusive prefix of those totals broadcast back; each partition
     adds its offset while scanning locally in order.

Exactness: integer sums are associative, so the two-phase result is
bit-identical to the sequential scan — PROVIDED phases 2 and 3 see
the same partitioning. ``repartitionByRange`` samples its range
boundaries per job (the sample seed depends on the RDD id of each
execution), so a lazily re-executed lineage can land rows in
different partitions between the totals-collect job and the final
job, silently corrupting the offsets. We therefore pin ONE
materialization (``session.pin``) before collecting totals: both
jobs then read identical blocks. The materialization is the same
order of cost as the sort shuffle the scan already pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from drive_bc_datapipeline_spark.session import local_frame, pin


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
    with_total: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Add ``out_col`` = sum of ``value_col`` over all rows STRICTLY
    before this one in ``order_col`` order (exclusive scan).

    ``order_col`` must be unique (it defines the scan order). Output
    keeps all input columns.

    ``with_total=True`` returns ``(df, total)`` where ``total`` is the
    grand sum of ``value_col`` — phase 2 already accumulates it on the
    driver, so callers that need the total (e.g. rank/NTILE arithmetic)
    get it without an extra aggregation job.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, F.col(order_col)).sortWithinPartitions(
        order_col
    )
    # Pin the partitioning: repartitionByRange re-samples boundaries on
    # every job, so without this the __pid->offset map from the totals
    # job would be applied to DIFFERENT partition contents in the final
    # job (observed: ~87% wrong prefix values at 5k rows). The pin
    # truncates lineage so both jobs read one frozen set of blocks.
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    with_pid = pin(with_pid, "prefix-sum partitions")

    # phase 2: per-partition totals — |partitions| rows to the driver
    totals = {
        r["__pid"]: r["t"]
        for r in with_pid.groupBy("__pid")
        .agg(F.coalesce(F.sum(value_col), F.lit(0)).alias("t"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    # phase 3: local running total + broadcast offset join on __pid
    # (a hash-literal expression would also work but grows linearly in
    # the plan; a broadcast of |partitions| rows stays O(1) plan-side).
    # The local window partitions by __pid, so no second exchange:
    # data is already range-partitioned and locally sorted.
    spark = df.sparkSession
    offsets_df = local_frame(
        spark,
        [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
        "__pid INT, __offset BIGINT",
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0))
    out = (
        with_pid.join(F.broadcast(offsets_df), "__pid", "left")
        .withColumn(
            out_col,
            (local + F.coalesce(F.col("__offset"), F.lit(0))).cast("bigint"),
        )
        .drop("__pid", "__offset")
    )
    return (out, acc) if with_total else out
