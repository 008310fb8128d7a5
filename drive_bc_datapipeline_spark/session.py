"""SparkSession factory tuned for this engine.

Local test profile runs on ``local[N]``; the same builder settings are
what we would ship to a 1000-executor cluster (AQE, adaptive skew
handling, Arrow for the few Pandas-UDF operators). Shuffle partition
count is deliberately configurable: 32 for local sf0.1, but at 100 TB
you'd size it so post-shuffle partitions land near
``spark.sql.files.maxPartitionBytes`` (AQE coalescing then handles the
long tail).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "drive-bc-datapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism, per the driver
    contract. All settings are cluster-safe: on a real cluster the
    ``master`` is supplied by spark-submit and the local[] default is
    ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-plan, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE coalescing floor: left at the Spark default (1 MB),
        # env-overridable for A/B only. The r17 2x2 process A/B
        # (tools/ab_conf.py, 36-key subset, idle box) read the 64k
        # floor as a wash on the total (59.3/61.4 vs 58.8 for the
        # default-floor+SHJ arm) while consistently hurting the
        # iterative per-round-checkpoint keys (kcore_peeling 1.73 ->
        # 2.46/2.52 in both 64k arms): sub-MB post-shuffle partitions
        # buy parallelism on a few CPU-bound aggregations but pay
        # per-task scheduling on every one of an iterative plan's
        # shuffles. At 100 TB partitions are sized by
        # advisoryPartitionSizeInBytes and a sub-MB floor is pure
        # overhead, so the local default staying = cluster default is
        # also the honest scale story.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "1m"),
        )
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1, §9) — skips the
        # per-partition sorts; sort-merge remains the fallback when
        # the build side estimate is large. r17 2x2 process A/B
        # (idle, 36 keys, min-of-2-steady per key): default-floor+SHJ
        # 58.75s vs all-default 66.35s (-11%), with the join-heavy
        # TPC-H keys (q2/q5/q7/q8/q9/q21) and the candidate-join dedup
        # keys all improving and no key consistently worse across both
        # SHJ arms. Env-overridable so the two strategies can be A/B'd
        # process-vs-process (tools/ab_conf.py).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # Arrow for the few Pandas-UDF operators (multimodal, tile-DBSCAN).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dims at analytics SF are tiny; at 100 TB
        # the fact side never broadcasts, dims always do.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps in testdata are naive; keep session TZ stable so
        # hour/day derivations match the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """Python rows (model weights, lookup tables, results computed in
    Python) as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<python list>)`` plans a ``LogicalRDD`` over
    a ``PythonRDD``, so every scan of it starts Python-worker tasks. A
    ``pyarrow.Table`` is handed to the JVM whole and planned as a
    ``LocalTableScan``: no Python worker, and real size statistics for
    the optimizer. ``schema`` (a ``StructType`` or a DDL string) is
    kept exactly — names, types and nullability — and so is the row
    order; an empty ``rows`` gives an empty frame of that schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


@contextmanager
def scoped_conf(
    spark: SparkSession, confs: Mapping[str, str]
) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` block only — THE one
    copy of the save/set/restore pattern. On every exit, a raise
    included, each key gets its previous value back, or is unset again
    if the session had not set it, so later work in the session never
    inherits a scoped change."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
