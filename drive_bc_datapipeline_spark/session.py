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

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DESCRIPTION = "spark.job.description"


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
        # AQE coalescing floor at the Spark default (1 MB), and
        # shuffled-hash joins preferred over sort-merge where their size
        # conditions hold. A/B history: OPTIMIZATION_r17.md §5.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.join.preferSortMergeJoin", "false")
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


def pin(df: DataFrame, label: str) -> DataFrame:
    """``df`` materialized once, now, for several consumers — THE one
    place a plan is pinned. The checkpoint's jobs (AQE runs each
    shuffle stage as a job of its own) carry the job description
    ``"<outer description> / <label>"`` (just ``label`` when none is
    set), so an event log or status store names the pin that launched
    them; the previous description comes back on every exit, a raise
    included. The job group is left alone: whoever counts jobs by group
    still finds the pin's jobs in its group.

    An eager ``localCheckpoint``, not ``cache()``: the checkpoint blocks
    are freed by the ContextCleaner once the returned frame is
    garbage-collected, while a ``cache()`` entry stays in the session's
    CacheManager until someone unpersists it — and a frame handed back
    lazily gives nobody that chance (one leaked entry per call). The
    checkpoint also cuts the lineage: every consumer plans against a
    ``LogicalRDD`` instead of re-executing the pinned subtree.
    """
    sc = df.sparkSession.sparkContext
    outer = sc.getLocalProperty(DESCRIPTION)
    sc.setLocalProperty(DESCRIPTION, f"{outer} / {label}" if outer else label)
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(DESCRIPTION, outer)


@contextmanager
def cached(*frames: DataFrame | None) -> Iterator[None]:
    """``cache()`` each of ``frames`` that is not cached yet (``None``
    entries are skipped) for the ``with`` block, and unpersist exactly
    those on every exit, a raise included; a frame the caller had
    cached already stays cached.

    For frames read again and again inside one call and released
    before it returns (an iteration's edge set, a training set every
    round scans). Unlike ``pin``'s checkpoint, whose ``LogicalRDD``
    drops the frame's output partitioning, a cached frame keeps its
    ``repartition`` layout, so consumers keyed the same way add no
    exchange; use ``pin`` for a frame that outlives the call.
    """
    owned = [f for f in frames if f is not None and f.storageLevel == StorageLevel.NONE]
    try:
        for f in owned:
            f.cache()
        yield
    finally:
        for f in owned:
            f.unpersist()
