"""Catalog serving layer (SURVEY §2 K: catalog DDL parity).

Reference parity: athena.sql:1-17 — the reference's entire serving
layer is `CREATE DATABASE` + `CREATE EXTERNAL TABLE ... STORED AS
PARQUET LOCATION ...` followed by aggregate queries addressed BY
CATALOG NAME (not by path). Here the same lifecycle runs through
Spark's catalog: `saveAsTable` registers a partitioned parquet table
in the metastore, `spark.table(name)` re-reads it, and a
partition-value filter prunes at plan time (`PartitionFilters` in the
scan node — asserted by tests/test_catalog.py).

100 TB notes:
- Partitioning on the query-predicate column (event_type here; date in
  a time-series deployment) turns every BI filter into a directory
  prune — the scan touches 2/5ths of the corpus below, and a
  date-partitioned table touches 1/365th per day-query.
- `saveAsTable` writes once; every downstream consumer (SQL, BI,
  DataFrame) shares the single catalog entry instead of re-declaring
  paths — exactly the Athena/Glue split the reference relies on.
- The write itself is a one-pass repartition-free append per
  partition; at scale you'd add `maxRecordsPerFile` (sources/io.py)
  to bound file sizes under skewed partition values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.plans.registry import query, r2, r2_sql, t

CATALOG_DB = "analytics"
CATALOG_TABLE = f"{CATALOG_DB}.events_by_type"

CATALOG_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {r2_sql("SUM(value)")} AS total_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
"""


def _table_location(table: str) -> str:
    """Explicit EXTERNAL-table location under the repo's warehouse dir.

    Derived from this module's path, NOT the session's
    spark.sql.warehouse.dir: that conf defaults to the calling
    process's cwd, and an external driver running from elsewhere would
    otherwise scatter managed-table data outside the repo."""
    pkg_root = os.path.dirname(  # .../drive_bc_datapipeline_spark
        os.path.dirname(os.path.abspath(__file__))
    )
    repo_root = os.path.dirname(pkg_root)
    return os.path.join(repo_root, "spark-warehouse", table.replace(".", "_"))


def create_events_table(
    spark: SparkSession, events: DataFrame, table: str = CATALOG_TABLE
) -> None:
    """athena.sql:1-17 DDL twin: register `events` as an EXTERNAL
    parquet table (explicit LOCATION, like the reference's `CREATE
    EXTERNAL TABLE ... LOCATION 's3://...'`) partitioned by event_type
    (SNAPPY is Spark's parquet default, matching the reference's
    tblproperties)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {CATALOG_DB}")
    # Idempotent DDL across PROCESSES, matching the reference's
    # `DROP TABLE IF EXISTS` (athena.sql:3): the catalog entry is
    # in-memory per session while the data location on disk survives;
    # dropping the stale entry and overwriting the external location
    # keeps re-runs clean from any process.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        events.write.mode("overwrite")
        .format("parquet")
        .option("path", _table_location(table))
        .partitionBy("event_type")
        .saveAsTable(table)
    )


@query("catalog_table_roundtrip", CATALOG_ORACLE)
def catalog_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL → catalog-name query roundtrip with partition pruning.

    Writes the partitioned table, re-reads it via `spark.table`, and
    answers an athena.sql:18-21-style severity/type rollup over two
    partition values. The returned plan's scan carries
    `PartitionFilters: [event_type IN (click,purchase)]` — the pruning
    contract that makes a catalog table the right serving layer.
    """
    create_events_table(spark, t(spark, sf_dir, "events"))
    cat = spark.table(CATALOG_TABLE)
    return (
        cat.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            r2(F.sum("value")).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# K5 as a driver-gated query: write lineitem + orders bucketed on the
# join key, re-read via the catalog, join WITHOUT any exchange, and
# aggregate. The correctness gate checks result-equivalence to the
# plain join; tests/test_catalog.py asserts the no-Exchange plan.
#
# 100 TB: bucketing pays the shuffle ONCE at write; every subsequent
# fact-fact join on the bucket key is exchange-free (and sort-free,
# since the buckets are sorted). This query is the end-to-end proof of
# that contract through the catalog serving layer.
# --------------------------------------------------------------------------

BUCKETED_JOIN_ORACLE = f"""
SELECT o.o_orderstatus,
       COUNT(*) AS n_lines,
       {r2_sql("SUM(l.l_extendedprice)")} AS total_price
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""

BUCKETED_TABLES = (
    f"{CATALOG_DB}.gate_lineitem_b",
    f"{CATALOG_DB}.gate_orders_b",
)
N_BUCKETS = 8


#: (appId, sf_dir) pairs whose gate bucket tables are already written —
#: bucketing's contract is write-once-join-many (the layout amortizes
#: across every subsequent co-located join), so within a session the
#: immutable source parquet never needs re-bucketing. Keyed on sf_dir
#: because the tables are overwritten per scale factor.
_GATE_BUCKETS_WRITTEN: set[tuple[str, str]] = set()


def _write_gate_buckets(spark: SparkSession, sf_dir: str) -> None:
    from drive_bc_datapipeline_spark.operators.joins import write_bucketed

    app_id = spark.sparkContext.applicationId
    memo_key = (app_id, sf_dir)
    if memo_key in _GATE_BUCKETS_WRITTEN:
        return
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {CATALOG_DB}")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    for table, df, key in (
        (BUCKETED_TABLES[0], l, "l_orderkey"),
        (BUCKETED_TABLES[1], o, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # location scoped by applicationId: the table NAME lives in the
        # session-local catalog, but a fixed PATH is shared across every
        # session pointed at this repo — a concurrent session (plan
        # audit, ad-hoc timing) rewriting the same files at a different
        # sf would silently change what this session's memoized tables
        # read. Per-app dirs make the memo race-free; stale dirs from
        # dead sessions are small (two pruned columns) and inert.
        write_bucketed(
            df,
            table,
            key,
            n_buckets=N_BUCKETS,
            path=_table_location(f"{table}__{app_id}"),
        )
    # discard stale entries for other sf_dirs: the shared table names
    # now hold THIS sf_dir's data
    _GATE_BUCKETS_WRITTEN.difference_update(
        {k for k in _GATE_BUCKETS_WRITTEN if k[0] == memo_key[0]}
    )
    _GATE_BUCKETS_WRITTEN.add(memo_key)


@query("bucketed_join_order_totals", BUCKETED_JOIN_ORACLE)
def bucketed_join_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    _write_gate_buckets(spark, sf_dir)
    lb = spark.table(BUCKETED_TABLES[0])
    ob = spark.table(BUCKETED_TABLES[1])
    return (
        lb.join(ob, lb["l_orderkey"] == ob["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            r2(F.sum("l_extendedprice")).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# L3 as a driver-gated query: write events z-order-clustered into
# deterministic fixed-width z-buckets, read the layout back, and report
# per-file (= per-bucket) min/max spans on BOTH interleaved dimensions
# plus whether a small query box would touch the file. The driver's
# oracle recomputes the identical layout analytically in SQL — the
# per-file stats the parquet footers would carry are a pure function of
# the bucket math, so the gate proves the clustering property itself:
# every file covers one aligned 256x256 hyperbox of the 1024x1024
# domain, and the probe predicate (dim_a < 64 AND dim_b < 64) touches
# exactly ONE of 16 files.
#
# Determinism note (the L4 lesson, round 6): production z-writes use
# repartitionByRange on the Morton key (functions/layout.write_zordered)
# which balances file sizes under skew but SAMPLES boundaries per run —
# unverifiable cross-engine. The gate instead uses
# functions/layout.zorder_bucket: the top 4 bits of the z-key, a pure
# row function, bit-identical everywhere. tests/test_layout.py covers
# the range-partitioned write's physical footer stats.
#
# 100 TB: skipping is THE scan economics at scale — 1/16 files touched
# here generalizes to predicate-volume/domain-volume of the corpus; the
# dims are md5-derived so the demo is uniform, while a deployment would
# z-order on real query columns (lat/lon, date/tenant).
# --------------------------------------------------------------------------

_ZDIMS_BITS = 10  # each dim in [0, 1024)
_ZBUCKET_BITS = 4  # 16 files
_ZPROBE = 64  # probe box: dim_a < 64 AND dim_b < 64


def _hex3_sql(col: str, start: int) -> str:
    """Portable 3-hex-char md5 slice -> int in [0, 4096) (the repo's
    instr-based parser — identical arithmetic both engines)."""
    return (
        "("
        + " + ".join(
            f"CAST(instr('0123456789abcdef', substr(md5({col}), "
            f"{start + i}, 1)) - 1 AS BIGINT) * {16 ** (2 - i)}"
            for i in range(3)
        )
        + ")"
    )


ZORDER_SKIPPING_ORACLE = f"""
WITH dims AS (
  SELECT {_hex3_sql("CAST(event_id AS VARCHAR)", 1)} % 1024 AS dim_a,
         {_hex3_sql("CAST(event_id AS VARCHAR)", 4)} % 1024 AS dim_b
  FROM events
),
bucketed AS (
  SELECT dim_a, dim_b,
         CAST(  8 * (dim_b // 512)
              + 4 * (dim_a // 512)
              + 2 * ((dim_b // 256) % 2)
              +     ((dim_a // 256) % 2) AS INT) AS zbucket
  FROM dims
)
SELECT zbucket,
       COUNT(*)            AS n_rows,
       CAST(MIN(dim_a) AS INT) AS min_a,
       CAST(MAX(dim_a) AS INT) AS max_a,
       CAST(MIN(dim_b) AS INT) AS min_b,
       CAST(MAX(dim_b) AS INT) AS max_b,
       CAST(CASE WHEN MIN(dim_a) < {_ZPROBE} AND MIN(dim_b) < {_ZPROBE}
                 THEN 1 ELSE 0 END AS INT) AS probe_hit
FROM bucketed
GROUP BY zbucket
"""

ZORDER_TABLE = f"{CATALOG_DB}.gate_events_zorder"


@query("zorder_skipping_stats", ZORDER_SKIPPING_ORACLE)
def zorder_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.functions.layout import zorder_bucket

    e = t(spark, sf_dir, "events").select(
        F.expr(_hex3_sql("CAST(event_id AS STRING)", 1) + " % 1024").alias(
            "dim_a"
        ),
        F.expr(_hex3_sql("CAST(event_id AS STRING)", 4) + " % 1024").alias(
            "dim_b"
        ),
    )
    # physical layout: one directory per z-bucket (the "file" unit whose
    # min/max stats a reader would prune on)
    path = _table_location(ZORDER_TABLE)
    (
        e.withColumn(
            "zbucket", zorder_bucket(["dim_a", "dim_b"], _ZDIMS_BITS,
                                     _ZBUCKET_BITS)
        )
        # keyed repartition → each bucket directory receives ONE file
        # (not one per upstream task); at scale you'd size this by
        # bytes-per-bucket instead of 1:1
        .repartition(2**_ZBUCKET_BITS, "zbucket")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    probe = (F.col("min_a") < _ZPROBE) & (F.col("min_b") < _ZPROBE)
    return (
        back.groupBy(F.col("zbucket").cast("int").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("dim_a").cast("int").alias("min_a"),
            F.max("dim_a").cast("int").alias("max_a"),
            F.min("dim_b").cast("int").alias("min_b"),
            F.max("dim_b").cast("int").alias("max_b"),
        )
        .withColumn("probe_hit", F.when(probe, 1).otherwise(0).cast("int"))
    )


# --------------------------------------------------------------------------
# L5 driver gate — runtime bloom-filter join pruning. Catalyst injects
# a bloom filter built from the selective dim side (urgent orders) into
# the fact (lineitem) scan, so non-joining rows drop BEFORE the
# shuffle; at 100 TB that's the difference between shuffling the whole
# fact table and shuffling only the ~1/5 that can join. The query fn
# REFUSES to return if the filter didn't inject (plan check), and the
# result is materialized while the widened thresholds are live — the
# driver's oracle then verifies the bloom-pruned join returns exactly
# the unpruned answer (bloom filters are one-sided: false positives
# re-checked by the join, never false negatives).
# --------------------------------------------------------------------------

BLOOM_GATE_ORACLE = f"""
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {r2_sql("SUM(l.l_extendedprice * (1 - l.l_discount))")} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
"""


@query("bloom_pruned_join_gate", BLOOM_GATE_ORACLE)
def bloom_pruned_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from drive_bc_datapipeline_spark.operators.joins import bloom_pruned_joins
    from drive_bc_datapipeline_spark.session import pin, scoped_conf

    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            r2(F.sum(revenue)).alias("revenue"),
        )
    )
    # Broadcast would bypass the shuffle join the bloom filter targets;
    # disable it for this plan only, restore after materializing.
    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    with scoped_conf(spark, no_bcast), bloom_pruned_joins(spark):
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "bloom_filter_agg" not in plan or "might_contain" not in plan:
            raise RuntimeError(
                "runtime bloom filter did not inject; plan head: "
                + plan[:500]
            )
        # Execute NOW (confs still widened) and pin the result; the
        # driver's later collect reads the checkpointed rows.
        return pin(joined, "bloom-pruned join")
