"""Scale-out join utilities: skew salting and bucketed co-location.

These are the 100-TB joins toolbox (SURVEY §6). The registered query
surface (C5-C7 in plans/) uses plain declarative joins and lets
Catalyst/AQE pick strategies; these helpers are for the cases where the
data defeats the defaults:

- ``salted_join``: a hot key (one user, one road, one null) puts its
  entire partition on one reducer. Salting splits each hot key into
  ``n_salts`` sub-keys by replicating the SMALL side once per salt and
  scattering the large side deterministically, so the hot key's rows
  spread over ``n_salts`` reducers. AQE's skew-join handles moderate
  skew automatically; salting is for the pathological single-key case.
- ``salted_groupby``: two-phase aggregation (partial agg on
  (key, salt), final agg on key) for skewed group-bys whose partial
  aggregation alone doesn't compact enough.
- ``write_bucketed`` / co-located joins: pre-shuffling both fact tables
  into the same bucket layout on the join key makes every future join
  on that key exchange-free — the classic amortization when one join
  key dominates a workload (orderkey at 100 TB).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from drive_bc_datapipeline_spark.session import scoped_conf


def _row_salt(df: DataFrame, n_salts: int) -> Column:
    """Deterministic per-row salt in [0, n_salts).

    xxhash64 over every column mixed with spark_partition_id(): stable
    under task retries (a recomputed map task reads the same input
    split, so every row re-hashes to the same salt), yet identical
    duplicate rows in DIFFERENT input partitions get different salts —
    the duplicate-heavy hot key actually spreads across reducers.

    PRECONDITION: ``df``'s partitioning must itself be deterministic —
    a file scan, a hash ``repartition(cols)``, or any shuffle keyed on
    data. After a round-robin ``repartition(n)`` or ``coalesce`` whose
    input order isn't stable, spark_partition_id() can differ between
    the original task and its retry (rows land in different partitions
    on recompute), and the salt — hence the join output — is no longer
    retry-stable. Salt the scan output, not a rebalanced intermediate.
    """
    cols = [F.col(c) for c in df.columns]
    return F.pmod(F.xxhash64(*cols, F.spark_partition_id()), F.lit(n_salts))


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: ``large ⋈ small ON large.key = small.key``.

    The large side gets a deterministic salt in [0, n_salts) derived by
    hashing the whole row PLUS the shuffle-map partition id
    (xxhash64(all cols, spark_partition_id()) — stable across retries,
    which a rand() salt is not: a recomputed task reads the same input
    partition and lands rows on the same reducer). The partition-id
    component matters for the common hot-key pathology of fully
    IDENTICAL duplicate rows: a row-content-only hash sends every copy
    to ONE salt (one reducer), defeating the mitigation; mixing in the
    map partition spreads copies across salts while staying
    deterministic per task. The small side is exploded n_salts×. Join
    key becomes (key, salt).

    Supports inner/left joins (semantics preserved; each large row
    carries exactly one salt so no duplication).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = _row_salt(large, n_salts)
    l = large.withColumn("__salt", salt).alias("l")
    s = (
        small.withColumnRenamed(key, "__rkey")
        .withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
        .alias("s")
    )
    cond = (F.col(f"l.{key}") == F.col("s.__rkey")) & (
        F.col("l.__salt") == F.col("s.__salt")
    )
    keep = [F.col(f"l.{c}") for c in large.columns] + [
        F.col(f"s.{c}") for c in small.columns if c != key
    ]
    return l.join(s, cond, how).select(*keep)


def salted_groupby(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = 8,
) -> DataFrame:
    """Two-phase skew-safe group-by.

    ``aggs`` maps output column -> "sum(col)" | "count(*)" | "max(col)"
    | "min(col)". Phase 1 aggregates on (keys, salt) — the hot key's
    rows split across n_salts reducers; phase 2 merges the partials on
    keys alone (n_salts rows per key, trivially small). Salt derivation
    mixes in spark_partition_id() so identical duplicate rows still
    spread (see ``salted_join``).
    """
    salt = _row_salt(df, n_salts)
    partial_exprs, final_exprs = [], []
    for out, spec in aggs.items():
        fn, _, arg = spec.partition("(")
        arg = arg.rstrip(")")
        fn = fn.lower()
        p = f"__p_{out}"
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(p))
            final_exprs.append(F.sum(p).alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(arg).alias(p))
            final_exprs.append(F.sum(p).alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(arg).alias(p))
            final_exprs.append(F.max(p).alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(arg).alias(p))
            final_exprs.append(F.min(p).alias(out))
        else:
            raise ValueError(f"unsupported agg {spec!r}")
    return (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*partial_exprs)
        .groupBy(*keys)
        .agg(*final_exprs)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 16,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) table.

    Two tables bucketed on the same key with the same bucket count
    join with ZERO exchange (and zero sort, if sorted): the layout IS
    the shuffle, paid once at write. This is the 100-TB answer for the
    lineitem⋈orders class of repeated fact-fact joins.

    ``path`` makes the table EXTERNAL at an explicit location —
    without it the managed location follows the session warehouse dir
    (cwd-relative by default), and a stale location from a previous
    process fails saveAsTable with LOCATION_ALREADY_EXISTS.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort:
        w = w.sortBy(bucket_key)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


@contextmanager
def bloom_pruned_joins(
    spark,
    creation_side_threshold: str = "100MB",
    application_side_threshold: str = "0",
):
    """Context that makes Catalyst inject RUNTIME BLOOM FILTERS into
    selective shuffle joins: the filtered (creation) side builds a
    bloom filter over its join keys, and the fact (application) side
    drops non-matching rows BEFORE the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    only the ~selectivity fraction that can possibly join.

    Spark's defaults only fire when the creation side is < 10 MB and
    the fact scan is > 10 GB, which a 0.1-SF test never reaches; this
    widens the thresholds so the optimization is exercised (and plan-
    asserted in tests/test_plan_properties.py), then restores the
    session confs. The injected filter shows as ``bloom_filter_agg``/
    ``might_contain`` in the physical plan.
    """
    with scoped_conf(spark, {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            creation_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            application_side_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }):
        yield
