"""Sources / sinks (SURVEY §2 K1–K3).

Reference parity:
- etl.py:10-13 reads raw DriveBC API dumps as *multiline* JSON and
  relies on schema inference; here `read_json_events` takes an explicit
  schema (schema-on-read, no inference pass — at 100 TB an inference
  scan is a full extra read of the corpus).
- etl.py:40-44 writes parquet with `mode("overwrite")`; here
  `write_parquet` adds `partitionBy` so downstream scans can
  partition-prune (the reference wrote a single unpartitioned dir).

Scale notes (100 TB):
- Readers are lazy scans; filters/projections composed on top reach the
  parquet footer (PushedFilters / ReadSchema) because nothing here
  materializes.
- `write_parquet(partition_cols=...)` is the pruning contract for every
  downstream reader: date-partitioned events mean a day query touches
  1/365th of the corpus.
- `maxRecordsPerFile` caps output file size so a skewed partition key
  can't produce a 1-TB file; small-file compaction is `repartition`
  before write (exposed via `target_files`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from drive_bc_datapipeline_spark.session import pin, scoped_conf


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """K1: parquet scan. `columns` forces an explicit projection so the
    scan's ReadSchema carries only what's needed even if the caller
    forgets to select."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    target_files: int | None = None,
) -> None:
    """K1: parquet sink with partition pruning + file-size control."""
    if target_files:
        df = df.repartition(target_files)
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def read_json_multiline(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """K2: multiline-JSON read with explicit schema (reference raw
    events: one JSON document spanning many lines — etl.py:10-13)."""
    return spark.read.schema(schema).option("multiLine", "true").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """K3: JSON-lines read (one record per line — the streaming-friendly
    layout; splittable, so one 100-GB file still parallelizes)."""
    return spark.read.schema(schema).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """K3: CSV read. Explicit schema preferred (inferSchema is a full
    extra pass); header names are validated against it when both given."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """K12: ORC scan — the other columnar format big-data estates carry
    (Hive-era tables). Same lazy-scan/pushdown contract as parquet:
    filters and projections composed on top reach the ORC reader."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
) -> None:
    """K12: ORC sink with the same partition-pruning contract as
    `write_parquet`."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _swap_paths(path: str) -> tuple[str, str, str]:
    base = path.rstrip("/")
    return base + "__compacting", base + "__old", base + "__swap_pending"


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Small-file compaction: rewrite `path` as `target_files` files,
    optionally sorted within files for better row-group min/max pruning.

    The small-files problem is the canonical streaming-sink pathology:
    foreachBatch appends a file per partition per micro-batch, and a
    year later the directory has 10^6 files whose open/footer overhead
    dominates every scan. Compaction = one read + one clustered write.

    Swap protocol (RECOVERABLE, not atomic — POSIX has no two-dir
    atomic swap; table formats solve this with a transaction log):
      1. write staging dir          (crash → original untouched)
      2. create marker file         (crash → original untouched)
      3. rename path    -> backup   (crash → no `path`, but marker +
      4. rename staging -> path        staging/backup survive)
      5. remove marker              (crash → extra backup dir only)
      6. remove backup
    Every crash window leaves a state `recover_compact(path)` can roll
    forward (marker + no `path`: finish the swap) or clean up (marker +
    `path` present: drop leftovers). Readers between 3 and 4 see a
    missing dir — the same exposure `mode("overwrite")` has natively.

    Returns (files_before, files_after).
    """
    import shutil

    def _count_files(p: str) -> int:
        return sum(
            1
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    before = _count_files(path)
    df = spark.read.parquet(path)
    out = df.repartition(target_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    staging, backup, marker = _swap_paths(path)
    # A crash after marker removal but before backup removal leaves a
    # stale backup with NO marker; `path` is then authoritative, and
    # the stale dir would make rename 3 below fail. Sweep leftovers
    # up front (no marker + path present ⇒ they are garbage).
    if not os.path.exists(marker):
        for leftover in (staging, backup):
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
    out.write.mode("overwrite").parquet(staging)
    with open(marker, "w") as fh:
        fh.write(path)  # swap in flight: staging is complete and valid
    os.rename(path, backup)
    os.rename(staging, path)
    os.remove(marker)
    shutil.rmtree(backup)
    return before, _count_files(path)


def recover_compact(path: str) -> str:
    """Repair an interrupted `compact_parquet` swap on `path`.

    Returns one of:
    - "clean"        — no marker: nothing to do.
    - "rolled_forward" — the crash hit between the two renames (marker
      present, `path` missing): the completed staging dir — or, if the
      crash landed after rename 1 of 2, the backup — becomes `path`.
    - "cleaned_up"   — the crash hit after the swap completed but
      before marker/backup removal: leftovers are deleted.

    Idempotent; call at job start (the same place a table format would
    replay its log).
    """
    import shutil

    staging, backup, marker = _swap_paths(path)
    if not os.path.exists(marker):
        # no marker ⇒ `path` is authoritative; a crash between marker
        # and backup removal can still leave garbage dirs — sweep them
        swept = False
        for leftover in (staging, backup):
            if os.path.exists(path) and os.path.exists(leftover):
                shutil.rmtree(leftover)
                swept = True
        return "cleaned_up" if swept else "clean"
    if not os.path.exists(path):
        # mid-swap: prefer the fully-written staging output; fall back
        # to the backup (crash after `path`->backup but the staging dir
        # was already renamed — then `path` exists, not this branch)
        if os.path.exists(staging):
            os.rename(staging, path)
        elif os.path.exists(backup):
            os.rename(backup, path)
        else:
            raise RuntimeError(
                f"unrecoverable compact state for {path}: marker present "
                "but neither path, staging, nor backup exists"
            )
        os.remove(marker)
        if os.path.exists(backup):
            shutil.rmtree(backup)
        return "rolled_forward"
    # path exists: swap finished (or never started) — drop leftovers
    os.remove(marker)
    for leftover in (staging, backup):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    return "cleaned_up"


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """K3 hardened: JSONL read that SPLITS clean rows from corrupt ones.

    PERMISSIVE mode parks any unparseable line in ``_corrupt_record``
    and nulls the data columns; returning (clean, quarantined) lets the
    pipeline land good rows while the quarantine goes to a dead-letter
    dir for inspection — dropping corrupt records silently (the
    reference's implicit behavior) destroys the audit trail at scale.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField as SF_

    full = StructType(
        list(schema.fields) + [SF_("_corrupt_record", StringType())]
    )
    # Spark rejects a query over a raw JSON scan that reads only
    # _corrupt_record; the filters below read the pinned rows instead,
    # and both returned frames share the one parse.
    df = pin(
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path),
        "jsonl quarantine",
    )
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, quarantined


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """K1 hardened: read a parquet dir whose files have EVOLVED schemas
    (columns added over time) — ``mergeSchema`` unions the footers so
    old files surface the new columns as NULL. Off by default in Spark
    because footer-merging costs a pass over file metadata; turn it on
    only at ingestion boundaries, then rewrite to one schema.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    partition_col: str,
) -> dict:
    """K13: keyed MERGE-upsert into a partitioned parquet dataset —
    the Spark-native equivalent of ``MERGE INTO`` without a table
    format, via partition-pruned read + dynamic partition overwrite.

    Latest-wins semantics: within each key, the row with the greatest
    ``order_col`` survives (updates beat existing rows on ties, so a
    re-run of the same batch is idempotent). New keys insert.

    The 100 TB shape — and why this beats the naive rewrite:
    1. the touched partition values come from the UPDATES (small side);
    2. only those partitions of the target are read back (plan-time
       partition pruning — the untouched 99% of the dataset is never
       opened);
    3. ``partitionOverwriteMode=dynamic`` replaces exactly the written
       partitions; every untouched partition's files are left in place.
    Cost scales with the touched-partition volume, not the dataset.
    A transaction log (Iceberg/Delta) would add snapshot isolation;
    per-partition overwrite is the strongest guarantee raw parquet
    offers (each partition dir swap is a rename).

    Updates spanning a partition move (same key, new partition value)
    leave the old row in the old partition — like every MERGE, the
    partition column must be stable under updates (choose an
    immutable one, e.g. event date).

    Returns {"touched_partitions": n, "rows_written": n}.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    touched = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
    ]
    if not touched:
        return {"touched_partitions": 0, "rows_written": 0}
    upd = updates.withColumn("__src", F.lit(1))
    if os.path.exists(path):
        base = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(touched))
            .withColumn("__src", F.lit(0))
        )
        merged = base.unionByName(upd)
    else:
        merged = upd
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), F.desc("__src")
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    n = latest.count()
    writer = latest.write.mode("overwrite").partitionBy(partition_col)
    dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    with scoped_conf(spark, dynamic):
        writer.parquet(path)
    return {"touched_partitions": len(touched), "rows_written": n}


def read_binary_dir(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """K14: binary-file ingestion for multimodal corpora — each file
    becomes one row (path, modificationTime, length, content BINARY),
    the raw form the I-section multimodal operators consume.

    100 TB: the binaryFile source parallelizes over files (one task per
    file group, no splitting within a file); pair it with
    ``pathGlobFilter`` to prune by extension at listing time and feed
    the result straight into mapInPandas featurizers. Driver-side file
    listing is the bottleneck at tens of millions of files — shard the
    ingest by directory prefix at that scale.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def profile_output_files(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Small-file detector for a written dataset: per-file byte sizes
    via the binaryFile source (metadata-only — content column pruned,
    so nothing is read but footers and listings), summarized against a
    target file size.

    The operational readout behind ``compact_parquet`` (K8): a healthy
    100 TB table has files near ``target_bytes``; a mean far below it
    means the NameNode/listing and task-scheduling overheads dominate
    and the directory needs compaction. Returns
    ``{n_files, total_bytes, mean_bytes, min_bytes, max_bytes,
    n_small, compaction_recommended}`` where small = < target/4.
    """
    from pyspark.sql import functions as F

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select("path", "length")
    )
    row = files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.coalesce(F.sum("length"), F.lit(0)).alias("total_bytes"),
        F.coalesce(F.min("length"), F.lit(0)).alias("min_bytes"),
        F.coalesce(F.max("length"), F.lit(0)).alias("max_bytes"),
        F.coalesce(
            F.sum(F.when(F.col("length") < target_bytes // 4, 1).otherwise(0)),
            F.lit(0),
        ).alias("n_small"),
    ).first()
    n = row["n_files"]
    return {
        "n_files": n,
        "total_bytes": row["total_bytes"],
        "mean_bytes": (row["total_bytes"] // n) if n else 0,
        "min_bytes": row["min_bytes"],
        "max_bytes": row["max_bytes"],
        "n_small": row["n_small"],
        "compaction_recommended": bool(n and row["n_small"] > n // 2),
    }
