"""Source/sink round-trip tests (SURVEY §2 K1–K3).

Each format round-trips a small frame through a tmp dir and asserts
content equality; the parquet test also checks partitionBy layout so
partition pruning has something to prune.
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from drive_bc_datapipeline_spark.sources import io as sio

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("val", DoubleType()),
    ]
)

ROWS = [
    Row(id=1, name="a", val=1.5),
    Row(id=2, name="b", val=2.5),
    Row(id=3, name="a", val=3.5),
]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "pq")
    sio.write_parquet(df, path, partition_cols=["name"], target_files=2)
    # partitionBy produced hive-style dirs → downstream partition pruning
    assert sorted(
        d for d in os.listdir(path) if d.startswith("name=")
    ) == ["name=a", "name=b"]
    back = sio.read_parquet(spark, path).select("id", "name", "val")
    assert _sorted(back) == _sorted(df)
    # column projection narrows the scan schema
    proj = sio.read_parquet(spark, path, columns=["id"])
    assert proj.columns == ["id"]


def test_parquet_append_mode(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "pq_append")
    sio.write_parquet(df, path)
    sio.write_parquet(df, path, mode="append")
    assert sio.read_parquet(spark, path).count() == 2 * len(ROWS)


def test_multiline_json_read(spark, tmp_path):
    # one pretty-printed JSON document spanning many lines (etl.py shape)
    doc = '{\n  "id": 7,\n  "name": "x",\n  "val": 9.0\n}\n'
    src = tmp_path / "raw"
    src.mkdir()
    (src / "doc.json").write_text(doc)
    df = sio.read_json_multiline(spark, str(src), SCHEMA)
    assert _sorted(df) == [(7, "x", 9.0)]


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "jl")
    sio.write_jsonl(df, path)
    back = sio.read_jsonl(spark, path, SCHEMA).select("id", "name", "val")
    assert _sorted(back) == _sorted(df)


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "csv")
    sio.write_csv(df, path)
    back = sio.read_csv(spark, path, schema=SCHEMA).select("id", "name", "val")
    assert _sorted(back) == _sorted(df)


def test_csv_infer_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "csv_inf")
    sio.write_csv(df, path)
    back = sio.read_csv(spark, path)
    assert back.count() == len(ROWS)
    assert set(back.columns) == {"id", "name", "val"}


def test_compact_parquet_reduces_files_and_preserves_data(spark, tmp_path):
    path = str(tmp_path / "many")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k", "id * 1.5 AS v")
    df.repartition(40).write.parquet(path)
    before_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    before, after = sio.compact_parquet(spark, path, target_files=4, sort_cols=["k"])
    assert before >= 40 and after == 4
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before_rows
    assert not os.path.exists(path + "__compacting")
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__swap_pending")


def test_compact_parquet_crash_recovery(spark, tmp_path, monkeypatch):
    """Simulate a crash in every swap window and assert recover_compact
    restores a complete, readable dataset each time."""
    import shutil

    def make_dataset(name):
        p = str(tmp_path / name)
        spark.range(1_000).selectExpr("id", "id % 3 AS k").repartition(
            8
        ).write.parquet(p)
        return p, sorted(tuple(r) for r in spark.read.parquet(p).collect())

    # crash window A: after `path`->backup, before staging->`path`
    # (the window the old implementation left fatal: no dataset dir)
    path, rows = make_dataset("crashA")
    real_rename = os.rename

    def rename_crash_on_second(src, dst):
        real_rename(src, dst)
        if dst.endswith("__old"):
            raise RuntimeError("simulated crash between renames")

    monkeypatch.setattr(os, "rename", rename_crash_on_second)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        sio.compact_parquet(spark, path, target_files=2)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path)  # dataset gone — the bad window
    assert sio.recover_compact(path) == "rolled_forward"
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows
    for suffix in ("__compacting", "__old", "__swap_pending"):
        assert not os.path.exists(path + suffix)

    # crash window B: swap complete, marker/backup cleanup didn't run
    path, rows = make_dataset("crashB")
    staging, backup, marker = sio._swap_paths(path)
    shutil.copytree(path, backup)
    with open(marker, "w") as fh:
        fh.write(path)
    assert sio.recover_compact(path) == "cleaned_up"
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows
    assert not os.path.exists(backup) and not os.path.exists(marker)

    # no marker: recovery is a no-op
    assert sio.recover_compact(path) == "clean"


def test_jsonl_quarantine_splits_corrupt_rows(spark, tmp_path):
    src = tmp_path / "q"
    src.mkdir()
    (src / "data.json").write_text(
        '{"id": 1, "name": "ok", "val": 1.0}\n'
        "this is not json at all\n"
        '{"id": 2, "name": "ok2", "val": 2.0}\n'
        '{"id": "NOT_AN_INT", "name": "bad-type", "val": 3.0}\n'
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache_manager.numCachedEntries()
    clean, quarantined = sio.read_jsonl_quarantine(spark, str(src), SCHEMA)
    assert sorted(r.id for r in clean.collect()) == [1, 2]
    bad = [r._corrupt_record for r in quarantined.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    # the two lazy frames give the caller no handle to release a cached
    # read, so the read must leave no CacheManager entry behind
    assert cache_manager.numCachedEntries() == cached_before


def test_parquet_merge_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    # a later writer adds a column
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)
    merged = sio.read_parquet_merged(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "orc")
    sio.write_orc(df, path)
    back = sio.read_orc(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # filter composed on the scan must reach the ORC reader as a
    # pushed predicate, same contract as parquet
    plan = (
        back.filter(back.id > 1)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [" in plan and "id" in plan.split("PushedFilters")[1][:60]


def test_recover_compact_backup_fallback(spark, tmp_path):
    """Marker present, dataset and staging both gone, backup intact —
    recovery must restore from the backup."""
    import shutil

    path = str(tmp_path / "fallback")
    spark.range(100).write.parquet(path)
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    staging, backup, marker = sio._swap_paths(path)
    shutil.move(path, backup)
    with open(marker, "w") as fh:
        fh.write(path)
    assert sio.recover_compact(path) == "rolled_forward"
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows
    assert not os.path.exists(backup) and not os.path.exists(marker)


def test_compact_survives_stale_backup_without_marker(spark, tmp_path):
    """Crash window between marker removal and backup removal: marker
    gone, stale __old dir present. recover_compact must sweep it, and
    compact_parquet itself must also tolerate it (the rename into
    `backup` would otherwise fail on the non-empty leftover)."""
    import shutil

    path = str(tmp_path / "stale")
    spark.range(500).write.parquet(path)
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    staging, backup, marker = sio._swap_paths(path)

    shutil.copytree(path, backup)  # stale leftover, NO marker
    assert sio.recover_compact(path) == "cleaned_up"
    assert not os.path.exists(backup)

    shutil.copytree(path, backup)  # again — this time compact directly
    before, after = sio.compact_parquet(spark, path, target_files=2)
    assert after == 2
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows


def test_upsert_partitioned_latest_wins_and_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from drive_bc_datapipeline_spark.sources.io import upsert_partitioned

    path = str(tmp_path / "ds")
    base = spark.createDataFrame(
        [
            (1, "d1", 10, "a"),
            (2, "d1", 10, "b"),
            (3, "d2", 10, "c"),
            (4, "d3", 10, "d"),
        ],
        "id INT, day STRING, ver INT, payload STRING",
    )
    base.write.partitionBy("day").parquet(path)

    # update id=1 (newer), stale-update id=2 (older), insert id=9 — all
    # in d1; d2/d3 untouched
    updates = spark.createDataFrame(
        [
            (1, "d1", 20, "a2"),
            (2, "d1", 5, "stale"),
            (9, "d1", 20, "new"),
        ],
        "id INT, day STRING, ver INT, payload STRING",
    )
    stats = upsert_partitioned(
        spark, path, updates, keys=["id"], order_col="ver",
        partition_col="day",
    )
    assert stats["touched_partitions"] == 1

    got = {
        r["id"]: (r["ver"], r["payload"])
        for r in spark.read.parquet(path).collect()
    }
    assert got[1] == (20, "a2")        # newer update wins
    assert got[2] == (10, "b")         # stale update loses
    assert got[9] == (20, "new")       # insert
    assert got[3] == (10, "c") and got[4] == (10, "d")  # untouched

    # idempotent: re-running the same batch changes nothing
    upsert_partitioned(
        spark, path, updates, keys=["id"], order_col="ver",
        partition_col="day",
    )
    again = {
        r["id"]: (r["ver"], r["payload"])
        for r in spark.read.parquet(path).collect()
    }
    assert again == got

    # untouched partitions keep their original files (dynamic overwrite
    # only rewrote day=d1)
    import os as _os

    assert _os.path.exists(f"{path}/day=d2")
    assert _os.path.exists(f"{path}/day=d3")


def test_upsert_partitioned_reads_only_touched_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from drive_bc_datapipeline_spark.sources.io import upsert_partitioned

    path = str(tmp_path / "pruned")
    rows = [(i, f"d{i % 10}", 1, "x") for i in range(100)]
    spark.createDataFrame(
        rows, "id INT, day STRING, ver INT, payload STRING"
    ).write.partitionBy("day").parquet(path)

    # the partition-pruning contract: a filtered read of one day scans
    # one directory (PartitionFilters, plan-time)
    df = spark.read.parquet(path).filter(F.col("day") == "d3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan

    upsert_partitioned(
        spark,
        path,
        spark.createDataFrame(
            [(3, "d3", 2, "upd")], "id INT, day STRING, ver INT, payload STRING"
        ),
        keys=["id"],
        order_col="ver",
        partition_col="day",
    )
    assert spark.read.parquet(path).count() == 100


def test_read_binary_dir(spark, tmp_path):
    from drive_bc_datapipeline_spark.sources.io import read_binary_dir

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x89IMG" + b"\x00" * 60)
    (d / "b.img").write_bytes(b"\x89IMG" + b"\x01" * 124)
    (d / "skip.txt").write_bytes(b"not a blob")

    df = read_binary_dir(spark, str(d), glob="*.img")
    rows = sorted(df.collect(), key=lambda r: r["path"])
    assert len(rows) == 2
    assert rows[0]["length"] == 64 and rows[1]["length"] == 128
    assert bytes(rows[0]["content"])[:4] == b"\x89IMG"
    # feeds the I-section featurizers: binary column + typed metadata
    assert dict(df.dtypes)["content"] == "binary"


def test_profile_output_files_detects_small_files(spark, tmp_path):
    """K19: the file profiler must report sizes matching the real
    directory listing and flag a many-small-files layout."""
    import os

    from drive_bc_datapipeline_spark.sources.io import profile_output_files

    out = str(tmp_path / "frag")
    spark.range(10_000).repartition(20).write.parquet(out)
    prof = profile_output_files(spark, out, target_bytes=128 * 1024 * 1024)

    on_disk = [
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]
    assert prof["n_files"] == len(on_disk)
    assert prof["total_bytes"] == sum(on_disk)
    assert prof["min_bytes"] == min(on_disk)
    assert prof["max_bytes"] == max(on_disk)
    assert prof["compaction_recommended"] is True  # 20 tiny files

    # a compacted single file at a tiny target is not flagged
    out2 = str(tmp_path / "ok")
    spark.range(10_000).coalesce(1).write.parquet(out2)
    prof2 = profile_output_files(spark, out2, target_bytes=4)
    assert prof2["n_files"] == 1
    assert prof2["compaction_recommended"] is False


def test_spread_widens_narrow_scans_only(spark, tmp_path):
    """r10: spread() repartitions a below-parallelism scan to the
    session core count and is an exact no-op (same plan object) on
    scans that are already wide enough (min_parts=1 makes any scan
    'wide enough')."""
    from drive_bc_datapipeline_spark.tables import spread

    out1 = str(tmp_path / "one_file.parquet")
    spark.range(100).coalesce(1).write.parquet(out1)
    narrow = spark.read.parquet(out1)
    wide_n = spark.sparkContext.defaultParallelism
    out = spread(narrow)
    assert out.rdd.getNumPartitions() == wide_n
    assert sorted(r["id"] for r in out.collect()) == list(range(100))
    assert spread(narrow, min_parts=1) is narrow  # probe-only: no-op


def test_spread_by_hash_partitions_without_row_sort(spark, tmp_path):
    """r11: spread(by=<id col>) hash-partitions instead of round-robin
    — same rows, same target width, but the plan carries
    hashpartitioning (no pre-exchange local row sort) and co-locates
    equal keys; a wide-enough scan is still an exact no-op."""
    from drive_bc_datapipeline_spark.tables import spread

    out1 = str(tmp_path / "one_file_by.parquet")
    spark.range(100).coalesce(1).write.parquet(out1)
    narrow = spark.read.parquet(out1)
    wide_n = spark.sparkContext.defaultParallelism
    out = spread(narrow, by="id")
    assert out.rdd.getNumPartitions() == wide_n
    assert sorted(r["id"] for r in out.collect()) == list(range(100))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id" in plan, plan
    assert spread(narrow, min_parts=1, by="id") is narrow


def test_spread_rejects_non_scan_inputs(spark):
    """r18 (r17 verdict Next #7): spread()'s ``.rdd`` partition probe
    eagerly executes upstream shuffle stages under AQE, so the
    freshly-loaded-scan contract is now enforced — a frame with a
    repartition, aggregate, or join upstream raises instead of
    triggering a hidden job. Narrow scan shapes (project/filter over a
    relation or range) stay legal."""
    import pytest

    from drive_bc_datapipeline_spark.tables import spread

    base = spark.range(100)
    # narrow scan shapes pass the guard (probe-only, no-op)
    spread(base.select("id").filter("id >= 0"), min_parts=1)
    # anything carrying an exchange-producing operator raises
    with pytest.raises(ValueError, match="freshly-loaded scan"):
        spread(base.repartition(4))
    with pytest.raises(ValueError, match="freshly-loaded scan"):
        spread(base.groupBy("id").count())
    with pytest.raises(ValueError, match="freshly-loaded scan"):
        spread(base.crossJoin(base.withColumnRenamed("id", "id2")))
