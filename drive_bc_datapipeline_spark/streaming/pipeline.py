"""Structured Streaming pipelines (SURVEY §2 J1/J2).

Reference parity: etl-events.py — Kinesis source → binary payload
parsed with an explicit JSON schema → explode the events array →
clean/dropna → `foreachBatch` that skips empty micro-batches and
appends parquet. Here the source is a file stream (the only stream
source in this environment), which exercises the identical pipeline
shape: `readStream` with explicit schema → the same declarative
transformations as the batch plans → `foreachBatch` sink. Swapping the
source line back to Kinesis/Kafka is a one-liner; everything
downstream is source-agnostic.

Scale notes (100 TB/day of events):
- Explicit schema: no inference, each micro-batch goes straight to
  parse. Corrupt records survive as NULLs (PERMISSIVE) and are dropped
  by the same dropna the reference used.
- J2's watermark bounds the window-agg state store: late events beyond
  the watermark are discarded instead of growing state forever.
- The foreachBatch sink writes date-partitioned parquet so downstream
  batch queries partition-prune; empty batches skip the write entirely
  (the reference's `if not batch_df.isEmpty()` guard — skip-empty
  avoids small-file storms when the source idles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from drive_bc_datapipeline_spark.session import cached, scoped_conf

# Explicit schema-on-read for the raw event stream (etl-events.py:16-30
# declared its Kinesis JSON schema the same way).
RAW_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("user_id", StringType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 10,
    timestamp_format: str | None = None,
) -> DataFrame:
    """File-source stream of JSONL event files with explicit schema.

    `maxFilesPerTrigger` bounds micro-batch size — the file-source
    equivalent of Kinesis's per-shard read cap; without it the first
    batch after a backlog swallows the whole directory.

    `timestamp_format` pins ts parsing when the producer writes a
    non-ISO format (the driver-gated streaming keys export parquet
    events as `yyyy-MM-dd HH:mm:ss.SSSSSS` to keep microseconds).
    """
    reader = spark.readStream.schema(RAW_EVENT_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if timestamp_format is not None:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.json(source_dir)


def clean_events(raw: DataFrame) -> DataFrame:
    """The streaming-safe subset of the batch A1 clean: parse props,
    derive calendar columns, drop unparseable rows. (Keyed global dedup
    is a stateful op — streaming uses `dropDuplicatesWithinWatermark`;
    see `deduped_event_stream`.)"""
    return (
        raw.dropna(subset=["event_id", "ts"])
        .withColumn("k", F.from_json("props", "k INT").getField("k"))
        .withColumn("event_date", F.to_date("ts"))
        .withColumn("hour", F.hour("ts").cast("int"))
        .drop("props")
    )


def deduped_event_stream(raw: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming keyed dedup: state bounded by the watermark horizon
    (the batch twin keeps first-by-ts via row_number; within a
    watermark window the semantics agree for in-order sources)."""
    return (
        raw.dropna(subset=["event_id", "ts"])
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def start_etl_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J1: stream → clean → foreachBatch skip-empty parquet append,
    date-partitioned. etl-events.py:40-52 parity."""
    cleaned = clean_events(
        read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Skip-empty guard (reference checked rdd.isEmpty(); isEmpty()
        # on the DataFrame is the modern form — O(1 partition) probe).
        if batch_df.isEmpty():
            return
        (
            batch_df.write.mode("append")
            .partitionBy("event_date")
            .parquet(sink_dir)
        )

    writer = cleaned.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(availableNow=True).start()


def start_windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "hourly_counts",
    watermark: str = "2 hours",
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J2: watermark + tumbling 1-hour window count per event_type.

    Same plan as the batch `streaming_hourly_counts` (J3) — the oracle
    gate proves the window semantics; this proves the streaming
    execution (state store + watermark eviction). Memory sink keeps the
    test self-contained; production would foreachBatch-upsert.
    """
    raw = read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    agg = (
        raw.dropna(subset=["ts"])
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )
    writer = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def start_stateful_user_stats_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_stats",
) -> StreamingQuery:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user (n_events, total_value, last_ts) maintained in the state
    store across micro-batches.

    This is the escape hatch for stateful semantics the built-in
    windowed aggs can't express (reference parity: none — the reference
    had no custom state; this is the Spark-native extension point the
    brief calls for). State is partitioned by user_id — at 100 TB/day
    the state store shards across executors with the shuffle, and
    eviction would hang off a timeout (GroupStateTimeout) once users go
    quiet; update-mode emission keeps each micro-batch's output
    proportional to touched keys, not total state.
    """
    import pandas as pd  # local import: only the executors need it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts_us", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total, last_us = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            ts_max = pd.to_datetime(pdf["ts"]).max()
            if ts_max is not pd.NaT:
                last_us = max(last_us, ts_max.value // 1000)
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    raw = read_event_stream(spark, source_dir).dropna(subset=["ts"])
    stats = raw.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def start_stream_stream_join(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "click_purchase_join",
    max_gap_minutes: int = 60,
) -> StreamingQuery:
    """J6: watermarked stream-stream inner join — each purchase joined
    to the same user's clicks in the preceding ``max_gap_minutes``.

    Stream-stream joins buffer BOTH sides in the state store; the
    watermarks plus the time-range join condition bound that state
    (rows older than watermark+gap are evicted). This is the streaming
    twin of the batch binned range join (C19) — same semantics, state
    store instead of bucket replication.
    """
    raw = read_event_stream(spark, source_dir).dropna(subset=["ts"])
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        ),
        "inner",
    ).select("event_id", F.col("p_user").alias("user_id"), "purchase_ts", "click_ts")
    writer = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def start_enriched_stream(
    spark: SparkSession,
    source_dir: str,
    dim_df: DataFrame,
    checkpoint_dir: str,
    query_name: str = "enriched",
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J7: stream-static enrichment — each micro-batch joins the
    (small, broadcast) static dimension; no streaming state at all.

    The workhorse production pattern: events enriched with user/region
    attributes as they arrive. The static side is re-resolvable per
    micro-batch, so a dim refresh (new parquet snapshot) is picked up
    without restarting the query when the dim is read from a path.
    """
    raw = read_event_stream(
        spark, source_dir, timestamp_format=timestamp_format
    ).dropna(subset=["ts"])
    enriched = raw.join(F.broadcast(dim_df), "user_id", "left")
    writer = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


def start_tws_user_stats_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "tws_stats",
) -> StreamingQuery:
    """J8: custom stateful operator on the transformWithState API —
    the Spark 4 successor of ``applyInPandasWithState`` (J4): typed
    state handles (value/list/map state), timers for time-based
    eviction, and schema-evolvable state instead of one opaque tuple.
    Same semantics as J4 (running per-user n/total/last_ts) so the two
    APIs are directly comparable in this codebase.

    Requires the RocksDB state store (the only provider implementing
    the new state API) — which is what a 100 TB deployment runs anyway:
    state spills to local SST files + changelog checkpointing, instead
    of the default provider's executor-heap maps.

    ENV GATE: the transformWithState worker protocol speaks protobuf;
    raises ImportError with a pointer to J4 when ``google.protobuf``
    is absent (as in this container). The J4 stream is the drop-in
    fallback with identical semantics.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package "
            "(worker protocol); use start_stateful_user_stats_stream "
            "(J4, applyInPandasWithState) in this environment"
        ) from exc

    import pandas as pd  # local import: executors only
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = StructType(
        [
            StructField("user_id", StringType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats",
                "n_events BIGINT, total_value DOUBLE, last_ts_us BIGINT",
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, last_us = (
                self._state.get() if self._state.exists() else (0, 0.0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
                ts_max = pd.to_datetime(pdf["ts"]).max()
                if ts_max is not pd.NaT:
                    last_us = max(last_us, ts_max.value // 1000)
            self._state.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "last_ts": [pd.Timestamp(last_us * 1000)],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState requires RocksDB; the provider conf is
    # session-wide, so scope it to start() (the query snapshots confs
    # at start) — otherwise every later streaming query in the session
    # silently inherits RocksDB.
    with scoped_conf(spark, {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
    }):
        raw = read_event_stream(spark, source_dir).dropna(subset=["ts"])
        stats = raw.groupBy("user_id").transformWithStateInPandas(
            RunningStats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        writer = (
            stats.writeStream.outputMode("update")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
        )
        return writer.trigger(availableNow=True).start()


def start_session_window_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "session_stats",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J9: streaming session-window aggregation — the native
    ``session_window`` construct under Structured Streaming, where the
    state store merges a user's windows as events arrive and the
    watermark bounds how long an open session is retained.

    The batch twin is ``session_window_stats`` (B16, driver-gated
    oracle): same gap, same aggregate, so the test can assert
    stream == batch. Complete output mode keeps every merged session
    in the memory sink for that comparison; production would use
    append mode + watermark eviction with a foreachBatch upsert.
    """
    raw = read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    agg = (
        raw.dropna(subset=["ts"])
        .withWatermark("ts", watermark)
        .groupBy(
            "user_id",
            F.session_window("ts", gap).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.trigger(availableNow=True).start()


# ---------------------------------------------------------------------------
# J10 — exactly-once foreachBatch sink. Structured Streaming's
# foreachBatch contract is at-least-once: after a crash between the
# sink write and the checkpoint commit, the SAME batch_id is replayed
# into the sink on restart (the reference's etl-events.py blind-append
# sink duplicates rows in that window). This sink closes the gap with
# the standard batch-id commit log: each micro-batch writes to its own
# `batch=<id>` directory via a temp-dir + atomic rename, then stamps a
# commit marker; a replayed batch_id whose marker exists is a no-op,
# and readers only see marker-committed directories. Works on any
# filesystem with atomic dir rename (HDFS/local; on object stores the
# rename step swaps for a manifest write — the marker protocol is the
# portable part).
#
# 100 TB/day: the marker probe is one metadata call per micro-batch;
# data files never rewrite, and the per-batch dirs double as natural
# compaction/retention units (K8's compactor takes them as input).
# ---------------------------------------------------------------------------


def commit_marker_path(sink_dir: str, batch_id: int) -> str:
    """THE one owner of the commit-log layout: the marker file whose
    existence means ``batch_id`` is fully committed into ``sink_dir``.
    Consumed by the writer, the reader, and J11's pre-scoring probe —
    a layout change here moves all three together."""
    import os

    return os.path.join(sink_dir, "_commits", str(batch_id))


def exactly_once_batch_writer(sink_dir: str):
    """Return a foreachBatch callback writing batch-committed parquet.

    Split out from `start_exactly_once_sink` so crash/replay tests can
    drive the protocol directly with synthetic batch ids.
    """
    import os
    import shutil

    commits = os.path.join(sink_dir, "_commits")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = commit_marker_path(sink_dir, batch_id)
        if os.path.exists(marker):  # replay after sink-commit crash
            return
        if batch_df.isEmpty():
            os.makedirs(commits, exist_ok=True)
            open(marker, "w").close()  # commit emptiness: replay skips
            return
        final = os.path.join(sink_dir, f"batch={batch_id}")
        tmp = os.path.join(sink_dir, f"_tmp_batch_{batch_id}")
        # A half-written tmp dir from a previous crash is garbage by
        # construction (no marker) — overwrite it, never resume it.
        batch_df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):  # crashed between rename and marker
            shutil.rmtree(final)
        os.rename(tmp, final)
        os.makedirs(commits, exist_ok=True)
        open(marker, "w").close()

    return write_batch


def start_exactly_once_sink(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    timestamp_format: str | None = None,
) -> StreamingQuery:
    """J10: stream → clean → exactly-once batch-committed parquet."""
    cleaned = clean_events(
        read_event_stream(spark, source_dir, timestamp_format=timestamp_format)
    )
    return (
        cleaned.writeStream.foreachBatch(exactly_once_batch_writer(sink_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_committed(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Read ONLY marker-committed batch directories of a J10 sink.

    An uncommitted `batch=<id>` dir (crash after rename, before
    marker) is invisible — its rows reappear exactly once when the
    replayed batch rewrites and commits it.
    """
    import os

    commits = os.path.join(sink_dir, "_commits")
    ids = sorted(os.listdir(commits)) if os.path.isdir(commits) else []
    paths = [
        p
        for p in (os.path.join(sink_dir, f"batch={i}") for i in ids)
        if os.path.isdir(p)
    ]
    if not paths:
        raise ValueError(f"no committed batches under {sink_dir}")
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# J11-J13 — quality gates over a document stream: the INCREMENTAL twins
# of the batch curation gates, one stream shape for every gate family.
# Each micro-batch of arriving documents runs through a gate — a
# ``kept_of_batch`` callable built once from a frozen model — and the
# kept rows commit through the J10 exactly-once log. Scoring is per-doc
# pure, so streaming over batches equals the batch gate on the union
# (test-pinned for every family). The families compose:
#
#   classifier_gate   E7 hashed-linear score >= threshold (J11)
#   ccnet_gate        optional H51 rule screen, then the frozen LM +
#                     per-domain CCNet cut (J12)
#   staged_gate       a CCNet gate, then a classifier gate on its
#                     survivors — run_staged_curation's filterable
#                     prefix (J13)
#   versioned_gate    any of the three, rebuilt from model_dir's
#                     CURRENT manifest at batch boundaries (J14)
#
# Models are frozen per stream (or per published version) on purpose:
# CCNet thresholds are corpus-distribution quantiles and the classifier
# threshold is a PR-curve pick, so refitting per batch would make the
# cut depend on arrival order. A drifted corpus gets a new batch fit,
# published as a new version. DSIR/selection stay batch-side for the
# same reason: importance resampling is corpus-level state. Not a
# transformWithState job: with a static model and stateless per-doc
# scoring, foreachBatch + the commit log is the whole machine.
# ---------------------------------------------------------------------------

#: the document-stream schema (the documents-table contract)
DOC_STREAM_SCHEMA = "doc_id bigint, source string, text string"
#: its columns, as the gates read them
DOC_ID, DOC_SOURCE, DOC_TEXT = "doc_id", "source", "text"


def gate_batch_writer(sink_dir: str, gate):
    """foreachBatch callback: ``gate`` → exactly-once commit, the ONE
    copy of the gate-writer replay protocol. The marker probe runs
    FIRST: a replayed committed batch builds no scoring plan (base
    would skip the write, but only after its isEmpty probe executed
    the plan once). The kept frame is cached around base's isEmpty
    probe + write so each fresh batch scores ONCE.

    ``gate(batch_df)`` returns either a bare DataFrame, or
    ``(DataFrame, aux)`` where ``aux`` is a tuple of intermediate
    frames the gate persisted for intra-batch reuse — they are
    unpersisted here alongside the kept frame, so a long stream does
    not accumulate one pinned block set per micro-batch. Split out from
    ``start_gate_stream`` so crash/replay tests can drive the protocol
    with synthetic batch ids."""
    import os

    base = exactly_once_batch_writer(sink_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(commit_marker_path(sink_dir, batch_id)):
            return
        out = gate(batch_df)
        kept, aux = out if isinstance(out, tuple) else (out, ())
        try:
            with cached(kept):
                base(kept, batch_id)
        finally:
            for frame in aux:
                frame.unpersist()

    return write_batch


def start_gate_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    gate,
    *,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream documents (parquet, ``DOC_STREAM_SCHEMA``) from
    ``source_dir`` through ``gate`` into the exactly-once sink at
    ``sink_dir``. ``gate`` is any of ``classifier_gate``,
    ``ccnet_gate``, ``staged_gate`` or ``versioned_gate``; building it
    runs the model's validation, so a bad model raises before the
    stream starts. ``max_files_per_trigger`` caps each micro-batch (the
    file-source equivalent of a per-shard read cap)."""
    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(gate_batch_writer(sink_dir, gate))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _resolve_gate_threshold(
    threshold: float, cal_table: list | None, curve_bins: int | None
) -> float:
    """THE one copy of the calibrated-handoff resolution: a calibrated
    threshold arrives WITH its calibration table and bin convention or
    not at all; the gate always filters raw scores."""
    if cal_table is not None:
        from drive_bc_datapipeline_spark.operators.classifier import (
            calibrated_threshold_to_raw,
        )

        if curve_bins is None:
            # no default: the inversion's range guard only catches a
            # curve_bins SMALLER than the fit; a defaulted bin count
            # against a smaller-binned manifest would silently
            # rescale the cut
            raise ValueError(
                "cal_table without curve_bins: pass the manifest's "
                "curve_bins with its calibration_table — the raw "
                "threshold is bin/curve_bins, so a guessed bin count "
                "silently rescales the cut"
            )
        return calibrated_threshold_to_raw(
            [tuple(row) for row in cal_table],
            threshold,
            n_bins=curve_bins,
        )
    if curve_bins is not None:
        raise ValueError(
            "curve_bins without cal_table: a raw threshold has no bin "
            "convention — pass both halves of the calibrated handoff "
            "or neither"
        )
    return threshold


def classifier_gate(
    weights: dict[int, float],
    bias: float,
    threshold: float,
    *,
    n_buckets: int = 4096,
    n_gram: int = 1,
    cal_table: list | None = None,
    curve_bins: int | None = None,
):
    """J11: the E7 classifier gate — keep documents whose hashed-linear
    score clears ``threshold``. Kept rows keep every input column plus
    ``score``, the audit trail a curation sink needs.

    ``weights``/``bias``/``threshold`` come from the batch side —
    ``train_hashed_linear`` + the PR-curve selection. The gate filters
    RAW scores, so the meaning of ``threshold`` depends on how the
    batch side selected it:

    - uncalibrated manifest (``calibrate=False``): ``threshold`` is a
      raw score — leave ``cal_table`` as None.
    - calibrated manifest (``calibrate=True``): ``threshold`` is a
      probability on the CALIBRATED scale; pass the manifest's
      ``calibration_table`` as ``cal_table`` (+ its ``curve_bins``)
      and the conversion through
      ``classifier.calibrated_threshold_to_raw`` happens HERE, so the
      caller cannot apply a calibrated cut to raw scores by mistake.

    ``n_gram`` and the handoff pair are validated here, once, not at
    the first micro-batch."""
    from drive_bc_datapipeline_spark.operators.classifier import (
        _check_n_gram,
        score_hashed_linear,
    )

    _check_n_gram(n_gram)
    threshold = _resolve_gate_threshold(threshold, cal_table, curve_bins)

    def kept(df: DataFrame) -> DataFrame:
        scored = score_hashed_linear(
            df.sparkSession,
            df,
            weights,
            text_col=DOC_TEXT,
            id_col=DOC_ID,
            n_buckets=n_buckets,
            bias=bias,
            n_gram=n_gram,
        )
        return df.join(
            scored.filter(F.col("score") >= threshold).select(
                DOC_ID, "score"
            ),
            DOC_ID,
        )

    return kept


def _validate_lm_order(lm_order: int | None, tables: list) -> None:
    """THE one copy of the manifest-vs-model order check: thresholds
    fit at lm_order=2 applied with only the unigram table would
    silently score order-1 and the streamed kept-set would diverge
    from the batch cut. Pass the batch manifest's ``lm_order``;
    ``None`` skips the check (a caller without a manifest already
    chose the scorer by supplying the tables). ``tables`` must be
    EXACTLY the manifest's order, in both directions, up to order 5."""
    if lm_order is None:
        return
    if lm_order not in (1, 2, 3, 4, 5):
        raise ValueError(
            f"lm_order={lm_order}: the streaming gates score order 1 "
            "(unigram) through 5 (the generic backoff chain)"
        )
    supplied = len(tables)
    if supplied < lm_order:
        raise ValueError(
            f"lm_order={lm_order} per the manifest but only order-"
            f"{supplied} tables were supplied: the stream would score "
            f"order-{supplied} under order-{lm_order} thresholds and "
            "its kept-set would silently diverge from the batch cut "
            "— pass every table up to the manifest's order, fit on "
            "the same reference"
        )
    if supplied > lm_order:
        raise ValueError(
            f"lm_order={lm_order} per the manifest but order-"
            f"{supplied} tables were supplied: the stream would score "
            f"order-{supplied} under order-{lm_order} thresholds — "
            "drop the extra table(s) or re-fit the prefilter at "
            f"lm_order={supplied}"
        )


#: the LM chain's orders by name: the chain guard's messages and the
#: CCNet manifest's ``<name>_path`` keys
LM_ORDER_NAMES = ("unigram", "bigram", "trigram", "fourgram", "fivegram")


def _check_ccnet_gate_inputs(thresholds, tables: list) -> None:
    """THE one copy of the CCNet gate's structural guards, shared by
    the gate and both CCNet publishers: per-domain cuts to apply, and
    ``tables = [unigram, order2, ...]`` up to order 5 with each table
    at its own order. A table above its slot is a chain gap (an
    order-m table without every lower order has no backoff to
    interpolate onto), a config error rather than a shorter chain."""
    if not thresholds:
        raise ValueError(
            "empty thresholds: fit the batch prefilter first — a "
            "gate with no per-domain cuts would keep nothing it can "
            "explain"
        )
    # (w1 .. wk, n) is order k; the unigram's (tok, logp) is order 1
    orders = [len(table.columns) - 1 for table in tables]
    if not 1 <= len(tables) <= 5 or max(orders) > 5:
        raise ValueError(
            f"LM tables of orders {orders}: pass [unigram, order2, ...] "
            "up to order 5 (CCNet's KenLM order)"
        )
    for m, got in enumerate(orders, start=1):
        if got > m:
            raise ValueError(
                f"a {LM_ORDER_NAMES[got - 1]} table without its "
                f"{', '.join(LM_ORDER_NAMES[m - 1:got - 1])} backoff: "
                f"the order-{got} chain interpolates level by level "
                "down to the unigram — pass every lower-order table "
                "fit on the same reference"
            )


def ccnet_gate(
    tables: list,
    thresholds: dict[str, float],
    q: float,
    *,
    alpha: float = 0.5,
    lam: float = 0.7,
    lm_order: int | None = None,
    rules_config: dict | None = None,
):
    """J12: the frozen CCNet cut (H49/H50/H52 scoring → H48 per-domain
    threshold), optionally behind the H51 rule screen.

    ``tables`` is the LM chain ``[unigram, order2, ...]``: the
    unigram_lm_table relation alone scores order 1, and each
    ngram_lm_table after it raises the backoff chain's order by one.
    ``thresholds``/``q`` are the batch prefilter manifest's {source:
    threshold} dict and quantile, applied through apply_domain_filter's
    pre-collected-rows path, so a document from a domain the fit never
    saw fails fast exactly like the batch job.
    Pass the SAME alpha/lam the manifest records, and its ``lm_order``
    so a thresholds/model order mismatch raises instead of silently
    scoring the wrong order. Token-less docs drop (the H49 contract).
    Kept rows carry n_toks/avg_nll as the audit trail.

    ``rules_config`` is the batch job's stage-0 rule screen verbatim
    (``None`` = the batch ran without rules; ``{}`` = rules on at the
    Gopher defaults). The screen is part of the decision function: a
    stream without it keeps rule-failing docs the batch cut dropped.
    It is a lazy codegen'd predicate that fuses into the LM stage's
    scan, and the flag columns it appends are dropped again (by
    set-difference, so every active flag goes), so kept rows carry the
    input schema.

    The frozen model's validation probes (the OOV-row read; for the
    chain also the vocab stats + same-reference anti-joins) run ONCE
    here, never per micro-batch."""
    from drive_bc_datapipeline_spark.operators.domain_filter import (
        apply_domain_filter,
    )
    from drive_bc_datapipeline_spark.operators.lm_score import (
        ngram_chain_stats,
        score_docs_under_lm,
        score_docs_under_ngram_chain,
        unigram_oov_logp,
    )
    from drive_bc_datapipeline_spark.operators.quality_rules import (
        quality_rule_screen,
    )

    _check_ccnet_gate_inputs(thresholds, tables)
    _validate_lm_order(lm_order, tables)
    threshold_rows = [
        {"source": s, "q": float(q), "threshold": float(t)}
        for s, t in sorted(thresholds.items())
    ]
    if len(tables) >= 2:
        frozen_stats = ngram_chain_stats(tables)
    else:
        frozen_oov = unigram_oov_logp(tables[0])

    def kept(df: DataFrame) -> DataFrame:
        if rules_config is not None:
            df, _funnel = quality_rule_screen(df, **rules_config)
        if len(tables) >= 2:
            scores = score_docs_under_ngram_chain(
                df, tables,
                text_col=DOC_TEXT, id_col=DOC_ID, alpha=alpha, lam=lam,
                stats=frozen_stats,
            )
        else:
            scores = score_docs_under_lm(
                df, tables[0], text_col=DOC_TEXT, id_col=DOC_ID,
                oov_logp=frozen_oov,
            )
        return apply_domain_filter(
            df.join(scores, DOC_ID), threshold_rows, q,
            source_col=DOC_SOURCE, score_col="avg_nll",
        )

    return kept


def staged_gate(ccnet, classifier):
    """J13: ``ccnet`` (a ``ccnet_gate``) then ``classifier`` (a
    ``classifier_gate``) on its survivors. The kept set equals running
    the batch prefilter's cut then the batch classifier gate on the
    survivors (test-pinned); kept rows carry BOTH audit trails.

    The prefiltered relation is persisted and eagerly counted per
    batch: the classifier consumes it twice (score + join-back), and
    without the pin the LM scoring joins would re-execute per consumer.
    It is handed back as aux so ``gate_batch_writer`` releases it after
    the commit (persist rather than localCheckpoint, whose blocks have
    no release hook and would pile up on executors over a long
    stream). A raise between the persist and the writer's try/finally
    would leave the pin behind, so it is released and re-raised here."""

    def kept_of_batch(batch_df: DataFrame):
        # explicit: gate_batch_writer releases it (as aux) after the commit
        prefiltered = ccnet(batch_df).persist()
        try:
            prefiltered.count()
            return classifier(prefiltered), (prefiltered,)
        except BaseException:
            prefiltered.unpersist()
            raise

    return kept_of_batch


# ---------------------------------------------------------------------------
# J14 — model rotation for the frozen gates: a drifted corpus gets a
# new batch fit, and the in-flight sink hands over to it at exactly a
# micro-batch boundary instead of a stop-the-world restart.
#
#   model_dir/gate_model_v{N}.json   immutable versioned manifests
#   model_dir/CURRENT                the pointer, swapped by atomic
#                                    rename (os.replace) — the same
#                                    atomicity point the commit log
#                                    already relies on
#
# versioned_gate resolves CURRENT once per micro-batch, AFTER the
# replay-marker probe (a replayed committed batch never reads the
# version) and BEFORE any scoring plan is built; the kept rows carry a
# ``model_version`` audit column so every committed row names the model
# that passed it. A version change rebuilds the gate exactly once (the
# frozen model-state probes run per VERSION, not per batch).
#
# A crash-window REWRITE (marker removed, batch re-driven) scores under
# the version CURRENT points to at rewrite time, not the version that
# first wrote it — last-write-wins per batch is the commit log's
# contract, and the audit column records which model produced the
# surviving rows.
# ---------------------------------------------------------------------------

GATE_MODEL_PREFIX = "gate_model_v"


def _next_gate_version(model_dir: str) -> int:
    """One past the highest published version (single-publisher
    protocol: the batch re-fit job is the only writer — concurrent
    publishers would need a lock this deliberately does not take)."""
    import os

    os.makedirs(model_dir, exist_ok=True)
    versions = [
        int(f[len(GATE_MODEL_PREFIX):-len(".json")])
        for f in os.listdir(model_dir)
        if f.startswith(GATE_MODEL_PREFIX) and f.endswith(".json")
    ]
    return max(versions, default=0) + 1


def _publish_gate_version(
    model_dir: str, version: int, manifest: dict
) -> int:
    """Write the immutable manifest for ``version`` and swap CURRENT
    to it by atomic rename — THE one copy of the swap (shared by the
    plain and the CCNet publishers)."""
    import json
    import os

    path = os.path.join(model_dir, f"{GATE_MODEL_PREFIX}{version}.json")
    with open(path, "w") as f:
        json.dump(manifest, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    tmp = os.path.join(model_dir, ".CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(model_dir, "CURRENT"))  # the swap
    return version


def publish_gate_model(model_dir: str, manifest: dict) -> int:
    """Publish a new gate-model version: write the immutable
    ``gate_model_v{N}.json`` (N = one past the highest existing
    version), then swap ``CURRENT`` to it by atomic rename. Returns
    the version number. The batch re-fit job calls this after
    training; every in-flight versioned stream picks the new model
    up at its next micro-batch boundary."""
    return _publish_gate_version(
        model_dir, _next_gate_version(model_dir), manifest
    )


def read_current_gate_model(model_dir: str) -> tuple[int, dict]:
    """(version, manifest) for the model ``CURRENT`` points to.
    Fails loudly when nothing has been published — a gate stream
    with no model would otherwise have to invent a cut."""
    import json
    import os

    current = os.path.join(model_dir, "CURRENT")
    if not os.path.exists(current):
        raise ValueError(
            f"no CURRENT gate model under {model_dir!r}: publish one "
            "with publish_gate_model before starting the stream"
        )
    with open(current) as f:
        version = int(f.read().strip())
    path = os.path.join(model_dir, f"{GATE_MODEL_PREFIX}{version}.json")
    with open(path) as f:
        return version, json.load(f)


#: Required keys of a classifier-gate manifest (the versioned JSON
#: twin of classifier_gate's argument list).
CLASSIFIER_GATE_MANIFEST_KEYS = (
    "weights", "bias", "threshold", "n_buckets", "n_gram",
)


def classifier_gate_manifest(
    weights: dict[int, float],
    bias: float,
    threshold: float,
    *,
    n_buckets: int = 4096,
    n_gram: int = 1,
    cal_table: list | None = None,
    curve_bins: int | None = None,
) -> dict:
    """Build the JSON-safe versioned manifest for the J11 classifier
    gate (JSON keys are strings, so bucket ids round-trip through
    str — the reader converts back). The calibrated handoff travels
    as the (cal_table, curve_bins) PAIR or not at all, the
    _resolve_gate_threshold discipline."""
    if (cal_table is None) != (curve_bins is None):
        raise ValueError(
            "cal_table and curve_bins travel together or not at all "
            "(the calibrated-handoff pair rule)"
        )
    return {
        "gate": "classifier",
        "weights": {str(b): float(w) for b, w in weights.items()},
        "bias": float(bias),
        "threshold": float(threshold),
        "n_buckets": int(n_buckets),
        "n_gram": int(n_gram),
        "cal_table": (
            [list(row) for row in cal_table] if cal_table is not None
            else None
        ),
        "curve_bins": curve_bins,
    }


#: Required keys of a CCNet-gate manifest (the versioned twin of
#: ccnet_gate's argument list; LM relations travel as parquet PATHS —
#: vocabulary-bounded tables, written by the publisher, re-read once
#: per version when the gate is built).
CCNET_GATE_MANIFEST_KEYS = (
    "thresholds", "q", "alpha", "lam", "lm_order", "lm_path",
)


def publish_ccnet_gate_model(
    model_dir: str,
    *,
    tables: list,
    thresholds: dict[str, float],
    q: float,
    alpha: float = 0.5,
    lam: float = 0.7,
    rules_config: dict | None = None,
) -> int:
    """Publish a CCNet gate model under the rotation protocol: the
    vocabulary-bounded LM relations (``tables = [unigram, order2,
    ...]``) land as parquet under ``model_dir/ccnet_v{N}/`` FIRST,
    then the manifest referencing them swaps in atomically — an
    in-flight stream can never resolve a version whose tables are
    still being written. ``thresholds``/``q``/``alpha``/``lam`` come
    from the batch prefilter's manifest; ``lm_order`` is
    ``len(tables)`` (the _validate_lm_order contract, so manifest and
    tables cannot disagree at birth). ``rules_config``: the batch
    prefilter's stage-0 rule screen, recorded so a rotated stream
    applies THE SAME screen (``None`` = the batch ran without rules;
    ``{}`` = rules on at the Gopher defaults)."""
    _check_ccnet_gate_inputs(thresholds, tables)
    version = _next_gate_version(model_dir)
    manifest = _write_ccnet_tables(
        model_dir, version, tables=tables, thresholds=thresholds, q=q,
        alpha=alpha, lam=lam,
    )
    manifest["rules_config"] = (
        dict(rules_config) if rules_config is not None else None
    )
    return _publish_gate_version(model_dir, version, manifest)


def _write_ccnet_tables(
    model_dir: str,
    version: int,
    *,
    tables: list,
    thresholds: dict[str, float],
    q: float,
    alpha: float,
    lam: float,
) -> dict:
    """Write the vocabulary-bounded LM tables under the version dir
    and return the CCNet manifest half referencing them — THE one
    copy shared by the plain and the staged publishers. Tables land
    BEFORE the caller's manifest swap; an order the chain does not
    reach keeps its ``<name>_path`` key as None."""
    import os

    base = os.path.join(model_dir, f"ccnet_v{version}")
    lm_path = os.path.join(base, "lm")
    tables[0].write.mode("overwrite").parquet(lm_path)
    manifest = {
        "gate": "ccnet",
        "thresholds": {s: float(t) for s, t in sorted(thresholds.items())},
        "q": float(q),
        "alpha": float(alpha),
        "lam": float(lam),
        "lm_order": len(tables),
        "lm_path": lm_path,
        **{f"{name}_path": None for name in LM_ORDER_NAMES[1:]},
    }
    for name, tab in zip(LM_ORDER_NAMES[1:], tables[1:]):
        path = os.path.join(base, name)
        manifest[f"{name}_path"] = path
        tab.write.mode("overwrite").parquet(path)
    return manifest


def publish_staged_gate_model(
    model_dir: str,
    *,
    tables: list,
    thresholds: dict[str, float],
    q: float,
    weights: dict[int, float],
    bias: float,
    threshold: float,
    alpha: float = 0.5,
    lam: float = 0.7,
    n_buckets: int = 4096,
    n_gram: int = 1,
    cal_table: list | None = None,
    curve_bins: int | None = None,
    rules_config: dict | None = None,
) -> int:
    """Publish BOTH halves of the staged gate (CCNet prefilter +
    classifier) as ONE versioned model, so a staged sink rotates
    atomically — publishing the halves separately would let a stream
    resolve a new prefilter against an old classifier mid-swap. The
    LM tables (``[unigram, order2, ...]``) land under the version dir
    before the manifest swap (the publish_ccnet_gate_model
    discipline); the classifier half travels through
    ``classifier_gate_manifest`` (same calibrated pair-or-nothing
    rule).

    ``rules_config``: the batch job's stage-0 rule screen, recorded in
    the manifest so a rotated stream applies THE SAME screen — a
    staged job run with ``rules=True`` whose thresholds and weights
    were fit on rule-survivors would otherwise publish a gate that
    keeps rule-failing docs the batch cut dropped. ``None`` = the
    batch job ran without rules; ``{}`` = rules on at the published
    Gopher defaults."""
    _check_ccnet_gate_inputs(thresholds, tables)
    version = _next_gate_version(model_dir)
    manifest = {
        "gate": "staged",
        "ccnet": _write_ccnet_tables(
            model_dir, version, tables=tables, thresholds=thresholds,
            q=q, alpha=alpha, lam=lam,
        ),
        "classifier": classifier_gate_manifest(
            weights, bias, threshold,
            n_buckets=n_buckets, n_gram=n_gram,
            cal_table=cal_table, curve_bins=curve_bins,
        ),
        "rules_config": dict(rules_config)
        if rules_config is not None
        else None,
    }
    return _publish_gate_version(model_dir, version, manifest)


def _gate_of_manifest(spark: SparkSession, manifest: dict):
    """Build the frozen gate a published manifest describes,
    dispatching on its ``"gate"`` family. ``versioned_gate`` calls this
    once per VERSION, so the model's validation probes (and a CCNet
    model's table reads) run once per version, not per batch. A staged
    manifest builds its two halves through this same dispatch, its
    rule screen riding on the CCNet half."""
    family = manifest.get("gate")
    required = {
        "classifier": (CLASSIFIER_GATE_MANIFEST_KEYS,
                       "gate manifest", "classifier_gate_manifest"),
        "ccnet": (CCNET_GATE_MANIFEST_KEYS,
                  "gate manifest", "publish_ccnet_gate_model"),
        "staged": (("ccnet", "classifier"),
                   "staged gate manifest", "publish_staged_gate_model"),
    }
    if family not in required:
        raise ValueError(
            f"gate manifest family {family!r} is not one of "
            f"{sorted(required)}: publish it with one of the gate "
            "publishers"
        )
    keys, what, publisher = required[family]
    missing = [k for k in keys if k not in manifest]
    if missing:
        raise ValueError(
            f"{what} is missing {missing}: publish it with {publisher}"
        )
    if family == "classifier":
        return classifier_gate(
            {int(b): float(w) for b, w in manifest["weights"].items()},
            manifest["bias"],
            manifest["threshold"],
            n_buckets=manifest["n_buckets"],
            n_gram=manifest["n_gram"],
            cal_table=manifest.get("cal_table"),
            curve_bins=manifest.get("curve_bins"),
        )
    if family == "staged":
        return staged_gate(
            _gate_of_manifest(spark, {
                **manifest["ccnet"],
                "rules_config": manifest.get("rules_config"),
            }),
            _gate_of_manifest(spark, manifest["classifier"]),
        )
    paths = [manifest["lm_path"]] + [
        manifest.get(f"{name}_path") for name in LM_ORDER_NAMES[1:]
    ]
    return ccnet_gate(
        [spark.read.parquet(path) for path in paths if path],
        {s: float(t) for s, t in manifest["thresholds"].items()},
        manifest["q"],
        alpha=manifest["alpha"],
        lam=manifest["lam"],
        # publish derives lm_order from the stored tables, but a
        # hand-rolled manifest can disagree with them
        lm_order=manifest["lm_order"],
        rules_config=manifest.get("rules_config"),
    )


def versioned_gate(spark: SparkSession, model_dir: str):
    """J14: the gate ``model_dir``'s CURRENT manifest describes,
    re-resolved at every micro-batch boundary; every kept row carries
    ``model_version``. A re-fit batch job publishes the next version
    (``publish_gate_model``, ``publish_ccnet_gate_model`` or
    ``publish_staged_gate_model``) and the in-flight stream swaps over
    without a restart, the gate rebuilt once per version.

    CURRENT is read once here, so building the gate fails when nothing
    is published (a gate with no model has no cut to apply), and that
    first manifest fixes the stream's gate family: a later version of
    another family raises instead of changing what the sink's rows
    mean."""
    _version, first = read_current_gate_model(model_dir)
    family = first.get("gate")
    built: dict = {"version": None, "gate": None}

    def kept_of_batch(batch_df: DataFrame):
        version, manifest = read_current_gate_model(model_dir)
        if version != built["version"]:
            if manifest.get("gate") != family:
                raise ValueError(
                    f"gate model v{version} under {model_dir!r} is a "
                    f"{manifest.get('gate')!r} gate but this stream "
                    f"started on a {family!r} gate: a stream keeps "
                    "one gate family — start a new stream (new sink) "
                    "for the other family"
                )
            built["gate"] = _gate_of_manifest(spark, manifest)
            built["version"] = version
        out = built["gate"](batch_df)
        kept, aux = out if isinstance(out, tuple) else (out, ())
        return kept.withColumn("model_version", F.lit(version)), aux

    return kept_of_batch
