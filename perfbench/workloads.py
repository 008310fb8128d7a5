"""The benchmark's workloads, driven through the engine's public entry
points: ``plans.registry.QUERIES``, ``jobs.run_curation_pipeline`` and
``streaming.pipeline.start_exactly_once_sink``.

A workload is a closed loop with one client. ``run_pass`` runs every
operation of one pass and returns the pass's timed seconds and its
operations, each ``(kind, seconds, ok)``. With ``check=True`` (the cold
pass) every operation's output is checked, untimed: a key is built and
collected again, which adds to the keys' warm-up; a drain and a curation
call are checked on the output they wrote.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import sys
import time

import numpy as np

import datagen
import reference

HERE = os.path.dirname(os.path.abspath(__file__))

#: timestamps in the JSONL backlog, and the format the stream parses
TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def frozen_keys() -> dict:
    with open(os.path.join(HERE, "keys.json")) as fh:
        return json.load(fh)


def _warn(msg: str) -> None:
    print(f"  {msg}"[:400], file=sys.stderr)


class Ctx:
    """What every workload needs: the session, the generated inputs, a
    private work directory, the seed's random stream and the tracer
    (``None`` for an untraced run)."""

    def __init__(self, spark, data_dir: str, work: str, seed: int, tables: dict):
        self.spark = spark
        self.data_dir = data_dir
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.tables = tables
        self.tracer = None

    def span(self, name: str, group: bool = False, **attrs):
        if self.tracer is None or not self.tracer.active:
            return contextlib.nullcontext()
        return self.tracer.span(name, group=group, **attrs)

    @contextlib.contextmanager
    def untraced(self):
        """Suspend tracing (for output checks)."""
        was = self.tracer.active if self.tracer else False
        if self.tracer:
            self.tracer.active = False
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.active = was


def _timed(ctx: Ctx, name: str, fn, group: bool = False):
    """Run ``fn`` inside a span (when tracing); returns its result."""
    with ctx.span(name, group=group):
        return fn()


class Keys:
    """Frozen lists of registry keys, lazy and pinned, each built and
    written to the ``noop`` sink. The cold pass runs them in name order,
    so the same key pays the session's first-use costs on every seed;
    the seed fixes the order of every later pass. The check builds the
    key again and compares its collected rows with the key's DuckDB
    oracle result on the same inputs, kept in ``keys.json``
    (``reference.py``)."""

    def __init__(self, names: list[str], pinned: list[str]):
        self.names = names + pinned
        self.pinned = set(pinned)
        self.refs: dict[str, tuple[int, str]] = {}

    def prepare(self, ctx: Ctx) -> None:
        refs = frozen_keys()["reference"]
        self.refs = {k: tuple(refs[k]) for k in self.names}

    def _check(self, ctx: Ctx, fn, name: str) -> bool:
        df = fn(ctx.spark, ctx.data_dir)
        fp = reference.fingerprint(df.collect(), df.columns)
        if fp != self.refs[name]:
            _warn(f"{name}: {fp} != oracle {self.refs[name]}")
        return fp == self.refs[name]

    def run_pass(self, ctx: Ctx, check: bool = False):
        from drive_bc_datapipeline_spark.plans import registry

        order = sorted(self.names)
        if not check:
            ctx.rng.shuffle(order)
        ops = []
        for name in order:
            fn = registry.QUERIES[name]
            ok = True
            with ctx.span("op", key=name, pinned=name in self.pinned):
                t0 = time.perf_counter()
                try:
                    df = _timed(ctx, "build", lambda: fn(ctx.spark, ctx.data_dir), group=True)
                    _timed(ctx, "run", df.write.format("noop").mode("overwrite").save,
                           group=True)
                except Exception as exc:  # a failing key is a failed operation
                    _warn(f"{name}: {exc!r}")
                    ok = False
                secs = time.perf_counter() - t0
            if check and ok:
                with ctx.untraced():
                    ok = self._check(ctx, fn, name)
            ops.append(("key", secs, ok))
        return sum(op[1] for op in ops), ops


class Curation:
    """``jobs.run_curation_pipeline`` on the documents, with labelled
    seeds and a target set derived from the seed, writing sharded
    parquet. Every call must select ``K`` known documents, and the same
    ones as the first call; every call is checked, the cold one included."""

    K = 100
    ROUNDS = 2
    LR = 1.0
    SHARDS = 4
    N_SEEDS = 600

    def prepare(self, ctx: Ctx) -> None:
        docs = ctx.tables["documents"]
        ids = docs.column("doc_id").to_pylist()
        texts = docs.column("text").to_pylist()
        srcs = docs.column("source").to_pylist()
        words = list(datagen.WORDS)
        ctx.rng.shuffle(words)
        good = set(words[: len(words) // 2])
        # label 1 when at least 60% of a document's words are "good" and
        # 0 when at most 40% are: separable with a margin in unigram
        # counts, so a short training run yields a usable gate
        share = [sum(w in good for w in t.split()) / len(t.split()) for t in texts]
        labelled = [i for i, f in enumerate(share) if abs(f - 0.5) >= 0.1]
        seed_rows = [(10**6 + ids[i], int(share[i] > 0.5), texts[i])
                     for i in ctx.rng.sample(labelled, min(self.N_SEEDS, len(labelled)))]
        target_src = set(ctx.rng.sample(sorted(set(srcs)), 4))
        target_rows = [(d, t) for d, t, s in zip(ids, texts, srcs) if s in target_src]
        spark = ctx.spark
        self.doc_ids = set(ids)
        self.docs = spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet")) \
            .select("doc_id", "text")
        self.seeds = spark.createDataFrame(seed_rows, "doc_id long, label int, text string")
        self.target = spark.createDataFrame(target_rows, "doc_id long, text string")
        self.selected: set | None = None
        self.calls = 0
        self.bytes_written: list[int] = []
        self.files_written: list[int] = []

    def _call(self, ctx: Ctx) -> tuple[float, bool, str]:
        from drive_bc_datapipeline_spark import jobs

        self.calls += 1
        out = os.path.join(ctx.work, "curation", str(self.calls))
        with ctx.span("op", group=True, kind="curation"):
            t0 = time.perf_counter()
            manifest = jobs.run_curation_pipeline(
                ctx.spark, self.docs, self.seeds, self.target, out,
                k=self.K, n_rounds=self.ROUNDS, lr=self.LR, n_shards=self.SHARDS,
                seed=ctx.seed,
            )
            secs = time.perf_counter() - t0
        ids = {r[0] for r in ctx.spark.read.parquet(manifest["path"]).select("doc_id").collect()}
        if self.selected is None:
            self.selected = ids
        ok = (manifest["n_selected"] == self.K and len(ids) == self.K
              and ids <= self.doc_ids and ids == self.selected)
        if not ok:
            _warn(f"curation: n_selected {manifest['n_selected']}, {len(ids)} ids, "
                  f"{len(ids - self.doc_ids)} unknown, {len(ids ^ self.selected)} differ "
                  "from the first call")
        return secs, ok, out

    def run_pass(self, ctx: Ctx, check: bool = False):
        secs, ok, out = self._call(ctx)
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet")]
        self.files_written.append(len(files))
        self.bytes_written.append(sum(os.path.getsize(f) for f in files))
        shutil.rmtree(out, ignore_errors=True)
        return secs, [("curation", secs, ok)]


def _digest(df) -> tuple:
    """Row count and sum of per-row hashes: equal for equal multisets of
    rows, computed in one Spark job."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())


class EventStream:
    """``start_exactly_once_sink`` draining a JSONL backlog of the
    generated events; each drain starts from an empty checkpoint and
    sink, and each micro-batch is one operation. Every drain must commit
    each generated row once; the cold drain's check also compares the
    committed rows with ``clean_events`` of the input."""

    N_FILES = 30  # 3 micro-batches at the default 10 files per trigger

    def prepare(self, ctx: Ctx) -> None:
        ev = ctx.tables["events"]
        self.rows = ev.num_rows
        self.src = os.path.join(ctx.work, "backlog")
        os.makedirs(self.src)
        ts = np.datetime_as_string(ev.column("ts").to_numpy(), unit="us")
        cols = {c: ev.column(c).to_pylist()
                for c in ("event_id", "user_id", "event_type", "value", "props")}
        # the seed splits the events into files of uneven size
        cuts = sorted(ctx.rng.sample(range(1, self.rows), self.N_FILES - 1))
        bounds = [0] + cuts + [self.rows]
        for f in range(self.N_FILES):
            with open(os.path.join(self.src, f"part-{f:04d}.jsonl"), "w") as fh:
                for i in range(bounds[f], bounds[f + 1]):
                    fh.write(json.dumps({
                        "event_id": str(cols["event_id"][i]),
                        "ts": ts[i].replace("T", " "),
                        "user_id": str(cols["user_id"][i]),
                        "event_type": cols["event_type"][i],
                        "value": cols["value"][i],
                        "props": cols["props"][i],
                    }) + "\n")
        self.drains = 0
        self.progress: list[list[dict]] = []
        self.drain_s: list[float] = []
        self.start_s: list[float] = []
        self.bytes_written: list[int] = []
        self.files_written: list[int] = []

    def expected(self, spark):
        from drive_bc_datapipeline_spark.streaming.pipeline import (
            RAW_EVENT_SCHEMA,
            clean_events,
        )

        raw = spark.read.schema(RAW_EVENT_SCHEMA).option("timestampFormat", TS_FORMAT) \
            .json(self.src)
        return clean_events(raw)

    def _drain(self, ctx: Ctx, compare: bool):
        from pyspark.sql import functions as F

        from drive_bc_datapipeline_spark.streaming import pipeline

        self.drains += 1
        base = os.path.join(ctx.work, "drain", str(self.drains))
        sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
        with ctx.span("op", group=True, kind="drain") as span:
            t0 = time.perf_counter()
            with ctx.span("stream.start"):
                q = pipeline.start_exactly_once_sink(
                    ctx.spark, self.src, sink, ckpt, timestamp_format=TS_FORMAT)
            start_s = time.perf_counter() - t0
            q.awaitTermination()
            secs = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if span is not None:
            span.attrs.update(run_id=str(q.runId), batches=len(progress))
        files = [os.path.join(d, f) for d, _, fs in os.walk(sink) for f in fs
                 if f.endswith(".parquet")]
        written = (len(files), sum(os.path.getsize(f) for f in files))
        ok = q.exception() is None
        if not ok:
            _warn(f"event_stream: {q.exception()}")
        else:
            got = pipeline.read_committed(ctx.spark, sink)
            n, n_ids = got.agg(F.count(F.lit(1)), F.countDistinct("event_id")).first()
            ok = n == n_ids == self.rows
            if ok and compare:
                ok = _digest(got) == _digest(self.expected(ctx.spark))
            if not ok:
                _warn(f"event_stream: {n} rows, {n_ids} distinct ids, {self.rows} generated")
        shutil.rmtree(base, ignore_errors=True)
        return secs, start_s, progress, written, ok

    def run_pass(self, ctx: Ctx, check: bool = False):
        secs, start_s, progress, (n_files, n_bytes), ok = self._drain(ctx, compare=check)
        self.drain_s.append(secs)
        self.start_s.append(start_s)
        self.progress.append(progress)
        self.files_written.append(n_files)
        self.bytes_written.append(n_bytes)
        ops = [("batch", p["durationMs"]["triggerExecution"] / 1000.0, ok) for p in progress]
        return secs, ops or [("batch", secs, False)]


class Mix:
    """Several workloads run back to back as one pass."""

    def __init__(self, parts: list):
        self.parts = parts

    def prepare(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.prepare(ctx)

    def run_pass(self, ctx: Ctx, check: bool = False):
        secs, ops = 0.0, []
        for p in self.parts:
            s, o = p.run_pass(ctx, check)
            secs, ops = secs + s, ops + o
        return secs, ops


def make(name: str) -> Mix:
    if name == "keys_stream":
        keys = frozen_keys()
        return Mix([Keys(keys["lazy_keys"]["keys"], keys["pinned_keys"]["keys"]), EventStream()])
    if name == "curation":
        return Mix([Curation()])
    raise ValueError(f"unknown workload {name!r}")
