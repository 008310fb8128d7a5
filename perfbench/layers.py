"""Per-layer metrics of a traced run, from its spans and Spark event log.

Per-pass quantities are medians over the measured passes, all of which
a traced run traces; a metric of a layer the workload does not reach
reads 0.
"""

from __future__ import annotations

import statistics

from stats import self_time
from tracing import read_event_log

LAYER_UNITS = {
    "session.start_s": "s", "registry.load_s": "s", "session.first_action_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_jobs_cold": "count",
    "plans.py4j_calls": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_p50_s": "s", "exec.busy_frac": "ratio", "exec.max_task_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.input_bytes": "B",
    "jobs.frames_s": "s", "jobs.write_s": "s", "jobs.jobs": "count",
    "classifier.train_s": "s", "classifier.train_jobs": "count",
    "sources.bytes_written": "B", "sources.files_written": "count",
    "stream.start_s": "s", "stream.batches": "count", "stream.jobs_per_batch": "count",
    "stream.add_batch_p50_s": "s", "stream.planning_p50_s": "s",
    "stream.offsets_p50_s": "s", "stream.source_read_ratio": "ratio", "stream.rows_per_s": "1/s",
    "keys.pinned_share": "ratio",
    "trace.steady_s": "s", "trace.unattributed_frac": "ratio",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def stream_rates(generated_rows: int, drain_s: list[float], progress: list[list[dict]]):
    """Rows per second of a drain and the source's read ratio. Rows come
    from the generator: ``numInputRows`` also counts rows the sink's
    emptiness probe re-reads, so it over-counts what was committed."""
    if not drain_s:
        return 0.0, 0.0
    read = [sum(p["numInputRows"] for p in batches) for batches in progress]
    return generated_rows / statistics.median(drain_s), _med(r / generated_rows for r in read)


def compute(tracer, log_dir: str, wl, cold: dict, measured: list[dict], cpus: int,
            setup: dict) -> dict:
    log = read_event_log(log_dir)
    jobs, stages = log["jobs"], log["stages"]
    by_id = {s.id: s for s in tracer.spans}
    # a job belongs to the span named by its group; stream jobs carry the
    # query's run id, which the drain span recorded
    run_ids = {s.attrs["run_id"]: s.id for s in tracer.spans if "run_id" in s.attrs}
    owner: dict[int, int] = {}
    for jid, j in jobs.items():
        g = j["group"]
        sid = run_ids.get(g) if g in run_ids else (int(g) if g and g.isdigit() else None)
        if sid in by_id:
            owner[jid] = sid

    def jobs_under(span_ids: set[int]) -> list[int]:
        return [jid for jid, sid in owner.items() if sid in span_ids]

    def subtree(span) -> list:
        return [span] + tracer.descendants(span)

    def named(spans, name):
        return [s for s in spans if s.name == name]

    out = {k: 0.0 for k in LAYER_UNITS}
    for k in ("session.start_s", "registry.load_s", "session.first_action_s"):
        out[k] = setup[k]

    per_pass: dict[str, list[float]] = {}
    job_walls, op_s, unattributed = [], 0.0, 0.0
    stream_jobs, stream_batches = 0, 0
    for p in measured:
        tree = subtree(p["span"])
        ids = {s.id for s in tree}
        builds = named(tree, "build")
        build_jobs = set(jobs_under({s.id for s in builds}))
        exec_jobs = [j for j in jobs_under(ids) if j not in build_jobs]
        all_stages = [st for j in jobs_under(ids) for st in jobs[j]["stages"] if st in stages]
        exec_stages = [st for j in exec_jobs for st in jobs[j]["stages"] if st in stages]
        job_walls += [jobs[j]["end"] - jobs[j]["submit"] for j in jobs_under(ids)
                      if jobs[j]["end"] is not None]
        row = {
            "plans.build_s": sum(s.duration for s in builds),
            "plans.build_jobs": len(build_jobs),
            "plans.py4j_calls": sum(s.attrs["py4j"] for s in builds),
            "exec.run_s": sum(s.duration for s in named(tree, "run")),
            "exec.jobs": len(exec_jobs),
            "exec.stages": len(exec_stages),
            "exec.tasks": sum(stages[st]["tasks"] for st in exec_stages),
            "exec.busy_frac": sum(stages[st]["run_s"] for st in all_stages)
            / (cpus * p["span"].duration),
            "exec.max_task_s": max((stages[st]["max_task_s"] for st in exec_stages), default=0),
            "exec.shuffle_write_bytes": sum(stages[st]["shuffle_write_bytes"] for st in exec_stages),
            "exec.input_bytes": sum(stages[st]["input_bytes"] for st in exec_stages),
            "jobs.frames_s": sum(s.duration for s in named(tree, "jobs.frames")),
            "classifier.train_s": sum(s.duration for s in named(tree, "classifier.train")),
            "classifier.train_jobs": len(jobs_under(
                {d.id for s in named(tree, "classifier.train") for d in subtree(s)})),
        }
        cur = [s for s in named(tree, "op") if s.attrs.get("kind") == "curation"]
        row["jobs.write_s"] = sum(s.duration for s in cur) - row["jobs.frames_s"]
        row["jobs.jobs"] = len(jobs_under({d.id for s in cur for d in subtree(s)}))
        drains = [s for s in named(tree, "op") if "batches" in s.attrs]
        stream_jobs += len(jobs_under({s.id for s in drains}))
        stream_batches += sum(s.attrs["batches"] for s in drains)
        keys = [s for s in named(tree, "op") if "key" in s.attrs]
        # the pinned keys' share of the pass: how much of steady_s a
        # change to the pins alone can move
        row["keys.pinned_share"] = sum(s.duration for s in keys if s.attrs["pinned"]) / p["secs"]
        op_s += sum(s.duration for s in keys)
        unattributed += sum(self_time(s, tree) for s in keys)
        for k, v in row.items():
            per_pass.setdefault(k, []).append(v)
    for k, vs in per_pass.items():
        out[k] = _med(vs)
    out["exec.job_p50_s"] = _med(job_walls)
    if stream_batches:
        out["stream.jobs_per_batch"] = stream_jobs / stream_batches
    # a key operation's self time is what neither its build nor its run covers
    out["trace.unattributed_frac"] = unattributed / op_s if op_s else 0.0
    out["trace.steady_s"] = _med(p["secs"] for p in measured)
    cold_tree = subtree(cold["span"])
    out["plans.build_jobs_cold"] = len(jobs_under({s.id for s in named(cold_tree, "build")}))

    for part in wl.parts:
        if hasattr(part, "bytes_written"):
            out["sources.bytes_written"] += _med(part.bytes_written)
            out["sources.files_written"] += _med(part.files_written)
        if hasattr(part, "progress"):
            n_measured = len(measured)
            drains = part.progress[-n_measured:]
            batches = [b for d in drains for b in d]
            dur = lambda b, *ks: sum(b["durationMs"].get(k, 0) for k in ks) / 1000.0  # noqa: E731
            out["stream.start_s"] = _med(part.start_s[-n_measured:])
            out["stream.batches"] = _med(len(d) for d in drains)
            out["stream.add_batch_p50_s"] = _med(dur(b, "addBatch") for b in batches)
            out["stream.planning_p50_s"] = _med(dur(b, "queryPlanning") for b in batches)
            out["stream.offsets_p50_s"] = _med(
                dur(b, "latestOffset", "walCommit", "commitOffsets") for b in batches)
            out["stream.rows_per_s"], out["stream.source_read_ratio"] = stream_rates(
                part.rows, part.drain_s[-n_measured:], drains)
    return {k: (v, LAYER_UNITS[k]) for k, v in out.items()}

