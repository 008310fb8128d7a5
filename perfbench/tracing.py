"""Tracing for the benchmark's traced run, recorded from outside the engine.

* spans at layer boundaries, kept in memory (``Tracer``);
* py4j round trips, counted by wrapping the gateway client;
* Spark jobs, stages and tasks, read back from the Spark event log and
  joined to spans through the job group each span sets.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

from stats import Span


class Tracer:
    """Spans and counters of one traced run."""

    def __init__(self, spark):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.py4j_calls = 0
        self.active = True  # spans are recorded only while active
        self._sc = spark.sparkContext
        self._count_py4j(spark)

    def _count_py4j(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        """Time the body as a child of the innermost open span. With
        ``group``, Spark jobs the body launches carry the span's id as
        their job group, and the enclosing group is restored after."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent.id if parent else None,
                 len(self.spans) + 1, dict(attrs))
        s.attrs.update(py4j0=self.py4j_calls, grouped=group)
        self.spans.append(s)
        self._stack.append(s)
        if group:
            self._sc.setJobGroup(str(s.id), name)
        try:
            yield s
        finally:
            s.end = time.time()
            s.attrs["py4j"] = self.py4j_calls - s.attrs.pop("py4j0")
            self._stack.pop()
            if group:
                outer = next((p for p in reversed(self._stack) if p.attrs.get("grouped")), None)
                if outer is not None:
                    self._sc.setJobGroup(str(outer.id), outer.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a version that runs inside a
        grouped span called ``name``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name, group=True):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s.parent == pid]
            out += kids
            todo += [k.id for k in kids]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")


def event_log_conf(conf_dir: str, log_dir: str) -> None:
    """Write a ``spark-defaults.conf`` that turns the event log on; the
    caller points ``SPARK_CONF_DIR`` at ``conf_dir`` before Spark starts."""
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.eventLog.enabled true\n")
        fh.write("spark.eventLog.compress false\n")
        fh.write("spark.eventLog.rolling.enabled false\n")
        fh.write(f"spark.eventLog.dir file://{os.path.abspath(log_dir)}\n")


def read_event_log(log_dir: str) -> dict:
    """Jobs (with group, wall and stages) and per-stage task totals from
    the finished event log(s) in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_s": 0.0, "max_task_s": 0.0,
                        "shuffle_write_bytes": 0, "input_bytes": 0,
                    })
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["max_task_s"] = max(
                        st["max_task_s"],
                        (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    )
                    st["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return {"jobs": jobs, "stages": stages}
