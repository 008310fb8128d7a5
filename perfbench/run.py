#!/usr/bin/env python3
"""Layered benchmark of the engine, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload keys_stream --seed 1 --seconds 1 --trace 0

Workloads (closed loop, one client; see BENCHMARK.json for why each):

* ``keys_stream`` - registry keys through ``plans.registry.QUERIES``,
  two whose plan build launches no Spark job and two that launch eager
  pin jobs while building, then one backlog drain through
  ``streaming.pipeline.start_exactly_once_sink``;
* ``curation``    - one ``jobs.run_curation_pipeline`` call.

The frozen key lists live in ``perfbench/keys.json``. Every run reads
the same inputs (``datagen.py``, sf0.1 sizes, one fixed generator
seed); ``--seed`` picks only the key order of each pass, the split of
the event backlog into files and the curation labels. A run measures:

* ``setup_s``  - fresh process to ready: import, ``get_spark``,
  ``load_all_plans`` and a first action (input generation excluded),
  median over ``SETUPS`` fresh processes;
* ``cold_s``   - the first pass over the workload's operations in the
  fresh session. Each operation's output is then checked, untimed; the
  checks build and collect every key again, which adds to the keys'
  warm-up (``workloads.py``);
* ``steady_s`` - median pass time over the measured passes, which follow
  ``WARMUP_PASSES`` untimed passes and run until ``--seconds`` have
  elapsed (at least one);
* ``op_s``     - (printed with the run's context) median operation
  latency over those passes, its sample count and the highest
  percentile with ten samples beyond it; a key is one operation, as are
  a curation call and a micro-batch.

It prints a table and, as its last line, one JSON object. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports per-layer metrics
from spans, py4j round trips and the Spark event log; its measured
passes are all traced, so ``trace.steady_s`` minus the ``steady_s`` of
an untraced run with the same seed is the tracing overhead. Everything a
run writes stays under ``.perfbench_work/`` and is removed at exit,
except the spans of the last traced run of each workload
(``spans-<workload>.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

# imported before any setup is timed, by the measured process and by the
# setup-only ones alike, so every setup sample pays the same imports
import datagen
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("keys_stream", "curation")
T_PROCESS = time.perf_counter()
# setup_s is the median over SETUPS fresh processes, this one included;
# the others set up after the measured passes.
SETUPS = 2
# The pass right after the cold one is still much slower (JIT) and varies
# most from run to run, so it is not measured. The number of measured
# passes does not depend on how fast the host is: a run that measured more
# passes when fast would report a later, faster point of the warm-up curve.
WARMUP_PASSES = 1


def setup_once(data_dir: str):
    """Fresh process to ready: import, ``get_spark``, ``load_all_plans``
    and a first action. Returns the session and the three timings."""
    t0 = time.perf_counter()
    from drive_bc_datapipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from drive_bc_datapipeline_spark.plans import registry

    registry.load_all_plans()
    t2 = time.perf_counter()
    registry.t(spark, data_dir, "region").count()
    t3 = time.perf_counter()
    return spark, {
        "session.start_s": t1 - t0,
        "registry.load_s": t2 - t1,
        "session.first_action_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def setup_elsewhere(data_dir: str) -> dict:
    """One more setup sample, taken in a fresh process that sets up,
    stops and exits (without this run's event log)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only", data_dir],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def host_snapshot() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu[:8]),
            "load1": os.getloadavg()[0]}


def app_dirs(app_id: str) -> list[str]:
    wh = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(wh):
        return []
    return [os.path.join(wh, d) for d in os.listdir(wh) if d.endswith(f"__{app_id}")]


def run(args, work: str, cpus: int) -> dict:
    data_dir = os.path.join(work, "data")
    tables = datagen.write_tables(data_dir)
    if args.trace:
        from tracing import event_log_conf

        event_log_conf(os.path.join(work, "conf"), os.path.join(work, "eventlog"))
        os.environ["SPARK_CONF_DIR"] = os.path.join(work, "conf")
    spark, setup = setup_once(data_dir)
    setups = [setup]
    app_id = spark.sparkContext.applicationId
    wl = workloads.make(args.workload)
    ctx = workloads.Ctx(spark, data_dir, work, args.seed, tables)
    t_prep = time.perf_counter()
    wl.prepare(ctx)
    prepare_s = time.perf_counter() - t_prep

    tracer = None
    if args.trace:
        from tracing import Tracer

        from drive_bc_datapipeline_spark import jobs
        from drive_bc_datapipeline_spark.operators import classifier

        tracer = Tracer(spark)
        tracer.wrap(jobs, "build_curation_frames", "jobs.frames")
        tracer.wrap(classifier, "train_hashed_linear", "classifier.train")

    ctx.tracer = tracer

    def one_pass(label: str, check: bool = False):
        t0 = time.perf_counter()
        with ctx.span("pass", label=label) as span:
            secs, ops = wl.run_pass(ctx, check=check)
        return {"label": label, "secs": secs, "ops": ops, "span": span,
                "wall": time.perf_counter() - t0}

    host0 = host_snapshot()
    # the cold pass also checks every operation's output, untimed; the
    # keys' checks re-run them, which adds to the warm-up
    cold = one_pass("cold", check=True)
    warmup = [one_pass("warmup") for _ in range(WARMUP_PASSES)]
    t_meas = time.perf_counter()
    measured = [one_pass("steady")]
    while time.perf_counter() - t_meas < args.seconds:
        measured.append(one_pass("steady"))
    host1 = host_snapshot()

    everything = [cold] + warmup + measured
    ops_all = [op for p in everything for op in p["ops"]]
    failed = sum(1 for op in ops_all if not op[2])
    op_lat = [op[1] for p in measured for op in p["ops"]]
    context = {
        "cpus": cpus,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "python": platform.python_version(),
        "driver_memory": spark.conf.get("spark.driver.memory", ""),
        "seed": args.seed,
        "prepare_s": prepare_s,
        "warmup": "the cold pass's output checks (every key built and collected "
                  "once more), then the warm-up passes",
        "warmup_passes": len(warmup),
        "warmup_s": cold["wall"] - cold["secs"] + sum(p["wall"] for p in warmup),
        "op_s": stats.summary(op_lat),
        "steal_frac": (host1["steal"] - host0["steal"]) / max(1, host1["total"] - host0["total"]),
        "load1_start": host0["load1"],
        "load1_end": host1["load1"],
    }

    stop_spark(spark)
    leaked = app_dirs(app_id)
    for d in leaked:
        shutil.rmtree(d, ignore_errors=True)
    while len(setups) < SETUPS:
        setups.append(setup_elsewhere(data_dir))
    setup = {k: statistics.median(s[k] for s in setups) for k in setup}
    context["setup_samples_s"] = [s["setup_s"] for s in setups]
    context["setup"] = setup
    end_to_end = {
        "setup_s": (setup["setup_s"], "s", len(setups)),
        "cold_s": (cold["secs"], "s", 1),
        "steady_s": (statistics.median(p["secs"] for p in measured), "s", len(measured)),
    }
    layers = {}
    if tracer is not None:
        import layers as layer_metrics

        layers = layer_metrics.compute(
            tracer, os.path.join(work, "eventlog"), wl, cold, measured, cpus, setup,
        )
        layers["host.steal_frac"] = (context["steal_frac"], "ratio")
        layers["host.load1"] = (host0["load1"], "ratio")
        layers["host.cpus"] = (cpus, "count")
        layers["catalog.leaked_dirs"] = (len(leaked), "count")
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}.jsonl"))
    return {
        "end_to_end": end_to_end, "layers": layers, "context": context,
        "attempted": len(ops_all), "failed": failed,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", metavar="DATA_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "drive_bc_datapipeline_spark")):
        print("perfbench: run from a checkout of the repository "
              "(drive_bc_datapipeline_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.setup_only:
        spark, setup = setup_once(args.setup_only)
        stop_spark(spark)
        print(json.dumps(setup))
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    try:
        res = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    metrics = res["end_to_end"] if not args.trace else res["layers"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print(f"  {'metric':<28}{'value':>14}  {'unit':<8}{'n':>6}")
    for name, (value, unit, *n) in metrics.items():
        print(f"  {name:<28}{value:>14.6g}  {unit:<8}{(n[0] if n else ''):>6}")
    print(f"  operations attempted {res['attempted']}  failed {res['failed']}")
    print("  context " + json.dumps(res["context"]))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
