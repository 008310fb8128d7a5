"""Dump .explain('formatted') for every registry key into plans/r<round>/.

Usage:
    python tools/dump_round_plans.py ROUND [suffix] [key ...]

Writes plans/r<ROUND>/<key>_<suffix>.txt (suffix defaults to "before").
With no keys given, dumps every registered key. SPARK_GRAFT_SF_DIR
picks the tables (default: the sf0.1 test data). Build-time side
effects (eager localCheckpoints) run as usual; the dump is the
ANALYZED/initial physical plan (AdaptiveSparkPlan isFinalPlan=false),
which is what the plan-shape claims of a round's OPTIMIZATION log
reference. Dump the same keys before and after a change and diff the
two files to find the keys whose plan moved (each needs a GATE_PIN).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    if not args or not args[0].isdigit():
        sys.exit(__doc__)
    rnd = args[0]
    suffix = args[1] if len(args) > 1 else "before"
    keys = args[2:]

    from drive_bc_datapipeline_spark.plans import registry
    from drive_bc_datapipeline_spark.session import get_spark

    registry.load_all_plans()
    names = keys or sorted(registry.QUERIES)
    spark = get_spark(f"dump_r{rnd}_plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        f"r{rnd}",
    )
    os.makedirs(out_dir, exist_ok=True)
    try:
        for name in names:
            t0 = time.time()
            df = registry.QUERIES[name](spark, sf_dir)
            build_s = time.time() - t0
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(f"-- {name} ({suffix}) sf_dir={sf_dir}\n")
                fh.write(f"-- plan-build wall: {build_s:.3f}s\n")
                fh.write(plan)
            print(f"{name}: build {build_s:.3f}s -> {path}", file=sys.stderr)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
