#!/usr/bin/env python3
"""The repository benchmark: drives the engine from outside, from one
process on Spark ``local[<cores>]``, through its public entry points.

    python3 perfbench/run.py --workload reid-batch --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json and perfbench/layers.json):

- ``reid-batch``       closed loop, 1 client, track-attrrecog-reid commands
- ``camera-stream``    open loop, 1 generator thread, a live file stream
- ``metadata-lookup``  closed loop, 1 client, small reads of a parquet store;
                       runnable, but not in BENCHMARK.json (see layers.json)

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the
traced variant and prints every per-layer metric, writing the spans to
``.perfbench_work/spans/``. Inputs are generated from ``--seed``; outputs
are checked against oracles and counted in ``failed``. The last line of
stdout is the result object; the line before it is a summary carrying
the workload-specific figures (failed_ratio, videos_per_s, ...).

Run it from the repository root; it reads and writes only below it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("reid-batch", "metadata-lookup", "camera-stream")


class Ctx:
    def __init__(self, spark, args, work: Path, cpus: int) -> None:
        import bench

        from harness import Tracer

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.cpu = bench._tree_cpu_sec
        self.tracer = Tracer(spark, self.trace)


def _isolate(work: Path, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    engine = ROOT / "las_vpe_platform_spark" / "__init__.py"
    if not engine.is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    cpus = len(os.sched_getaffinity(0))
    work = WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cpus)

    import importlib

    import harness
    from las_vpe_platform_spark.session import get_spark

    workload = importlib.import_module(args.workload.replace("-", "_"))
    spark = get_spark("perfbench", cpus=cpus)
    try:
        ctx = Ctx(spark, args, work, cpus)
        out = workload.run(ctx)
        if ctx.trace:
            ctx.tracer.write(WORK / "spans" / f"{work.name}.jsonl")
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # a layer a workload does not exercise reports 0 for its metrics
        values = {m["name"]: out.layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {m["name"]: out.metrics[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_ratio": out.failed / max(out.attempted, 1),
        "checked": out.checked, "errors": out.errors,
        **{k: v["value"] for k, v in metrics.items()},
        # layer figures BENCHMARK.json does not list (metadata-lookup's
        # operators.windows) still reach the summary
        **(out.layers if args.trace else {}), **out.extra,
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": out.failed == 0 and out.checked > 0,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
