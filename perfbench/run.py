"""Fresh-plan OLAP benchmark for pysparkline.

    python3 perfbench/run.py --workload adhoc_fresh --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run in a checkout generates the
star data and builds the OLAP index under ``.perfbench_cache/`` (keyed by a
hash of the ``pysparkline/`` sources); later runs only load it. Each run
sets up, measures closed-loop ops for ``--seconds``, then checks every
measured answer against DuckDB.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: end-to-end metrics with ``--trace 0``, per-layer metrics (from
spans around each layer's entry points) with ``--trace 1``. The exit code is
nonzero on a wrong answer or when the checkout holds no ``pysparkline``.
See ``perfbench/README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("adhoc_fresh", "dashboard_repeat"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_spark(cores: int, tmp: str, trace: bool):
    """Local session with the settings ``pysparkline.session.get_spark``
    uses, scratch space kept inside the checkout and, when tracing, the
    status UI (for job-group counters).

    The driver heap is fixed at its maximum from the start, so no run's
    timings depend on when the JVM chose to grow it."""
    from pyspark.sql import SparkSession

    # scratch and temp files stay inside the checkout, for the launcher JVM
    # too; -UsePerfData keeps each JVM from writing hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(max(8, cores)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", "-Xms2g")
        .config("spark.local.dir", os.path.join(CACHE, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.ui.enabled", str(trace).lower())
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        builder = (
            builder.config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def stop_spark(spark) -> None:
    """Stop the context, then close the JVM's stdin and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pysparkline", "__init__.py")):
        print(f"perfbench: no pysparkline package under {ROOT}", file=sys.stderr)
        return 2
    # Python workers started by the JVM import pysparkline too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    import workloads

    cores = len(os.sched_getaffinity(0))
    spark = make_spark(cores, tmp, bool(args.trace))
    log("session up")
    try:
        assets = workloads.prepare(spark, ROOT, CACHE)
        log("assets ready")
        run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace))
        if run.tracer:
            run.tracer.install()
        try:
            workloads.WORKLOADS[args.workload](run, assets)
        finally:
            if run.tracer:
                run.tracer.uninstall()
        log(f"window done: {len(run.ops)} ops in {run.window_s:.2f}s")
        counters = run.meter.collect() if run.meter else {}
    finally:
        stop_spark(spark)
    log("session stopped")
    workloads.check(run, assets)
    log("answers checked")
    failed = sum(1 for o in run.ops if o.error is not None)
    if args.trace:
        metrics, diag = workloads.per_layer(run, counters)
    else:
        metrics, diag = workloads.end_to_end(run)
    reads = [o for o in run.ops if o.kind == "read"]
    print(f"# {args.workload} seed={args.seed} local[{cores}] "
          f"ops={len(run.ops)} reads={len(reads)} window_s={run.window_s:.2f}")
    for k, v in diag.items():
        print(f"# {k} = {v}")
    for name, (value, unit) in metrics.items():
        print(f"{name:34s} {value:14.4f} {unit}")
    for o in run.ops:
        if o.error is not None:
            print(f"# FAILED op {o.op_id} {o.kind} {o.template}: {o.error}")
    print(json.dumps({
        "correct": run.wrong == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if run.wrong else 0


if __name__ == "__main__":
    sys.exit(main())
