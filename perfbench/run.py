"""Benchmark of decaton_spark's streaming subscription.

    python3 perfbench/run.py --workload backlog_pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds a host-sized SparkSession with
``decaton_spark.get_spark``, runs one workload (see ``workloads.py`` and
``perfbench/README.md``), checks its outputs, and prints as the last
line of stdout one JSON object: ``correct``, ``attempted`` (tasks
offered), ``failed`` (tasks missing, wrong or duplicated, plus calls
that raised) and ``metrics`` — every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``. A line before
it records the host and versions. Scratch data, checkpoints, Spark's
local dirs and the span dump (``trace.json``) go to ``.bench_work/``
inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

UNITS = {
    "setup_s": "s",
    "tasks_per_s": "tasks/s",
    "batch_p50_ms": "ms",
    "replay_s": "s",
    "peak_rss_mb": "MB",
}


def host_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure(work: str) -> str:
    """Keep Spark's and Python's scratch files inside ``work`` and size
    the Spark driver's heap to the host; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    driver_mem = f"{max(1024, min(2048, host_memory_bytes() // 2**20 // 4))}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return driver_mem


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import workloads  # imports decaton_spark: fails here without the engine

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    driver_mem = configure(work)

    import pyspark

    from decaton_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores)
    spark.range(1).count()  # the first job pays for lazy JVM start-up
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")  # keeps Spark's warnings out of the output
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, cores, bool(args.trace), session_s)
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](ctx)
    finally:
        shutdown(spark)
    ctx.tracer.write(os.path.join(work, "trace.json"))

    host = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "host_mem_gb": round(host_memory_bytes() / 2**30, 1),
        "driver_mem": driver_mem,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "session_s": round(session_s, 3),
        "setup_reps_s": ctx.notes.get("setup_reps_s"),
        "batches": ctx.notes.get("batches"),
        "replay_reps_s": ctx.notes.get("replay_reps_s"),
        # measured but not steady enough to check (see perfbench/README.md)
        "unchecked": {k: round(v, 4) for k, v in e2e.items() if k not in UNITS},
        "state_path": ctx.notes.get("state_path", "none"),
        "timeline_s": ctx.notes.get("timeline"),
        "failed_ratio": ctx.failed / max(ctx.offered, 1),
    }
    print("# " + json.dumps(host))
    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in workloads.LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in UNITS.items()}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.offered,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"host": host, **result}, f)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
