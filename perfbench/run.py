"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 \
        --trace 0

Workloads (see BENCHMARK.json): ``warehouse`` (backfill, then a live
trickle with dashboards read beside the writes; ``--seconds`` is the
least time the trickle runs) and ``registry`` (one sweep of a sample
of the plans registry). Inputs come from ``gen.py`` and depend only on
``--seed``. The session is sized through the engine's own
environment variables: ``--cpus`` sets SPARK_GRAFT_CPUS (``nproc`` =
the CPUs this process may use), ``--driver-mem`` sets
SPARK_GRAFT_DRIVER_MEM, and SPARK_LOCAL_DIRS points inside
``.bench_build/``, where every file a run writes lives and is removed
at the end.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1`` (layers a workload does not exercise read 0).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("warehouse", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc")
    ap.add_argument("--driver-mem", default="2g")
    return ap.parse_args()


def _environment(root: str, build: str, cpus: str, mem: str) -> None:
    """Session sizing and scratch locations, through the engine's
    environment variables (read when the engine is imported)."""
    if cpus == "nproc":
        cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(build, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(build, "spark-local"),
        # the engine's memo switches, pinned so every run starts alike
        "SPARK_GRAFT_TABLE_MEMO": "1",
        "SPARK_GRAFT_INDEX_MEMO": "1",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [root, HERE]


def _start_session(build: str, mem: str):
    from gmall_flink_2021_spark.session import get_spark

    spark = get_spark("perfbench", extra={
        "spark.sql.warehouse.dir": os.path.join(build, "spark-warehouse"),
        # the whole heap from the start: peak RSS then follows what the
        # run touches, not when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -Djava.io.tmpdir={os.path.join(build, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    args = _args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "gmall_flink_2021_spark")):
        print("perfbench: gmall_flink_2021_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build = os.path.join(root, ".bench_build")
    work = os.path.join(build, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(root, build, args.cpus, args.driver_mem)

    import tracing

    t0 = time.perf_counter()
    spark = _start_session(build, args.driver_mem)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    spent = tracing.Spent()
    try:
        t_run = time.perf_counter()
        if args.workload == "warehouse":
            import warehouse_load

            res = warehouse_load.run(spark, work, args.seed, args.seconds,
                                     bool(args.trace), spent)
        else:
            import registry_load

            res = registry_load.run(spark, work, args.seed)
        run_s = time.perf_counter() - t_run
        rss = tracing.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    e2e = dict(res["e2e"], setup_s=session_s + statistics.median(
        res["setup"]), peak_rss_mb=rss)
    layers = dict(res["layers"], **{
        "setup.session_s": session_s,
        "trace_overhead_pct": 100 * spent.s / run_s})
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not res["problems"],
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
