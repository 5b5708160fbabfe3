"""Seeded benchmark of the geopandas_spark engine.

    python3 perfbench/run.py --workload bulk_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It makes its inputs from ``--seed``,
loads them into a ``local[<lanes>]`` Spark session sized from the host,
warms up, then repeats the workload's step until ``--seconds`` of operator
time are spent, checking every output against an engine-free oracle.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run measures once more on the
same session with Spark's event-log writer attached and one job group per
operator call, and reports per-layer metrics, kernel rates and the tracing
overhead (traced minus untraced value); its spans are kept in
``.perfbench_traces/``. The line before the result carries the workload's
own named metrics, the error rate and the input digest. Progress goes to
stderr. See ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes fit one run (session start, three set-ups, a tiny warm-up step,
# one measured step of 9-16 s, checks) in under a minute on a 4-lane,
# 16 GB host; per-call fixed costs, not these sizes, set most of a step.
SIZES = {
    "bulk_join": {"points": 60_000, "polygons": 10_000, "poly_size": 0.0035,
                  "knn_probes": 100, "knn_checked": 50, "overlay": 2_000,
                  "overlay_size": 0.007, "overlay_checked": 30},
    "docs_pipeline": {"docs": 2_000, "dup_share": 0.1, "regions": 150,
                      "region_size": 0.03},
}
SETUP_REPS = 3
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")  # spans of traced runs
END_TO_END = {"throughput_per_s": "1/s", "setup_s": "s"}
TRACED_LAYERS = ["operators.sjoin", "operators.nearest", "operators.overlay",
                 "operators.tiles", "operators.dedup", "sources.with_geometry"]
CALL_UNITS = {"plan_s": "s", "exec_s": "s", "jobs": "count", "task_s": "s",
              "py_worker_s": "s", "arrow_to_py_mb": "MB",
              "arrow_from_py_mb": "MB", "shuffle_write_mb": "MB",
              "spill_mb": "MB", "failed_tasks": "count", "lane_util": "ratio"}


def start_session(work: str, lanes: int):
    from pyspark.sql import SparkSession

    from perfbench.host import driver_memory

    b = (SparkSession.builder.master(f"local[{lanes}]").appName("perfbench")
         .config("spark.driver.memory", driver_memory())
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * lanes))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context and the JVM it runs in, and wait for every
    process this run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None  # a later run relaunches
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def measure(wl, seconds: float) -> None:
    """Steps until ``seconds`` of operator time are spent (at least one)."""
    spent = 0.0
    while spent < seconds:
        step_s = wl.step()
        if step_s == 0.0:
            raise RuntimeError(f"a {wl.name} step failed: {wl.failures[-3:]}")
        spent += step_s


def window(wl, seconds: float, warm: bool = True) -> dict:
    from perfbench.host import RssSampler
    from perfbench.workloads import log

    wl.reset()
    with RssSampler() as rss:
        if warm:
            t0 = time.perf_counter()
            wl.warmup()
            log(f"warm-up {time.perf_counter() - t0:.2f} s")
        measure(wl, seconds)
    named = wl.report()
    named["peak_rss_mb"] = (rss.peak_mb, "MB")
    return named


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench import inputs as I
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, log

    import geopandas_spark  # noqa: F401  (sets the allocator environment
    # the JVM and its Python workers inherit, as any engine user does)

    lanes = host.lanes()
    spark = start_session(work, lanes)
    try:
        wl = WORKLOADS[args.workload](spark, Tracer(spark), work, args.seed,
                                      SIZES[args.workload])
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            tables = wl.setup()
            setup.append(time.perf_counter() - t0)
        log(f"session and set-up ready; set-up {setup}")
        wl.prepare_checks()
        named = window(wl, args.seconds)
        named["setup_s"] = (statistics.median(setup), "s")
        metrics = {k: named[k] for k in END_TO_END}
        if args.trace:
            metrics = traced(args, work, wl, lanes, named)
    finally:
        stop_jvm()
    log("stopped")
    detail = {"workload": args.workload, "seed": args.seed,
              "input_digest": I.digest(tables), "lanes": lanes,
              "driver_memory": host.driver_memory(),
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in named.items()},
              "attempted": wl.attempted, "failed": wl.failed,
              "error_rate": wl.failed / max(wl.attempted, 1),
              "failures": wl.failures[:20]}
    return detail, metrics


def traced(args, work: str, wl, lanes: int, untraced: dict) -> dict:
    """A second window with the event log on and one job group per call:
    per-layer metrics from it, kernel rates, and the tracing overhead."""
    from perfbench import trace as T
    from perfbench.kernels import kernel_rates

    tracer = T.Tracer(wl.spark, enabled=True)
    wl.tracer = tracer
    with T.EventLog(wl.spark, os.path.join(work, "eventlog")) as log_file:
        named = window(wl, args.seconds, warm=False)
    os.makedirs(TRACE_DIR, exist_ok=True)
    tracer.write(os.path.join(
        TRACE_DIR, f"{args.workload}-{args.seed}.spans.jsonl"))
    groups = T.read_event_log(log_file.path)

    out = {k: (v, CALL_UNITS[k.rsplit(".", 1)[1]]) for k, v in
           T.per_layer(tracer.calls, groups, lanes, TRACED_LAYERS).items()}
    pipe = wl.pipeline_metrics(groups)
    out.update({f"plans.pipeline.{k}": v for k, v in pipe.items()})
    for k, v in kernel_rates(args.seed).items():
        out[k] = (v, "pairs/s" if "pairs" in k else "rows/s")
    for k in ("throughput_per_s", "peak_rss_mb"):
        out[f"trace.overhead.{k}"] = (named[k][0] - untraced[k][0], named[k][1])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "geopandas_spark")):
        print(f"perfbench: no geopandas_spark package under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark, the JVM and the Python workers keep their files in the run's
    # own directory; workers import the engine from this checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        detail, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
