"""Benchmark entry point.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Inputs are generated under ``.perfbench/`` in the checkout; see
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import benchstats  # noqa: E402
import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

PACKAGE = "real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark"
DATA_SF = 0.02
DATA_SEED = 42  # frozen: every run reads the same tables; --seed varies order/slice
WORKLOADS = ("registry", "crowd_stream")
# local[2] on a 4-core co-tenanted box: the registry's per-query fixed
# cost dominates, so 2 executor threads run as fast as 4 while leaving
# cores for JIT compilation, GC and neighbours (see README.md)
CORES = 2

# name -> unit; BENCHMARK.json lists the same names (checked by the tests)
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s",
    "session.driver_rss_peak_mb": "MB",
    "session.pass_drift": "ratio",
    "sources.load_table_s": "s",
    "sources.load_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.core_busy_frac": "ratio",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.jvm_gc_ms": "ms",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.python_time_ms": "ms",
    "operators.python_bytes_sent": "bytes",
    "operators.python_rows_received": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.sink_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "trace.overhead_s": "s",
}


def _pin_environment(root: str, scratch: str) -> int:
    """One process on ``local[N]``, N <= nproc; Python workers can
    import the package; every temporary file stays in the checkout,
    under ``scratch``, which belongs to this process alone."""
    cores = min(CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        # fixed JIT compiler threads: tracing.tree_cpu_s leaves them out
        "-XX:-UseDynamicNumberOfCompilerThreads' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ.pop("SPARK_MASTER", None)
    return cores


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    cores = _pin_environment(root, scratch)
    sys.path.insert(0, root)

    t_data = time.perf_counter()
    data_dir = os.path.join(work, f"data-sf{DATA_SF}-seed{DATA_SEED}")
    datagen.write_tables(data_dir, DATA_SF, DATA_SEED)
    data_s = time.perf_counter() - t_data

    # setup: package + registry import, get_spark, warm-up job
    pkg_mod = importlib.import_module(PACKAGE)
    plans = importlib.import_module(f"{PACKAGE}.plans")
    tables = importlib.import_module(f"{PACKAGE}.sources.tables")
    density = importlib.import_module(f"{PACKAGE}.streaming.crowd_density")
    pipeline = importlib.import_module(f"{PACKAGE}.streaming.pipeline")
    tracer = tracing.Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = pkg_mod.get_spark("perfbench")
    start_s = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.perf_counter() - T_PROCESS - data_s

    pkg = {
        "QUERIES": plans.QUERIES,
        "ORACLES": plans.ORACLES,
        "load_table": tables.load_table,
        "normalize_events_ts": tables.normalize_events_ts,
        "streaming_crowd_density": density.streaming_crowd_density,
        "batch_crowd_density": density.batch_crowd_density,
        "streaming_crowd_alerts": pipeline.streaming_crowd_alerts,
    }
    ctx = workloads.Ctx(
        spark=spark, pkg=pkg, data_dir=data_dir, work_dir=scratch, seed=args.seed,
        seconds=args.seconds, tracer=tracer,
        counters=tracing.SparkCounters(spark) if args.trace else None, cores=cores)
    steal0 = tracing.cpu_steal_ticks()
    try:
        if args.workload == "crowd_stream":
            out = workloads.run_stream(ctx)
        else:
            out = workloads.run_batch(ctx)
        rss_mb = tracing.driver_rss_peak_mb(spark)
        steal1 = tracing.cpu_steal_ticks()
    finally:
        _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "setup_s": round(setup_s, 3),
        "verify_s": round(out.verify_s, 3),
        "timeline": [round(p, 4) for p in out.timeline],
        "passes": [round(p, 4) for p in out.passes],
        "traced_passes": [round(p, 4) for p in out.traced_passes],
        "pass_cpu": [round(c, 3) for c in out.cpu],
        "ops": len(out.op_s),
        **out.extra,
        "steal_pct": round(100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 1),
        "wall_s": round(time.perf_counter() - T_PROCESS, 3),
    }
    if args.trace:
        layers = {k: statistics.median([lay.get(k, 0.0) for lay in out.layers])
                  for k in {k for lay in out.layers for k in lay}}
        values = {n: layers.get(n.split(".", 1)[1], 0.0) for n in PER_LAYER}
        values["session.start_s"] = start_s
        values["session.driver_rss_peak_mb"] = rss_mb
        if out.timeline:
            values["session.pass_drift"] = out.timeline[-1] / out.timeline[0]
        if out.passes and out.traced_passes:
            values["trace.overhead_s"] = (
                statistics.median(out.traced_passes) - statistics.median(out.passes))
        units = PER_LAYER
        report["self_time_s"] = {k: round(v, 4) for k, v in benchstats.self_times(tracer.spans).items()}
        tracer.write(os.path.join(work, f"trace-{args.workload}-{args.seed}.json"))
    else:
        # wall-clock figures go to the detail line: on a machine shared
        # with other guests they spread too widely to bound (README.md)
        if out.passes:
            report["pass_s"] = statistics.median(out.passes)
        if out.op_p50_s is None and out.op_s:
            out.op_p50_s = statistics.median(out.op_s)
        if out.op_p50_s:
            report["op_p50_ms"] = out.op_p50_s * 1e3
        p90 = benchstats.tail_percentile(out.op_s, 0.9)
        if p90 is not None:
            report["op_p90_ms"] = p90 * 1e3
        # -1 marks a metric the run could not measure (its result is not correct)
        values = {
            "setup_s": setup_s,
            "pass_cpu_s": statistics.median(out.cpu) if out.cpu else -1.0,
            "op_cpu_ms": statistics.median(out.op_cpu) * 1e3 if out.op_cpu else -1.0,
        }
        units = END_TO_END
    print(json.dumps(report))
    print(json.dumps({
        "correct": out.failed == 0 and bool(out.passes or out.traced_passes),
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
