"""The two workloads: the frozen registry query list and its batch
pass, the streaming replay, and their verification.

Every workload runs in one process: an untimed verification pass that
also warms the JVM, then timed passes until ``--seconds`` have
elapsed.  In a traced run the timed passes alternate untraced and
traced, so tracing overhead is the difference of their medians.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq

from datagen import TABLES
from oracle import Oracle
from tracing import tree_cpu_s

# Frozen by name: never derived from timings, so a speed-up cannot move
# a query between groups.  One registry pass runs both groups: the
# sub-second queries, where per-query fixed cost dominates (schema
# inference in load_table, eager build jobs, planning, scheduling) and
# which therefore set the median query time, and the heavy queries,
# where operators, shuffles, Python UDFs and driver loops dominate and
# which therefore set most of the pass time.
REGISTRY_LIGHT = (
    # relational / TPC-H
    "revenue_by_nation", "pricing_summary",
    # text
    "token_stats",
    # stats
    "value_histogram",
    # surveillance
    "fire_alerts", "detection_parse", "crowd_density_hotspots", "session_expiry_scan",
)
REGISTRY_HEAVY = (
    "dedup_containment_capped",   # capped containment join
    "label_propagation",          # graph loop in plan construction
    "crowd_alerts_pipeline",      # batch crowd path: parse -> NMS -> count
)
REGISTRY = REGISTRY_LIGHT + REGISTRY_HEAVY

# crowd_stream: events per replay and micro-batches (one file each)
STREAM_EVENTS = 400
STREAM_FILES = 2
# the key of each pipeline's emitted state (update mode)
STREAM_KEYS = {"density": ("win_start", "cell_x", "cell_y"), "alerts": ("camera_id", "frame_id")}


@dataclass
class Ctx:
    spark: object
    pkg: dict            # public entry points of the package under test
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    tracer: object
    counters: object | None   # tracing.SparkCounters in a traced run
    cores: int


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    passes: list[float] = field(default_factory=list)         # untraced pass wall, s
    traced_passes: list[float] = field(default_factory=list)  # traced pass wall, s
    timeline: list[float] = field(default_factory=list)       # every clean pass, in order
    cpu: list[float] = field(default_factory=list)            # untraced pass CPU, s
    op_s: list[float] = field(default_factory=list)           # per-operation wall, s
    op_cpu: list[float] = field(default_factory=list)         # per-operation CPU, s
    layers: list[dict] = field(default_factory=list)          # one dict per traced pass
    op_p50_s: float | None = None                             # set where ops are not pooled
    extra: dict = field(default_factory=dict)                 # workload-specific detail
    verify_s: float = 0.0                                     # verification pass wall, s

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)


def _timed_passes(ctx: Ctx, run_pass) -> None:
    """Call ``run_pass(traced)`` until ``ctx.seconds`` have elapsed, two
    passes at least, so the median never rests on the first timed pass
    alone.  In a traced run untraced and traced passes alternate, three
    at least: untraced passes on both sides of a traced one, so warm-up
    does not pass for negative tracing overhead."""
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < (3 if ctx.counters else 2) or time.perf_counter() < deadline:
        run_pass(ctx.counters is not None and i % 2 == 1)
        i += 1


def _release(spark) -> None:
    # queries cache() shared subtrees and localCheckpoint; free both so
    # one query's blocks do not tax the next
    spark.catalog.clearCache()
    gc.collect()


# --- batch ------------------------------------------------------------------

def run_batch(ctx: Ctx) -> Outcome:
    spark, queries, names = ctx.spark, ctx.pkg["QUERIES"], REGISTRY
    out = Outcome()
    rng = random.Random(ctx.seed)

    t_verify = time.perf_counter()
    oracle = Oracle(ctx.data_dir, ctx.pkg["ORACLES"])
    try:
        for name in rng.sample(names, len(names)):
            out.attempted += 1
            try:
                df = queries[name](spark, ctx.data_dir)
                bad = oracle.check(name, df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                out.fail(f"verify {name}", exc)
            else:
                if bad:
                    out.fail(f"verify {name}: {bad}")
            _release(spark)
    finally:
        oracle.close()
    out.verify_s = time.perf_counter() - t_verify

    def run_pass(traced: bool) -> None:
        layer = dict.fromkeys(("build_s", "plan_s", "exec_s"), 0.0)
        if traced:
            ctx.counters.python_nodes()  # skip executions of earlier passes
        samples, clean, heavy_cpu = [], True, 0.0
        # the light group runs last, as one block whose CPU time
        # (releases between its queries included) sets op_cpu_ms
        order = (rng.sample(REGISTRY_HEAVY, len(REGISTRY_HEAVY))
                 + rng.sample(REGISTRY_LIGHT, len(REGISTRY_LIGHT)))
        cpu0 = tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        for i, name in enumerate(order):
            out.attempted += 1
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                if traced:
                    _traced_query(ctx, name, layer)
                else:
                    queries[name](spark, ctx.data_dir).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                out.fail(f"query {name}", exc)
                clean = False
            else:
                samples.append((name, time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0))
            _release(spark)
            if i + 1 == len(REGISTRY_HEAVY):
                heavy_cpu = tree_cpu_s(os.getpid()) - cpu0
        wall = time.perf_counter() - t_pass
        if not clean:
            return  # dropped: a failed query never makes a pass look cheaper
        out.timeline.append(wall)
        if traced:
            out.traced_passes.append(wall)
            layer.update(ctx.counters.python_nodes())
            layer["core_busy_frac"] = layer["executor_run_ms"] / 1e3 / (wall * ctx.cores)
            layer.update(_load_sweep(ctx))
            out.layers.append(layer)
        else:
            out.passes.append(wall)
            out.cpu.append(tree_cpu_s(os.getpid()) - cpu0)
            out.op_s.extend(dt for _, dt, _ in samples)
            # the fixed-cost floor: mean CPU of a light-group query
            out.op_cpu.append((out.cpu[-1] - heavy_cpu) / len(REGISTRY_LIGHT))
            for name, dt, cpu in samples:
                out.extra.setdefault("query_s", {}).setdefault(name, []).append(round(dt, 3))
                out.extra.setdefault("query_cpu_s", {}).setdefault(name, []).append(round(cpu, 3))

    _timed_passes(ctx, run_pass)
    return out


def _traced_query(ctx: Ctx, name: str, layer: dict) -> None:
    """One query as three tagged phases: build, forced physical plan,
    noop-sink execution."""
    sc, tr, tag = ctx.spark.sparkContext, ctx.tracer, f"q{len(ctx.tracer.spans)}"
    with tr.span(f"query.{name}"):
        sc.setJobGroup(f"{tag}.build", f"{name} build")
        t0 = time.perf_counter()
        with tr.span("plans.build"):
            df = ctx.pkg["QUERIES"][name](ctx.spark, ctx.data_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}.plan", f"{name} plan")
        with tr.span("plans.plan"):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"{tag}.exec", f"{name} execute")
        with tr.span("operators.exec"):
            df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", None)
    layer["build_s"] += t1 - t0
    layer["plan_s"] += t2 - t1
    layer["exec_s"] += t3 - t2
    build = ctx.counters.group(f"{tag}.build")
    layer["build_jobs"] = layer.get("build_jobs", 0) + build["jobs"]
    for phase in (build, ctx.counters.group(f"{tag}.plan"), ctx.counters.group(f"{tag}.exec")):
        for k, v in phase.items():
            layer[k] = layer.get(k, 0) + v


def _load_sweep(ctx: Ctx) -> dict:
    """``load_table`` over every table: wall time and Spark jobs."""
    sc, load = ctx.spark.sparkContext, ctx.pkg["load_table"]
    t0, jobs = time.perf_counter(), 0
    for i, t in enumerate(TABLES):
        group = f"load{len(ctx.tracer.spans)}.{i}"
        sc.setJobGroup(group, f"load_table {t}")
        with ctx.tracer.span("sources.load_table"):
            load(ctx.spark, t, ctx.data_dir)
        jobs += ctx.counters.group(group)["jobs"]
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {"load_table_s": time.perf_counter() - t0, "load_jobs": jobs / len(TABLES)}


# --- crowd_stream -------------------------------------------------------------

def _stage_replay(ctx: Ctx) -> tuple[str, str]:
    """Seeded slice of ``events`` split into equal files with ascending
    mtimes (the file source reads oldest first, one file per trigger),
    plus the same slice as one table for the batch twins."""
    rng = random.Random(ctx.seed)
    events = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"))
    start = rng.randrange(0, events.num_rows - STREAM_EVENTS)
    part = events.slice(start, STREAM_EVENTS)
    # rows are dealt to files by a seeded permutation: a frame's boxes
    # arrive across micro-batches, so NMS state really carries over
    perm = list(range(STREAM_EVENTS))
    rng.shuffle(perm)
    # the latest event goes to the last file: the watermark then moves
    # on the last micro-batch, which triggers one no-data micro-batch
    # (eviction and timeouts) on every seed, not only on those whose
    # shuffle happened to put it there
    latest = perm.index(pc.index(part["ts"], pc.max(part["ts"])).as_py())
    perm[latest], perm[-1] = perm[-1], perm[latest]
    base = os.path.join(ctx.work_dir, f"replay-{ctx.seed}")
    shutil.rmtree(base, ignore_errors=True)
    src, twin = os.path.join(base, "src"), os.path.join(base, "twin")
    os.makedirs(src)
    os.makedirs(twin)
    per = STREAM_EVENTS // STREAM_FILES
    for i in range(STREAM_FILES):
        rows = sorted(perm[i * per:(i + 1) * per])
        path = os.path.join(src, f"part-{i:05d}.parquet")
        pq.write_table(part.take(rows), path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
    pq.write_table(part, os.path.join(twin, "events.parquet"))
    return src, twin


def _keyed(rows, keys: tuple[str, ...]) -> dict:
    out = {}
    for r in rows:
        d = r.asDict()
        out[tuple(d.pop(k) for k in keys)] = d
    return out


def run_stream(ctx: Ctx) -> Outcome:
    spark, pkg = ctx.spark, ctx.pkg
    out = Outcome()
    src, twin = _stage_replay(ctx)
    schema = spark.read.parquet(src).schema
    batch_ms: dict[str, list[float]] = {"density": [], "alerts": []}
    drains = [0]

    def start(kind: str, sink, ckpt: str):
        raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        events = pkg["normalize_events_ts"](raw)
        if kind == "density":
            return (pkg["streaming_crowd_density"](events).writeStream
                    .outputMode("update").foreachBatch(sink)
                    .option("checkpointLocation", ckpt).start())
        return pkg["streaming_crowd_alerts"](events, sink, checkpoint_dir=ckpt)

    def drain(kind: str, layer: dict | None, record: bool) -> dict | None:
        """Run one pipeline over the whole replay, closed loop (the file
        source starts the next micro-batch after the previous commit).
        Returns the final emitted state: in update mode the last
        emission per key wins."""
        got: dict = {}
        sink_s = [0.0]
        python: dict[str, float] = {}

        def sink(df, batch_id):
            t0 = time.perf_counter()
            got.update(_keyed(df.collect(), STREAM_KEYS[kind]))
            sink_s[0] += time.perf_counter() - t0
            if layer is not None:
                for k, v in ctx.counters.streaming_python().items():
                    python[k] = python.get(k, 0.0) + v

        ckpt = os.path.join(ctx.work_dir, f"ckpt-{ctx.seed}-{drains[0]}")
        drains[0] += 1
        group = f"build{drains[0]}"
        q = None
        with ctx.tracer.span(f"streaming.{kind}"):
            try:
                t0 = time.perf_counter()
                if layer is not None:
                    spark.sparkContext.setJobGroup(group, f"{kind} start")
                with ctx.tracer.span("plans.build"):
                    q = start(kind, sink, ckpt)
                t1 = time.perf_counter()
                with ctx.tracer.span("operators.exec"):
                    q.processAllAvailable()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted as a failed micro-batch
                out.attempted += 1
                out.fail(f"{kind} stream", exc)
                return None
            finally:
                if q is not None:
                    q.stop()
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(ckpt, ignore_errors=True)
        progress = q.recentProgress
        data = [p for p in progress if p.numInputRows > 0]
        out.attempted += len(data)
        if len(data) != STREAM_FILES:
            out.fail(f"{kind} stream: {len(data)} data micro-batches, {STREAM_FILES} files")
            return None
        if layer is not None:
            _stream_layer(ctx, layer, q, progress, t1 - t0, t2 - t1, sink_s[0])
            layer["build_jobs"] = layer.get("build_jobs", 0.0) + ctx.counters.group(group)["jobs"]
            for k, v in python.items():
                layer[k] = layer.get(k, 0.0) + v
        elif record:
            batch_ms[kind].extend(p.durationMs["triggerExecution"] for p in data)
        return got

    # verification pass: final stream state == batch twins over the slice
    t_verify = time.perf_counter()
    for kind in ("density", "alerts"):
        got = drain(kind, None, record=False)
        if got is None:
            continue
        out.attempted += 1
        try:
            if kind == "density":
                events = pkg["load_table"](spark, "events", twin)
                rows = pkg["batch_crowd_density"](events).collect()
            else:
                rows = pkg["QUERIES"]["crowd_alerts_pipeline"](spark, twin).collect()
            want = _keyed(rows, STREAM_KEYS[kind])
        except Exception as exc:  # noqa: BLE001
            out.fail(f"{kind} batch twin", exc)
            continue
        if got != want:
            out.fail(f"{kind}: stream state ({len(got)} keys) != batch twin ({len(want)} keys)")
        _release(spark)
    out.verify_s = time.perf_counter() - t_verify

    def run_pass(traced: bool) -> None:
        layer = {} if traced else None
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        ok = all(drain(kind, layer, record=True) is not None for kind in ("density", "alerts"))
        wall = time.perf_counter() - t0
        if not ok:
            return
        out.timeline.append(wall)
        if traced:
            layer["core_busy_frac"] = layer["executor_run_ms"] / 1e3 / (wall * ctx.cores)
            layer.update(_load_sweep(ctx))
            out.traced_passes.append(wall)
            out.layers.append(layer)
        else:
            out.passes.append(wall)
            out.cpu.append(tree_cpu_s(os.getpid()) - cpu0)
            # micro-batches run on the query thread, so a batch's CPU
            # cannot be sampled alone: charge the pass evenly
            out.op_cpu.append(out.cpu[-1] / (2 * STREAM_FILES))

    _timed_passes(ctx, run_pass)
    if batch_ms["density"] and batch_ms["alerts"]:
        # one event file clearing both pipelines: the sum of the two
        # per-pipeline medians (pooling them would put the median
        # between two modes)
        out.op_p50_s = sum(statistics.median(v) for v in batch_ms.values()) / 1e3
        out.extra = {f"{k}_batch_p50_ms": statistics.median(v) for k, v in batch_ms.items()}
    if out.passes:
        # both pipelines drain the same replay: events in over wall time
        out.extra["events_per_s"] = 2 * STREAM_EVENTS / statistics.median(out.passes)
    shutil.rmtree(os.path.dirname(src), ignore_errors=True)
    return out


def _stream_layer(ctx, layer, q, progress, build_s, drain_s, sink_s) -> None:
    def dur(*keys):
        return float(sum(p.durationMs.get(k, 0) for p in progress for k in keys))

    ops = [op for p in progress for op in p.stateOperators]
    last = progress[-1].stateOperators
    add = {
        "build_s": build_s,
        "plan_s": dur("queryPlanning") / 1e3,
        "exec_s": drain_s,
        "add_batch_ms": dur("addBatch"),
        "sink_ms": sink_s * 1e3,
        "query_planning_ms": dur("queryPlanning"),
        "wal_commit_ms": dur("walCommit", "commitOffsets"),
        "latest_offset_ms": dur("latestOffset", "getBatch"),
        "state_commit_ms": float(sum(op.commitTimeMs for op in ops)),
        "state_rows_total": float(sum(op.numRowsTotal for op in last)),
        "state_memory_bytes": float(sum(op.memoryUsedBytes for op in last)),
        "rows_dropped_by_watermark": float(sum(op.numRowsDroppedByWatermark for op in ops)),
    }
    # the query thread tags its jobs with the run id as job group
    add.update(ctx.counters.group(str(q.runId)))
    for k, v in add.items():
        layer[k] = layer.get(k, 0.0) + v
