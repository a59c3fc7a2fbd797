"""Layer profile of the query registry: where each query's time goes.

Each named query (the whole registry when none is named) runs twice,
dropping the previous run's caches and checkpoints first as ``bench.py``
does. A run splits into build (``QUERIES[name](spark, sf_dir)``, whose
eager jobs run under the job group ``<name>:build``), plan (forcing the
executed plan) and execute (the noop-sink write, under
``<name>:execute``). Jobs are counted through ``statusTracker`` alone:
``perfbench/tracing.py``'s per-stage reads raise partway through a
full-registry pass. ``PROFILE_<tag>.json`` in the checkout root gets
``cpus``, ``sf_dir`` and per query both runs' build and execute job
counts, the minimum of each layer's seconds, and the cold (first) run's
plan summary and formatted plan. Stdout gets the PLANS.md inventory,
stderr progress. An amplified directory (``tools/make_scale_data.py``)
is just another ``sf_dir``.

Usage: ``python tools/layer_profile.py <sf_dir> <tag> [query ...] > PLANS.md``
"""

from __future__ import annotations

import gc
import json
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PY_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
            "BatchEvalPython", "FlatMapGroupsInPandasWithState")


def plan_summary(plan: str) -> dict:
    """Operator counts of an ``explain("formatted")`` plan, read from its
    node list (each node appears once as ``(n) OpName``), and the column
    counts of its parquet scans."""
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
    widths = [inner.count(",") + 1 if inner.strip() else 0
              for inner in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]
    scan = (f"{min(widths)}–{max(widths)} cols" if len(widths) > 1
            else f"{widths[0]} cols" if widths else "—")
    return {"shuffles": ops.count("Exchange"), "bhj": ops.count("BroadcastHashJoin"),
            "smj": ops.count("SortMergeJoin"), "py": sum(ops.count(k) for k in PY_NODES),
            "scan": scan}


def jobs(spark, group: str, seen: set[int]) -> int:
    """Jobs tagged ``group`` that are not in ``seen``, which takes them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    new = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) - seen
    seen |= new
    return len(new)


def run_once(spark, queries, name: str, sf_dir: str, seen: set[int]) -> dict:
    """One fresh build, plan and execute of ``name``: seconds and jobs
    per layer, and the formatted plan as planned before execution."""
    sc = spark.sparkContext
    sc.setJobGroup(f"{name}:build", f"profile {name} build")
    t0 = time.perf_counter()
    df = queries[name](spark, sf_dir)
    t1 = time.perf_counter()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    t2 = time.perf_counter()
    plan = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    sc.setJobGroup(f"{name}:execute", f"profile {name} execute")
    t3 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    t4 = time.perf_counter()
    return {"build": {"jobs": jobs(spark, f"{name}:build", seen), "s": t1 - t0},
            "plan": {"s": t2 - t1},
            "execute": {"jobs": jobs(spark, f"{name}:execute", seen), "s": t4 - t3},
            "text": plan}


def profile(spark, queries, name: str, sf_dir: str) -> dict:
    """Two runs of ``name`` folded into one record: both runs' job
    counts, the minimum of each layer's seconds, the cold run's plan."""
    runs, seen = [], set()
    for _ in range(2):
        runs.append(run_once(spark, queries, name, sf_dir, seen))
        spark.catalog.clearCache()
        gc.collect()  # frees localCheckpoint blocks, which clearCache keeps
        time.sleep(0.2)
    rec = {}
    for layer in ("build", "plan", "execute"):
        rec[layer] = {k: [r[layer][k] for r in runs] for k in runs[0][layer] if k != "s"}
        rec[layer]["s"] = round(min(r[layer]["s"] for r in runs), 3)
    return {**rec, "summary": plan_summary(runs[0]["text"]), "plan_text": runs[0]["text"]}


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        raise SystemExit(__doc__)
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import get_spark
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans import QUERIES

    sf_dir, tag, names = argv[0], argv[1], argv[2:] or list(QUERIES)
    spark = get_spark("profile")
    # JVM, codegen and Python-worker start-up should not bill the first query
    spark.range(1000).selectExpr("sum(id)").collect()
    out = {"cpus": spark.sparkContext.defaultParallelism, "sf_dir": sf_dir, "queries": {}}
    errors = {}
    for name in names:
        try:
            rec = out["queries"][name] = profile(spark, QUERIES, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 -- one failing query must not end the pass
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            spark.catalog.clearCache()
            print(f"{name} FAILED: {errors[name]}", file=sys.stderr, flush=True)
            continue
        print(f"{name:40s} build {rec['build']['jobs']} jobs {rec['build']['s']:6.2f} s  "
              f"plan {rec['plan']['s']:5.2f} s  execute {rec['execute']['jobs']} jobs "
              f"{rec['execute']['s']:6.2f} s", file=sys.stderr, flush=True)
    out["errors"] = errors
    (ROOT / f"PROFILE_{tag}.json").write_text(json.dumps(out, indent=1) + "\n")
    print(f"# PLANS — physical-plan inventory ({Path(sf_dir).name}, "
          f"local[{out['cpus']}])\n\nGenerated by `tools/layer_profile.py <sf_dir> {tag}`; "
          f"per-query detail and plan text are in `PROFILE_{tag}.json`. Columns: build / "
          "execute jobs = Spark jobs of the cold run while the DataFrame is constructed / "
          "while the noop sink writes it; shuffles = Exchange nodes; BHJ/SMJ = "
          "broadcast-hash / sort-merge joins; pyUDF = Arrow-batched Python operators "
          "on the path; scan = columns read at the parquet scans (pruning proof).\n\n"
          "| query | build jobs | execute jobs | shuffles | BHJ | SMJ | pyUDF | scan |\n"
          "|---|---|---|---|---|---|---|---|")
    for name, rec in out["queries"].items():
        s = rec["summary"]
        print(f"| {name} | {rec['build']['jobs'][0]} | {rec['execute']['jobs'][0]} "
              f"| {s['shuffles']} | {s['bhj']} | {s['smj']} | {s['py']} | {s['scan']} |")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main(sys.argv[1:]))
