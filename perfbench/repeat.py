"""Repeat-runs helper: the steadiness evidence behind the bounds.

    python3 perfbench/repeat.py --workload registry --runs 10 [--first-seed 1] [--trace 0]

Runs the benchmark command from ``BENCHMARK.json`` once per seed
(``first-seed .. first-seed + runs - 1``), one run at a time, from the
checkout root, and prints for every reported metric its median, first
and third quartile, the quartile spread as a share of the median, and
the metric's bound.  The spread of every end-to-end metric except
``setup_s`` must stay within its bound; aim for a third of it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from benchstats import spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2]) if len(lines) > 1 else {}
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} passes={detail.get('passes')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + f"\n  {json.dumps(detail)}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        med, q1, q3, rel = spread(vs)
        bound = bounds.get(k)
        print(f"{k:40} {med:12.5g} {q1:12.5g} {q3:12.5g} {rel:8.3f} "
              f"{'' if bound is None else f'{bound:6.2f}'} {units[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
