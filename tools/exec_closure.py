"""Print the package functions that no root calls: a call-level closure.

``tests/test_reachability.py`` proves each module is imported; this
proves each function runs. It runs ``RUNS`` with a ``sitecustomize.py``
profile hook first on ``PYTHONPATH``, so the driver, the worker daemon
and the workers it forks each log a package function on its first call
(workers leave through ``os._exit``, so nothing waits for exit). Then
it prints every function or method (listed with ``ast``) that no
process entered, minus ``ALLOWLIST``. A trace counts only if every run
passed. Exit 0 when nothing is printed, 1 when something is, 2 when a
run failed. Usage: ``python tools/exec_closure.py``
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark"
SF = "/root/testdata/sf0.001"
PY = sys.executable
BENCH = [PY, "perfbench/run.py", "--seed", "1", "--seconds", "12", "--workload"]
# (command, does its stdout read as passed); the CLI is a root of its own
RUNS = [
    ([PY, "tools/check_oracle.py", SF], lambda out: out.splitlines()[-1] == "ALL OK"),
    (BENCH + ["registry"], lambda out: json.loads(out.splitlines()[-1])["correct"]),
    (BENCH + ["crowd_stream"], lambda out: json.loads(out.splitlines()[-1])["correct"]),
    ([PY, "-m", PACKAGE, "sql", "SELECT count(*) AS n FROM events", "--sf", SF],
     lambda out: out.startswith("+")),
]

# module (dotted, relative to the package) -> the SURVEY.md §2.1 reference
# row it is the engine's only implementation of; its caller is a deployment,
# not the registry. tests/test_reachability.py imports it as its ALLOWLIST.
REFERENCE_ROWS = {
    "sources.framefeed": "S1: webcam frame source",
    "operators.inference": "S2: YOLO/CLIP models loaded once per executor",
    "sources.sqlite_source": "S4: the Django SQLite user store",
    "streaming.sinks": "S6: alarm sink, once per crowding episode",
    "sources.httpform": "S8: the login form source",
}

# "<file>::<qualname>", or "<file>" for a whole module -> the SURVEY.md §2
# row it implements or the test that forces it. An entry covers the
# functions nested in what it names.
_FIRE = "P1/P6-P9: the reference's per-frame fire pixel math"
_STREAM = "streaming root export that no workload runs yet (ROADMAP direction 5): tests/"
ALLOWLIST = {
    **{f"operators/multimodal.py::{f}": _FIRE for f in (
        "preprocess_blob", "bgr_to_hsv", "_gaussian_kernel", "gaussian_blur",
        "fire_pixel_count", "bitwise_mask_apply", "fire_mask_overlay",
        "resize_image", "scan_fire_pixels", "fire_pixel_scan")},
    **{f"operators/connected_components.py::{f}": "distributed side of the "
       "size gate: tests/test_connected_components.py"
       for f in ("_large_star", "_small_star", "_edge_partitions", "_min_neighbor")},
    "plans/pq.py::_train_codebook.<locals>.partial_pass": "distributed side of "
        "the size gate: tests/test_pq.py::test_driver_train_matches_distributed",
    "plans/dedup.py::_ranked_postings_distributed": "distributed side of the "
        "vocabulary gate: tests/test_kcore.py, tests/test_vocab_gate.py",
    "plans/dedup.py::_str_hash": "the Spark twin tests/test_vocab_gate.py::"
        "test_hash_tokens_matches_spark_expr checks _hash_tokens against",
    "operators/nms.py::nms_pandas": "the reference NMS of tests/test_nms.py",
    **{m.replace(".", "/") + ".py": row for m, row in REFERENCE_ROWS.items()},
    "streaming/stateful.py": "W2: rising-edge alarm trigger: tests/test_streaming.py",
    "streaming/runner.py": _STREAM + "test_streaming.py, test_stream_stream_join.py",
    **{f"streaming/{m}.py": f"{_STREAM}test_{m}.py" for m in (
        "hot_cell_alert", "loiter_alert", "od_tracker")},
}

HOOK = '''\
import os, sys, threading
_LOG, _PKG, _seen = {log!r}, {pkg!r}, set()
os.register_at_fork(after_in_child=_seen.clear)  # every pid logs its own calls

def _hook(frame, event, arg):
    if event != "call" or frame.f_code in _seen:
        return
    code = frame.f_code
    _seen.add(code)
    if code.co_filename.startswith(_PKG):
        with open(_LOG, "a") as f:  # one short O_APPEND write per line
            f.write(code.co_filename[len(_PKG):] + "::" + code.co_qualname + "\\n")

sys.setprofile(_hook)
threading.setprofile(_hook)
# then import the sitecustomize this file shadows, if there is one
_me, _path, _here = sys.modules.pop(__name__), sys.path[:], os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [p for p in _path if os.path.abspath(p or ".") != _here]
try:
    import sitecustomize
except ModuleNotFoundError as ex:
    if ex.name != "sitecustomize":
        raise
finally:
    sys.path[:], sys.modules[__name__] = _path, _me
'''


def defined() -> set[str]:
    """"<file>::<qualname>" of every function and method in the package."""
    out: set[str] = set()

    def walk(node, file: str, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = getattr(child, "name", None)
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.add(f"{file}::{prefix}{name}")
                walk(child, file, f"{prefix}{name}.<locals>.")
            else:
                walk(child, file, f"{prefix}{name}." if isinstance(child, ast.ClassDef) else prefix)

    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        walk(ast.parse(path.read_text()), path.relative_to(ROOT / PACKAGE).as_posix(), "")
    return out


def covers(entry: str, key: str) -> bool:
    return key == entry or key.startswith((entry + "::", entry + "."))


def main() -> int:
    t0 = time.perf_counter()
    with tempfile.TemporaryDirectory(prefix="exec-closure-") as tmp:
        log = os.path.join(tmp, "calls.log")
        Path(tmp, "sitecustomize.py").write_text(HOOK.format(log=log, pkg=f"{ROOT / PACKAGE}/"))
        path = [tmp] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
        for cmd, passed in RUNS:
            t = time.perf_counter()
            res = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
            try:
                ok = res.returncode == 0 and bool(passed(res.stdout))
            except (ValueError, KeyError, IndexError):
                ok = False
            print(f"{'ok' if ok else 'FAILED'}: {' '.join(cmd[1:])} [{time.perf_counter() - t:.0f} s]")
            if not ok:
                print(res.stdout[-2000:] + res.stderr[-2000:], file=sys.stderr)
                return 2
        uncalled = defined() - set(Path(log).read_text().splitlines())
    never = sorted(k for k in uncalled if not any(covers(e, k) for e in ALLOWLIST))
    stale = sorted(e for e in ALLOWLIST if not any(covers(e, k) for k in uncalled))
    for line in never + [f"stale ALLOWLIST entry (called, or names nothing): {e}" for e in stale]:
        print(line)
    print(f"{len(never)} never called outside ALLOWLIST, {len(stale)} stale entries "
          f"[{time.perf_counter() - t0:.0f} s]")
    return 1 if never or stale else 0


if __name__ == "__main__":
    sys.exit(main())
