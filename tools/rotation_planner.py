"""Compute the next round's 50-query verification window mechanically.

The driver's correctness harness records only the FIRST 50 registry
entries per round, so window order decides which queries get fresh
verdicts. The rotation policy (VERDICT r5 #3, applied by hand in
rounds 5-6):

1. canaries — the flagship + broadcast-join canary, every round;
2. never-checked queries (no verdict in any CORRECTNESS_r*.json);
3. red-last-time queries (latest verdict not ok — they were
   presumably fixed and need a re-verdict);
4. fill to 50 with the queries whose latest verdict is OLDEST
   (registry order as the tiebreak, so the plan is deterministic).

"Spec changed after the window froze" (rotation class (c) in
registry.py) cannot be detected mechanically — splice those in by
hand when it applies.

Usage::

    python tools/rotation_planner.py           # print the plan
    python tools/rotation_planner.py --diff    # also diff vs current

The tool is advisory: it prints the list to paste into
``registry._PRIORITY`` plus a diff against the current window so the
next round's rotation is a review, not an archaeology session.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WINDOW = 50
CANARIES = ["crowded_frames", "revenue_by_nation"]


def latest_verdicts(
    pattern: str = os.path.join(ROOT, "CORRECTNESS_r*.json"),
):
    """name -> (round, ok) for the most recent round that checked it."""
    out: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(pattern)):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, rec in json.load(open(path)).items():
            ok = (
                isinstance(rec, dict)
                and rec.get("err") is None
                and rec.get("rows_match") is True
                and rec.get("schema_match") is True
                # hash_match is None for rows-only (oracle-less) checks
                and rec.get("hash_match") in (True, None)
            )
            prev = out.get(name)
            if prev is None or rnd >= prev[0]:
                out[name] = (rnd, ok)
    return out


def plan(registry_names: list[str], verdicts) -> list[str]:
    never = [n for n in registry_names if n not in verdicts]
    red = [
        n
        for n in registry_names
        if n in verdicts and not verdicts[n][1] and n not in CANARIES
    ]
    seen = set(CANARIES) | set(never) | set(red)
    # oldest latest-verdict first; registry order breaks ties
    fill = sorted(
        (n for n in registry_names if n not in seen),
        key=lambda n: verdicts[n][0],
    )
    out = [*CANARIES, *never, *red, *fill]
    return out[:WINDOW]


def main() -> int:
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.registry import (
        _ALL,
        _PRIORITY,
    )

    names = list(_ALL)
    verdicts = latest_verdicts()
    proposed = plan(names, verdicts)
    print(f"# proposed window ({len(proposed)} of {len(names)} queries)")
    for n in proposed:
        v = verdicts.get(n)
        tag = "never-checked" if v is None else (
            f"r{v[0]} {'ok' if v[1] else 'RED'}"
        )
        print(f"    {n!r:42s}  # {tag}")
    if "--diff" in sys.argv:
        cur, new = set(_PRIORITY), set(proposed)
        print("\n# enters window:", sorted(new - cur))
        print("# leaves window:", sorted(cur - new))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
