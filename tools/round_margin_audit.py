"""Audit the round-then-hash exposure class (VERDICT r5 #8).

The ``embedding_covariance`` r5 failure mode: a float aggregate whose
summation order is partition-dependent gets rounded for output; when
the true value sits within the float jitter of a rounding midpoint,
the rounded value — and therefore the driver's value hash — flips
between engines/runs. The integer-exact co-moment rewrite fixed that
query; this tool MEASURES the exposure of every other rounded float
output column on the actual driver dataset.

Method: take each oracle-backed query's DuckDB SQL, widen every
``round(expr, d)`` to ``round(expr, d+6)`` (preserving the pre-round
value to 1e6× finer resolution), run it, and for every DOUBLE column
report the minimum distance of any cell to its original rounding
midpoint grid (midpoints at k·10^-d + 10^-d/2). A column whose minimum
margin is orders of magnitude above the reachable float jitter
(~1e-10 relative for these row counts) cannot flip on this dataset; a
column with a tiny margin is a real hash-stability risk and needs the
integer-exact treatment.

The original d for each widened call is recovered positionally: the
i-th ``round(`` in the SQL keeps its index after widening, and margins
are computed per-column against every distinct quantum that appears in
the query (a column is safe only if it clears the FINEST one — a
conservative over-approximation that avoids fragile column↔expression
mapping).

Usage: python tools/round_margin_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import re
import os
import sys

import duckdb

_ROUND_RE = re.compile(r"round\s*\(", re.IGNORECASE)


def widen_rounds(sql: str) -> tuple[str, list[int], dict[str, int]]:
    """Rewrite every round(expr, d) to round(expr, d+6); return the new
    SQL, the list of original d values (in appearance order), and a
    column→d map for round calls directly followed by ``AS name``
    (the dominant output pattern — columns in the map get an exact
    per-column audit; the rest fall back to all quanta). Uses paren
    matching from each round( site, so nested calls are safe."""
    out = []
    digits: list[int] = []
    col_d: dict[str, int] = {}
    pos = 0
    while True:
        m = _ROUND_RE.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            break
        out.append(sql[pos : m.end()])
        # find the matching close paren
        depth = 1
        i = m.end()
        while depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[m.end() : i - 1]
        # split at the top-level last comma
        depth = 0
        last_comma = -1
        for k, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                last_comma = k
        dm = re.fullmatch(r"\s*(\d+)\s*", inner[last_comma + 1 :]) if last_comma >= 0 else None
        if dm is None:  # round(x) single-arg form: leave untouched
            out.append(inner + ")")
        else:
            d = int(dm.group(1))
            digits.append(d)
            out.append(inner[: last_comma + 1] + f" {d + 6})")
            asm = re.match(r"\s+AS\s+(\w+)", sql[i:], re.IGNORECASE)
            if asm:
                col_d[asm.group(1).lower()] = d
        pos = i
    return "".join(out), digits, col_d


def midpoint_margin(v: float, d: int) -> float:
    """Distance of v to the nearest rounding midpoint of 10^-d."""
    q = 10.0**-d
    frac = math.fmod(abs(v), q)
    return abs(frac - q / 2.0)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    worst: list[tuple[float, str, str, int]] = []
    for name, sql in e.oracle_sql().items():
        if only and name not in only:
            continue
        wide, digits, col_d = widen_rounds(sql)
        if not digits:
            continue
        quanta = sorted(set(digits))
        try:
            rel = con.sql(wide)
            cols = list(rel.columns)
            types = [str(t) for t in rel.types]
            rows = rel.fetchall()
        except Exception as ex:  # widened SQL failed: report loudly
            print(f"  {name:32s} WIDEN-ERR {type(ex).__name__}: {ex}")
            continue
        for ci, (c, t) in enumerate(zip(cols, types)):
            if t not in ("DOUBLE", "FLOAT"):
                continue
            vals = [r[ci] for r in rows if r[ci] is not None]
            if not vals:
                continue
            ds = [col_d[c.lower()]] if c.lower() in col_d else quanta
            for d in ds:
                mm = min(midpoint_margin(v, d) for v in vals)
                worst.append((mm * 10.0**d, name, c, d))  # margin in quanta
    worst.sort()
    print(f"{'margin/quantum':>14s}  {'query':32s} {'column':24s} d")
    for mm, name, c, d in worst[:40]:
        flag = "  <-- RISK" if mm < 1e-3 else ""
        print(f"{mm:14.3e}  {name:32s} {c:24s} {d}{flag}")
    n_risk = sum(1 for mm, *_ in worst if mm < 1e-3)
    print(f"{len(worst)} rounded float columns audited; {n_risk} at risk "
          f"(margin < 1e-3 of the rounding quantum)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
