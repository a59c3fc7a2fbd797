"""Command-line entry point — the engine as a usable tool::

    python -m real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark list
    python -m ... run crowded_frames --sf /root/testdata/sf0.01 -n 10
    python -m ... run dedup_exact --sf ... --explain        # plan only
    python -m ... run pricing_summary --sf ... --out /tmp/p.parquet
    python -m ... sql "SELECT count(*) FROM events" --sf ...

``run`` executes a registry query; ``sql`` registers every driver
table as a temp view and runs ad-hoc Spark SQL; ``--out`` writes
parquet instead of printing (the full-result path — ``show`` truncates
for humans, files don't).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="crowdlytics")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list", help="list registered queries")
    runp = sub.add_parser("run", help="run a registry query")
    runp.add_argument("query")
    runp.add_argument("--sf", default="/root/testdata/sf0.001")
    runp.add_argument("-n", type=int, default=20, help="rows to show")
    runp.add_argument("--explain", action="store_true")
    runp.add_argument("--out", help="write parquet here instead of showing")
    sqlp = sub.add_parser("sql", help="ad-hoc SQL over the driver tables")
    sqlp.add_argument("statement")
    sqlp.add_argument("--sf", default="/root/testdata/sf0.001")
    sqlp.add_argument("-n", type=int, default=20)
    args = p.parse_args(argv)

    from .plans import ORACLES, QUERIES

    if args.cmd == "list":
        for name in QUERIES:
            tag = "" if name in ORACLES else "  (no SQL oracle)"
            print(f"{name}{tag}")
        return 0

    from . import get_spark

    spark = get_spark("cli")
    if args.cmd == "sql":
        from .sources.tables import register_views

        register_views(spark, args.sf)
        spark.sql(args.statement).show(args.n, truncate=False)
        return 0

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r} — see `list`", file=sys.stderr)
        return 2
    df = QUERIES[args.query](spark, args.sf)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return 0
    df.show(args.n, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
