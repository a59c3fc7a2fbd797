"""Generate PLANS.md: one row per registered query summarizing the
physical plan Spark actually picks at sf0.01 — exchanges (shuffles),
broadcast joins, sort-merge joins, Python/pandas UDF operators, and
whole-stage-codegen coverage. The compact scale fingerprint of the
whole engine: reviewers can see at a glance which queries shuffle how
often and where Python sits on the hot path.

Usage::

    python tools/plan_inventory.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import re
import os
import sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as e
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import (
        get_spark,
    )

    spark = get_spark("plan_inventory")
    rows = []
    for name, fn in e.queries().items():
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # count operator headers from the formatted node list instead of
        # free text (each node appears once as "(n) OpName")
        ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
        counts = {}
        for op in ops:
            counts[op] = counts.get(op, 0) + 1
        rows.append(
            {
                "name": name,
                "shuffle": counts.get("Exchange", 0),
                "bhj": counts.get("BroadcastHashJoin", 0),
                "smj": counts.get("SortMergeJoin", 0),
                "py": sum(
                    counts.get(k, 0)
                    for k in (
                        "FlatMapGroupsInPandas",
                        "MapInPandas",
                        "ArrowEvalPython",
                        "BatchEvalPython",
                        "FlatMapGroupsInPandasWithState",
                    )
                ),
                "scan_cols": _scan_width(plan),
            }
        )
    print("# PLANS — physical-plan inventory (sf0.01, local)")
    print()
    print(
        "Generated by tools/plan_inventory.py. Columns: shuffles = "
        "Exchange nodes; BHJ/SMJ = broadcast-hash / sort-merge joins; "
        "pyUDF = Arrow-batched Python operators on the path; "
        "scan = columns read at the parquet scans (pruning proof)."
    )
    print()
    print("| query | shuffles | BHJ | SMJ | pyUDF | scan |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['name']} | {r['shuffle']} | {r['bhj']} | {r['smj']} "
            f"| {r['py']} | {r['scan_cols']} |"
        )
    return 0


def _scan_width(plan: str) -> str:
    widths = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        inner = m.group(1)
        widths.append(0 if not inner.strip() else inner.count(",") + 1)
    if not widths:
        return "—"
    return f"{min(widths)}–{max(widths)} cols" if len(widths) > 1 else f"{widths[0]} cols"


if __name__ == "__main__":
    raise SystemExit(main())
