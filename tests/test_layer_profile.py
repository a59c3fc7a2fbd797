"""The layer profiler's plan summary, on canned ``explain("formatted")``
text: no Spark session."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.layer_profile import plan_summary  # noqa: E402

PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (12)
+- Project (11)
   +- SortMergeJoin Inner (10)
      :- Sort (6)
      :  +- Exchange (5)
      :     +- ArrowEvalPython (4)
      :        +- BroadcastHashJoin Inner BuildRight (3)
      :           :- Scan parquet  (1)
      :           +- BroadcastExchange (2)
      +- Sort (9)
         +- Exchange (8)
            +- Scan parquet  (7)


(1) Scan parquet
Output [3]: [a#1L, b#2, v#3]
ReadSchema: struct<a:bigint,b:string,v:array<double>>

(2) BroadcastExchange
Input [1]: [c#4L]

(3) BroadcastHashJoin
Left keys [1]: [a#1L]

(4) ArrowEvalPython
Arguments: [score(v#3)#9]

(5) Exchange
Arguments: hashpartitioning(a#1L, 4)

(6) Sort
Arguments: [a#1L ASC NULLS FIRST], false, 0

(7) Scan parquet
Output [1]: [a#5L]
ReadSchema: struct<a:bigint>

(8) Exchange
Arguments: hashpartitioning(a#5L, 4)

(9) Sort
Arguments: [a#5L ASC NULLS FIRST], false, 0

(10) SortMergeJoin
Left keys [1]: [a#1L]

(11) Project
Output [2]: [a#1L, b#2]

(12) AdaptiveSparkPlan
Output [2]: [a#1L, b#2]
"""


def test_plan_summary_counts_operators_and_scan_widths():
    # BroadcastExchange is a broadcast, not a shuffle; the tree drawing
    # above the node list is not counted twice
    assert plan_summary(PLAN) == {
        "shuffles": 2, "bhj": 1, "smj": 1, "py": 1, "scan": "1–3 cols"}


def test_plan_summary_single_scan_and_no_scan():
    one = "(1) Scan parquet\nReadSchema: struct<x:int,y:int>\n\n(2) MapInPandas\n"
    assert plan_summary(one) == {
        "shuffles": 0, "bhj": 0, "smj": 0, "py": 1, "scan": "2 cols"}
    assert plan_summary("(1) Range\n")["scan"] == "—"
