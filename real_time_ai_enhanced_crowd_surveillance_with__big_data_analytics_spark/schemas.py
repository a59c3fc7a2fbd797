"""Driver table names (TESTDATA.md, FIXTURES.md).

Table schemas are not declared here: ``sources.tables.load_table``
reads the schema Spark infers from each parquet file (memoized per
file identity), so the physical types — TIMESTAMP_NTZ ``events.ts``,
``list<float>`` embeddings — are whatever the files hold, and a
renamed column fails analysis instead of reading as nulls.
"""

from __future__ import annotations

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
