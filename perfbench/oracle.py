"""Result verification for the batch workloads.

A registry query with an oracle is compared with DuckDB running the
oracle SQL over the same parquet files: row count, column names, and
an order-insensitive hash of the values (columns sorted by name, rows
sorted, values stringified the same way for both engines).  A query
without an oracle gets a rows-only check: it must return rows.
"""

from __future__ import annotations

import hashlib

import duckdb

from datagen import TABLES


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(row[i]) for i in order) for row in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


class Oracle:
    """DuckDB views over the benchmark's tables; one connection per run."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        self._sql = oracle_sql
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the Spark result matches, else a one-line reason."""
        if name not in self._sql:
            return None if rows else "rows-only check: no rows"
        rel = self._con.sql(self._sql[name])
        want_cols, want = list(rel.columns), rel.fetchall()
        if len(rows) != len(want):
            return f"row count {len(rows)} != oracle {len(want)}"
        if sorted(cols) != sorted(want_cols):
            return f"columns {sorted(cols)} != oracle {sorted(want_cols)}"
        if value_hash(rows, cols) != value_hash(want, want_cols):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self._con.close()
