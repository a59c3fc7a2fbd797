"""Local stand-in for the driver's DuckDB-oracle differential check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet, then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified). Usage::

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb


def _normalize(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append("\x1f".join(_cell(row[i]) for i in order))
    out.sort()
    return hashlib.sha256("\x1e".join(out).encode()).hexdigest()


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


# --- type fingerprints -------------------------------------------------------
# The driver's value hash is type-sensitive (a DuckDB HUGEINT result
# hash-mismatches a Spark BIGINT even when every value agrees), while a
# stringified compare is not. Canonicalize both engines' result types to
# shared tokens — lenient on width (all plain ints fold together) but
# strict on *kind*, so HUGEINT (decimal128) vs BIGINT is caught locally.

def _spark_type_token(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_type_token(dt.elementType)}>"
    return dt.simpleString()


def _duck_type_token(name: str) -> str:
    name = name.strip().upper()
    if name.endswith("[]"):
        return f"list<{_duck_type_token(name[:-2])}>"
    if name == "HUGEINT":
        # DuckDB's 128-bit sum() result — the signature of the driver
        # hash mismatch; never folds into plain int
        return "decimal(38,0)"
    if name in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "INT",
                "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if name in ("REAL", "FLOAT", "DOUBLE"):
        return "float"
    if name.startswith("DECIMAL"):
        return name.lower().replace(" ", "")
    if name == "VARCHAR":
        return "str"
    if name == "BOOLEAN":
        return "bool"
    if name == "DATE":
        return "date"
    if name.startswith("TIMESTAMP"):
        return "ts"
    return name.lower()


def _type_fingerprint(cols: list[str], tokens: list[str]) -> list[tuple[str, str]]:
    return sorted(zip(cols, tokens))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import (
        get_spark,
    )

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        stime = time.time() - t0
        if name not in oracles:
            print(f"  {name:35s} rows-only: {len(srows)} rows  [{stime:.1f}s]")
            continue
        stypes = [_spark_type_token(f.dataType) for f in sdf.schema.fields]
        t0 = time.time()
        rel = con.sql(oracles[name])
        dcols = list(rel.columns)
        dtypes = [str(t) for t in rel.types]
        drows = rel.fetchall()
        dtime = time.time() - t0
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        sfp = _type_fingerprint(scols, stypes)
        dfp = _type_fingerprint(dcols, [_duck_type_token(str(t)) for t in dtypes])
        ok_types = sfp == dfp
        ok_hash = ok_cols and _normalize(srows, scols) == _normalize(drows, dcols)
        ok = ok_count and ok_cols and ok_hash and ok_types
        status = "OK " if ok else "FAIL"
        print(
            f"  {name:35s} {status} rows={len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else scols} hash={'=' if ok_hash else '!'} "
            f"types={'=' if ok_types else '!'} "
            f"[spark {stime:.1f}s duck {dtime:.2f}s]"
        )
        if not ok:
            failures += 1
            if not ok_types:
                print(f"    type mismatch: "
                      f"{[p for p in sfp if p not in dfp]} (spark) vs "
                      f"{[p for p in dfp if p not in sfp]} (duck)")
            if not ok_cols:
                print(f"    spark cols: {sorted(scols)}")
                print(f"    duck  cols: {sorted(dcols)}")
            elif not ok_hash and len(srows) and len(drows):
                sset = {tuple(_cell(v) for v in r) for r in srows}
                dset = {tuple(_cell(v) for v in r) for r in drows}
                for r in list(sset - dset)[:3]:
                    print(f"    spark-only: {r}")
                for r in list(dset - sset)[:3]:
                    print(f"    duck-only : {r}")
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
