"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
single-row-group parquet file each, with the column names, physical
types and value distributions of the TPC-H-ish star schema plus the
``events`` / ``documents`` / ``embeddings`` side tables the package is
written against.  Row counts are proportional to the scale factor
(sf 0.1: 600k lineitem, 100k events, 5k documents, 2k embeddings).

The same ``(sf, seed)`` always yields byte-identical files: every
column comes from one ``numpy.random.Generator`` drawn in a fixed
order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per table at sf 0.1; region and nation are fixed-size
_BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_N_USERS = 1_500  # distinct events.user_id at sf 0.1
_EMB_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_O_STATUS = ["F", "O", "P"]
_O_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rows(name: str, sf: float) -> int:
    return max(1, int(round(_BASE_ROWS[name] * sf / 0.1)))


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, drawn in a fixed order."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_li = _rows("orders", sf), _rows("lineitem", sf)
    n_ev, n_doc, n_emb = _rows("events", sf), _rows("documents", sf), _rows("embeddings", sf)
    n_users = max(10, int(round(_N_USERS * sf / 0.1)))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = np.array(_P_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_P_NOUN)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(_O_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(_O_PRIO)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })

    # events: ts ascending with event_id over 30 days, microsecond grain
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random word runs; ~5% are an earlier document plus a
    # trailing " dup" (near-duplicates) and a few are exact copies
    words = np.array(_WORDS)
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    kind = rng.random(n_doc)
    src_idx = rng.integers(0, n_doc, n_doc)
    for i in range(1, n_doc):
        j = int(src_idx[i]) % i
        if kind[i] < 0.0486:
            texts[i] = texts[j] + " dup"
        elif kind[i] < 0.0502:
            texts[i] = texts[j]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_emb, _EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``.

    Files go to a sibling staging directory that is renamed into place,
    so a run killed mid-write never leaves a partial dataset behind."""
    if os.path.isdir(out_dir):
        return
    stage = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(stage)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"), row_group_size=1 << 30)
    os.rename(stage, out_dir)
