"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchstats  # noqa: E402
import datagen  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from oracle import value_hash  # noqa: E402
from tracing import _stat, parse_sql_metric  # noqa: E402


def _span(sid, parent, name, start, end):
    return {"id": sid, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, "query", 0.0, 10.0),
        _span(1, 0, "plans.build", 1.0, 3.0),
        _span(2, 0, "plans.plan", 2.0, 5.0),      # overlaps build: union 1..5
        _span(3, 0, "operators.exec", 7.0, 8.0),
        _span(4, 3, "inner", 7.5, 9.0),           # clipped to its parent
    ]
    st = benchstats.self_times(spans)
    assert st["query"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["plans.build"] == pytest.approx(2.0)
    assert st["operators.exec"] == pytest.approx(0.5)
    assert st["inner"] == pytest.approx(1.5)


def test_self_time_sums_spans_of_one_name():
    spans = [_span(0, None, "sources.load_table", 0.0, 1.0),
             _span(1, None, "sources.load_table", 2.0, 2.5)]
    assert benchstats.self_times(spans)["sources.load_table"] == pytest.approx(1.5)


def test_tail_percentile_needs_ten_samples_beyond():
    assert benchstats.tail_percentile(list(range(1, 100)), 0.9) is None  # 99 samples
    values = list(range(1, 101))
    assert benchstats.tail_percentile(values, 0.9) == 90                # 10 beyond
    assert benchstats.tail_percentile(values, 0.5) == 50
    assert benchstats.tail_percentile(list(range(1, 20)), 0.5) is None  # 9 beyond
    assert benchstats.tail_percentile(list(range(1, 21)), 0.5) == 10    # 10 beyond
    assert benchstats.tail_percentile([], 0.5) is None


def test_spread_matches_statistics_quantiles():
    med, q1, q3, rel = benchstats.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5)
    assert rel == pytest.approx(1.0)


@pytest.mark.parametrize("name", ["setup_s", "operators.jobs", "a", "9x", "p-1.a_b"])
def test_metric_name_grammar_accepts(name):
    assert benchstats.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", ".x", "_x", "-x", "a b", "a/b", "ä", "x" * 65])
def test_metric_name_grammar_rejects(name):
    assert not benchstats.valid_metric_name(name)


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(benchstats.valid_metric_name(n) for n in [*e2e, *layers])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_parse_sql_metric_units():
    multi = "total (min, med, max (stageId: taskId))\n8.7 KiB (3.8 KiB, 4.8 KiB (stage 1.0: task 2))"
    assert parse_sql_metric(multi) == pytest.approx(8.7 * 1024)
    assert parse_sql_metric("183 ms") == 183
    assert parse_sql_metric("2.6 s") == pytest.approx(2600)
    assert parse_sql_metric("1,000") == 1000
    assert parse_sql_metric("0.0 B") == 0


def test_datagen_is_deterministic_and_scaled():
    a = datagen.build_tables(0.002, 7)
    b = datagen.build_tables(0.002, 7)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 12_000
    assert a["events"].num_rows == 2_000
    assert not a["events"].equals(datagen.build_tables(0.002, 8)["events"])


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None)]
    cols = ["k", "s", "v"]
    swapped = [("a", 1, 0.5), (None, 2, "b")]
    assert value_hash(rows, cols) == value_hash(rows[::-1], cols)
    assert value_hash(rows, cols) == value_hash([(r[1], r[0], r[2]) for r in rows], ["s", "k", "v"])
    assert value_hash(rows, cols) != value_hash(swapped, cols)


def test_replay_puts_latest_event_in_last_file(tmp_path):
    """Every seed gets the same micro-batch sequence: two data batches
    and the no-data batch the last watermark move triggers."""
    data = tmp_path / "data"
    datagen.write_tables(str(data), 0.002, 7)
    for seed in range(1, 9):
        ctx = workloads.Ctx(spark=None, pkg={}, data_dir=str(data), work_dir=str(tmp_path),
                            seed=seed, seconds=0, tracer=None, counters=None, cores=1)
        src, twin = workloads._stage_replay(ctx)
        files = [pq.read_table(os.path.join(src, f)) for f in sorted(os.listdir(src))]
        whole = pq.read_table(os.path.join(twin, "events.parquet"))
        assert len(files) == workloads.STREAM_FILES
        assert sum(f.num_rows for f in files) == whole.num_rows == workloads.STREAM_EVENTS
        assert pc.max(files[-1]["ts"]).as_py() == pc.max(whole["ts"]).as_py()


def test_stat_reads_ticks_and_command():
    ppid, used, comm = _stat("/proc/self/stat")
    assert ppid == os.getppid()
    assert comm and used >= 0
    assert _stat("/proc/self/stat", reaped=False)[1] <= _stat("/proc/self/stat")[1]
