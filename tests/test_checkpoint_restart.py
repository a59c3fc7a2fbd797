"""Checkpoint recovery (SURVEY.md §2.9 delivery semantics): a stateful
streaming query killed mid-replay and restarted from its checkpoint
must neither lose nor duplicate state — the restarted query's final
answer equals the batch answer, with the first query's progress
genuinely partial (so recovery actually resumed, not recomputed).
The first query writes through Spark's default checkpoint manager and
the second resumes under the engine's, so checkpoints written before
the engine switched managers still restart. A last test checks that
the engine's checkpoint commits fork no ``readlink``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

from conftest import events_chunk_schema, write_events_chunk

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.streaming.stateful import (
    streaming_rising_edges,
)

T0 = dt.datetime(2024, 1, 1)
PACKAGE = "real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_stateful_query_resumes_from_checkpoint(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)
    # alternating low/high per user: every high is a rising edge only
    # if the low in between was seen exactly once
    rows1 = [(1, 1, 200.0, T0), (1, 2, 100.0, T0), (2, 3, 300.0, T0)]
    rows2 = [(1, 4, 250.0, T0), (2, 5, 100.0, T0), (2, 6, 400.0, T0)]
    write_events_chunk(spark, src, "f1", rows1)

    got: dict = {}
    emissions: list[tuple] = []  # every sunk row, duplicates included

    def start():
        # foreachBatch, not the memory sink: only fault-tolerant sinks
        # support recovering from a checkpoint
        stream = (
            spark.readStream.schema(events_chunk_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def sink(df, _bid):
            for r in df.collect():
                emissions.append((r.user_id, r.event_id))
                got[(r.user_id, r.event_id)] = r.episode

        return (
            streaming_rising_edges(stream, threshold=150.0)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    engine_manager = spark.conf.get(MANAGER_CONF)
    assert engine_manager == _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"
    spark.conf.set(MANAGER_CONF, _CHECKPOINTING + "FileContextBasedCheckpointFileManager")
    try:
        q1 = start()
        q1.processAllAvailable()
        q1.stop()  # "crash" between micro-batches
    finally:
        spark.conf.set(MANAGER_CONF, engine_manager)
    assert got == {(1, 1): 1, (2, 3): 1}  # partial progress only

    write_events_chunk(spark, src, "f2", rows2)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # resumed state: user 1's episode counter continues at 2 (the lag
    # state survived the restart), user 2 re-arms after the low then
    # fires episode 2; nothing from f1 is re-emitted or double-counted
    assert got == {(1, 1): 1, (2, 3): 1, (1, 4): 2, (2, 6): 2}
    # committed micro-batches were not replayed: each edge was sunk
    # exactly once across both query incarnations
    assert sorted(emissions) == sorted(got)


# runs in its own process, so the JVM inherits the stubbed PATH
_TWO_BATCH_PASS = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
import pandas as pd
from {PACKAGE} import get_spark

src, ckpt = sys.argv[1], sys.argv[2]
for i in range(2):
    pd.DataFrame({{"k": [i, i + 1], "v": [1.0, 2.0]}}).to_parquet(f"{{src}}/f{{i}}.parquet")
spark = get_spark("checkpoint-forks", cpus=1)
stream = (spark.readStream.schema("k long, v double")
          .option("maxFilesPerTrigger", 1).parquet(src))
counts = {{}}

def sink(df, _bid):
    counts.update((r.k, r["count"]) for r in df.collect())

q = (stream.groupBy("k").count().writeStream.outputMode("update")
     .foreachBatch(sink).option("checkpointLocation", ckpt).start())
q.processAllAvailable()
q.stop()
print(json.dumps(sorted(counts.items())))
spark.stop()
"""


def test_checkpoint_commits_fork_no_readlink(tmp_path):
    """A fresh ``local[1]`` session runs a two-micro-batch stateful
    query with ``readlink`` and ``chmod`` stubs first on ``PATH``; each
    stub logs its call and runs the real binary. Without native
    libhadoop, Spark's default checkpoint manager forks ``readlink``
    for every path of every checkpoint rename; the engine's forks none.
    The ``chmod`` log (Hadoop's permission set on each created file)
    shows the stubs were on the JVM's path."""
    stubs, src = tmp_path / "stubs", tmp_path / "src"
    stubs.mkdir()
    src.mkdir()
    for tool in ("readlink", "chmod"):
        stub = stubs / tool
        stub.write_text(
            f'#!/bin/sh\nprintf "%s\\n" "$*" >> {tmp_path / tool}.log\n'
            f'exec {shutil.which(tool)} "$@"\n'
        )
        stub.chmod(0o755)
    env = {**os.environ, "PATH": f"{stubs}{os.pathsep}{os.environ['PATH']}"}
    out = subprocess.run(
        [sys.executable, "-c", _TWO_BATCH_PASS, str(src), str(tmp_path / "ckpt")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # key 1 is in both files: its count went through the state store
    assert json.loads(out.stdout.strip().splitlines()[-1]) == [[0, 1], [1, 2], [2, 1]]
    assert (tmp_path / "chmod.log").read_text().strip()
    assert not (tmp_path / "readlink.log").exists()
