from __future__ import annotations

import contextlib
import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# streaming tests write hundreds of tiny checkpoint files each (offset/
# commit logs + state-store delta files); without native libhadoop the
# JVM forks a `chmod` per created file or directory, and Spark's default
# checkpoint manager a `readlink` per rename path (get_spark picks the
# manager that does not). Pointing pytest's tmp factory at tmpfs when
# available is purely a test-harness I/O change, no product behavior
if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
    _shm_tmp = "/dev/shm/spark_graft_pytest_tmp"
    os.makedirs(_shm_tmp, exist_ok=True)
    os.environ["TMPDIR"] = _shm_tmp
    tempfile.tempdir = None  # drop the cached gettempdir() value

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    # smoke-scale inputs: hundreds of rows per micro-batch. 8 shuffle
    # partitions made every stateful streaming batch pay 8 task
    # launches + 8 state-store instances for microseconds of work —
    # the suite is dominated by that overhead (full run 34 min; the
    # driver's pytest budget cut r9's VERIFY at 78%). 2 partitions
    # keeps multi-partition semantics under test (state repartition,
    # watermark min across partitions) at a quarter of the overhead.
    # Runtime-settable, so batch tests are unaffected semantically.
    s.conf.set("spark.sql.shuffle.partitions", "2")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def registry_dfs(spark, sf_dir):
    """name -> (DataFrame, executedPlan) for every registry query —
    built ONCE per session and shared by the bench guard (analysis
    check) and the plan-contract audits, which each used to pay their
    own full-registry construction pass (~80-100 s each: eager
    checkpoints/collects inside the dedup/CC constructors run real
    jobs). Built with AQE off (AQE hides Exchanges inside query
    stages, blinding the global-window detector) and tiny
    maxPartitionBytes (at sf0.001 a single-partition scan elides the
    ``Exchange SinglePartition`` the detector keys on). Construction
    errors are collected per query into the third slot so the analysis
    guard can report them all instead of dying at the first."""
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    prior_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans import (
        QUERIES,
    )

    dfs: dict = {}
    errors: dict = {}
    try:
        for name, fn in QUERIES.items():
            try:
                df = fn(spark, SF_SMOKE)
                dfs[name] = (df, df._jdf.queryExecution().executedPlan())
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prior_mpb)
    return dfs, errors


# shared by the stateful-streaming tests (state TTL, RocksDB parity,
# checkpoint restart): one replay chunk = one parquet file = one
# micro-batch, with the 4-column events shape the operators consume
def events_chunk_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )


def cleared_welch_rule(
    n_c: int, s_c: int, q_c: int, n_t: int, s_t: int, q_t: int
) -> bool:
    """``plans/ml_eval.py::ab_test_report``'s 2σ Welch decision with
    every denominator cleared, on per-arm (n, Σx, Σx²) in exact Python
    ints — the one Python statement of the rule the SQL encodes, which
    the A/B report tests check against a float reference and against
    Fractions."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.ml_eval import (
        AB_SIGMA,
    )

    lhs = (s_t * n_c - s_c * n_t) ** 2 * (n_t - 1) * (n_c - 1)
    rhs = AB_SIGMA * AB_SIGMA * (
        (q_t * n_t - s_t * s_t) * n_c * n_c * (n_c - 1)
        + (q_c * n_c - s_c * s_c) * n_t * n_t * (n_t - 1)
    )
    return lhs > rhs


@contextlib.contextmanager
def rocksdb_state_store(spark):
    """Streams started inside the block keep their state in RocksDB;
    the session's previous state-store provider is restored on exit."""
    conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf, None)
    spark.conf.set(
        conf, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def write_events_chunk(spark, src: str, name: str, rows) -> None:
    import glob as _glob
    import os as _os
    import shutil as _shutil

    tmp = f"{src}/_{name}"
    spark.createDataFrame(rows, events_chunk_schema()).coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    _os.rename(
        _glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/{name}.parquet"
    )
    _shutil.rmtree(tmp)
