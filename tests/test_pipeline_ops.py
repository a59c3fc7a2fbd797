"""Round-4 pipeline operators: native session windows, incremental
dedup, per-source caps, Z-order layout keys. Oracle parity is the
driver/check_oracle gate; these tests pin the non-SQL-visible
semantics (Morton bit layout, session boundary, cap determinism).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.training_data import (
    CAP_PER_SOURCE,
    ZORDER_BITS,
    _duck_shift,
    _morton_expr,
    _spark_shift,
    cap_per_source,
    zorder_key,
)


def _morton_py(x: int, y: int) -> int:
    z = 0
    for i in range(ZORDER_BITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_expr_matches_python_reference(spark):
    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255), (65535, 65535)]
    df = spark.createDataFrame(cases, "x long, y long")
    got = df.selectExpr(
        "x", "y", f"{_morton_expr('x', 'y', _spark_shift)} AS z"
    ).collect()
    for r in got:
        assert r.z == _morton_py(r.x, r.y), (r.x, r.y)
    # locality: interleaving maps the unit square's corners apart
    assert _morton_py(0, 0) == 0
    assert _morton_py(65535, 65535) == (1 << 32) - 1


def test_morton_duckdb_dialect_agrees():
    import duckdb

    expr = _morton_expr("x", "y", _duck_shift)
    rows = duckdb.sql(
        f"SELECT x, y, {expr} AS z FROM (VALUES (3, 5), (255, 1)) t(x, y)"
    ).fetchall()
    for x, y, z in rows:
        assert z == _morton_py(x, y)


def test_zorder_key_range(spark, sf_dir):
    out = zorder_key(spark, sf_dir)
    stats = out.agg(
        F.min("zkey").alias("lo"), F.max("zkey").alias("hi")
    ).first()
    assert 0 <= stats.lo <= stats.hi < (1 << (2 * ZORDER_BITS))


def test_cap_per_source_bounds_and_determinism(spark, sf_dir):
    out = cap_per_source(spark, sf_dir)
    per_src = out.groupBy("source").count().collect()
    assert all(r["count"] <= CAP_PER_SOURCE for r in per_src)
    a = {(r.doc_id, r.rk) for r in out.collect()}
    b = {(r.doc_id, r.rk) for r in cap_per_source(spark, sf_dir).collect()}
    assert a == b


def test_session_window_boundary_semantics(spark):
    """Gap == window merges; gap strictly greater splits (probed Spark
    behavior the oracle SQL mirrors with epoch_us comparison)."""
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.relational import (
        SESSION_WINDOW_GAP_MIN,
    )

    T0 = dt.datetime(2024, 1, 1)
    gap = dt.timedelta(minutes=SESSION_WINDOW_GAP_MIN)
    rows = [
        (1, T0),
        (1, T0 + gap),  # exactly the gap: merge
        (2, T0),
        (2, T0 + gap + dt.timedelta(microseconds=1)),  # 1 us over: split
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    n = (
        df.groupBy(
            F.session_window("ts", f"{SESSION_WINDOW_GAP_MIN} minutes"),
            "user_id",
        )
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    sessions = {r.user_id: r["count"] for r in n}
    assert sessions == {1: 1, 2: 2}


def test_pii_redact_masks_synthetic_pii(spark, sf_dir):
    """The corpus carries no PII, so prove the masking on synthetic
    rows: emails → [EMAIL], digit runs → [NUM], keywords → [TERM],
    email-before-digit order pinned (digits inside an address are
    masked as part of the email, not left as a [NUM] island); then the
    corpus query itself must show keyword rewrites actually occurred."""
    import pandas as pd

    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.plans.pipeline_quality import (
        DIGIT_RUN_PAT,
        EMAIL_PAT,
        KEYWORD_PAT,
        pii_redact,
    )

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_PAT, "[EMAIL]"),
            DIGIT_RUN_PAT,
            "[NUM]",
        ),
        KEYWORD_PAT,
        "[TERM]",
    )
    rows = (
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "text": [
                        "mail me at john.doe99+x@corp-mail.example.com now",
                        "acct 123456789 and pin 00112233",
                        "run the query on that table with a join",
                        "clean text stays clean",
                        "user1234567@host.org or call 998877665544",
                    ]
                }
            )
        )
        .select(redacted.alias("out"))
        .collect()
    )
    outs = [r.out for r in rows]
    assert outs[0] == "mail me at [EMAIL] now"
    assert outs[1] == "acct [NUM] and pin [NUM]"
    assert outs[2] == "run the [TERM] on that [TERM] with a [TERM]"
    assert outs[3] == "clean text stays clean"
    assert outs[4] == "[EMAIL] or call [NUM]"  # digits in address: one mask

    corpus = pii_redact(spark, sf_dir)
    agg = corpus.agg(
        F.sum(F.col("changed").cast("int")).alias("n_changed"),
        F.sum("n_term").alias("terms"),
    ).collect()[0]
    assert agg.n_changed > 0 and agg.terms > 0  # rewriting is real
