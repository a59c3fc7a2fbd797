"""Materialize an amplified copy of the sf0.1 test dataset: the
registry's inputs at a size where per-query fixed costs no longer hide
how a query scales with input and cores.

Amplifies documents / embeddings / events / customer AMP× with shifted
ids and jittered text (replicas are near-dups, not exact dups: the
hard case for banding) and copies the remaining TPC-H tables unchanged.
Output is multi-file parquet so scans parallelize the way any real
corpus would (the sf0.1 files are single-row-group: every scan is one
task no matter the core count). Profile the result like any other
dataset directory with ``tools/layer_profile.py``.

Usage::

    python tools/make_scale_data.py /dev/shm/sf_amp10 [amp]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
COPY_TABLES = [
    "lineitem", "orders", "part", "supplier", "nation", "region",
]


def main() -> None:
    out = sys.argv[1]
    amp = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import (
        get_spark,
    )
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources import (
        tables,
    )

    spark = get_spark("make_scale_data")
    os.makedirs(out, exist_ok=True)
    reps = spark.range(amp).select(F.col("id").alias("rep"))

    def write(df, name, parts):
        # .parquet suffix, multiple files inside: load_table reads the
        # directory exactly like the single-file layout
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )

    docs = tables.load_table(spark, "documents", SRC)
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    write(
        docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * max_doc).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep"))
            ).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + F.when(F.col("rep") == 0, 0).otherwise(
                5 + F.length(F.col("rep").cast("string"))
            )).alias("n_chars"),
        ),
        "documents",
        32,
    )

    emb = tables.load_table(spark, "embeddings", SRC)
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    jit = F.transform(
        "embedding",
        lambda x: x + (F.col("rep") % 7).cast("double") / 1000.0,
    )
    write(
        emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * max_vec).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding"))
            .otherwise(jit)
            .alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        ),
        "embeddings",
        32,
    )

    ev = tables.load_table(spark, "events", SRC)
    max_eid = ev.agg(F.max("event_id")).first()[0] + 1
    max_uid = ev.agg(F.max("user_id")).first()[0] + 1
    write(
        ev.crossJoin(reps).select(
            (F.col("event_id") + F.col("rep") * max_eid).alias("event_id"),
            (F.col("user_id") + F.col("rep") * max_uid).alias("user_id"),
            *[c for c in ev.columns if c not in ("event_id", "user_id")],
        ),
        "events",
        32,
    )

    cust = tables.load_table(spark, "customer", SRC)
    max_ck = cust.agg(F.max("c_custkey")).first()[0] + 1
    write(
        cust.crossJoin(reps).select(
            (F.col("c_custkey") + F.col("rep") * max_ck).alias("c_custkey"),
            *[c for c in cust.columns if c != "c_custkey"],
        ),
        "customer",
        8,
    )

    for t in COPY_TABLES:
        src = f"{SRC}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if os.path.isfile(src):
            os.makedirs(dst, exist_ok=True)
            shutil.copy(src, f"{dst}/part-00000.parquet")
    print(f"amplified {amp}x -> {out}")


if __name__ == "__main__":
    main()
