"""Scale-sensitivity probe: amplify the documents/embeddings tables
N× (shifted ids, jittered text so rows aren't pure duplicates) and
time the candidate-generation-heavy queries at 1× and N×.

A healthy scale-path query grows ~linearly in input (plus shuffle
log terms); super-linear growth flags a candidate blowup (banding too
coarse, df cap missing, quadratic verify leaking). Usage::

    python tools/scale_probe.py [amplification] [query ...]

Set ``SCALE_PROBE_STRATUM=K`` to first restrict the base tables to a
deterministic 1/K stratum (id % K == 0) before amplifying — this
probes amplification DEPTH (replica-clique size, the dimension that
times out for the LSH-graph queries at full-corpus 64×) while holding
total row count near a K-times-smaller full probe.  The 1× leg uses
the same stratum, so the ratio still reads against linear == N.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

DEFAULT_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_neardup_lsh",
    "sequence_packing",
    "contamination_check",
]

SF = "/root/testdata/sf0.1"


def main() -> int:
    amp = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    only = sys.argv[2:] or DEFAULT_QUERIES

    import __spark_entry__ as e
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark import (
        get_spark,
    )
    from real_time_ai_enhanced_crowd_surveillance_with__big_data_analytics_spark.sources import (
        tables,
    )

    spark = get_spark("scale_probe")
    qs = e.queries()

    # amplified copies: ids shift per replica; text gets a replica tag
    # appended so replicas are near-dups (the hard case for banding —
    # candidate sets genuinely grow), not exact dups.
    stratum = int(os.environ.get("SCALE_PROBE_STRATUM", "1"))
    base_docs = tables.load_table(spark, "documents", SF)
    base_emb = tables.load_table(spark, "embeddings", SF)
    if stratum > 1:
        base_docs = base_docs.filter(F.col("doc_id") % stratum == 0)
        # keep the low-id asset window: several similarity plans treat
        # the first vec_ids as fixed assets (sign-LSH hyperplanes,
        # knn_batch query vectors) and break if the stratum starves it
        base_emb = base_emb.filter(
            (F.col("vec_id") % stratum == 0) | (F.col("vec_id") < 64)
        )
    max_doc = base_docs.agg(F.max("doc_id")).first()[0] + 1
    max_vec = base_emb.agg(F.max("vec_id")).first()[0] + 1

    def amplified_docs(n: int):
        reps = spark.range(n).select(F.col("id").alias("rep"))
        return (
            base_docs.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * max_doc).alias("doc_id"),
                F.when(F.col("rep") == 0, F.col("text"))
                .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("rep"), "rep")))
                .alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )

    def amplified_emb(n: int):
        reps = spark.range(n).select(F.col("id").alias("rep"))
        return (
            base_emb.crossJoin(reps)
            .select(
                (F.col("vec_id") + F.col("rep") * max_vec).alias("vec_id"),
                "embedding",
                "label",
            )
        )

    # events amplification: replicas get disjoint user populations and
    # a per-replica time shift, so sessions/funnels/cohorts genuinely
    # multiply (same-user same-ts duplicates would collapse in
    # session/dedup logic and undercount the work)
    base_events = tables.load_table(spark, "events", SF)
    _mu, _me = base_events.agg(F.max("user_id"), F.max("event_id")).first()
    max_user, max_event = _mu + 1, _me + 1

    def amplified_events(n: int):
        reps = spark.range(n).select(F.col("id").alias("rep"))
        return (
            base_events.crossJoin(reps)
            .select(
                (F.col("event_id") + F.col("rep") * max_event).alias("event_id"),
                (F.col("ts") + F.make_interval(secs=F.col("rep"))).alias("ts"),
                (F.col("user_id") + F.col("rep") * max_user).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )

    # customer amplification: replicas get disjoint key ranges, so the
    # spatial plans' hash-derived sites land at NEW grid positions —
    # point DENSITY multiplies (world size is fixed), which is the
    # dimension the epsilon-grid join must absorb
    base_cust = tables.load_table(spark, "customer", SF)
    if stratum > 1:
        base_cust = base_cust.filter(F.col("c_custkey") % stratum == 0)
    max_cust = base_cust.agg(F.max("c_custkey")).first()[0] + 1

    def amplified_customer(n: int):
        reps = spark.range(n).select(F.col("id").alias("rep"))
        return (
            base_cust.crossJoin(reps)
            .select(
                (F.col("c_custkey") + F.col("rep") * max_cust).alias(
                    "c_custkey"
                ),
                "c_name",
                "c_nationkey",
                "c_acctbal",
                "c_mktsegment",
            )
        )

    results = {}
    for n in (1, amp):
        # monkey-patch the loader so queries read the amplified frames
        orig = tables.load_table

        def patched(spark_, name, sf_, _n=n):
            if name == "documents":
                return amplified_docs(_n)
            if name == "embeddings":
                return amplified_emb(_n)
            if name == "events":
                return amplified_events(_n)
            if name == "customer":
                return amplified_customer(_n)
            return orig(spark_, name, sf_)

        tables.load_table = patched
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is orig:
                mod.load_table = patched
        try:
            for name in only:
                t0 = time.time()
                qs[name](spark, SF).write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                results.setdefault(name, {})[n] = dt
                print(f"  {name:30s} x{n:<3d} {dt:7.2f}s", flush=True)
                spark.catalog.clearCache()
                # localCheckpoint RDD blocks are NOT freed by
                # clearCache — only by ContextCleaner once the Python
                # DataFrame is GC'd. Force that now, or a checkpoint-
                # heavy query poisons its successors' timings
                # (measured: fuzzy_name_pairs 87 s after
                # semantic_keep_canonical×8 vs 2.8 s alone).
                import gc

                gc.collect()
                time.sleep(0.5)  # let ContextCleaner unpersist
        finally:
            tables.load_table = orig
            for mod in list(sys.modules.values()):
                if getattr(mod, "load_table", None) is patched:
                    mod.load_table = orig

    print(f"\n{'query':30s} {'1x':>8s} {amp:>7d}x {'ratio':>7s}  (linear == {amp}.0)")
    worst = 0.0
    for name, r in results.items():
        ratio = r[amp] / r[1] if r[1] > 0 else float("inf")
        worst = max(worst, ratio)
        print(f"{name:30s} {r[1]:8.2f} {r[amp]:8.2f} {ratio:7.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
