"""Trained quality classifier over the documents table — the
GPT-3/CCNet-style corpus filter: fit a linear model on a labeled
subset, then score the WHOLE corpus distributedly.

Production shape at 100 TB:

- **Training is sample-sized.** The labeled set (here: weak labels
  from the heuristic ``quality_score``; in production: human labels or
  a reference-corpus-vs-crawl contrast, CCNet §4) is millions of rows,
  not the corpus. ``fit()`` runs on that sample; iterative LBFGS
  passes never touch the full corpus.
- **Scoring is one map-only pass.** The fitted model is a broadcast
  coefficient vector; ``transform`` adds a probability column with no
  shuffle — the filter composes with the quality funnel
  (plans/pipeline_quality.py) as a plain predicate.
- Features are HashingTF (fixed-width, stateless — no vocabulary
  shuffle, any executor featurizes any row) + IDF (one small-key agg
  over the training sample only).

No SQL oracle (iterative optimizer state is not SQL-expressible);
verified by test_quality_classifier: held-out accuracy/AUC floors,
refit determinism, and a no-shuffle scoring-plan assert.
"""

from __future__ import annotations

import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score, tokens
from ..plans.training_data import HASH_P

try:  # pragma: no cover - pyspark.ml is optional
    from pyspark.ml import Pipeline, PipelineModel
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import IDF, HashingTF

    HAS_MLLIB = True
except ImportError:  # pragma: no cover
    HAS_MLLIB = False

NUM_FEATURES = 4096  # hashed feature width (power of 2: cheap modulo)
LABEL_THRESHOLD = 0.5  # weak label: heuristic quality_score >= 0.5
TRAIN_FRACTION = 90  # hash buckets < 90 train, rest held out
HASH_MULT = 48_271


@dataclass
class QualityClassifier:
    model: "PipelineModel"
    train_rows: int
    test_rows: int
    test_auc: float
    test_accuracy: float


def _labeled(docs: DataFrame) -> DataFrame:
    """Weak labels + deterministic train/heldout split. The split hash
    is portable arithmetic on doc_id so membership is reproducible
    lineage, same convention as plans/indexing.py::dataset_split."""
    # mod-first: mult-first overflows int64 for doc_id ≥ ~1.9e14
    bucket = ((F.col("doc_id") % HASH_P) * HASH_MULT + 3) % HASH_P % 100
    return docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        (quality_score(F.col("text")) >= LABEL_THRESHOLD)
        .cast("double")
        .alias("label"),
        (bucket < TRAIN_FRACTION).alias("is_train"),
    )


def _rank_auc(scored: DataFrame) -> float:
    """AUC as the Mann-Whitney rank statistic over P(label=1), entirely
    in DataFrame ops: per-DISTINCT-score pos/neg counts (one shuffle),
    tie-averaged ranks via a cumulative window over the collapsed
    score table, then AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻).
    Deliberately NOT
    ``BinaryClassificationEvaluator``: that evaluator drops to RDD
    closures, which Spark 4.1 fails to serialize ('Task not
    serializable: ObservationManager') in any session that has ever
    run a ``df.observe()`` — and the telemetry operator
    (operators/telemetry.py) makes that a normal session state here.
    The rank form is also one exchange instead of an RDD round-trip.

    Degenerate held-out splits (single class) return NaN-free 0.5 —
    no discrimination measurable."""
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import Window

    # collapse to DISTINCT scores first: the per-score aggregate is a
    # normal partial-aggregated shuffle, and only score-cardinality
    # rows (bounded, roughly Zipf in practice) enter the unpartitioned
    # cumulative window — ranking raw rows through a global window
    # would funnel the whole held-out split onto one task
    per_score = (
        scored.select("label", vector_to_array("probability")[1].alias("p"))
        .groupBy("p")
        .agg(
            F.sum((F.col("label") == 1.0).cast("long")).alias("pos"),
            F.sum((F.col("label") == 0.0).cast("long")).alias("neg"),
        )
    )
    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    cnt = F.col("pos") + F.col("neg")
    # average rank of the tie group at score p: rows_before + (cnt+1)/2
    avg_rank = F.sum(cnt).over(w) - cnt + (cnt + 1) / 2.0
    row = per_score.select(
        (F.col("pos") * avg_rank).alias("rpos_part"), "pos", "neg"
    ).agg(
        F.sum("rpos_part").alias("rpos"),
        F.sum("pos").alias("npos"),
        F.sum("neg").alias("nneg"),
    ).first()
    npos, nneg = row["npos"] or 0, row["nneg"] or 0
    if npos == 0 or nneg == 0:
        return 0.5
    return float(
        (row["rpos"] - npos * (npos + 1) / 2.0) / (npos * nneg)
    )


def fit_quality_classifier(docs: DataFrame) -> QualityClassifier:
    """Fit HashingTF→IDF→LogisticRegression on the train split, report
    held-out AUC and accuracy. Deterministic: the optimizer sees the
    same aggregated gradients regardless of partitioning (tree
    aggregation of float sums is fixed-shape), and no RNG enters the
    pipeline (HashingTF is stateless, the split is hash-derived)."""
    if not HAS_MLLIB:  # pragma: no cover
        raise ImportError("pyspark.ml not available")
    labeled = _labeled(docs).cache()
    tf = HashingTF(
        inputCol="toks", outputCol="tf", numFeatures=NUM_FEATURES
    )
    idf = IDF(inputCol="tf", outputCol="features")
    lr = LogisticRegression(
        maxIter=25, regParam=0.01, elasticNetParam=0.0, standardization=True
    )
    pipe = Pipeline(stages=[tf, idf, lr])
    train = labeled.filter("is_train")
    test = labeled.filter(~F.col("is_train"))
    n_test = test.count()
    if n_test == 0:
        labeled.unpersist()
        raise ValueError(
            "held-out split is empty (every doc_id hashed below "
            f"TRAIN_FRACTION={TRAIN_FRACTION}); provide more rows or "
            "lower TRAIN_FRACTION"
        )
    model = pipe.fit(train)
    # shed the LR training summary via a save/load roundtrip: the
    # summary holds a predictions DataFrame → SparkSession, and any
    # transform-closure serialization then drags in the session's
    # ObservationManager — not serializable in Spark 4.1, so scoring
    # crashes in any session that ever ran df.observe() (which
    # operators/telemetry.py makes normal). The loaded model carries
    # coefficients only.
    tmp = tempfile.mkdtemp(prefix="qclf_")
    try:
        model.write().overwrite().save(tmp)
        model = PipelineModel.load(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    scored = model.transform(test)
    auc = _rank_auc(scored)
    acc_row = scored.agg(
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("a"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    out = QualityClassifier(
        model=model,
        train_rows=train.count(),
        test_rows=int(acc_row["n"]),
        test_auc=float(auc),
        test_accuracy=float(acc_row["a"]),
    )
    labeled.unpersist()
    return out


def score_documents(clf: QualityClassifier, docs: DataFrame) -> DataFrame:
    """Corpus-wide scoring pass: (doc_id, p_keep, keep). Map-only —
    the model rides as broadcast coefficients; composing this with a
    filter keeps the whole corpus scan single-pass."""
    feats = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    scored = clf.model.transform(feats)
    # probability is a VectorUDT; element 1 = P(label=1)
    from pyspark.ml.functions import vector_to_array

    return scored.select(
        "doc_id",
        F.round(vector_to_array("probability")[1], 6).alias("p_keep"),
        (F.col("prediction") == 1.0).alias("keep"),
    )
