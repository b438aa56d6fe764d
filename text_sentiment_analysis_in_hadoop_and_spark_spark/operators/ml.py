"""MLlib pipeline parity — the reference's four Spark applications
re-expressed as ``pyspark.ml`` pipelines (SURVEY §2.6 M1–M7).

Reference shape (/root/reference/Spark/NB/src/main/scala/NB.scala):

- M1 Tokenizer                                  NB.scala:71-72
- M2 HashingTF, default numFeatures = 2^18      NB.scala:74-75
- M3 IDF; Modified variants set minDocFreq=5    NB.scala:77-80,
      Spark/Modified_NB/src/main/scala/Modified_NB.scala:76
- M4 randomSplit 75/25, seed 1234 — applied AFTER the IDF fit, so
      test data leaks into IDF statistics        NB.scala:83
- M5 NaiveBayes (multinomial, smoothing 1.0)     NB.scala:86-87
- M6 LinearSVC(maxIter=10, regParam=0.1)         Spark/SVM/src/main/
      scala/SVM.scala:85-87
- M7 MulticlassMetrics (confusion / accuracy / weighted F1)
      NB.scala:96-99 — here the single-pass aggregate in metrics.py

Fidelity notes:
- The IDF-before-split leakage is PRESERVED in the default queries
  (it is what the reference computes); ``ml_nb_metrics_noleak`` is
  the fixed variant (IDF fit on the train split only) — reference
  defect §2.8(5), kept separate and clearly named.
- The reference Spark apps do NOT filter empty-cleaned tweets (SURVEY
  P8 "absent in Spark apps"): an empty text tokenizes to [""], which
  HashingTF hashes like any token.  Same here — no nonempty filter.
- HashingTF bucket indices are Spark-internal murmur3; vector
  contents are not oracle-expressible, so these queries are declared
  WITHOUT oracle_sql entries (rows-only driver check) and pinned by
  deterministic seed + stability tests instead (SURVEY §5).

Scale notes: `fit` runs one pass per stage (IDF doc-freq agg, NB
conditional-count agg — both partial+final hash aggregates); scoring
is a narrow map over test rows with the model broadcast by MLlib.
LinearSVC is maxIter-bounded treeAggregate rounds — the same shape
it has on a 1000-executor cluster.

- Lineage cut: on the reference-order path the featurized
  (doc_id, label, features) frame is ``localCheckpoint``-ed before
  ``randomSplit``.  Without it every task of every later job — each of
  LinearSVC's ~25 loss/gradient rounds, the NB fit, the transform —
  would carry the fitted IDF stage (two 2^18-long arrays, a 4.1 MiB
  task binary) in its closure.  The split is unchanged: the
  checkpoint keeps the partitioning, and ``randomSplit`` samples per
  partition.
- Subspace fit (SVM only): the features are sliced to the buckets the
  IDF fit saw (``docFreq >= max(1, minDocFreq)``, ascending) before the
  split, so LBFGS iterates over the corpus's few thousand used buckets,
  not 2^18.  Every other bucket is zero in every row (unseen, or zeroed
  by minDocFreq), and LinearSVC gives a zero-variance column a zero
  weight, so the subspace fit solves the same problem: same
  predictions, same coefficients at the used buckets.
- NaiveBayes is NOT sliced: its smoothing denominator is
  ``sum(counts) + smoothing * numFeatures``, so dropping unused
  columns would change every conditional probability.
"""

from __future__ import annotations

from array import array

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LinearSVC, NaiveBayes
from pyspark.ml.common import _py2java
from pyspark.ml.feature import IDF, HashingTF, IDFModel, Tokenizer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import labeled_docs, memo
from .metrics import weighted_metrics

SEED = 1234          # NB.scala:83
SPLIT = [0.75, 0.25]
NUM_FEATURES = 1 << 18  # HashingTF default in Spark 3.0.1 (NB.scala:74)


def _featurizer(min_doc_freq: int) -> list:
    return [
        Tokenizer(inputCol="tweet", outputCol="words"),
        HashingTF(
            inputCol="words", outputCol="rawFeatures", numFeatures=NUM_FEATURES
        ),
        IDF(
            inputCol="rawFeatures",
            outputCol="features",
            minDocFreq=min_doc_freq,
        ),
    ]


def _classifier(kind: str):
    if kind == "nb":
        return NaiveBayes()  # defaults: multinomial, smoothing=1.0
    return LinearSVC(maxIter=10, regParam=0.1)  # SVM.scala:85-87


def _base_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label: double, tweet: string) — the toDF("label","tweet") shape
    of NB.scala:66-67, from the engine's cleaned documents."""
    return labeled_docs(spark, sf_dir).select(
        "doc_id",
        F.col("label").cast("double").alias("label"),
        F.col("text").alias("tweet"),
    )


def _used_buckets(
    featurized: DataFrame, idf: IDFModel, min_doc_freq: int
) -> DataFrame:
    """``features`` sliced to the buckets that can be non-zero: seen by
    the IDF fit and not zeroed by ``minDocFreq`` (module Scale notes)."""
    floor = max(1, min_doc_freq)
    used = [i for i, n in enumerate(idf.docFreq) if n >= floor]
    if not used:  # every feature is zero; VectorSlicer needs an index
        return featurized
    # the JVM slicer, handed the indices as one pickled int[]: the Python
    # VectorSlicer converts its list with one py4j call per element
    # (~5.4k calls, 0.6 s per fit)
    spark = featurized.sparkSession
    sc = spark.sparkContext
    slicer = sc._jvm.org.apache.spark.ml.feature.VectorSlicer()
    slicer.setInputCol("features").setOutputCol("used")
    slicer.setIndices(_py2java(sc, array("i", used)))
    return DataFrame(slicer.transform(featurized._jdf), spark).select(
        "doc_id", "label", F.col("used").alias("features")
    )


@memo
def ml_predictions(
    spark: SparkSession,
    sf_dir: str,
    kind: str = "nb",
    min_doc_freq: int = 0,
    leak_free: bool = False,
) -> DataFrame:
    """Fit the pipeline and score the 25% test split.  Returns
    (doc_id, label, prediction) with label/prediction as ints."""
    base = _base_df(spark, sf_dir)
    if leak_free:
        # fixed variant: split first, fit featurizer on train only
        train, test = base.randomSplit(SPLIT, seed=SEED)
        pipe = Pipeline(stages=_featurizer(min_doc_freq) + [_classifier(kind)])
        model: PipelineModel = pipe.fit(train)
        scored = model.transform(test)
    else:
        # reference order: featurize (IDF sees ALL docs), then split
        feat_model = Pipeline(stages=_featurizer(min_doc_freq)).fit(base)
        featurized = feat_model.transform(base).select(
            "doc_id", "label", "features"
        )
        if kind == "svm":
            featurized = _used_buckets(
                featurized, feat_model.stages[-1], min_doc_freq
            )
        # lazy, like the CC/BPE loops: the classifier's first job
        # materializes it, and no later task ships the IDF closure
        featurized = featurized.localCheckpoint(eager=False)
        train, test = featurized.randomSplit(SPLIT, seed=SEED)
        scored = _classifier(kind).fit(train).transform(test)
    return scored.select(
        "doc_id",
        F.col("label").cast("int").alias("label"),
        F.col("prediction").cast("int").alias("prediction"),
    ).cache()


def q_ml_nb_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ml_predictions(spark, sf_dir, "nb", 0)


def q_ml_nb_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_metrics(ml_predictions(spark, sf_dir, "nb", 0))


def q_ml_modified_nb_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF(minDocFreq=5) variant — Modified_NB.scala:76."""
    return weighted_metrics(ml_predictions(spark, sf_dir, "nb", 5))


def q_ml_svm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_metrics(ml_predictions(spark, sf_dir, "svm", 0))


def q_ml_modified_svm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF(minDocFreq=5) variant — Modified_SVM.scala:77."""
    return weighted_metrics(ml_predictions(spark, sf_dir, "svm", 5))


def q_ml_nb_metrics_noleak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE NB pipeline (split before IDF fit) — the fix for
    reference defect SURVEY §2.8(5), kept as a separate query."""
    return weighted_metrics(
        ml_predictions(spark, sf_dir, "nb", 0, leak_free=True)
    )


# Hash-dependent + iterative → not DuckDB-expressible: rows-only.
ORACLES: dict[str, str] = {}

QUERIES = {
    "ml_nb_predictions": q_ml_nb_predictions,
    "ml_nb_metrics": q_ml_nb_metrics,
    "ml_modified_nb_metrics": q_ml_modified_nb_metrics,
    "ml_svm_metrics": q_ml_svm_metrics,
    "ml_modified_svm_metrics": q_ml_modified_svm_metrics,
    "ml_nb_metrics_noleak": q_ml_nb_metrics_noleak,
}
