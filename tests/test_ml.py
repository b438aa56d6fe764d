"""MLlib pipeline parity (M1–M7) — rows-only surface, so determinism
and metric sanity are pinned here instead of a DuckDB oracle
(SURVEY §5: hash-dependent / iterative operators).
"""

from __future__ import annotations

import __spark_entry__ as entrymod

from conftest import SF_DIR

ML_METRIC_QUERIES = [
    "ml_nb_metrics",
    "ml_modified_nb_metrics",
    "ml_svm_metrics",
    "ml_modified_svm_metrics",
    "ml_nb_metrics_noleak",
]


# Golden metric values (r7 verdict item 3): the ml_* surface is
# rows-only (hash-dependent featurization), so shape/determinism tests
# alone would let an MLlib upgrade or featurizer drift change results
# SILENTLY.  These exact values were recorded on pyspark 4.1.2 with
# seed 1234 (NB.scala:83 semantics) over the driver's fixed testdata;
# any engine/behavior change must fail here loudly and be re-pinned
# deliberately.  Values are rounded to 6 dp — the same precision every
# oracle-checked double in the repo ships at.
ML_GOLDENS = {
    "/root/testdata/sf0.001": {
        "ml_nb_metrics": (0.477941, 0.228428, 0.477941, 0.309116, 136),
        "ml_modified_nb_metrics": (0.477941, 0.228428, 0.477941, 0.309116, 136),
        "ml_svm_metrics": (0.492647, 0.488665, 0.492647, 0.487436, 136),
        "ml_modified_svm_metrics": (0.492647, 0.488665, 0.492647, 0.487436, 136),
        "ml_nb_metrics_noleak": (0.477941, 0.228428, 0.477941, 0.309116, 136),
    },
    "/root/testdata/sf0.01": {
        "ml_nb_metrics": (0.485294, 0.519595, 0.485294, 0.368949, 136),
        "ml_modified_nb_metrics": (0.485294, 0.519595, 0.485294, 0.368949, 136),
        "ml_svm_metrics": (0.558824, 0.574517, 0.558824, 0.548336, 136),
        "ml_modified_svm_metrics": (0.558824, 0.574517, 0.558824, 0.548336, 136),
        "ml_nb_metrics_noleak": (0.485294, 0.528027, 0.485294, 0.359033, 136),
    },
}

_METRIC_COLS = (
    "accuracy",
    "weighted_precision",
    "weighted_recall",
    "weighted_f1",
    "n_test",
)


def test_ml_metric_goldens():
    """Exact metric values at BOTH small SFs — the loud-failure pin the
    r7 verdict asked for.  Runs in its own Spark-default session shape
    via the shared fixture-less path so cached predictions from other
    tests can't mask a recompute difference."""
    import pytest

    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

    spark = get_spark("ml_goldens_test")
    queries = entrymod.queries()
    for sf_dir, goldens in ML_GOLDENS.items():
        for name, want in goldens.items():
            rows = queries[name](spark, sf_dir).collect()
            assert len(rows) == 1, (sf_dir, name)
            r = rows[0].asDict()
            got = tuple(
                round(r[c], 6) if isinstance(r[c], float) else r[c]
                for c in _METRIC_COLS
            )
            assert got == pytest.approx(want, abs=1e-6), (sf_dir, name)


def test_ml_metrics_shape_and_range(spark):
    queries = entrymod.queries()
    for name in ML_METRIC_QUERIES:
        rows = queries[name](spark, SF_DIR).collect()
        assert len(rows) == 1, name
        r = rows[0].asDict()
        assert set(r) == {
            "accuracy",
            "weighted_precision",
            "weighted_recall",
            "weighted_f1",
            "n_test",
        }, name
        for k in ("accuracy", "weighted_precision", "weighted_recall", "weighted_f1"):
            assert 0.0 <= r[k] <= 1.0, (name, k, r[k])
        assert r["n_test"] > 0, name


def test_ml_predictions_deterministic(spark):
    """Same seed → identical predictions across two evaluations."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import ml

    a = sorted(
        tuple(r)
        for r in ml.ml_predictions(spark, SF_DIR, "nb", 0).collect()
    )
    ml.ml_predictions.memo.clear()
    b = sorted(
        tuple(r)
        for r in ml.ml_predictions(spark, SF_DIR, "nb", 0).collect()
    )
    assert a == b


def test_ml_split_has_both_labels(spark):
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import ml

    preds = ml.ml_predictions(spark, SF_DIR, "nb", 0)
    labels = {r["label"] for r in preds.select("label").distinct().collect()}
    assert labels == {0, 1}


def test_ml_predictions_are_binary(spark):
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import ml

    for kind in ("nb", "svm"):
        preds = ml.ml_predictions(spark, SF_DIR, kind, 0)
        vals = {
            r["prediction"]
            for r in preds.select("prediction").distinct().collect()
        }
        assert vals <= {0, 1}, (kind, vals)


def _fresh_svm_predictions(spark, sf_dir, min_doc_freq, monkeypatch):
    """ml_predictions(..., "svm", min_doc_freq) fitted now, not memoized
    by an earlier test; returns (prediction rows, fit dataset, model)."""
    from pyspark.ml.classification import LinearSVC

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import ml

    key = (spark.sparkContext.applicationId, sf_dir, "svm", min_doc_freq, False)
    old = ml.ml_predictions.memo.pop(key, None)
    if old is not None:
        old.unpersist()
    seen = []
    fit = LinearSVC._fit

    def recording_fit(self, dataset):
        model = fit(self, dataset)
        seen.append((dataset, model))
        return model

    with monkeypatch.context() as m:
        m.setattr(LinearSVC, "_fit", recording_fit)
        preds = ml.ml_predictions(spark, sf_dir, "svm", min_doc_freq)
    rows = sorted(tuple(r) for r in preds.collect())
    assert len(seen) == 1, len(seen)
    return (rows, *seen[0])


def _plain_svm(spark, sf_dir, min_doc_freq):
    """The reference SVM app as a plain 2^18-wide pyspark.ml fit
    (SVM.scala: Tokenizer → HashingTF → IDF → randomSplit → LinearSVC)."""
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.feature import IDF, HashingTF, Tokenizer
    from pyspark.sql import functions as F

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import ml

    words = Tokenizer(inputCol="tweet", outputCol="words").transform(
        ml._base_df(spark, sf_dir)
    )
    tf = HashingTF(inputCol="words", outputCol="tf", numFeatures=1 << 18).transform(words)
    idf = IDF(inputCol="tf", outputCol="features", minDocFreq=min_doc_freq).fit(tf)
    train, test = (
        idf.transform(tf)
        .select("doc_id", "label", "features")
        .randomSplit([0.75, 0.25], seed=1234)
    )
    model = LinearSVC(maxIter=10, regParam=0.1).fit(train)
    rows = sorted(
        tuple(r)
        for r in model.transform(test)
        .select(
            "doc_id",
            F.col("label").cast("int"),
            F.col("prediction").cast("int"),
        )
        .collect()
    )
    return rows, idf, model


def test_svm_subspace_fit_matches_full_width_fit(spark, tmp_path, monkeypatch):
    """The SVM fits on the used-bucket slice of a lineage-cut frame; it
    must give the rows and coefficients of the 2^18-wide fit, whose
    every unused coefficient is exactly 0."""
    import os

    import numpy as np

    from perfbench import gen
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common

    bench_dir = str(tmp_path / "bench_seed1")
    gen.write_inputs(bench_dir, seed=1, n_docs=2000)
    try:
        for sf_dir in (bench_dir, os.path.join(os.path.dirname(SF_DIR), "sf0.01")):
            for mdf in (0, 5):
                rows, _, sliced = _fresh_svm_predictions(spark, sf_dir, mdf, monkeypatch)
                want_rows, idf, full = _plain_svm(spark, sf_dir, mdf)
                assert rows == want_rows, (sf_dir, mdf)
                used = np.flatnonzero(np.asarray(idf.docFreq) >= max(1, mdf))
                full_w = full.coefficients.toArray()
                sliced_w = sliced.coefficients.toArray()
                assert full_w.size == 1 << 18 and sliced_w.size == used.size
                assert np.abs(full_w[used] - sliced_w).max() <= 1e-12, (sf_dir, mdf)
                assert abs(full.intercept - sliced.intercept) <= 1e-12, (sf_dir, mdf)
                unused = np.ones(full_w.size, dtype=bool)
                unused[used] = False
                assert not full_w[unused].any(), (sf_dir, mdf)
    finally:
        common.clear_caches(bench_dir)


def test_svm_fit_frame_does_not_reach_the_idf_stage(spark, monkeypatch):
    """Lineage guard: the frame LinearSVC fits on is a scan of the
    checkpointed features, so its ~25 treeAggregate rounds ship a small
    task binary, not the fitted IDF stage (two 2^18-long arrays, about
    4 MiB)."""
    _, dataset, _ = _fresh_svm_predictions(spark, SF_DIR, 0, monkeypatch)
    leaves = dataset._jdf.queryExecution().analyzed().collectLeaves()
    kinds = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    assert kinds == {"LogicalRDD"}, kinds
    jvm = spark._jvm
    closure = jvm.org.apache.spark.SparkEnv.get().closureSerializer().newInstance()
    any_ref = getattr(jvm.scala.reflect, "ClassTag$").__getattr__("MODULE$").AnyRef()
    task_rdd = dataset._jdf.queryExecution().toRdd()
    assert closure.serialize(task_rdd, any_ref).limit() < 1 << 20
