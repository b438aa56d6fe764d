"""Console report sink (S8): formatted output matches the metric
queries it wraps."""

from __future__ import annotations

import io

import pytest
from conftest import SF_DIR


@pytest.mark.parametrize("flavor", ["nb", "tfidf"])
def test_classification_report_matches_queries(spark, flavor):
    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.report import (
        classification_report,
    )

    buf = io.StringIO()
    rep = classification_report(spark, SF_DIR, flavor=flavor, out=buf)
    text = buf.getvalue()
    assert "CONFUSION MATRIX" in text and "ACCURACY" in text

    prefix = "nb" if flavor == "nb" else "tfidf_nb"
    conf = {
        (r["label"], r["prediction"]): r["n"]
        for r in entrymod.queries()[f"{prefix}_confusion"](spark, SF_DIR).collect()
    }
    assert (rep["tp"], rep["fp"], rep["fn"], rep["tn"]) == (
        conf.get((1, 1), 0),
        conf.get((0, 1), 0),
        conf.get((1, 0), 0),
        conf.get((0, 0), 0),
    )

    acc = entrymod.queries()[f"{prefix}_accuracy"](spark, SF_DIR).collect()[0]
    assert rep["accuracy"] == acc["accuracy"]
