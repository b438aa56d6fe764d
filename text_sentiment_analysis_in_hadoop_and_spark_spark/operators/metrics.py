"""Classification metrics as single-pass DataFrame aggregates.

The reference reports a confusion matrix + accuracy in Hadoop
(/root/reference/Hadoop/NB.java:330-341) and additionally weighted F1
via ``MulticlassMetrics.weightedFMeasure`` in Spark
(/root/reference/Spark/NB/src/main/scala/NB.scala:96-99).

``MulticlassMetrics`` pulls predictions back through an RDD; here the
whole thing is ONE hash aggregate producing one row — at 100 TB the
only shuffle is the partial→final merge of 10 counters.

Weighted metrics follow the MulticlassMetrics definitions: per-class
precision = tp/(tp+fp) (0 when nothing was predicted as the class),
recall = tp/support, F1 = 2PR/(P+R) (0 when P+R=0), each weighted by
true-class support.  Classes are the engine's binary labels {0, 1}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cnt(label: int, pred: int):
    return (
        F.sum(
            F.when(
                (F.col("label") == label) & (F.col("prediction") == pred), 1
            ).otherwise(0)
        )
        .cast("double")
    )


def confusion(preds: DataFrame) -> DataFrame:
    """preds(label, prediction) → the confusion matrix as a tall
    (label, prediction, n) table (NB.java:250-267,330-341)."""
    return preds.groupBy("label", "prediction").agg(
        F.count("*").cast("long").alias("n")
    )


def accuracy(preds: DataFrame) -> DataFrame:
    """preds(label, prediction) → 1 row of accuracy = (tp+tn)/total
    and n_test (NB.java:341)."""
    return preds.agg(
        F.round(
            F.sum(F.when(F.col("label") == F.col("prediction"), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("accuracy"),
        F.count("*").cast("long").alias("n_test"),
    )


def weighted_metrics(preds: DataFrame) -> DataFrame:
    """preds(label, prediction) → 1 row of accuracy / weighted P, R, F1."""
    counts = preds.agg(
        _cnt(1, 1).alias("tp1"),
        _cnt(0, 1).alias("fp1"),
        _cnt(1, 0).alias("fn1"),
        _cnt(0, 0).alias("tn1"),
    )

    def safe_div(num, den):
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    tp1, fp1, fn1, tn1 = (F.col(c) for c in ("tp1", "fp1", "fn1", "tn1"))
    n = tp1 + fp1 + fn1 + tn1
    sup1, sup0 = tp1 + fn1, tn1 + fp1
    p1 = safe_div(tp1, tp1 + fp1)
    p0 = safe_div(tn1, tn1 + fn1)
    r1 = safe_div(tp1, sup1)
    r0 = safe_div(tn1, sup0)
    f1 = safe_div(2 * p1 * r1, p1 + r1)
    f0 = safe_div(2 * p0 * r0, p0 + r0)
    return counts.select(
        F.round((tp1 + tn1) / n, 6).alias("accuracy"),
        F.round((sup1 * p1 + sup0 * p0) / n, 6).alias("weighted_precision"),
        F.round((sup1 * r1 + sup0 * r0) / n, 6).alias("weighted_recall"),
        F.round((sup1 * f1 + sup0 * f0) / n, 6).alias("weighted_f1"),
        n.cast("long").alias("n_test"),
    )


def confusion_sql(preds_sql: str) -> str:
    """DuckDB twin of :func:`confusion` over a predictions subquery."""
    return (
        "WITH preds AS (" + preds_sql + ") "
        "SELECT label, prediction, CAST(count(*) AS BIGINT) AS n "
        "FROM preds GROUP BY label, prediction"
    )


def accuracy_sql(preds_sql: str) -> str:
    """DuckDB twin of :func:`accuracy` over a predictions subquery."""
    return (
        "WITH preds AS (" + preds_sql + ") "
        "SELECT round(sum(CASE WHEN label = prediction THEN 1 ELSE 0 END) "
        "/ count(*), 6) AS accuracy, CAST(count(*) AS BIGINT) AS n_test "
        "FROM preds"
    )


def weighted_metrics_sql(preds_sql: str) -> str:
    """DuckDB twin of :func:`weighted_metrics` over a predictions
    subquery producing (label, prediction)."""
    return (
        "WITH mpreds AS (" + preds_sql + "), "
        "mcounts AS (SELECT "
        "CAST(sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tp1, "
        "CAST(sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fp1, "
        "CAST(sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS fn1, "
        "CAST(sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS tn1 "
        "FROM mpreds), "
        "mderived AS (SELECT *, "
        "tp1 + fp1 + fn1 + tn1 AS n, tp1 + fn1 AS sup1, tn1 + fp1 AS sup0, "
        "CASE WHEN tp1 + fp1 > 0 THEN tp1 / (tp1 + fp1) ELSE 0 END AS p1, "
        "CASE WHEN tn1 + fn1 > 0 THEN tn1 / (tn1 + fn1) ELSE 0 END AS p0, "
        "CASE WHEN tp1 + fn1 > 0 THEN tp1 / (tp1 + fn1) ELSE 0 END AS r1, "
        "CASE WHEN tn1 + fp1 > 0 THEN tn1 / (tn1 + fp1) ELSE 0 END AS r0 "
        "FROM mcounts), "
        "mfinal AS (SELECT *, "
        "CASE WHEN p1 + r1 > 0 THEN 2 * p1 * r1 / (p1 + r1) ELSE 0 END AS f1, "
        "CASE WHEN p0 + r0 > 0 THEN 2 * p0 * r0 / (p0 + r0) ELSE 0 END AS f0 "
        "FROM mderived) "
        "SELECT round((tp1 + tn1) / n, 6) AS accuracy, "
        "round((sup1 * p1 + sup0 * p0) / n, 6) AS weighted_precision, "
        "round((sup1 * r1 + sup0 * r0) / n, 6) AS weighted_recall, "
        "round((sup1 * f1 + sup0 * f0) / n, 6) AS weighted_f1, "
        "CAST(n AS BIGINT) AS n_test FROM mfinal"
    )
