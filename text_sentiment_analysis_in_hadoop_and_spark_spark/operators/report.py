"""Console report sink (S8) — the reference prints the confusion
matrix, accuracy and duration to stdout at the end of each run
(/root/reference/Hadoop/NB.java:330-341;
/root/reference/Spark/NB/src/main/scala/NB.scala:96-100).

Same surface here: format the engine's metric DataFrames into the
reference's report shape.  The aggregates are the already-tested
confusion/metrics queries; this module only formats and prints —
4 + 1 rows collected, never data."""

from __future__ import annotations

import sys
import time
from typing import TextIO

from pyspark.sql import SparkSession


def classification_report(
    spark: SparkSession,
    sf_dir: str,
    flavor: str = "nb",
    out: TextIO = sys.stdout,
) -> dict:
    """Print the reference-style report; returns the numbers too."""
    from . import nb, tfidf
    from .metrics import confusion, weighted_metrics

    t0 = time.perf_counter()
    preds_fn = (
        nb.nb_predictions if flavor == "nb" else tfidf.featsel_predictions
    )
    preds = preds_fn(spark, sf_dir)
    conf = {
        (r["label"], r["prediction"]): r["n"]
        for r in confusion(preds).collect()
    }
    m = weighted_metrics(preds).collect()[0].asDict()
    dt = time.perf_counter() - t0

    tp = conf.get((1, 1), 0)
    fp = conf.get((0, 1), 0)
    fn = conf.get((1, 0), 0)
    tn = conf.get((0, 0), 0)
    print(f"EXECUTION DURATION: {dt:.3f} sec", file=out)
    print("CONFUSION MATRIX", file=out)
    print(f"{tp}\t{fp}", file=out)
    print(f"{fn}\t{tn}", file=out)
    print(f"ACCURACY: {m['accuracy']}", file=out)
    print(f"WEIGHTED F1: {m['weighted_f1']}", file=out)
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "accuracy": m["accuracy"], "weighted_f1": m["weighted_f1"],
        "duration_sec": dt,
    }
