"""Skew: the HLL approximate document frequency stays within its error
bound, and AQE splits a skewed join partition at runtime."""

from __future__ import annotations

import __spark_entry__ as entrymod

from conftest import SF_DIR


def test_approx_df_bounded_error(spark):
    """HLL df within 5% relative error of exact df for every word."""
    exact = {
        r["word"]: r["df"]
        for r in entrymod.queries()["tfidf_df"](spark, SF_DIR).collect()
    }
    approx = {
        r["word"]: r["df_approx"]
        for r in entrymod.queries()["tfidf_df_approx"](spark, SF_DIR).collect()
    }
    assert set(approx) == set(exact)
    for w, n in exact.items():
        assert abs(approx[w] - n) <= max(1, 0.05 * n), (w, n, approx[w])


def test_aqe_splits_the_skewed_join_partition(spark):
    """The engine's standing claim — 'AQE skew-join splitting handles
    the sub-cap skew that remains' — proven on an executed plan: one
    hot key dominating the left side must finalize as
    ``SortMergeJoin(skew=true)`` with a skewed AQEShuffleRead, i.e.
    the hot partition was split into parallel sub-reads instead of
    serializing one straggler task.  (Thresholds are lowered so the
    test-sized corpus crosses them; production uses the defaults.)"""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(300_000).select(
            F.lit(7).alias("k"), F.col("id").alias("v")
        )
        tail = spark.range(5_000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") + 1).alias("w")
        )
        j = hot.union(tail).join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert len(rows) == 305_000
    assert "SortMergeJoin(skew=true)" in plan, plan
    assert "AQEShuffleRead coalesced and skewed" in plan, plan
