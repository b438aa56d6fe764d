"""Stream-static enrichment join — events enriched with the customer
dimension (EXTENSION; the reference has no streaming, SURVEY §2.7).

The streaming join shape after stream⋈stream (streaming/joins.py):
an unbounded stream joined to a BOUNDED table.  Spark re-plans the static
side per micro-batch, so the join is completely STATELESS — no
watermark, no state store, append mode — and the static side
broadcasts exactly as it would in batch.  At scale this is the
"enrich the click stream with the user table" pattern: the stream
shuffles nothing, each micro-batch hash-probes the broadcast dim.

The SAME logical join is exposed twice (as in streaming/joins.py):
:func:`enrich_batch` is the oracle-checked
``events_enriched`` query; :func:`enrich_stream` is the readStream
twin, proven equal on the same files by tests/test_stream_enrich.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windowed import events_stream, load_events


def _dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("c_nationkey").alias("nationkey"),
        )
    )


def _project(ev: DataFrame, dim: DataFrame) -> DataFrame:
    return ev.join(F.broadcast(dim), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        "mktsegment",
        F.col("nationkey").cast("int").alias("nationkey"),
        "value",
    )


def enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _project(load_events(spark, sf_dir), _dim(spark, sf_dir))


def enrich_stream(
    spark: SparkSession, events_dir: str, sf_dir: str
) -> DataFrame:
    """The same join with the fact side as a file stream.  The static
    customer read is a plain batch DataFrame — Spark picks it up
    fresh each micro-batch (slowly-changing dims update for free)."""
    return _project(events_stream(spark, events_dir), _dim(spark, sf_dir))


def q_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_batch(spark, sf_dir)


ORACLES: dict[str, str] = {
    "events_enriched": (
        "SELECT event_id, user_id, event_type, "
        "c_mktsegment AS mktsegment, "
        "CAST(c_nationkey AS INT) AS nationkey, value "
        "FROM events JOIN customer ON user_id = c_custkey"
    )
}

QUERIES = {"events_enriched": q_events_enriched}
