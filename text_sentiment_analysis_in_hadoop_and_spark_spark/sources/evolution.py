"""Parquet schema evolution — ``mergeSchema`` across snapshot
generations (engine extension; the lakehouse reality that a long-lived
landing zone is never one schema: early files lack columns later
files carry).

``parquet_evolution_census`` materializes two snapshot generations of
the documents table once per (session, sf_dir) — generation v1 with
the narrow early schema (doc_id, text, n_chars), generation v2 with
the widened schema (+lang, +source) — then reads the whole directory
back with ``mergeSchema=true`` and rolls up a per-lang census where
v1-era rows surface the widened columns as NULL (reported under the
'<missing>' bucket).  The census carries the portable 32-bit content
checksum, so any value corruption through the mixed-schema read
(column realignment, wrong default fill, partition peel-off) fails
the oracle hash, which recomputes the identical rollup from the
ORIGINAL single-schema parquet.

Scale shape: schema merging is a FOOTER-only operation — Spark reads
the tiny parquet footers of (a sample of) files to union schemas, not
the data; the query itself is one scan + a langs-bounded rollup.  At
100 TB the practice this op encodes is exactly this: never rewrite
old files to add a column, let the reader merge.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex32, hex32_sql
from ..operators.common import memo
from .tables import load_table

MISSING = "<missing>"


def evolution_path(spark: SparkSession, sf_dir: str) -> str:
    """Two-generation snapshot directory, built once per
    (session, sf_dir): even doc_ids under the v1 narrow schema, odd
    doc_ids under the v2 widened schema."""
    return os.path.join(_evolution_dir(spark, sf_dir).name, "documents_evo")


@memo
def _evolution_dir(
    spark: SparkSession, sf_dir: str
) -> tempfile.TemporaryDirectory:
    tmp = tempfile.TemporaryDirectory(prefix="evo_docs_")
    path = os.path.join(tmp.name, "documents_evo")
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "n_chars"
    )
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "n_chars", "lang", "source"
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "gen=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "gen=v2"))
    return tmp


def q_evolution_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(evolution_path(spark, sf_dir), "gen=v1"),
        os.path.join(evolution_path(spark, sf_dir), "gen=v2"),
    )
    return merged.groupBy(
        F.coalesce("lang", F.lit(MISSING)).alias("lang_read")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("lang").isNull().cast("long"))
        .cast("long")
        .alias("n_pre_evolution"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(hex32(F.col("text"))).cast("long").alias("text_checksum"),
    )


ORACLES: dict[str, str] = {
    "parquet_evolution_census": (
        "SELECT CASE WHEN doc_id % 2 = 0 THEN "
        f"'{MISSING}' ELSE lang END AS lang_read, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_pre_evolution, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        f"CAST(sum({hex32_sql('text')}) AS BIGINT) AS text_checksum "
        "FROM documents GROUP BY 1"
    ),
}

QUERIES = {
    "parquet_evolution_census": q_evolution_census,
}
