"""ORC source/sink — the fourth storage format next to parquet, CSV
and JSONL (engine extension; Spark ships the ORC reader/writer
natively, so a warehouse migrating from a Hive/ORC estate reads its
existing tables with zero extra dependencies).

``orc_roundtrip_stats`` proves BYTE-EXACT round-trip fidelity through
the on-disk format: documents are materialized once per (session,
sf_dir) as a lang-partitioned ORC table, read back through the ORC
reader, and rolled up per lang — doc counts, char mass, and a content
checksum (sum of the portable 32-bit text hash).  The DuckDB oracle
computes the identical rollup from the original parquet, so ANY value
corruption through the ORC writer/reader (encoding, nulls, partition
column peel-off) hash-fails; the partition layout also exercises
partition-column reconstruction on read.

Scale shape: the materialization is a one-off narrow write (the
offline conversion job); the query itself is one scan + one
langs-bounded rollup.  Lang-partitioned layout gives ORC readers the
same partition-pruning contract the parquet layout tests pin.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex32, hex32_sql
from ..operators.common import memo
from .tables import load_table


def orc_table_path(spark: SparkSession, sf_dir: str) -> str:
    """documents materialized as a lang-partitioned ORC table, once
    per (session, sf_dir)."""
    return os.path.join(_orc_dir(spark, sf_dir).name, "documents_orc")


@memo
def _orc_dir(spark: SparkSession, sf_dir: str) -> tempfile.TemporaryDirectory:
    tmp = tempfile.TemporaryDirectory(prefix="orc_docs_")
    (
        load_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .partitionBy("lang")
        .orc(os.path.join(tmp.name, "documents_orc"))
    )
    return tmp


def q_orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.orc(orc_table_path(spark, sf_dir))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(hex32(F.col("text"))).alias("text_checksum"),
    )


ORACLES: dict[str, str] = {
    "orc_roundtrip_stats": (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        f"CAST(sum({hex32_sql('text')}) AS BIGINT) AS text_checksum "
        "FROM documents GROUP BY lang"
    ),
}

QUERIES = {
    "orc_roundtrip_stats": q_orc_roundtrip_stats,
}
