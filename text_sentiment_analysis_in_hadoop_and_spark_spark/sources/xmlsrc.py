"""XML source/sink — Spark 4 ships the XML reader/writer natively
(the spark-xml package was merged upstream), making XML the fifth
storage format next to parquet, CSV, JSONL and ORC: the format a
migration from legacy feeds (RSS dumps, SOAP exports, config estates)
actually arrives in.

``xml_roundtrip_stats`` proves value-exact round-trip fidelity through
the markup: documents are materialized once per (session, sf_dir) as a
lang-partitioned XML table (one `<doc>` row element per document),
read back through the XML reader with an explicit schema, and rolled
up per lang with the same content checksum as the ORC twin — so any
corruption through XML escaping (&amp;, CDATA, whitespace trim),
type inference, or partition-column peel-off hash-fails against the
DuckDB oracle computed from the original parquet.

Scale shape: identical to the ORC twin — one-off narrow conversion
write, then scan + lang-bounded rollup.  XML parsing is row-wise and
CPU-heavy relative to columnar formats; the round-trip exists to make
ingest FROM xml correct, while the layout tests keep analytics ON
parquet."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hex32, hex32_sql
from ..operators.common import memo
from .tables import load_table

# explicit read schema: XML carries no types, and letting the sampler
# infer them would (a) rescan the data and (b) guess LONG vs INT per
# partition — the census must not depend on inference
_DOC_XML_SCHEMA = "doc_id BIGINT, text STRING, source STRING, n_chars BIGINT"


def xml_table_path(spark: SparkSession, sf_dir: str) -> str:
    """documents materialized as a lang-partitioned XML table, once
    per (session, sf_dir)."""
    return os.path.join(_xml_dir(spark, sf_dir).name, "documents_xml")


@memo
def _xml_dir(spark: SparkSession, sf_dir: str) -> tempfile.TemporaryDirectory:
    tmp = tempfile.TemporaryDirectory(prefix="xml_docs_")
    (
        load_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .partitionBy("lang")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(os.path.join(tmp.name, "documents_xml"))
    )
    return tmp


def q_xml_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(_DOC_XML_SCHEMA + ", lang STRING")
        .load(xml_table_path(spark, sf_dir))
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(hex32(F.col("text"))).alias("text_checksum"),
    )


ORACLES: dict[str, str] = {
    "xml_roundtrip_stats": (
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        f"CAST(sum({hex32_sql('text')}) AS BIGINT) AS text_checksum "
        "FROM documents GROUP BY lang"
    ),
}

QUERIES = {
    "xml_roundtrip_stats": q_xml_roundtrip_stats,
}
