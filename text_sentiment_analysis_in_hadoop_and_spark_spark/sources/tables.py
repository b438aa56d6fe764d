"""Parquet table loaders for the driver's synthetic star schema.

The reference reads line-oriented CSV from HDFS
(/root/reference/Hadoop/NB.java:300-302, TextInputFormat;
/root/reference/Spark/NB/src/main/scala/NB.scala:45 sc.textFile).  The
engine's canonical source is columnar parquet: Catalyst pushes filters
and prunes columns down to the scan, which is the difference between
reading 100 TB and reading the 2 columns you asked for.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Schema comes from parquet footers —
    never inferred from data pages, so planning stays O(files)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so the SQL API sees the same
    catalog the DuckDB oracle does."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_DATA_SOURCES: set[tuple[str, str]] = set()


def register_data_source(spark: SparkSession, cls: type) -> None:
    """Register a Python DataSource class once per session."""
    key = (spark.sparkContext.applicationId, cls.name())
    if key not in _DATA_SOURCES:
        spark.dataSource.register(cls)
        _DATA_SOURCES.add(key)
