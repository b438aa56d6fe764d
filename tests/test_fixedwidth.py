"""Custom fixed-width Python DataSource (sources/fixedwidth.py):
split-parallel reads, slicing fidelity, and round-trip coverage."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import fixedwidth
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
    register_data_source,
)


def _read(spark):
    register_data_source(spark, fixedwidth.FixedWidthDataSource)
    path = fixedwidth.fixedwidth_path(spark, SF_DIR)
    return spark.read.format("fixedwidth").option("path", path).load()


def test_fixedwidth_roundtrip_is_byte_exact(spark):
    got = _read(spark).select("doc_id", "lang", "n_chars", "text")
    expect = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "lang", "n_chars", "text"
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_fixedwidth_reader_parallelizes_across_files(spark):
    reader = fixedwidth.FixedWidthReader(
        {"path": fixedwidth.fixedwidth_path(spark, SF_DIR)}
    )
    parts = reader.partitions()
    assert len(parts) >= 1
    # every part-file becomes exactly one split, none silently skipped
    import glob
    import os

    files = glob.glob(
        os.path.join(fixedwidth.fixedwidth_path(spark, SF_DIR), "part-*")
    )
    assert len(parts) == len(files)


def test_fixedwidth_slicing_handles_padded_fields(spark):
    """lang shorter than its 8-char field must come back stripped,
    doc_id/n_chars must survive zero-padding, and text may itself
    contain spaces without shifting columns."""
    row = (
        _read(spark)
        .filter(F.col("text").contains(" "))
        .select("doc_id", "lang", "n_chars", "text")
        .first()
    )
    assert row is not None
    assert not row["lang"].endswith(" ")
    assert row["n_chars"] >= 0
    assert " " in row["text"]
