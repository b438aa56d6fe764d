"""Commit/abort contract of the Python manifest-sink writer."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from tests.conftest import SF_DIR
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import pywriter
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
    register_data_source,
)


def test_commit_publishes_manifest_matching_parts(spark):
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    with tempfile.TemporaryDirectory(prefix="tsa_pyw_") as d:
        m = pywriter.write_manifest(spark, docs, d)
        parts = sorted(
            n for n in os.listdir(d) if n.startswith("part-")
        )
        assert m["n_parts"] == pywriter.N_WRITE_PARTS == len(parts)
        # recount from the staged files themselves: the manifest must
        # describe exactly the bytes on disk
        rows = chars = 0
        for p in parts:
            with open(os.path.join(d, p)) as fh:
                for line in fh:
                    rec = json.loads(line)
                    rows += 1
                    chars += rec["n_chars"]
        assert m["rows_total"] == rows == docs.count()
        assert m["chars_total"] == chars
        # per-part stats in the manifest agree with the files
        for name, n_rows, _ in m["parts"]:
            with open(os.path.join(d, name)) as fh:
                assert n_rows == sum(1 for _ in fh)


def test_abort_leaves_nothing_visible(spark):
    """A failing task must abort the job with NO manifest published —
    the failed write is INVISIBLE to manifest-honoring readers (file
    cleanup is best-effort: a concurrently-killed task can race the
    abort sweep, exactly like Spark's own commit protocols).  A
    subsequent successful write to the same path must then publish a
    manifest describing only its own parts, garbage notwithstanding."""
    poisoned = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "doc_id bigint, n_chars bigint"
    )
    with tempfile.TemporaryDirectory(prefix="tsa_pyw_abort_") as d:
        with pytest.raises(Exception):
            pywriter.write_manifest(spark, poisoned, d)
        assert not os.path.exists(os.path.join(d, pywriter.MANIFEST_NAME))
        # recovery over leftovers: a good write publishes a manifest
        # whose listed parts re-sum exactly
        good = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "doc_id bigint, n_chars bigint"
        )
        m = pywriter.write_manifest(spark, good, d)
        assert m["rows_total"] == 3 and m["chars_total"] == 60
        rows = 0
        for name, n_rows, _ in m["parts"]:
            with open(os.path.join(d, name)) as fh:
                assert n_rows == sum(1 for _ in fh)
            rows += n_rows
        assert rows == 3


def test_stream_ledger_commit_is_batchid_idempotent(tmp_path):
    """Exactly-once across restarts hinges on batchId idempotency: a
    replayed micro-batch re-commits the SAME batchId and must converge
    (atomic overwrite), never double-count."""
    w = pywriter.LedgerStreamWriter(str(tmp_path))
    msgs = [pywriter.BatchStats(10, 1000), None, pywriter.BatchStats(5, 500)]
    w.commit(msgs, 7)
    w.commit(msgs, 7)  # replay of the same batch
    ledgers = [n for n in os.listdir(tmp_path) if n.startswith("_LEDGER-")]
    assert len(ledgers) == 1
    with open(os.path.join(tmp_path, ledgers[0])) as fh:
        led = json.load(fh)
    assert led == {
        "batch_id": 7,
        "n_parts": 2,
        "n_rows": 15,
        "cents_total": 1500,
    }


def test_second_append_merges_prior_manifest(spark):
    """ADVICE r8: append mode means APPEND — a second successful write
    must publish a manifest that still lists the first commit's parts
    (before the fix it listed only its own, orphaning the prior rows
    for any manifest-honoring reader)."""
    first = spark.createDataFrame(
        [(1, 10), (2, 20)], "doc_id bigint, n_chars bigint"
    )
    second = spark.createDataFrame(
        [(3, 30), (4, 40), (5, 50)], "doc_id bigint, n_chars bigint"
    )
    with tempfile.TemporaryDirectory(prefix="tsa_pyw_append_") as d:
        m1 = pywriter.write_manifest(spark, first, d)
        m2 = pywriter.write_manifest(spark, second, d)
        assert m2["rows_total"] == 5
        assert m2["chars_total"] == 150
        assert m2["n_parts"] == len(m2["parts"])
        # the union is lossless: every part of the first manifest is
        # still listed, and every listed part re-sums from disk
        first_parts = {tuple(p) for p in m1["parts"]}
        assert first_parts <= {tuple(p) for p in m2["parts"]}
        rows = 0
        for name, n_rows, _ in m2["parts"]:
            with open(os.path.join(d, name)) as fh:
                assert n_rows == sum(1 for _ in fh)
            rows += n_rows
        assert rows == 5


def test_overwrite_mode_is_refused(spark):
    """ADVICE r9: the union-merge commit would silently APPEND prior
    parts into an .mode('overwrite') save — the sink must refuse
    overwrite loudly instead of publishing a duplicate-bearing
    manifest."""
    df = spark.createDataFrame([(1, 10)], "doc_id bigint, n_chars bigint")
    register_data_source(spark, pywriter.ManifestSinkDataSource)
    with tempfile.TemporaryDirectory(prefix="tsa_pyw_ow_") as d:
        with pytest.raises(Exception, match="append"):
            (
                df.write.format("tsa_manifest_sink")
                .option("path", d)
                .mode("overwrite")
                .save()
            )
        # nothing published
        assert pywriter.MANIFEST_NAME not in os.listdir(d)


def test_failed_append_preserves_prior_commit(spark):
    """r8 review regression: abort must clean ONLY what the failed job
    staged — a previous successful write's committed parts and
    manifest must survive a later failed append untouched."""
    good = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "doc_id bigint, n_chars bigint"
    )
    poisoned = spark.createDataFrame(
        [(4, None)], "doc_id bigint, n_chars bigint"
    )
    with tempfile.TemporaryDirectory(prefix="tsa_pyw_prior_") as d:
        m = pywriter.write_manifest(spark, good, d)
        with pytest.raises(Exception):
            pywriter.write_manifest(spark, poisoned, d)
        # every part the surviving manifest lists is still on disk
        # with exactly the row count it recorded
        with open(os.path.join(d, pywriter.MANIFEST_NAME)) as fh:
            after = json.load(fh)
        assert after == m
        for name, n_rows, _ in after["parts"]:
            with open(os.path.join(d, name)) as fh:
                assert n_rows == sum(1 for _ in fh)
        # and no staging garbage remains
        assert not [n for n in os.listdir(d) if n.endswith(".staging")]
