"""Custom Python batch data source WRITER: a manifest-committing sink
(engine extension — the writer half of the Spark 4
``pyspark.sql.datasource`` API; the batch reader half is proven by
``sources/fixedwidth.py`` and the streaming reader by
``sources/pystream.py``).

``ManifestSinkDataSource`` demonstrates the two-phase commit contract
every production sink needs: each task's ``write`` stages one part
file and returns a :class:`WriterCommitMessage` carrying its stats;
``commit`` runs ONCE on the driver only after every task succeeded
and atomically publishes ``_MANIFEST.json`` aggregating them;
``abort`` tears the staged parts down.  Readers that honor the
manifest (only files it lists exist logically) get exactly-once
visibility over plain files — the same protocol Spark's own
FileOutputCommitter / commit coordinators implement, here expressed
through the public Python API so a user can wire ANY external system
(object store + ledger, vendor API with a finalize call) as a
first-class sink.

``pywrite_manifest_commit`` drives the full path: documents →
deterministic 8-way hash repartition → the Python sink → read the
COMMITTED manifest back and emit its totals, which the DuckDB oracle
recomputes straight from the table — if any part were lost, doubled,
or the commit aggregated wrongly, the totals hash-mismatch.

Scale shape: one narrow pass per partition, one O(n_parts) driver
aggregation at commit — the same cost profile as any file sink; the
manifest is bytes-sized.  The Arrow batch path (``writeInArrow``) is
not used so the per-row overhead is honest Python — at 100 TB you
would flip the sink to Arrow batches, which changes none of the
commit semantics this module pins.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from .tables import load_table, register_data_source

N_WRITE_PARTS = 8
MANIFEST_NAME = "_MANIFEST.json"


class PartStats(WriterCommitMessage):
    """Per-task commit message: which staged file, how much data."""

    def __init__(self, part_id: int, filename: str, n_rows: int, n_chars: int):
        self.part_id = part_id
        self.filename = filename
        self.n_rows = n_rows
        self.n_chars = n_chars


class ManifestWriter(DataSourceWriter):
    def __init__(self, path: str, job_id: str):
        self.path = path
        self.job_id = job_id

    def write(self, iterator):
        """Task side: stage one part file, report stats upward.  The
        write is staged-then-renamed so a crashed task never leaves a
        half-written file that a listing could mistake for data.  Two
        isolation levels in the name (both r8-review findings, both
        matching Spark's own ``part-00000-<uuid>`` committers):
        the JOB id makes concurrent/sequential writes to one directory
        collision-free — without it, a failed append's empty tasks
        renamed onto a PRIOR commit's part names and destroyed them —
        and the TASK ATTEMPT id keeps speculative/zombie duplicate
        attempts of one partition from interleaving into one staging
        file (rename is then last-attempt-wins on the final name)."""
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        n_rows = 0
        n_chars = 0
        final = os.path.join(
            self.path, f"part-{self.job_id}-{pid:05d}.jsonl"
        )
        tmp = f"{final}.attempt-{ctx.taskAttemptId()}.staging"
        with open(tmp, "w") as fh:
            for row in iterator:
                n_rows += 1
                n_chars += row.n_chars
                fh.write(
                    json.dumps(
                        {"doc_id": row.doc_id, "n_chars": row.n_chars}
                    )
                    + "\n"
                )
        os.rename(tmp, final)
        return PartStats(pid, os.path.basename(final), n_rows, n_chars)

    def commit(self, messages):
        """Driver side, runs ONLY if every task succeeded: atomically
        publish the manifest that makes the staged parts visible.

        APPEND semantics (ADVICE r8): the new manifest is the UNION of
        the surviving prior manifest's parts and this job's — before
        this fix a second successful append published a manifest
        listing only its own parts, silently orphaning the prior
        commit's rows for any manifest-honoring reader.  Job-unique
        part names make the union collision-free; the swap stays a
        single atomic rename, so a reader sees either the old complete
        manifest or the new complete one, never a mix."""
        parts = sorted(
            (m.filename, m.n_rows, m.n_chars) for m in messages
        )
        prior = os.path.join(self.path, MANIFEST_NAME)
        if os.path.exists(prior):
            with open(prior) as fh:
                prev = json.load(fh)
            mine = {p[0] for p in parts}
            parts = sorted(
                parts
                + [
                    tuple(p)
                    for p in prev.get("parts", ())
                    if p[0] not in mine
                ]
            )
        manifest = {
            "n_parts": len(parts),
            "rows_total": sum(p[1] for p in parts),
            "chars_total": sum(p[2] for p in parts),
            "parts": parts,
        }
        tmp = os.path.join(self.path, MANIFEST_NAME + ".staging")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, prior)

    def abort(self, messages):
        """Any task failed: best-effort cleanup of ONLY what this job
        staged — the renamed parts its completed tasks reported in
        their commit messages, plus leftover ``.staging`` files from
        in-flight attempts.  Never a blanket part-* sweep: a previous
        successful write's committed parts belong to its manifest and
        must survive a later failed append (bug caught in r8 review —
        the sweep deleted a prior commit's data while leaving its
        manifest pointing at missing files).  The HARD guarantee
        stays: no manifest is ever written for the failed job, so a
        manifest-honoring reader can never observe it, even if a
        concurrently-killed task races this sweep."""
        for m in messages:
            if m is not None:
                try:
                    os.unlink(os.path.join(self.path, m.filename))
                except OSError:
                    pass
        prefix = f"part-{self.job_id}-"
        for name in os.listdir(self.path):
            if name.startswith(prefix) and name.endswith(".staging"):
                try:
                    os.unlink(os.path.join(self.path, name))
                except OSError:
                    pass


class ManifestSinkDataSource(DataSource):
    """One format name, both write paths — batch `writer` publishes a
    manifest, streaming `streamWriter` appends per-batch ledgers
    (defined in the streaming section below)."""

    @classmethod
    def name(cls) -> str:
        return "tsa_manifest_sink"

    def writer(self, schema, overwrite):
        import uuid

        if overwrite:
            # The union-merge commit APPENDS prior committed parts into
            # the published manifest; honoring .mode('overwrite') would
            # require replacing them (and cleaning prior part files)
            # atomically with the manifest swap.  Only append is used
            # in-repo — refuse loudly rather than silently append
            # (r9 advice: latent data-duplication bug otherwise).
            raise NotImplementedError(
                "tsa_manifest_sink supports .mode('append') only: the "
                "manifest commit union-merges prior parts, so overwrite "
                "would silently keep them"
            )
        return ManifestWriter(self.options["path"], uuid.uuid4().hex[:8])

    def streamWriter(self, schema, overwrite):
        return LedgerStreamWriter(self.options["path"])


def write_manifest(spark: SparkSession, df: DataFrame, path: str) -> dict:
    """Write ``df`` (doc_id, n_chars) through the manifest sink and
    return the parsed committed manifest."""
    register_data_source(spark, ManifestSinkDataSource)
    os.makedirs(path, exist_ok=True)
    (
        df.repartition(N_WRITE_PARTS, "doc_id")
        .write.format("tsa_manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )
    with open(os.path.join(path, MANIFEST_NAME)) as fh:
        return json.load(fh)


def q_manifest_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents through the Python writer; the returned row is the
    COMMITTED manifest's totals (see module docstring)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    workdir = tempfile.mkdtemp(prefix="tsa_pywriter_")
    try:
        m = write_manifest(spark, docs, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out = spark.createDataFrame(
        [(int(m["n_parts"]), int(m["rows_total"]), int(m["chars_total"]))],
        "n_parts bigint, rows_total bigint, chars_total bigint",
    )
    return out.select("n_parts", "rows_total", "chars_total")


ORACLES: dict[str, str] = {
    "pywrite_manifest_commit": (
        f"SELECT CAST({N_WRITE_PARTS} AS BIGINT) AS n_parts, "
        "CAST(count(*) AS BIGINT) AS rows_total, "
        "CAST(sum(n_chars) AS BIGINT) AS chars_total FROM documents"
    ),
}

QUERIES = {
    "pywrite_manifest_commit": q_manifest_commit,
}


# --- streaming writer: per-batch ledger sink (the 4th quadrant) -------

# With this, the Spark 4 Python DataSource API is covered on ALL FOUR
# quadrants: batch reader (sources/fixedwidth.py), streaming reader
# (sources/pystream.py), batch writer (ManifestWriter above), and this
# streaming writer.  The contract differs from batch in one load-
# bearing way: ``commit(messages, batchId)`` runs once per MICRO-BATCH,
# and exactly-once across restarts hinges on batchId idempotency — a
# replayed batch re-commits the SAME batchId, and the ledger write
# below is an atomic overwrite, so replays converge instead of
# double-counting.  This is the template for any external system with
# a transactional/finalize call (payment ledger, vendor ingest API):
# per-row payloads go out in ``write``; the visible side effect is
# published only in ``commit``.


class BatchStats(WriterCommitMessage):
    def __init__(self, n_rows: int, cents: int):
        self.n_rows = n_rows
        self.cents = cents


class LedgerStreamWriter(DataSourceStreamWriter):
    def __init__(self, path: str):
        self.path = path

    def write(self, iterator):
        n_rows = 0
        cents = 0
        for row in iterator:
            n_rows += 1
            cents += row.value_cents
        return BatchStats(n_rows, cents)

    def commit(self, messages, batchId):
        stats = [m for m in messages if m is not None]
        ledger = {
            "batch_id": batchId,
            "n_parts": len(stats),
            "n_rows": sum(m.n_rows for m in stats),
            "cents_total": sum(m.cents for m in stats),
        }
        final = os.path.join(self.path, f"_LEDGER-{batchId:010d}.json")
        tmp = final + ".staging"
        with open(tmp, "w") as fh:
            json.dump(ledger, fh)
        os.rename(tmp, final)  # atomic: replayed batchIds overwrite

    def abort(self, messages, batchId):
        # nothing staged outside commit — an aborted batch is invisible
        pass


def q_stream_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end PYTHON source → PYTHON sink streaming: the events
    replay source (4 deterministic micro-batches) through the ledger
    sink; the returned row aggregates the committed per-batch ledgers,
    which must reproduce the batch truth exactly — a lost, doubled, or
    partially-committed batch hash-mismatches the oracle."""
    from . import pystream

    register_data_source(spark, pystream.EventsReplayDataSource)
    register_data_source(spark, ManifestSinkDataSource)
    workdir = tempfile.mkdtemp(prefix="tsa_pyw_stream_")
    try:
        stream = (
            spark.readStream.format("events_replay")
            .option("path", os.path.join(sf_dir, "events.parquet"))
            .load()
        )
        shaped = stream.select(
            F.round(F.col("value") * 100)
            .cast("long")
            .alias("value_cents")
        )
        q = (
            shaped.writeStream.format("tsa_manifest_sink")
            .option("path", workdir)
            .option(
                "checkpointLocation", os.path.join(workdir, "_ckpt")
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        ledgers = []
        for name in sorted(os.listdir(workdir)):
            if name.startswith("_LEDGER-"):
                with open(os.path.join(workdir, name)) as fh:
                    ledgers.append(json.load(fh))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out = spark.createDataFrame(
        [
            (
                len(ledgers),
                int(sum(le["n_rows"] for le in ledgers)),
                int(sum(le["cents_total"] for le in ledgers)),
            )
        ],
        "n_batches bigint, rows_total bigint, cents_total bigint",
    )
    return out.select("n_batches", "rows_total", "cents_total")


from .pystream import N_BATCHES as _REPLAY_BATCHES  # noqa: E402

ORACLES["pywrite_stream_ledger"] = (
    # one committed ledger per replay micro-batch, by construction
    f"SELECT CAST({_REPLAY_BATCHES} AS BIGINT) AS n_batches, "
    "CAST(count(*) AS BIGINT) AS rows_total, "
    "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) "
    "AS cents_total FROM events"
)
QUERIES["pywrite_stream_ledger"] = q_stream_ledger
