"""Streaming micro-bench probes (r4 verdict item 6): the streaming
surface is test-proven but was invisible to bench.py, so throughput
regressions in the micro-batch paths could land silently.  Each probe
drives ONE bounded micro-batch pass of a streaming operator end-to-end
(real stream source → real sink), sized to the bench sf_dir.

Contract: :func:`streaming_bench_entries` does the UNTIMED setup
(landing-zone files, tempdirs) and returns name → zero-arg thunk; the
bench times each thunk as its own entry.  Each thunk returns its
query's ``recentProgress`` (captured before ``stop()``), which the bench
ignores and ``tools/stream_phase_probe.py`` breaks down by phase.
Landing files are symlinks or one small decile write — the timed window
covers stream start, micro-batch execution, and stop, which is the
throughput being guarded."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import BATCH_MOD
from ..sources.tables import load_table

# Probe-scale state partitioning (r8), JOIN PROBES ONLY: a
# stream-stream join keeps FOUR state stores per shuffle partition,
# so at the session's 32 partitions each micro-batch schedules
# 128 state-store tasks around KB-sized state — that fixed
# machinery dominated both join probes (A/B/A measured 12.4 s at
# 32 vs 2.3 s at 8 for the interval join, identical results).
# r13 (VERDICT r12 #2): the phase probe showed the remaining cost
# is still store-count-bound — per-batch commitTimeMs sums ~3-5 s
# across 8 partitions x 4 stores x 2 batches around ~40k state
# rows — so the probe scale was re-A/B'd at 2/4/8 (interleaved
# min-of-3, identical output counts): interval 2.15/2.58/2.86,
# outer 2.29/2.40/2.77.  Probe runs at 2; PRODUCTION posture
# unchanged — stateful-shuffle partitioning must be sized to state
# volume (state is O(events per attribution window); at real
# traffic that is hundreds of partitions, not 2 — this constant
# only de-noises the KB-state micro-probe).
# The work-heavy probes (upsert/ingest/scd2: real per-key state
# over the whole events table) measured NEUTRAL-to-WORSE at lower
# counts (r13 re-check after the r12 vectorization: upsert
# 2.40 at 32 / 2.59 at 16 / 3.49 at 8; scd2 within noise), so
# they stay at the session default — this is noise removal, not a
# blanket knob.  The partition count bakes into each (always
# fresh) checkpoint; the batch≡stream equivalence tests still run
# at the session default.
PROBE_PARTS = "2"


def _drained(q: StreamingQuery) -> list:
    """Run a started query until its sources are drained, then stop
    it; returns its ``recentProgress``, read before ``stop()``."""
    try:
        q.processAllAvailable()
    finally:
        prog = q.recentProgress
        q.stop()
    return prog


def streaming_bench_entries(
    spark: SparkSession, sf_dir: str, workdir: str, join_parts: str = PROBE_PARTS
) -> dict[str, Callable[[], list]]:
    """Set up the landing zones under ``workdir`` and return the probes.
    The two stream-stream join probes run at ``join_parts`` shuffle
    partitions; the others at the session default."""
    from .enrich import enrich_stream
    from .ingest import admit_stream
    from .joins import attribution_stream, unconverted_stream
    from .latest import latest_state_stream
    from .scd2 import scd2_stream
    from .sink import start_idempotent_parquet_sink

    # --- setup (untimed): landing zones -------------------------------
    events_land = os.path.join(workdir, "events_land")
    os.makedirs(events_land, exist_ok=True)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(events_land, "events.parquet"),
    )
    docs_land = os.path.join(workdir, "docs_land")
    # the ingest probe's arrival batch: the same decile the batch-mode
    # q_incremental admits, landed once as parquet
    (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % BATCH_MOD == 0)
        .select("doc_id", "text")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(docs_land)
    )
    # warm the corpus band index UNTIMED: the operator's contract is a
    # PERSISTED index the daily batch probes (building it is the
    # offline index job, not per-batch work) — billing it to the probe
    # made a one-off build look like micro-batch latency
    from ..operators.dedup import _banded_cached

    _banded_cached(spark, sf_dir).count()

    def ingest_probe() -> list:
        admitted: list[int] = []

        def sink(df, batch_id):
            admitted.extend(r["doc_id"] for r in df.collect())

        prog = _drained(admit_stream(spark, docs_land, sf_dir, sink))
        assert admitted, "ingest probe admitted nothing"
        return prog

    def memory_sink_probe(
        stream: Callable, view: str, count_rows: bool
    ) -> Callable[[], list]:
        """One drained pass into a memory sink.  With ``count_rows``
        the sink must hold rows (the interval join emits the batch
        twin's pairs in one pass); without, the pass must have read
        input (the outer join flushes only watermark-expired views in
        one pass — tests/test_stream_join.py proves full drain)."""

        def probe() -> list:
            q = (
                stream(spark, events_land)
                .writeStream.format("memory")
                .queryName(view)
                .outputMode("append")
                .start()
            )
            try:
                prog = _drained(q)
                if count_rows:
                    n = spark.sql(f"SELECT count(*) AS n FROM {view}").first()["n"]
                    assert n > 0, f"{view}: the join emitted no rows"
            finally:
                spark.catalog.dropTempView(view)
            assert sum(p.numInputRows for p in prog) > 0, f"{view}: no input"
            return prog

        return probe

    def exactly_once_sink() -> list:
        out = os.path.join(workdir, "sink_out")
        ckpt = os.path.join(workdir, "sink_ckpt")
        q = start_idempotent_parquet_sink(
            enrich_stream(spark, events_land, sf_dir), out, ckpt
        )
        q.awaitTermination(300)
        assert spark.read.parquet(out).limit(1).count() == 1
        return q.recentProgress

    def batch_count_probe(stream: Callable) -> Callable[[], list]:
        def probe() -> list:
            counts: list[int] = []
            prog = _drained(
                stream(spark, events_land)
                .writeStream.outputMode("update")
                .foreachBatch(lambda df, _id: counts.append(df.count()))
                .start()
            )
            assert counts and counts[0] > 0
            return prog

        return probe

    def _at_probe_scale(fn: Callable[[], list]) -> Callable[[], list]:
        def wrapped() -> list:
            before = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", join_parts)
            try:
                return fn()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", before)

        return wrapped

    return {
        "stream_ingest_probe": ingest_probe,
        "stream_interval_join": _at_probe_scale(
            memory_sink_probe(attribution_stream, "bench_attrib", True)
        ),
        "stream_outer_join": _at_probe_scale(
            memory_sink_probe(unconverted_stream, "bench_unconv", False)
        ),
        "stream_exactly_once_sink": exactly_once_sink,
        "stream_upsert_view": batch_count_probe(latest_state_stream),
        "stream_scd2_builder": batch_count_probe(scd2_stream),
    }
