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


def streaming_bench_entries(
    spark: SparkSession, sf_dir: str, workdir: str, join_parts: str = PROBE_PARTS
) -> dict[str, Callable[[], list]]:
    """Set up the landing zones under ``workdir`` and return the probes.
    The two stream-stream join probes run at ``join_parts`` shuffle
    partitions; the others at the session default."""
    from .enrich import enrich_stream
    from .ingest import admit_stream
    from .joins import attribution_stream
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

        q = admit_stream(spark, docs_land, sf_dir, sink)
        try:
            q.processAllAvailable()
        finally:
            prog = q.recentProgress
            q.stop()
        assert admitted, "ingest probe admitted nothing"
        return prog

    def interval_join() -> list:
        q = (
            attribution_stream(spark, events_land)
            .writeStream.format("memory")
            .queryName("bench_attrib")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) AS n FROM bench_attrib").first()["n"]
        finally:
            prog = q.recentProgress
            q.stop()
            spark.catalog.dropTempView("bench_attrib")
        assert n >= 0
        return prog

    def outer_join() -> list:
        from .joins import unconverted_stream

        q = (
            unconverted_stream(spark, events_land)
            .writeStream.format("memory")
            .queryName("bench_unconv")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) AS n FROM bench_unconv").first()[
                "n"
            ]
        finally:
            prog = q.recentProgress
            q.stop()
            spark.catalog.dropTempView("bench_unconv")
        # only watermark-expired views flush in one pass — the probe
        # times the join+state machinery, not full drain semantics
        # (tests/test_stream_join.py proves those)
        assert n >= 0
        return prog

    def exactly_once_sink() -> list:
        out = os.path.join(workdir, "sink_out")
        ckpt = os.path.join(workdir, "sink_ckpt")
        q = start_idempotent_parquet_sink(
            enrich_stream(spark, events_land, sf_dir), out, ckpt
        )
        q.awaitTermination(300)
        assert spark.read.parquet(out).limit(1).count() == 1
        return q.recentProgress

    def upsert_view() -> list:
        from .latest import latest_state_stream

        emitted: list[int] = []
        q = (
            latest_state_stream(spark, events_land)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: emitted.append(df.count()))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            prog = q.recentProgress
            q.stop()
        assert emitted and emitted[0] > 0
        return prog

    def scd2_builder() -> list:
        from .scd2 import scd2_stream

        closed: list[int] = []
        q = (
            scd2_stream(spark, events_land)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: closed.append(df.count()))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            prog = q.recentProgress
            q.stop()
        assert closed and closed[0] > 0
        return prog

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
        "stream_interval_join": _at_probe_scale(interval_join),
        "stream_outer_join": _at_probe_scale(outer_join),
        "stream_exactly_once_sink": exactly_once_sink,
        "stream_upsert_view": upsert_view,
        "stream_scd2_builder": scd2_builder,
    }
