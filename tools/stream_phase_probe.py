"""Per-micro-batch phase breakdown for the streaming join block
(VERDICT r12 #2): stream_interval_join / stream_outer_join /
stream_upsert_view, the largest unadjudicated bench cost (~10 s).

Replays each bench probe exactly as bench.py does (same landing
zone, same probe-scale shuffle partitions for the joins) for K laps,
capturing every micro-batch's StreamingQueryProgress durationMs map
(triggerExecution, addBatch, getBatch, queryPlanning, walCommit,
commitOffsets, latestOffset) and the state-operator metrics — the
same instrumentation the r12 pyds probe used (BENCH_NOTES r12).

Usage: python tools/stream_phase_probe.py [sf_dir] [laps]
       python tools/stream_phase_probe.py --parts 8,16,32  # A/B the
           join probes' state-shuffle partitioning
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        out.append(
            {
                "batchId": d.get("batchId"),
                "numInputRows": d.get("numInputRows"),
                "durationMs": d.get("durationMs"),
                "stateOperators": [
                    {
                        k: so.get(k)
                        for k in (
                            "operatorName",
                            "numRowsTotal",
                            "numRowsUpdated",
                            "numShufflePartitions",
                            "allUpdatesTimeMs",
                            "allRemovalsTimeMs",
                            "commitTimeMs",
                        )
                    }
                    for so in d.get("stateOperators", [])
                ],
            }
        )
    return out


def main() -> int:
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
        DEFAULT_SF_DIR,
    )

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    ap.add_argument("laps", nargs="?", type=int, default=3)
    ap.add_argument("--parts", help="comma-separated partition counts to A/B")
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        ap.error(f"sf_dir {args.sf_dir!r} is not a directory")
    sf_dir, laps = args.sf_dir, args.laps
    parts_list = args.parts.split(",") if args.parts else None

    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import (
        get_spark,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.benchprobes import (
        PROBE_PARTS,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.joins import (
        attribution_stream,
        unconverted_stream,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.latest import (
        latest_state_stream,
    )

    spark = get_spark("stream_phase_probe")
    spark.range(1000).count()

    workdir = tempfile.mkdtemp(prefix="tsa_phase_probe_")
    events_land = os.path.join(workdir, "events_land")
    os.makedirs(events_land, exist_ok=True)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(events_land, "events.parquet"),
    )

    def interval_join():
        q = (
            attribution_stream(spark, events_land)
            .writeStream.format("memory")
            .queryName("probe_attrib")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            prog = _progress(q)
            q.stop()
            spark.catalog.dropTempView("probe_attrib")
        return prog

    def outer_join():
        q = (
            unconverted_stream(spark, events_land)
            .writeStream.format("memory")
            .queryName("probe_unconv")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            prog = _progress(q)
            q.stop()
            spark.catalog.dropTempView("probe_unconv")
        return prog

    def upsert_view():
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
            prog = _progress(q)
            q.stop()
        return prog

    join_probes = {
        "stream_interval_join": interval_join,
        "stream_outer_join": outer_join,
    }
    other_probes = {"stream_upsert_view": upsert_view}

    results: dict[str, list] = {}

    def run(name, fn, parts: str | None):
        before = spark.conf.get("spark.sql.shuffle.partitions")
        if parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            t0 = time.perf_counter()
            prog = fn()
            wall = round(time.perf_counter() - t0, 3)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", before)
        label = f"{name}@{parts}" if parts else name
        results.setdefault(label, []).append({"wall": wall, "batches": prog})
        tot = {}
        for b in prog:
            for k, v in (b.get("durationMs") or {}).items():
                tot[k] = tot.get(k, 0) + (v or 0)
        print(
            f"  {label}: wall {wall:.2f}s, {len(prog)} batches, "
            f"durationMs totals {tot}",
            file=sys.stderr,
        )

    try:
        for lap in range(laps):
            print(f"-- lap {lap}", file=sys.stderr)
            if parts_list:
                for parts in parts_list:
                    for name, fn in join_probes.items():
                        run(name, fn, parts)
            else:
                for name, fn in join_probes.items():
                    run(name, fn, PROBE_PARTS)  # the bench's probe scale
                for name, fn in other_probes.items():
                    run(name, fn, None)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps(results, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
