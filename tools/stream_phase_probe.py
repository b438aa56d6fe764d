"""Per-micro-batch phase breakdown for the streaming join block
(VERDICT r12 #2): stream_interval_join / stream_outer_join /
stream_upsert_view, the largest unadjudicated bench cost (~10 s).

Replays the bench's own probe thunks (``streaming_bench_entries``:
same landing zones, same probe-scale shuffle partitions for the joins)
for K laps, reading the ``recentProgress`` each thunk returns:
every micro-batch's StreamingQueryProgress durationMs map
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


def _batches(progress) -> list[dict]:
    out = []
    for p in progress:
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


JOIN_PROBES = ("stream_interval_join", "stream_outer_join")
OTHER_PROBES = ("stream_upsert_view",)


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

    from bench import warm_up
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import (
        get_spark,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.benchprobes import (
        PROBE_PARTS,
        streaming_bench_entries,
    )

    spark = get_spark("stream_phase_probe")
    warm_up(spark, args.sf_dir)

    results: dict[str, list] = {}

    def run(label: str, thunk) -> None:
        t0 = time.perf_counter()
        prog = _batches(thunk())
        wall = round(time.perf_counter() - t0, 3)
        results.setdefault(label, []).append({"wall": wall, "batches": prog})
        tot: dict[str, int] = {}
        for b in prog:
            for k, v in (b.get("durationMs") or {}).items():
                tot[k] = tot.get(k, 0) + (v or 0)
        print(
            f"  {label}: wall {wall:.2f}s, {len(prog)} batches, "
            f"durationMs totals {tot}",
            file=sys.stderr,
        )

    parts_list = args.parts.split(",") if args.parts else [PROBE_PARTS]
    workdir = tempfile.mkdtemp(prefix="tsa_phase_probe_")
    try:
        # one probe set (own landing zones) per join partition count
        probe_sets = {}
        for parts in parts_list:
            sub = os.path.join(workdir, f"p{parts}")
            os.makedirs(sub)
            probe_sets[parts] = streaming_bench_entries(
                spark, args.sf_dir, sub, join_parts=parts
            )
        for lap in range(args.laps):
            print(f"-- lap {lap}", file=sys.stderr)
            for parts, probes in probe_sets.items():
                for name in JOIN_PROBES:
                    run(f"{name}@{parts}", probes[name])
            if not args.parts:
                for name in OTHER_PROBES:
                    run(name, probe_sets[PROBE_PARTS][name])
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps(results, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
