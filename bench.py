"""Benchmark driver — times the engine's headline queries.

Runs every ``queries()`` entry from ``__spark_entry__`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Output contract:

- stdout, second-to-last line: the FULL record
  ``{"metric": "total_wall_sec", "value": N, "unit": "sec",
  "queries": {...}, "min_of_k": {...}, "memo_built": {...},
  "codegen_compiles": {...}, "failed": 0, "sf": 0.1, ...}``
- stdout, LAST line: a compact summary WITHOUT the per-query maps,
  small enough that any tail capture parses it.
- ``bench_queries.json`` and ``bench_queries_rNN.json`` next to this
  script: the full record (NN is one past the newest ``BENCH_rNN.json``).

``queries`` holds each entry's first-run seconds (``-1`` when any run
of it raised; ``failed`` counts those) and ``value`` their sum.
Entries whose first run exceeds ``MIN_OF_K_THRESHOLD_SEC`` run
``MIN_OF_K`` times in all; ``min_of_k`` holds their minimum and
``value_min_of_k`` sums it with first runs elsewhere.  ``memo_built``
maps an entry to the number of ``@memo`` entries its first run built
(nonzero counts only).  ``codegen_compiles`` maps an entry to the
number of generated classes Spark compiled during all its runs (driver
and tasks share the JVM in local mode; nonzero counts only): an entry
whose classes are still in the codegen cache compiles none.

The rerun rule: a rerun pays the memo builds its first run paid.
Before each rerun, :func:`measure` releases exactly the memo entries
the previous run built; entries that existed before the first run stay,
and so do the entries the last run built, so later entries of the
family still see warm memos and their first runs do not change.
``BENCH_PREPARE`` builds and streaming probes run once: their reruns
would hit a table short-circuit or a checkpoint, not a memo.

Each query is forced end-to-end with the ``noop`` write format (full
computation, no driver-side collect).  Memos are cleared between
eviction groups, so one family's cached artifacts do not squeeze the
next family's storage memory; a family's shared prefix is billed to
its first query.  Progress goes to stderr so the stdout JSON stays
clean.

:func:`force`, :func:`warm_up` and :func:`measure` are the measurement
core ``tools/probe_ab.py`` and ``tools/scale_probe.py`` time through.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common  # noqa: E402

MIN_OF_K = 2
MIN_OF_K_THRESHOLD_SEC = 0.5


def force(df) -> None:
    """Run the full plan without materializing rows on the driver
    (``.count()`` would let Catalyst prune the value expressions)."""
    df.write.format("noop").mode("overwrite").save()


def codegen_compiles() -> int:
    """Generated classes compiled so far in this process's JVM (0 when
    no JVM runs yet)."""
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        return 0
    metrics = SparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def warm_up(spark, sf_dir: str) -> None:
    """Pay the JVM and worker start-up costs every query shares, so they
    are not billed to whichever query runs first: codegen, the parquet
    reader, the noop sink, the aggregate/exchange/broadcast-join
    pipeline, and the Python/Arrow worker pool (a first mapInPandas
    plan otherwise pays worker spawn and Arrow import, 1-2 s)."""
    from pyspark.sql import functions as F

    spark.range(1000).count()
    li1k = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1000)
    force(li1k.limit(1))
    agg = li1k.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("q"), F.count("*").alias("n")
    )
    force(agg.join(F.broadcast(agg.select("l_returnflag")), "l_returnflag"))

    def _ping(it):
        yield from it

    force(spark.range(32).repartition(32).mapInPandas(_ping, "id long"))


def measure(
    thunk, runs: int = MIN_OF_K, rerun_over: float = 0.0
) -> tuple[list[float], int]:
    """Run ``thunk`` up to ``runs`` times and return the wall seconds of
    each run and the number of memo entries the first run built.

    Reruns happen only when the first run took longer than
    ``rerun_over`` seconds.  Before each rerun, the memo entries the
    previous run built are released, so every run pays the same builds;
    entries stored before the first run are neither rebuilt nor
    released, and the last run's entries stay stored.  An exception
    from any run propagates."""
    before = common.memo_entries()
    times: list[float] = []
    built = 0
    for i in range(runs):
        if i:
            if times[0] <= rerun_over:
                break
            common.release_memos(common.memo_entries() - before)
        t0 = time.perf_counter()
        thunk()
        times.append(time.perf_counter() - t0)
        if not i:
            built = len(common.memo_entries() - before)
    return times, built


def timed(rec: dict, name: str, thunk, runs: int = MIN_OF_K) -> None:
    """Measure one bench entry into ``rec``'s ``queries``, ``min_of_k``,
    ``memo_built`` and ``codegen_compiles`` maps; an exception from any
    run records -1."""
    compiled = codegen_compiles()
    try:
        times, built = measure(thunk, runs, MIN_OF_K_THRESHOLD_SEC)
    except Exception as e:  # noqa: BLE001
        print(f"  {name}: FAILED {type(e).__name__}: {e}", file=sys.stderr)
        rec["queries"][name] = -1.0
        return
    compiled = codegen_compiles() - compiled
    rec["queries"][name] = round(times[0], 3)
    if built:
        rec["memo_built"][name] = built
    if compiled:
        rec["codegen_compiles"][name] = compiled
    note = ""
    if len(times) > 1:
        rec["min_of_k"][name] = round(min(times), 3)
        note = f" (min_of_{len(times)} {min(times):.2f}s)"
    print(f"  {name}: {times[0]:.2f}s{note}", file=sys.stderr)


# Eviction groups: memos clear between groups, not inside one.  A
# module listed here bills inside its anchor's group, because it reads
# the anchor's memos: nb/tfidf/csv share the cleaned-docs chain;
# dedup/similarity/pipeline share the shingle → signature → jaccard → CC
# chain and the embedding memos; graph and sqlapi read dedup's
# verified pairs.  Split apart, each re-pays the cold chain.
_SHARED_GROUPS = {
    "nb": ("tfidf", "csv"),
    "dedup": ("similarity", "pipeline", "graph", "sqlapi"),
}


def _groups(module_order) -> list[list]:
    mods = {m.__name__.rsplit(".", 1)[-1]: m for m in module_order}
    member_names = {n for ms in _SHARED_GROUPS.values() for n in ms}
    return [
        [m, *(mods[n] for n in _SHARED_GROUPS.get(name, ()) if n in mods)]
        for m in module_order
        if (name := m.__name__.rsplit(".", 1)[-1]) not in member_names
    ]


def main() -> int:
    import shutil
    import tempfile

    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
        DEFAULT_SF_DIR,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.benchprobes import (
        streaming_bench_entries,
    )

    sf_dir = DEFAULT_SF_DIR
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else None

    load_start = os.getloadavg()
    spark = get_spark("tsa_bench")
    warm_up(spark, sf_dir)

    rec: dict[str, dict] = {
        "queries": {}, "min_of_k": {}, "memo_built": {}, "codegen_compiles": {}
    }
    for group in _groups(entrymod._MODULE_ORDER):
        for mod in group:
            family = mod.__name__.rsplit(".", 1)[-1]
            print(f"-- family {family}", file=sys.stderr)
            # one-off build steps billed as their own entries, so an
            # index build does not read as a query regression
            for name, fn in getattr(mod, "BENCH_PREPARE", {}).items():
                timed(rec, name, lambda fn=fn: fn(spark, sf_dir), runs=1)
            # a query whose full run prices a non-production twin benches
            # a deterministic slice, recorded as ``name@probe`` (parity
            # still runs the full query)
            probe_scale = getattr(mod, "BENCH_PROBE_SCALE", {})
            for name, fn in mod.QUERIES.items():
                if name in probe_scale:
                    name, fn = f"{name}@probe", probe_scale[name]
                timed(rec, name, lambda fn=fn: force(fn(spark, sf_dir)))
        common.clear_caches()

    print("-- family streaming", file=sys.stderr)
    workdir = tempfile.mkdtemp(prefix="tsa_bench_stream_")
    try:
        for name, thunk in streaming_bench_entries(spark, sf_dir, workdir).items():
            timed(rec, name, thunk, runs=1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    common.clear_caches()

    load_end = os.getloadavg()
    timings, min_of_k = rec["queries"], rec["min_of_k"]
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    failed = sum(1 for t in timings.values() if t < 0)
    total_min = round(
        sum(min_of_k.get(n, t) for n, t in timings.items() if t >= 0), 3
    )
    covered = sum(t for n, t in timings.items() if t >= 0 and n in min_of_k)
    record = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        **rec,
        "min_of_k_runs": MIN_OF_K,
        "min_of_k_threshold_sec": MIN_OF_K_THRESHOLD_SEC,
        "min_of_k_coverage": round(covered / total, 3) if total else None,
        "value_min_of_k": total_min,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in load_end],
        "failed": failed,
        "sf": sf,
    }
    rounds = [
        int(mm.group(1))
        for f_ in os.listdir(REPO)
        if (mm := re.match(r"BENCH_r(\d+)\.json$", f_))
    ]
    this_round = (max(rounds) + 1) if rounds else 0
    # the round-over-round ratio on comparable entries, stamped into the
    # artifact; it needs the prior round's per-query record
    prior = os.path.join(REPO, f"bench_queries_r{this_round - 1:02d}.json")
    record["vs_prior_comparable_pct"] = None
    if os.path.exists(prior):
        try:
            from tools.bench_diff import comparable_pct

            with open(prior) as f:
                record["vs_prior_comparable_pct"] = comparable_pct(
                    json.load(f), record
                )
        except (OSError, ValueError, KeyError):
            pass
    for out in ("bench_queries.json", f"bench_queries_r{this_round:02d}.json"):
        with open(os.path.join(REPO, out), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    summary = {
        "metric": "total_wall_sec",
        "value": total,
        "unit": "sec",
        "value_min_of_k": total_min,
        "min_of_k_coverage": record["min_of_k_coverage"],
        "vs_prior_comparable_pct": record["vs_prior_comparable_pct"],
        "failed": failed,
        "sf": sf,
        "queries_file": "bench_queries.json",
    }
    sys.stderr.flush()
    print(json.dumps(record), flush=True)
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
