"""The session's codegen cache holds a whole pass of the benchmark's
workloads.  Spark keys its cache of compiled classes by the generated
source and the class loader, so driver and tasks each hold their own
copy; at the default 100 entries LRU evicts every class of a ~120-180
class pass before the next pass reuses it, and each pass recompiles
everything with Janino.

The two passes run in a subprocess with a session of its own: in a
shared session the test files that run earlier have already compiled
most of the first pass's classes, and the count the bound compares
against shrinks to a third of what a fresh JVM compiles."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _two_passes() -> tuple[int, int]:
    """Classes compiled by a first and a second pass of the benchmark
    programs, in a new session of this process."""
    sys.path.insert(0, REPO)
    import bench
    from conftest import SF_DIR
    from perfbench.harness import WORKLOADS

    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

    spark = get_spark("tsa_codegen_cache", master="local[4]", shuffle_partitions=8)
    queries = entrymod.queries()
    programs = [
        name
        for wl in ("sentiment_pipeline", "dedup_retrieval")
        for name in WORKLOADS[wl].programs
    ]

    def one_pass() -> int:
        before = bench.codegen_compiles()
        for name in programs:
            bench.force(queries[name](spark, SF_DIR))
        return bench.codegen_compiles() - before

    common.clear_caches()
    first = one_pass()
    common.clear_caches()
    second = one_pass()
    spark.stop()
    return first, second


def test_second_pass_reuses_the_compiled_classes():
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first > 0
    assert second <= 0.2 * first, (first, second)


if __name__ == "__main__":
    print(json.dumps(_two_passes()))
