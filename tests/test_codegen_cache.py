"""The session's codegen cache holds a whole pass of the benchmark's
workloads.  Spark keys its cache of compiled classes by the generated
source and the class loader, so driver and tasks each hold their own
copy; at the default 100 entries LRU evicts every class of a ~120-180
class pass before the next pass reuses it, and each pass recompiles
everything with Janino."""

from __future__ import annotations

import bench
from conftest import SF_DIR
from perfbench.harness import WORKLOADS

import __spark_entry__ as entrymod
from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common


def test_second_pass_reuses_the_compiled_classes(spark):
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
    common.clear_caches()
    assert first > 0
    assert second <= 0.2 * first, (first, second)
