"""bench.py's measurement core: every rerun re-pays the memo builds its
first run paid, memos that existed before the first run stay warm, and
the last run's memos stay stored for the entries that follow."""

from __future__ import annotations

import time

import bench
import pytest

from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common
from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.common import memo

TOY_SF = "/toy/measure"
BUILDS: list[str] = []


@memo
def _toy(spark, sf_dir, tag):
    BUILDS.append(tag)
    return spark.range(10).cache()


def _key(spark, tag):
    return (spark.sparkContext.applicationId, TOY_SF, tag)


@pytest.fixture
def toy(spark):
    common.clear_caches(TOY_SF)
    BUILDS.clear()
    yield
    common.clear_caches(TOY_SF)


def test_every_run_pays_the_build(spark, toy):
    times, built = bench.measure(
        lambda: bench.force(_toy(spark, TOY_SF, "own")), runs=3
    )
    assert len(times) == 3
    assert built == 1
    assert BUILDS == ["own"] * 3


def test_memo_built_before_the_first_run_is_kept(spark, toy):
    pre = _toy(spark, TOY_SF, "pre")
    BUILDS.clear()

    def thunk():
        bench.force(_toy(spark, TOY_SF, "pre"))
        bench.force(_toy(spark, TOY_SF, "own"))

    _, built = bench.measure(thunk, runs=3)
    assert built == 1
    assert BUILDS == ["own"] * 3
    assert _toy.memo[_key(spark, "pre")] is pre
    assert pre.storageLevel.useMemory


def test_last_run_memo_stays_stored(spark, toy):
    bench.measure(lambda: bench.force(_toy(spark, TOY_SF, "own")), runs=2)
    last = _toy.memo[_key(spark, "own")]
    assert last.storageLevel.useMemory
    BUILDS.clear()
    _toy(spark, TOY_SF, "own")  # the next entry of the family: a hit
    assert BUILDS == []


def test_fast_first_run_is_not_rerun(spark, toy):
    times, _ = bench.measure(lambda: None, runs=3, rerun_over=60.0)
    assert len(times) == 1


def test_failing_rerun_marks_the_entry_failed():
    runs: list[int] = []

    def thunk():
        runs.append(1)
        time.sleep(bench.MIN_OF_K_THRESHOLD_SEC + 0.05)
        if len(runs) > 1:
            raise RuntimeError("rerun broke")

    rec = {"queries": {}, "min_of_k": {}, "memo_built": {}}
    bench.timed(rec, "flaky", thunk)
    assert len(runs) == 2
    assert rec["queries"] == {"flaky": -1.0}
    assert rec["min_of_k"] == {}
