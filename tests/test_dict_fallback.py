"""The guarded int64-dictionary paths (prefix-join okey key + suffix
filter, jaccard/containment verify arrays) must produce IDENTICAL
results on their string fallback — the branch a real xxhash64/okey
collision would take.  A collision is a ~2^-64 event we can't
synthesize, so the module's `_FORCE_STRING_FALLBACK` hook flips every
guard at once and the outputs are compared row-for-row."""

from __future__ import annotations

import pytest

from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import dedup
from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.common import (
    clear_caches,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def forced_fallback():
    dedup._FORCE_STRING_FALLBACK = True
    clear_caches()
    yield
    dedup._FORCE_STRING_FALLBACK = False
    clear_caches()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "qname",
    [
        "dedup_prefix_jaccard_join",
        "dedup_jaccard_pairs",
        "dedup_containment_pairs",
    ],
)
def test_string_fallback_is_identical(spark, forced_fallback, qname):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    fallback = _rows(fn(spark, SF))
    dedup._FORCE_STRING_FALLBACK = False
    clear_caches()
    fast = _rows(fn(spark, SF))
    assert fallback == fast
    assert fallback  # non-vacuous
