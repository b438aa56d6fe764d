"""Custom stateful streaming operator — ``applyInPandasWithState``
(training-data-pipeline extension; the reference has no streaming).

The built-in stateful operators cover windows, sessions and dedup
(streaming/windowed.py, sessions.py, dedup.py).  What they cannot
express is an arbitrary user-defined accumulator that survives across
micro-batches; this module is the engine's template for that shape:
**running per-key totals** (event count + value sum per event_type)
maintained in explicit group state and re-emitted every time a batch
touches the key.

Why this shape matters at 100 TB: state lives partitioned by group key
in the state store (RocksDB/HDFS-backed on a real cluster), each
micro-batch shuffles only its own rows to the key's partition, and the
pandas function sees one key's Arrow batches at a time — so state size
is O(distinct keys), not O(stream).  Keys have no timeout: state is
kept for every key the stream has seen.

Cross-batch semantics are pinned by tests/test_stateful.py: totals
emitted after a second file lands must equal batch1+batch2, proving
the state actually persisted between micro-batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windowed import events_stream

OUT_SCHEMA = "event_type STRING, n_events LONG, sum_value DOUBLE"
STATE_SCHEMA = "n_events LONG, sum_value DOUBLE"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": pd.Series([n], dtype="int64"),
            "sum_value": pd.Series([round(s, 6)], dtype="float64"),
        }
    )


def running_totals_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming running (n_events, sum_value) per event_type from a
    parquet landing zone; one updated row per touched key per
    micro-batch."""
    return (
        events_stream(spark, events_dir)
        .select("event_type", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _update,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
