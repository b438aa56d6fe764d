"""Streaming upsert view — latest event per (user_id, event_type) in
explicit group state (the streaming twin of the batch CDC compaction
``events_latest_state``; training-data-pipeline extension).

This is the "materialized upsert view" streaming shape the built-in
operators don't provide: state holds ONE row per key (the current
winner under the (epoch_sec, event_id) total order), each micro-batch
shuffles only its own rows to the key's state partition, and a row is
re-emitted only when a batch advances the key.  Because the update is
a MAX under a total order it is monotone — an at-least-once replay of
an old batch can never regress the state, so the view is idempotent
under recovery exactly like the batch query is deterministic under
re-runs.  State is O(distinct keys); keys are never evicted.

Pinned by tests/test_stream_latest.py: after two files land, the
accumulated emissions collapse to EXACTLY the batch
``q_events_latest_state`` over the union — stream ≡ batch — and a
re-delivered stale file changes nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windowed import epoch_sec_col, events_stream

OUT_SCHEMA = (
    "user_id LONG, event_type STRING, last_event_id LONG, "
    "last_epoch_sec LONG, last_value DOUBLE"
)
STATE_SCHEMA = "last_epoch_sec LONG, last_event_id LONG, last_value DOUBLE"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    best = state.get if state.exists else None
    changed = False
    # r12: the row loop vectorized — the fold is a MAX under the
    # (epoch_sec, event_id) total order, so only the batch's max
    # key can advance the state; among duplicate max keys the
    # original loop kept the FIRST occurrence (strict > required
    # to replace), preserved via flatnonzero()[0].
    import numpy as np

    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ep = pdf["epoch_sec"].to_numpy()
        eid = pdf["event_id"].to_numpy()
        mx = np.lexsort((eid, ep))[-1]
        first = np.flatnonzero((ep == ep[mx]) & (eid == eid[mx]))[0]
        cand = (
            int(ep[first]),
            int(eid[first]),
            float(pdf["value"].to_numpy()[first]),
        )
        # monotone, replay-safe
        if best is None or cand[:2] > tuple(best[:2]):
            best = cand
            changed = True
    if best is not None:
        state.update(tuple(best))
    if changed:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "event_type": [key[1]],
                "last_event_id": pd.Series([best[1]], dtype="int64"),
                "last_epoch_sec": pd.Series([best[0]], dtype="int64"),
                "last_value": pd.Series(
                    [round(best[2], 6)], dtype="float64"
                ),
            }
        )


def latest_state_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming latest-per-key view over a parquet landing zone; one
    updated row per key per micro-batch that advances it."""
    stream = events_stream(spark, events_dir)
    base = stream.withColumn("epoch_sec", epoch_sec_col(stream)).select(
        "user_id", "event_type", "epoch_sec", "event_id", "value"
    )
    return base.groupBy("user_id", "event_type").applyInPandasWithState(
        _update,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
