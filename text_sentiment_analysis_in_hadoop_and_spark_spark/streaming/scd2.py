"""Streaming SCD type-2 builder — the CDC-to-dimension shape as a
custom stateful operator (the streaming twin of
``operators/experiments.q_events_scd2``).

A change-data stream keyed by user arrives; each event is a state
change.  The operator holds ONE open interval per user in group state
and, whenever a newer event arrives, emits the now-CLOSED interval
``(user_id, state, valid_from, valid_to)`` downstream (append
semantics — closed intervals are immutable facts, exactly what an
SCD2 dimension table appends).  The still-open interval stays in
state, never emitted until closed — so replaying the output never
rewrites history.

Ordering contract: rows within a micro-batch are sorted by
(ts, event_id) before folding.  ACROSS batches the operator is
monotone like the upsert view (streaming/latest.py): an arrival older
than the open interval's start is counted as late and dropped —
emitted intervals are never reopened.  (With a shuffle-ordered
at-least-once source this is the deliverable guarantee; a
watermark-delayed reorder buffer is the production extension.)

Scale: state is O(distinct users) — one (state, ts, event_id) triple
per user — partitioned across the state store; each micro-batch
shuffles only its own rows by user.  Departed users are never
evicted: an open interval with no further events stays in state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windowed import events_stream

OUT_SCHEMA = (
    "user_id LONG, state STRING, valid_from LONG, valid_to LONG"
)
STATE_SCHEMA = "last_state STRING, last_ts LONG, last_eid LONG"


def _update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    batch = pd.concat(list(pdfs), ignore_index=True)
    if len(batch) == 0:
        return
    batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
    if state.exists:
        cur_state, cur_ts, cur_eid = state.get
    else:
        cur_state, cur_ts, cur_eid = None, None, None
    # r12: the row-at-a-time fold vectorized (same semantics).
    # After the stable sort the accepted sequence is strictly
    # increasing in (ts, event_id), so the fold's late-arrival
    # drops reduce to (a) rows <= the held interval's key and
    # (b) exact within-batch duplicates of an earlier row — and
    # every surviving row closes its predecessor's interval.
    ts = batch["ts"].to_numpy()
    eid = batch["event_id"].to_numpy()
    if cur_ts is not None:
        keep = (ts > cur_ts) | ((ts == cur_ts) & (eid > cur_eid))
        batch = batch[keep]
    batch = batch.drop_duplicates(
        subset=["ts", "event_id"], keep="first"
    )
    n = len(batch)
    if n:
        ts = batch["ts"].to_numpy()
        eid = batch["event_id"].to_numpy()
        states = batch["event_type"].to_numpy()
        frames = []
        if cur_state is not None:
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "state": [cur_state],
                        "valid_from": [cur_ts],
                        "valid_to": [int(ts[0])],
                    }
                )
            )
        if n > 1:
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": key[0],
                        "state": states[:-1],
                        "valid_from": ts[:-1],
                        "valid_to": ts[1:],
                    }
                )
            )
        cur_state = str(states[-1])
        cur_ts, cur_eid = int(ts[-1]), int(eid[-1])
    else:
        frames = []
    state.update((cur_state, cur_ts, cur_eid))
    if frames:
        yield pd.concat(frames, ignore_index=True)


def scd2_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming closed-interval SCD2 rows from a parquet landing
    zone keyed by user_id."""
    stream = events_stream(spark, events_dir)
    # normalize ts JVM-side: TIMESTAMP/TIMESTAMP_NTZ parquet → epoch
    # µs (UTC pinned, as in windowed.epoch_us_col); integer
    # change-versions (incl. legacy long-nanos reads) pass through
    if isinstance(stream.schema["ts"].dataType, T.LongType):
        ts_col = F.col("ts")
    else:
        ts_col = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    return (
        stream.select(
            "user_id", "event_type", ts_col.alias("ts"), "event_id"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
