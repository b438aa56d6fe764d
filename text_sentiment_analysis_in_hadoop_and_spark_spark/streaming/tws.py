"""`transformWithState` twin of streaming/stateful.py (Spark 4's
successor API for arbitrary stateful streaming).

Same operator — running (n_events, sum_value) per event_type across
micro-batches — expressed through the `StatefulProcessor` lifecycle
(`init` acquires typed state handles, `handleInputRows` folds each
key's Arrow batches) instead of the single update function of
`applyInPandasWithState`.  What the new API adds at scale: composable
typed state (Value/List/Map per processor, not one flat tuple), state
TTL per value, timers decoupled from input, and schema evolution of
state between job versions — the features a 100 TB streaming pipeline
needs when its stateful operators outlive their first deployment.

ENV GATE: the new API's driver↔worker state channel speaks protobuf;
`google.protobuf` is not installed in this container (and the brief
forbids installing), so this module is importable everywhere but
runnable only where protobuf exists — exactly like the Pillow branch
in operators/multimodal.py.  `tws_available()` reports the gate;
tests/test_tws.py skips without it and otherwise asserts this twin
emits batch-for-batch what streaming/stateful.py emits (whose
cross-batch semantics ARE pinned in this container by
tests/test_stateful.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .stateful import OUT_SCHEMA
from .windowed import events_stream

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def tws_available() -> bool:
    """True when the transformWithState worker can start here (the
    state-server protocol needs google.protobuf on the Python side)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_processor():
    """Processor built lazily: the base class import is cheap, but
    keeping construction out of module import keeps the gate soft."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n_events LONG, sum_value DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            n, s = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_events": pd.Series([n], dtype="int64"),
                    "sum_value": pd.Series([round(s, 6)], dtype="float64"),
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_totals_stream_tws(
    spark: SparkSession, events_dir: str
) -> DataFrame:
    """Streaming running totals per event_type via
    ``transformWithStateInPandas`` — requires the RocksDB state store
    provider (the only backend the new operator supports) and a
    protobuf-capable Python environment (`tws_available()`)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
    )
    return (
        events_stream(spark, events_dir)
        .select("event_type", "value")
        .groupBy("event_type")
        .transformWithStateInPandas(
            _make_processor(),
            OUT_SCHEMA,
            "Update",
            "None",
        )
    )
