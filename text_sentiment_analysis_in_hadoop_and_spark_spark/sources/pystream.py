"""Custom Python STREAMING data source: deterministic events replay
(engine extension — the streaming half of the Spark 4
``pyspark.sql.datasource`` API; the batch half is proven by
``sources/fixedwidth.py``).

``EventsReplayDataSource`` replays the events parquet as
``N_BATCHES`` deterministic micro-batches: offsets are row
boundaries, ``latestOffset`` advances one batch per trigger, and each
batch splits into ``N_SPLITS`` row-range ``InputPartition``s so the
read parallelizes across executors like any real source.  This is
the template for ingesting a stream Spark has no connector for
(internal message bus, vendor SSE feed, polling API): offsets are
whatever cursor the upstream exposes; the replay here makes the
contract testable end-to-end.

``stream_pyds_windowed`` runs the hourly rollup THROUGH the source —
readStream → groupBy(window bucket) → complete-mode memory sink,
``processAllAvailable`` until the replay is exhausted — and returns
the final table, so the driver's oracle check covers the whole
stream path (source offsets → partition reads → incremental state →
sink) against one batch SQL statement.  The value metric is summed
in integer CENTS so cross-micro-batch accumulation order cannot
perturb a float hash.

Scale shape: each partition reads ONLY its row range (row-group
pruning via pyarrow; a production source would align ranges to row
groups / upstream shards), state is O(hours × event_types), and the
per-trigger planning cost is one metadata read.  Restart semantics:
offsets are pure row counts, so recovery re-reads exactly the
uncommitted ranges — the idempotence the checkpoint contract needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .tables import register_data_source

N_BATCHES = 4
N_SPLITS = 4

REPLAY_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "value double, epoch_sec bigint"
)


def _epoch_seconds(ts_col):
    """pyarrow timestamp column → integer epoch seconds (handles both
    the ns-int64 and timestamp-unit layouts the driver has shipped)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = ts_col.type
    if pa.types.is_timestamp(t):
        divisor = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[t.unit]
        as_int = ts_col.cast(pa.int64())
    else:  # already integer nanoseconds
        divisor = 10**9
        as_int = ts_col
    return pc.divide(as_int, divisor).cast(pa.int64())


class _RangePartition(InputPartition):
    def __init__(self, path: str, start_row: int, end_row: int):
        self.path = path
        self.start_row = start_row
        self.end_row = end_row


class EventsReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        import pyarrow.parquet as pq

        self.path = options.get("path")
        self.n_rows = pq.ParquetFile(self.path).metadata.num_rows
        self.batch = 0  # driver-side replay cursor

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def latestOffset(self) -> dict:
        # one replay batch per trigger until the file is exhausted;
        # a live source would return the upstream's current cursor
        if self.batch < N_BATCHES:
            self.batch += 1
        return {"batch": self.batch}

    def partitions(self, start: dict, end: dict):
        lo = start["batch"] * self.n_rows // N_BATCHES
        hi = end["batch"] * self.n_rows // N_BATCHES
        span = hi - lo
        cuts = [lo + span * i // N_SPLITS for i in range(N_SPLITS + 1)]
        return [
            _RangePartition(self.path, a, b)
            for a, b in zip(cuts, cuts[1:])
            if b > a
        ]

    def read(self, partition):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        # row-group pruning: deserialize only groups overlapping the
        # partition's row range (the production path would align
        # partitions to groups and skip the slice entirely)
        first = 0
        groups, base = [], None
        for g in range(pf.metadata.num_row_groups):
            n = pf.metadata.row_group(g).num_rows
            if first + n > partition.start_row and first < partition.end_row:
                if base is None:
                    base = first
                groups.append(g)
            first += n
        if not groups:
            return
        tbl = pf.read_row_groups(
            groups,
            columns=["event_id", "user_id", "event_type", "value", "ts"],
        )
        tbl = tbl.slice(
            partition.start_row - base,
            partition.end_row - partition.start_row,
        )
        epochs = _epoch_seconds(tbl.column("ts"))
        cols = [
            tbl.column("event_id").to_pylist(),
            tbl.column("user_id").to_pylist(),
            tbl.column("event_type").to_pylist(),
            tbl.column("value").to_pylist(),
            epochs.to_pylist(),
        ]
        yield from zip(*cols)

    def commit(self, end: dict) -> None:
        pass  # row-range offsets need no upstream ack


class EventsReplayDataSource(DataSource):
    @classmethod
    def name(cls):
        return "events_replay"

    def schema(self):
        return REPLAY_SCHEMA

    def streamReader(self, schema):
        return EventsReplayStreamReader(self.options)


def q_stream_pyds_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_data_source(spark, EventsReplayDataSource)
    stream = (
        spark.readStream.format("events_replay")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )
    agg = stream.groupBy(
        (F.expr("epoch_sec DIV 3600") * 3600)
        .cast("long")
        .alias("window_start_epoch"),
        "event_type",
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )
    name = "pyds_windowed_result"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


ORACLES = {
    "stream_pyds_windowed": (
        "SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) "
        "AS window_start_epoch, event_type, "
        "CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS sum_cents "
        "FROM events GROUP BY 1, 2"
    )
}

QUERIES = {"stream_pyds_windowed": q_stream_pyds_windowed}
