"""Event-time queries over ``events`` and the shared event-stream
readers — a clearly-marked EXTENSION.

The reference has no streaming at all: ``spark-streaming`` is a
commented-out dependency in every build file
(/root/reference/Spark/NB/build.sbt:13) and no streaming code exists
(SURVEY §2.7).  This module holds the batch event-time family (the
``events_windowed`` hour buckets, funnels, retention, …) and the two
readers every stream probe builds on: :func:`events_stream` (a
``readStream`` over a parquet landing zone) and :func:`event_ts_col`
(the watermark column).

Timestamp handling: the driver's parquet has shipped ``ts`` as BOTH
TIMESTAMP(NANOS) (earlier rounds — Spark's vectorized reader rejects
it, so the engine reads it as long via the
``spark.sql.legacy.parquet.nanosAsLong`` conf, kept session-wide) and
TIMESTAMP(MICROS) (current rounds — read as a real timestamp).
:func:`epoch_sec_col` normalizes either physical type to the SAME
exact epoch-second long column using integer math only —
``ts_nanos DIV 1e9`` or ``unix_micros(ts) DIV 1e6`` — so every
consumer (windows, sessions, as-of, funnel) is physical-type-agnostic.
The DuckDB oracle uses ``epoch_ns`` integer division, so both engines
bucket identically with no float rounding at window edges.  The
session timezone is pinned UTC (session.py), which makes the
NTZ→instant interpretation match DuckDB's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.common import memo

WATERMARK = "1 hour"
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def epoch_sec_col(df: DataFrame) -> F.Column:
    """Exact epoch seconds from ``ts`` whichever way the parquet
    stored it: long nanos (legacy nanosAsLong read) or a real
    timestamp (micros).  Integer division only — no float rounding."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return F.expr("ts DIV 1000000000").cast("long")
    return F.expr(
        "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000"
    ).cast("long")


def epoch_us_col(df: DataFrame) -> F.Column:
    """Exact epoch microseconds from ``ts`` (either physical type).
    µs is DuckDB TIMESTAMP's native precision, so as-of/range joins
    verified against DuckDB draw boundaries at the same tick."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return F.expr("ts DIV 1000").cast("long")
    return F.expr("unix_micros(CAST(ts AS TIMESTAMP))").cast("long")


def event_ts_col(df: DataFrame) -> F.Column:
    """``ts`` as a second-truncated TIMESTAMP for watermarks/windows —
    same instant both physical types, matching :func:`epoch_sec_col`."""
    return F.timestamp_seconds(epoch_sec_col(df))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with exact epoch-second column (integer division — no
    double rounding)."""
    spark.conf.set(_NANOS_CONF, "true")
    # NTZ→instant interpretation must be UTC to match DuckDB's
    # epoch_ns — pinned here too so externally-created sessions
    # (the driver's) agree with session.get_spark's contract
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.withColumn("epoch_sec", epoch_sec_col(ev))


def events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """``readStream`` over a parquet landing zone of events, with the
    schema of the files already there and ``ts`` read the way
    :func:`load_events` reads it (the nanosAsLong conf)."""
    spark.conf.set(_NANOS_CONF, "true")
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def windowed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            (F.expr("epoch_sec DIV 3600") * 3600)
            .cast("long")
            .alias("window_start_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_batch(spark, sf_dir)


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of event value per type — ``percentile`` is
    the sort-within-group exact aggregate, and its linear interpolation
    matches DuckDB's ``quantile_cont`` bit-for-bit (verified by the
    oracle hash).  At 100 TB the groupwise sort is the honest cost of
    EXACT percentiles; switch to ``approx_percentile`` (mergeable
    t-digest-style sketch, map-side combinable) when ±0.1% suffices —
    same trade the HLL df_approx query documents for distinct counts."""
    ev = load_events(spark, sf_dir)
    # r12 (guide §2.2): ONE array-percentile buffer instead of three —
    # each scalar percentile(value, p) is its own AggregateExpression
    # with its own per-group value map and final sort; the array form
    # sorts once and reads all three ranks off the same buffer,
    # bit-identical per rank.
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("_ps"),
    ).select(
        "event_type",
        "n_events",
        F.round(F.col("_ps")[0], 6).alias("p50"),
        F.round(F.col("_ps")[1], 6).alias("p95"),
        F.round(F.col("_ps")[2], 6).alias("p99"),
    )


def q_events_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path the exact query's docstring promises: per-type
    p50/p95/p99 via ``approx_percentile`` (Greenwald-Khanna sketch,
    accuracy 10⁴ → rank error ≤ 1/10⁴).  The sketch merges map-side,
    so the shuffle carries one bounded sketch per (partition, type)
    instead of every value — the groupwise sort disappears.  Sketch
    internals aren't SQL-expressible → rows-only for the driver; the
    error bound vs the exact aggregate is pinned by
    tests/test_streaming.py."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(
            F.expr("approx_percentile(value, 0.5, 10000)"), 6
        ).alias("p50"),
        F.round(
            F.expr("approx_percentile(value, 0.95, 10000)"), 6
        ).alias("p95"),
        F.round(
            F.expr("approx_percentile(value, 0.99, 10000)"), 6
        ).alias("p99"),
    )


FUNNEL_STAGES = ("view", "click", "purchase")


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    converts a stage only by an event AT OR AFTER their entry into the
    previous stage (first qualifying timestamp chains forward).

    Scale shape: each stage is `filter(type) → co-partitioned join on
    user_id → groupBy(user_id) min` — the stage filter pushes to the
    parquet scan so pass k touches ONLY stage-k events, the per-user
    stage table is ≤ |users| rows, and every join/agg keys on user_id
    (AQE broadcasts the shrinking stage tables when they fit).  The
    final four counts are one-row aggregates crossed together —
    broadcast of single rows, not a data join."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "epoch_sec"
    )
    views = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(views, "user_id")
        .filter(F.col("epoch_sec") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(clicks, "user_id")
        .filter(F.col("epoch_sec") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_purchase"))
    )
    return (
        ev.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .crossJoin(views.agg(F.count("*").cast("long").alias("n_viewed")))
        .crossJoin(clicks.agg(F.count("*").cast("long").alias("n_clicked")))
        .crossJoin(
            purchases.agg(F.count("*").cast("long").alias("n_purchased"))
        )
        .withColumn(
            "conversion",
            F.round(F.col("n_purchased") / F.col("n_users"), 6),
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT coverage: hourly event counts, one column per type.  The
    type list is passed explicitly — with an inferred list Spark runs
    an extra distinct pass over the corpus AND the output schema
    becomes data-dependent, which breaks at 100 TB (schema must be
    known before the job runs).  Spark plans pivot as two aggregates:
    the first (by hour × type) does the map-side-combined heavy
    lifting; the second exchange moves only the already-aggregated
    rows (one per hour × type — tiny at any corpus size), so the
    extra shuffle is a rounding error, not a scale risk."""
    ev = load_events(spark, sf_dir)
    hour = (F.expr("epoch_sec DIV 3600") * 3600).cast("long")
    return (
        ev.groupBy(hour.alias("window_start_epoch"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "window_start_epoch",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
        )
    )


SLIDE_SEC = 3600  # 1-hour trailing window


def q_events_sliding_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour volume — the RANGE-frame window mode
    (value-based frame bounds, `RANGE BETWEEN 3599 PRECEDING AND
    CURRENT ROW` over epoch seconds) that rows-based frames cannot
    express: the frame holds however many events fall in the time
    span, including all peers at equal timestamps, so the result is
    deterministic without a row tie-break.

    Scale shape: one user_id shuffle, then an in-partition ordered
    scan with a sliding aggregator — the canonical time-series moving
    metric; frame size is bounded by per-user event rate × window, not
    by history length."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "epoch_sec", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_sec")
        .rangeBetween(-(SLIDE_SEC - 1), 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "epoch_sec",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.round(F.sum("value").over(w), 6).alias("vol_1h"),
    )


ORACLES: dict[str, str] = {
    "events_windowed": (
        "SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) "
        "AS window_start_epoch, event_type, "
        "CAST(count(*) AS BIGINT) AS n_events, "
        "round(sum(value), 6) AS sum_value "
        "FROM events GROUP BY 1, 2"
    ),
    "events_percentiles": (
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "round(quantile_cont(value, 0.5), 6) AS p50, "
        "round(quantile_cont(value, 0.95), 6) AS p95, "
        "round(quantile_cont(value, 0.99), 6) AS p99 "
        "FROM events GROUP BY event_type"
    ),
    "events_funnel": (
        "WITH base AS (SELECT user_id, event_type, "
        "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
        "v AS (SELECT user_id, min(s) AS t_view FROM base "
        f"WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id), "
        "c AS (SELECT b.user_id, min(b.s) AS t_click FROM base b "
        f"JOIN v USING (user_id) WHERE b.event_type = '{FUNNEL_STAGES[1]}' "
        "AND b.s >= v.t_view GROUP BY b.user_id), "
        "p AS (SELECT b.user_id, min(b.s) AS t_purchase FROM base b "
        f"JOIN c USING (user_id) WHERE b.event_type = '{FUNNEL_STAGES[2]}' "
        "AND b.s >= c.t_click GROUP BY b.user_id) "
        "SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM base) "
        "AS n_users, "
        "(SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed, "
        "(SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked, "
        "(SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased, "
        "round((SELECT count(*) FROM p) * 1.0 / "
        "(SELECT count(DISTINCT user_id) FROM base), 6) AS conversion"
    ),
    "events_hourly_pivot": (
        "SELECT CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) "
        "AS window_start_epoch, "
        + ", ".join(
            f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_{t}"
            for t in EVENT_TYPES
        )
        + " FROM events GROUP BY 1"
    ),
}

QUERIES = {
    "events_windowed": q_events_windowed,
    "events_percentiles": q_events_percentiles,
    "events_percentiles_approx": q_events_percentiles_approx,
    "events_hourly_pivot": q_events_hourly_pivot,
    "events_funnel": q_events_funnel,
}

ORACLES["events_sliding_volume"] = (
    "WITH e AS (SELECT user_id, event_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS epoch_sec, value "
    "FROM events) "
    "SELECT user_id, event_id, epoch_sec, "
    "CAST(count(*) OVER w AS BIGINT) AS n_1h, "
    "round(sum(value) OVER w, 6) AS vol_1h "
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_sec "
    f"RANGE BETWEEN {SLIDE_SEC - 1} PRECEDING AND CURRENT ROW)"
)

QUERIES["events_sliding_volume"] = q_events_sliding_volume


DAY_SEC = 86400
ANOM_Z = 2.0  # |z| threshold flagging an anomalous hour


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by first-active day, counted on each later active day as
    (cohort_day, day_offset, n_active, retention_frac).

    Scale shape: activity distinct-ing and first-day aggregation both
    key on user_id, so the join between them reuses ONE user_id
    shuffle family (co-partitioned, no re-exchange); cohort sizes are
    a tiny (days-sized) aggregate joined back BROADCAST; the final
    rollup's output is O(days²/2) — bounded by calendar, not corpus.
    """
    ev = load_events(spark, sf_dir)
    act = (
        ev.select("user_id", (F.col("epoch_sec") / DAY_SEC).cast("long").alias("day"))
        .distinct()
    )
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohort_sizes = first.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_n")
    )
    ret = (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    return ret.join(F.broadcast(cohort_sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        F.round(F.col("n_active") / F.col("cohort_n"), 6).alias("retention_frac"),
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-volume anomaly flags per event type: z-score of each
    hour's event count against that type's own mean/stddev across all
    hours, |z| > ANOM_Z flagged.  The per-type stats are a TYPES-sized
    aggregate joined back broadcast — the hourly count table never
    re-shuffles (the window-function form would funnel every row
    through one partition per type); stddev is the sample form on
    both engines."""
    ev = load_events(spark, sf_dir)
    hourly = (
        ev.groupBy(
            (F.expr(f"epoch_sec DIV 3600") * 3600).cast("long").alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.avg("n_events").alias("mu"), F.stddev_samp("n_events").alias("sd")
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sd")
    return hourly.join(F.broadcast(stats), "event_type").select(
        "hour_epoch",
        "event_type",
        "n_events",
        F.round(z, 6).alias("z"),
        (F.abs(z) > ANOM_Z).alias("is_anomaly"),
    )


ORACLES["events_retention"] = (
    "WITH act AS (SELECT DISTINCT user_id, "
    f"CAST(epoch_ns(ts) // 1000000000 // {DAY_SEC} AS BIGINT) AS day "
    "FROM events), "
    "first AS (SELECT user_id, min(day) AS cohort_day FROM act "
    "GROUP BY user_id), "
    "sizes AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_n "
    "FROM first GROUP BY cohort_day), "
    "ret AS (SELECT f.cohort_day, a.day - f.cohort_day AS day_offset, "
    "CAST(count(*) AS BIGINT) AS n_active FROM act a "
    "JOIN first f USING (user_id) GROUP BY 1, 2) "
    "SELECT r.cohort_day, r.day_offset, r.n_active, "
    "round(r.n_active * 1.0 / s.cohort_n, 6) AS retention_frac "
    "FROM ret r JOIN sizes s USING (cohort_day)"
)

ORACLES["events_anomaly"] = (
    "WITH hourly AS (SELECT "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) AS hour_epoch, "
    "event_type, CAST(count(*) AS BIGINT) AS n_events "
    "FROM events GROUP BY 1, 2), "
    "stats AS (SELECT event_type, avg(n_events) AS mu, "
    "stddev_samp(n_events) AS sd FROM hourly GROUP BY event_type) "
    "SELECT h.hour_epoch, h.event_type, h.n_events, "
    "round((h.n_events - s.mu) / s.sd, 6) AS z, "
    f"abs((h.n_events - s.mu) / s.sd) > {2.0} AS is_anomaly "
    "FROM hourly h JOIN stats s USING (event_type)"
)

def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification + LOCF — the gap-filling pass a
    metrics pipeline runs before charting/joining regular series:
    every (event_type, hour) slot over the global hour range exists in
    the output, empty hours carry n_events = 0 and the LAST observed
    hourly mean value carried forward (NULL before the first
    observation).

    Scale shape: the dense hour spine is `sequence()` per event type —
    |types|·|hours| generated rows, zero corpus scan — left-joined
    with the hourly aggregate on (type, hour); LOCF is one
    `last(value, ignoreNulls)` over an unbounded-preceding frame per
    type.  The only corpus-sized operation stays the initial hourly
    groupBy."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        (F.expr("epoch_sec DIV 3600") * 3600).cast("long").alias("hour_epoch"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("value"), 6).alias("hour_mean"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_epoch"),
    )
    dense = spine.join(hourly, ["event_type", "hour_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "event_type",
        "hour_epoch",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.last("hour_mean", ignorenulls=True).over(w).alias("locf_mean"),
    )


def q_events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: the LATEST event per (user_id,
    event_type) key — the upsert-view materialization every
    change-log consumer runs (event_id DESC tie-break inside equal
    timestamps keeps replays deterministic).  One key-partitioned
    window, rank pruned INSIDE the window stage (Spark pushes the
    rk=1 filter into WindowGroupLimit), no self-join against a
    max-ts aggregate."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("epoch_sec"), F.desc("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("epoch_sec").alias("last_epoch_sec"),
            F.round("value", 6).alias("last_value"),
        )
    )


N_HIST_BUCKETS = 20


def q_events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value histogram with FIXED equal-width buckets over
    the type's own [min, max] — two passes: a types-sized min/max
    aggregate broadcast back, then one width_bucket groupBy.  Empty
    buckets are densified via the same sequence-spine pattern as
    gap-fill, so every (type, bucket) row exists."""
    ev = load_events(spark, sf_dir)
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    counted = (
        ev.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            # explicit floor(n·(v−lo)/(hi−lo))+1, clamped — the SAME
            # operation order as the oracle (DuckDB has no
            # width_bucket; an algebraically equivalent form with a
            # different division order can land boundary values in
            # the neighbouring bucket)
            F.least(
                F.floor(
                    F.lit(N_HIST_BUCKETS)
                    * (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                ).cast("int")
                + 1,
                F.lit(N_HIST_BUCKETS),
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(N_HIST_BUCKETS))).alias("bucket"),
    )
    return (
        spine.join(counted, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.col("bucket").cast("int").alias("bucket"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )


ORACLES["events_latest_state"] = (
    "WITH e AS (SELECT user_id, event_type, event_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s, value, "
    "row_number() OVER (PARTITION BY user_id, event_type "
    "ORDER BY epoch_ns(ts) // 1000000000 DESC, event_id DESC) AS rk "
    "FROM events) "
    "SELECT user_id, event_type, event_id AS last_event_id, "
    "s AS last_epoch_sec, round(value, 6) AS last_value "
    "FROM e WHERE rk = 1"
)

ORACLES["events_value_histogram"] = (
    "WITH bounds AS (SELECT event_type, min(value) AS lo, max(value) AS hi "
    "FROM events GROUP BY event_type), "
    "counted AS (SELECT e.event_type, "
    "least(CAST(floor(20 * (e.value - b.lo) / (b.hi - b.lo)) AS INTEGER) "
    "+ 1, 20) AS bucket, "
    "CAST(count(*) AS BIGINT) AS n FROM events e "
    "JOIN bounds b USING (event_type) GROUP BY 1, 2), "
    "spine AS (SELECT event_type, unnest(range(1, 21)) AS bucket "
    "FROM bounds) "
    "SELECT s.event_type, CAST(s.bucket AS INTEGER) AS bucket, "
    "CAST(coalesce(c.n, 0) AS BIGINT) AS n "
    "FROM spine s LEFT JOIN counted c USING (event_type, bucket)"
)

QUERIES["events_latest_state"] = q_events_latest_state
QUERIES["events_value_histogram"] = q_events_value_histogram


WINSOR_LO, WINSOR_HI = 0.01, 0.99


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clamping by per-type percentile fences (winsorization):
    values clamp into [p01, p99] of their own type's distribution and
    the query reports mean before/after plus the clamp count — the
    robustness pass a metrics pipeline runs before aggregating
    heavy-tailed values.  The exact interpolated percentiles are a
    TYPES-sized aggregate joined back broadcast; clamping is a narrow
    map; one corpus-sized groupBy ends it."""
    ev = load_events(spark, sf_dir)
    # r12 (guide §2.2): one array-percentile buffer for both fences —
    # same sorted per-group buffer, bit-identical per rank
    fences = ev.groupBy("event_type").agg(
        F.expr(
            f"percentile(value, array({WINSOR_LO}, {WINSOR_HI}))"
        ).alias("_f"),
    ).select(
        "event_type",
        F.col("_f")[0].alias("lo"),
        F.col("_f")[1].alias("hi"),
    )
    clamped = ev.join(F.broadcast(fences), "event_type").select(
        "event_type",
        "value",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("w"),
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_raw"),
        F.round(F.avg("w"), 6).alias("mean_winsorized"),
        F.sum((F.col("value") < F.col("lo")).cast("long"))
        .cast("long")
        .alias("n_clamped_lo"),
        F.sum((F.col("value") > F.col("hi")).cast("long"))
        .cast("long")
        .alias("n_clamped_hi"),
    )


ORACLES["events_winsorized"] = (
    "WITH fences AS (SELECT event_type, "
    f"quantile_cont(value, {WINSOR_LO}) AS lo, "
    f"quantile_cont(value, {WINSOR_HI}) AS hi "
    "FROM events GROUP BY event_type) "
    "SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "round(avg(e.value), 6) AS mean_raw, "
    "round(avg(least(greatest(e.value, f.lo), f.hi)), 6) "
    "AS mean_winsorized, "
    "CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_clamped_lo, "
    "CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_clamped_hi "
    "FROM events e JOIN fences f USING (event_type) GROUP BY e.event_type"
)

QUERIES["events_winsorized"] = q_events_winsorized


# transition matrix memo: three queries consume it (transitions
# itself, absorption, entropy rate) — without the memo each re-runs
# the full per-user lag window (the r6 bench billed 9.7 s of cold
# window scan to the first consumer)
@memo
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next_type | type) with counts — the sequence-mining
    primitive under session-path and funnel analyses.  ONE user_id
    shuffle for the lag window ((epoch_sec, event_id) total order, so
    ties are deterministic), then a types²-bounded groupBy; the row
    normalizer re-aggregates from the transition counts themselves
    (no second pass) and joins back broadcast.  The types²-sized
    RESULT is cached for its three consumers."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("epoch_sec", "event_id")
    steps = (
        ev.select(
            "user_id",
            "event_type",
            "epoch_sec",
            "event_id",
        )
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = steps.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").cast("long").alias("n"))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("p"),
        )
        .cache()
    )


ORACLES["events_transitions"] = (
    "WITH e AS (SELECT user_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s, event_id "
    "FROM events), "
    "steps AS (SELECT event_type AS from_type, "
    "lead(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id) "
    "AS to_type FROM e), "
    "c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n "
    "FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2), "
    "t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type) "
    "SELECT c.from_type, c.to_type, c.n, round(c.n * 1.0 / t.tot, 6) AS p "
    "FROM c JOIN t USING (from_type)"
)

QUERIES["events_transitions"] = q_events_transitions


def q_events_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day — the DAU rollup.  count(DISTINCT)
    over (day, user) dedups with partial aggregation before the day
    rollup; the approx twin below carries bounded HLL state instead of
    the distinct shuffle."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            (F.expr(f"epoch_sec DIV {DAY_SEC}") * DAY_SEC)
            .cast("long")
            .alias("day_epoch")
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


def q_events_daily_uniques_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL twin of the DAU rollup (rsd 2%): the sketch carries O(log
    log N) state per day instead of shuffling every (day, user) pair —
    the same exact↔sketch pairing discipline as tfidf_df/_approx.
    Rows-only (HLL is engine-specific); pinned by the ±5·rsd
    agreement test against the exact twin."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            (F.expr(f"epoch_sec DIV {DAY_SEC}") * DAY_SEC)
            .cast("long")
            .alias("day_epoch")
        )
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02)
            .cast("long")
            .alias("n_users_approx")
        )
    )


ORACLES["events_daily_uniques"] = (
    "SELECT CAST(epoch_ns(ts) // 1000000000 // 86400 * 86400 AS BIGINT) "
    "AS day_epoch, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
    "CAST(count(*) AS BIGINT) AS n_events "
    "FROM events GROUP BY 1"
)

QUERIES["events_daily_uniques"] = q_events_daily_uniques
QUERIES["events_daily_uniques_approx"] = q_events_daily_uniques_approx


N_EQUIDEPTH = 10  # decile buckets


def q_events_value_histogram_equidepth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-DEPTH histogram per event type — decile buckets hold
    ~equal row counts (the histogram an optimizer or drift monitor
    wants when the distribution is skewed; the equal-width twin
    `events_value_histogram` starves its tail buckets).  Boundaries
    are the type's own exact interpolated percentiles (a types-sized
    aggregate broadcast back), bucket id = 1 + |{boundaries < value}|
    via a higher-order filter over the boundary array — identical
    arithmetic both engines, strict `<` so boundary-equal values land
    deterministically in the lower bucket."""
    ev = load_events(spark, sf_dir)
    qs = ", ".join(
        str(i / N_EQUIDEPTH) for i in range(1, N_EQUIDEPTH)
    )
    bounds = ev.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({qs}))").alias("bounds")
    )
    bucket = F.lit(1) + F.size(
        F.filter(F.col("bounds"), lambda b: b < F.col("value"))
    )
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", bucket.cast("int").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


ORACLES["events_value_histogram_equidepth"] = (
    "WITH bounds AS (SELECT event_type, ["
    + ", ".join(
        f"quantile_cont(value, {i / 10})" for i in range(1, 10)
    )
    + "] AS bs FROM events GROUP BY event_type) "
    "SELECT e.event_type, "
    "CAST(1 + len(list_filter(b.bs, x -> x < e.value)) AS INTEGER) "
    "AS bucket, "
    "CAST(count(*) AS BIGINT) AS n, "
    "round(min(e.value), 6) AS lo, round(max(e.value), 6) AS hi "
    "FROM events e JOIN bounds b USING (event_type) "
    "GROUP BY 1, 2"
)

QUERIES["events_value_histogram_equidepth"] = (
    q_events_value_histogram_equidepth
)


def q_events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity rollup: Shannon entropy of each user's
    event-type mix, summarized per entropy band (bot-detection shape:
    single-type users sit at 0 bits, uniform-mix users near log2 of
    the type count).  Two co-partitioned user_id aggregations — the
    (user, type) counts re-aggregate into per-user totals on the same
    key, no second scan — then a bounded band rollup; log arithmetic
    in the same operation order both engines."""
    ev = load_events(spark, sf_dir)
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("double").alias("c")
    )
    tot = ut.groupBy("user_id").agg(F.sum("c").alias("t"))
    ent = (
        ut.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            (
                -F.sum(
                    (F.col("c") / F.col("t"))
                    * F.log2(F.col("c") / F.col("t"))
                )
            ).alias("h")
        )
    )
    band = F.floor(F.col("h") * 2).cast("int")  # half-bit bands
    return ent.groupBy(band.alias("entropy_band")).agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(F.avg("h"), 6).alias("mean_entropy"),
    )


ORACLES["events_user_entropy"] = (
    "WITH ut AS (SELECT user_id, event_type, "
    "CAST(count(*) AS DOUBLE) AS c FROM events GROUP BY 1, 2), "
    "tot AS (SELECT user_id, sum(c) AS t FROM ut GROUP BY user_id), "
    "ent AS (SELECT ut.user_id, -sum((c / t) * log2(c / t)) AS h "
    "FROM ut JOIN tot USING (user_id) GROUP BY ut.user_id) "
    "SELECT CAST(floor(h * 2) AS INTEGER) AS entropy_band, "
    "CAST(count(*) AS BIGINT) AS n_users, "
    "round(avg(h), 6) AS mean_entropy FROM ent GROUP BY 1"
)

QUERIES["events_user_entropy"] = q_events_user_entropy


WAU_DAYS = 7


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio product
    analytics tracks.  Exact trailing-window distinct WITHOUT a range
    join: each (day, user) activity row fans out to the WAU_DAYS
    target days it contributes to (a bounded 7× narrow explode), then
    one countDistinct per target day; DAU comes from the same distinct
    activity table.  Only full windows emit (the first WAU_DAYS−1
    days lack history)."""
    ev = load_events(spark, sf_dir)
    act = (
        ev.select(
            "user_id",
            (F.expr(f"epoch_sec DIV {DAY_SEC}")).cast("long").alias("day"),
        )
        .distinct()
    )
    dau = act.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    fan = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (WAU_DAYS - 1))
        ).alias("day"),
    )
    wau = fan.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    lo = act.agg(F.min("day").alias("lo"))
    return (
        dau.join(wau, "day")
        .crossJoin(F.broadcast(lo))
        # phantom fan days past the data horizon have no dau row, so
        # the inner join with dau already excludes them
        .filter(F.col("day") >= F.col("lo") + (WAU_DAYS - 1))
        .select(
            (F.col("day") * DAY_SEC).cast("long").alias("day_epoch"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


ORACLES["events_stickiness"] = (
    "WITH act AS (SELECT DISTINCT user_id, "
    f"CAST(epoch_ns(ts) // 1000000000 // {DAY_SEC} AS BIGINT) AS day "
    "FROM events), "
    "dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau "
    "FROM act GROUP BY day), "
    "fan AS (SELECT user_id, unnest(range(day, day + 7)) AS day FROM act), "
    "wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau "
    "FROM fan GROUP BY day), "
    "lo AS (SELECT min(day) AS lo FROM act) "
    f"SELECT CAST(d.day * {DAY_SEC} AS BIGINT) AS day_epoch, d.dau, w.wau, "
    "round(d.dau * 1.0 / w.wau, 6) AS stickiness "
    "FROM dau d JOIN wau w USING (day) CROSS JOIN lo "
    "WHERE d.day >= lo.lo + 6"
)

QUERIES["events_stickiness"] = q_events_stickiness


def q_events_stickiness_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for trailing-window uniques: MERGEABLE
    datasketches HLL — ONE sketch per day (bounded bytes), each day's
    sketch fanned to its WAU_DAYS windows and UNIONED per target day
    (`hll_union_agg`), estimates out.  This is what
    `approx_count_distinct` cannot do (its sketch is not exposed for
    re-merge); daily sketches also persist as the incremental state a
    dashboard service maintains.  Rows-only (sketch internals are
    engine-specific); pinned by an agreement test against the exact
    twin."""
    ev = load_events(spark, sf_dir)
    daily = (
        ev.select(
            "user_id",
            (F.expr(f"epoch_sec DIV {DAY_SEC}")).cast("long").alias("day"),
        )
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    fan = daily.select(
        "sk",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (WAU_DAYS - 1))
        ).alias("day"),
    )
    wau = fan.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("wau_est")
    )
    dau = daily.select(
        "day", F.hll_sketch_estimate("sk").cast("long").alias("dau_est")
    )
    lo = daily.agg(F.min("day").alias("lo"))
    return (
        dau.join(wau, "day")
        .crossJoin(F.broadcast(lo))
        .filter(F.col("day") >= F.col("lo") + (WAU_DAYS - 1))
        .select(
            (F.col("day") * DAY_SEC).cast("long").alias("day_epoch"),
            "dau_est",
            "wau_est",
            F.round(F.col("dau_est") / F.col("wau_est"), 6).alias(
                "stickiness_est"
            ),
        )
    )


QUERIES["events_stickiness_sketch"] = q_events_stickiness_sketch


def q_events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap distribution — the empirical basis for
    the sessionization gap constant (a session cut belongs in the
    valley between within-session and between-visit gap modes):
    per event-type p50/p90/p99 of consecutive-event gaps plus the
    fraction under the session gap.  One user_id shuffle for the lag
    window on the (epoch_sec, event_id) total order, then a
    types-sized percentile rollup."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("epoch_sec", "event_id")
    gaps = (
        ev.select("user_id", "event_type", "epoch_sec", "event_id")
        .withColumn("gap", F.col("epoch_sec") - F.lag("epoch_sec").over(w))
        .filter(F.col("gap").isNotNull())
    )
    # r12 (guide §2.2): one array-percentile buffer for the three
    # ranks — bit-identical per rank, 3 per-group value maps → 1
    return gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.expr("percentile(gap, array(0.5, 0.9, 0.99))").alias("_ps"),
        F.round(
            F.avg((F.col("gap") <= 1800).cast("double")), 6
        ).alias("frac_within_session_gap"),
    ).select(
        "event_type",
        "n_gaps",
        F.col("_ps")[0].alias("p50_sec"),
        F.col("_ps")[1].alias("p90_sec"),
        F.round(F.col("_ps")[2], 6).alias("p99_sec"),
        "frac_within_session_gap",
    )


ORACLES["events_inter_arrival"] = (
    "WITH e AS (SELECT user_id, event_type, event_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "g AS (SELECT event_type, s - lag(s) OVER "
    "(PARTITION BY user_id ORDER BY s, event_id) AS gap FROM e) "
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, "
    "quantile_cont(gap, 0.5) AS p50_sec, "
    "quantile_cont(gap, 0.9) AS p90_sec, "
    "round(quantile_cont(gap, 0.99), 6) AS p99_sec, "
    "round(avg(CASE WHEN gap <= 1800 THEN 1.0 ELSE 0.0 END), 6) "
    "AS frac_within_session_gap "
    "FROM g WHERE gap IS NOT NULL GROUP BY event_type"
)

QUERIES["events_inter_arrival"] = q_events_inter_arrival


def q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per-user first-view → first-purchase delay,
    rolled into p25/p50/p90 + conversion count — the time-to-convert
    companion of `events_funnel` (which counts WHO converts, not how
    fast).  Two stage-filtered min-aggregates co-partitioned on
    user_id, one bounded percentile rollup; only users whose purchase
    follows their first view count (same ordering contract as the
    funnel)."""
    ev = load_events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_buy"))
    )
    lag = (
        v.join(p, "user_id")
        .filter(F.col("t_buy") >= F.col("t_view"))
        .select((F.col("t_buy") - F.col("t_view")).alias("lag_sec"))
    )
    # r12 (guide §2.2): one array-percentile buffer for the three ranks
    return lag.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.expr("percentile(lag_sec, array(0.25, 0.5, 0.9))").alias("_ps"),
    ).select(
        "n_converted",
        F.col("_ps")[0].alias("p25_sec"),
        F.col("_ps")[1].alias("p50_sec"),
        F.round(F.col("_ps")[2], 6).alias("p90_sec"),
    )


ORACLES["events_conversion_lag"] = (
    "WITH e AS (SELECT user_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "v AS (SELECT user_id, min(s) AS t_view FROM e "
    "WHERE event_type = 'view' GROUP BY user_id), "
    "p AS (SELECT user_id, min(s) AS t_buy FROM e "
    "WHERE event_type = 'purchase' GROUP BY user_id), "
    "lag AS (SELECT p.t_buy - v.t_view AS lag_sec "
    "FROM v JOIN p USING (user_id) WHERE p.t_buy >= v.t_view) "
    "SELECT CAST(count(*) AS BIGINT) AS n_converted, "
    "quantile_cont(lag_sec, 0.25) AS p25_sec, "
    "quantile_cont(lag_sec, 0.5) AS p50_sec, "
    "round(quantile_cont(lag_sec, 0.9), 6) AS p90_sec FROM lag"
)

QUERIES["events_conversion_lag"] = q_events_conversion_lag


def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality heatmap: event volume per (day-of-week,
    hour-of-day) cell.  Day-of-week comes from epoch arithmetic
    ((days since 1970-01-01 + 4) % 7, Thursday-anchored, 0 = Sunday)
    rather than either engine's dayofweek() — Spark counts 1=Sunday,
    DuckDB 0=Sunday, so the portable form IS the arithmetic.  One
    groupBy to a 168-cell result."""
    ev = load_events(spark, sf_dir)
    return (
        ev.select(
            (
                (F.expr(f"epoch_sec DIV {DAY_SEC}") + 4) % 7
            ).cast("int").alias("dow"),
            (F.expr("epoch_sec DIV 3600") % 24).cast("int").alias("hour"),
            "value",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


ORACLES["events_dow_hour_heatmap"] = (
    "SELECT CAST((epoch_ns(ts) // 1000000000 // 86400 + 4) % 7 "
    "AS INTEGER) AS dow, "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 % 24 AS INTEGER) AS hour, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "round(sum(value), 6) AS sum_value "
    "FROM events GROUP BY 1, 2"
)

QUERIES["events_dow_hour_heatmap"] = q_events_dow_hour_heatmap


def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily acquisition split: events and users per day broken into
    NEW (first-ever-seen that day) vs RETURNING — the companion the
    retention matrix reads against.  First-seen day is one min-agg
    per user joined back user_id-co-partitioned; the rollup is
    days-bounded."""
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        (F.expr(f"epoch_sec DIV {DAY_SEC}")).cast("long").alias("day"),
    )
    first = base.groupBy("user_id").agg(F.min("day").alias("first_day"))
    tagged = base.join(first, "user_id").withColumn(
        "is_new", F.col("day") == F.col("first_day")
    )
    return tagged.groupBy(
        (F.col("day") * DAY_SEC).cast("long").alias("day_epoch")
    ).agg(
        F.countDistinct(F.when(F.col("is_new"), F.col("user_id")))
        .cast("long")
        .alias("new_users"),
        F.countDistinct(F.when(~F.col("is_new"), F.col("user_id")))
        .cast("long")
        .alias("returning_users"),
        # when/otherwise, not is_new.cast + (~is_new).cast: a NULL
        # is_new (NULL day) would drop the event from BOTH sides while
        # the oracle's CASE ... ELSE 1 counts it returning (rel_q12's
        # latent NULL class, ADVICE r8)
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("long")
        .alias("new_events"),
        F.sum(F.when(F.col("is_new"), 0).otherwise(1))
        .cast("long")
        .alias("returning_events"),
    )


ORACLES["events_new_vs_returning"] = (
    "WITH base AS (SELECT user_id, "
    f"CAST(epoch_ns(ts) // 1000000000 // {DAY_SEC} AS BIGINT) AS day "
    "FROM events), "
    "f AS (SELECT user_id, min(day) AS first_day FROM base "
    "GROUP BY user_id), "
    "t AS (SELECT b.user_id, b.day, b.day = f.first_day AS is_new "
    "FROM base b JOIN f USING (user_id)) "
    f"SELECT CAST(day * {DAY_SEC} AS BIGINT) AS day_epoch, "
    "CAST(count(DISTINCT CASE WHEN is_new THEN user_id END) AS BIGINT) "
    "AS new_users, "
    "CAST(count(DISTINCT CASE WHEN NOT is_new THEN user_id END) AS BIGINT) "
    "AS returning_users, "
    "CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) "
    "AS new_events, "
    "CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) "
    "AS returning_events "
    "FROM t GROUP BY day"
)

QUERIES["events_new_vs_returning"] = q_events_new_vs_returning


def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly volumes per event type — the
    stationarity gauge (r₁ ≈ 0: arrivals are memoryless hour to hour;
    r₁ → 1: trending/bursty).  Pearson r over (x_t, x_{t−1}) pairs
    from the hourly aggregate: one lag window over the HOURS-bounded
    count table, then r computed from EXACT integer sums (Σx, Σy,
    Σxy, Σx², Σy² — counts are integers, so both engines assemble r
    from identical values in identical order; a built-in corr()
    accumulates in engine-specific order)."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        (F.expr("epoch_sec DIV 3600")).cast("long").alias("h"),
    ).agg(F.count("*").cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = hourly.withColumn("y", F.lag("x").over(w)).filter(
        F.col("y").isNotNull()
    )
    s = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("lag1_autocorr"),
    )


ORACLES["events_autocorr"] = (
    "WITH hourly AS (SELECT event_type, "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS h, "
    "CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), "
    "pairs AS (SELECT event_type, x, lag(x) OVER "
    "(PARTITION BY event_type ORDER BY h) AS y FROM hourly), "
    "s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, "
    "CAST(sum(x * y) AS BIGINT) AS sxy, "
    "CAST(sum(x * x) AS BIGINT) AS sxx, "
    "CAST(sum(y * y) AS BIGINT) AS syy "
    "FROM pairs WHERE y IS NOT NULL GROUP BY event_type) "
    "SELECT event_type, n AS n_pairs, "
    "round((n * sxy - sx * sy) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) "
    "* CAST(n * syy - sy * sy AS DOUBLE)), 6) AS lag1_autocorr "
    "FROM s"
)

QUERIES["events_autocorr"] = q_events_autocorr


def q_events_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative registered-user curve: users whose FIRST event falls
    on each day, plus the running total — the growth chart.  The
    first-seen trick again (one min-agg per user, never an ordered
    scan); the cumulative window runs over the days-bounded rollup."""
    ev = load_events(spark, sf_dir)
    first = (
        ev.select(
            "user_id",
            (F.expr(f"epoch_sec DIV {DAY_SEC}")).cast("long").alias("day"),
        )
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    per_day = first.groupBy("first_day").agg(
        F.count("*").cast("long").alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        (F.col("first_day") * DAY_SEC).cast("long").alias("day_epoch"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


ORACLES["events_user_growth"] = (
    "WITH f AS (SELECT user_id, "
    f"min(CAST(epoch_ns(ts) // 1000000000 // {DAY_SEC} AS BIGINT)) "
    "AS first_day FROM events GROUP BY user_id), "
    "pd AS (SELECT first_day, CAST(count(*) AS BIGINT) AS new_users "
    "FROM f GROUP BY first_day) "
    f"SELECT CAST(first_day * {DAY_SEC} AS BIGINT) AS day_epoch, new_users, "
    "CAST(sum(new_users) OVER (ORDER BY first_day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cum_users FROM pd"
)

QUERIES["events_user_growth"] = q_events_user_growth


POWER_PCT = 0.99


def q_events_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: the top-1%-by-event-count users and
    the share of all events they generate (the abuse/whale gauge).
    The p99 fence is a 1-row exact-percentile aggregate over the
    per-user counts broadcast back — no global rank/ntile pass —
    and the summary is one bounded row."""
    ev = load_events(spark, sf_dir)
    per = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    fence = per.agg(
        F.expr(f"percentile(n, {POWER_PCT})").alias("p99"),
        F.sum("n").cast("long").alias("total_events"),
        F.count("*").cast("long").alias("total_users"),
    )
    return (
        per.crossJoin(F.broadcast(fence))
        .filter(F.col("n") > F.col("p99"))
        .agg(
            F.count("*").cast("long").alias("n_power_users"),
            F.sum("n").cast("long").alias("power_events"),
            F.first("total_users").cast("long").alias("total_users"),
            F.round(
                F.sum("n") / F.first("total_events"), 6
            ).alias("event_share"),
        )
    )


ORACLES["events_power_users"] = (
    "WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n "
    "FROM events GROUP BY user_id), "
    f"f AS (SELECT quantile_cont(n, {0.99}) AS p99, "
    "CAST(sum(n) AS BIGINT) AS total_events, "
    "CAST(count(*) AS BIGINT) AS total_users FROM per) "
    "SELECT CAST(count(*) AS BIGINT) AS n_power_users, "
    "CAST(sum(per.n) AS BIGINT) AS power_events, "
    "CAST(max(f.total_users) AS BIGINT) AS total_users, "
    "round(sum(per.n) * 1.0 / max(f.total_events), 6) AS event_share "
    "FROM per CROSS JOIN f WHERE per.n > f.p99"
)

QUERIES["events_power_users"] = q_events_power_users


QUERIES["events_retention"] = q_events_retention
QUERIES["events_anomaly"] = q_events_anomaly


MAD_K = 1.4826  # normal-consistency constant
MAD_FENCE = 3.0


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier census: median / MAD (median absolute
    deviation) fences instead of mean/stddev — a fat-tailed value
    column shifts the mean-based fence until real anomalies pass, while
    the median/MAD fence stays put (the robust-statistics twin of
    events_anomaly's z-scores).

    Scale: two grouped EXACT percentiles over the same event_type key
    (bounded group count), each result broadcast back — never a global
    sort; the outlier count is a narrow comparison map."""
    ev = load_events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                (
                    F.col("adev") > MAD_FENCE * MAD_K * F.col("mad")
                ).cast("bigint")
            ).alias("n_outliers"),
            F.round(
                F.sum(
                    (
                        F.col("adev") > MAD_FENCE * MAD_K * F.col("mad")
                    ).cast("bigint")
                )
                / F.count("*"),
                6,
            ).alias("outlier_share"),
        )
    )


ORACLES["events_mad_outliers"] = (
    "WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med "
    "FROM events GROUP BY 1), "
    "d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS adev "
    "FROM events e JOIN m USING (event_type)), "
    "md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad "
    "FROM d GROUP BY 1) "
    "SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "round(max(d.med), 6) AS median_value, "
    "round(max(md.mad), 6) AS mad, "
    f"CAST(sum(CASE WHEN d.adev > {MAD_FENCE} * {MAD_K} * md.mad "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, "
    f"round(sum(CASE WHEN d.adev > {MAD_FENCE} * {MAD_K} * md.mad "
    "THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS outlier_share "
    "FROM d JOIN md USING (event_type) GROUP BY d.event_type"
)

QUERIES["events_mad_outliers"] = q_events_mad_outliers


SLO_BUDGET = 0.25  # error-share budget (the corpus runs ~20% errors)
BURN_ALERT = 1.2  # multiplier: page when BOTH windows burn this fast


def q_events_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE multi-window burn-rate monitor: per-hour error share over
    the short (1 bucket) and long (trailing 6 observed buckets)
    windows, burn = share / budget, and the page-worthy flag only when
    BOTH windows burn > BURN_ALERT× (the Google SRE workbook rule —
    the short window catches onset, the long window filters blips).

    Scale: the trailing window runs over the HOURLY ROLLUP (bounded:
    hours, not events) — the same tiny-aggregate global window shape
    as the user-growth curve; the fact scan aggregates once.  The
    trailing frame is ROWS-based over observed buckets (zero-event
    hours don't materialize), identical on both engines."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        (F.expr("epoch_sec DIV 3600") * 3600).cast("long").alias("hour_epoch")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias(
            "n_errors"
        ),
    )
    w6 = Window.orderBy("hour_epoch").rowsBetween(-5, 0)
    rated = hourly.select(
        "hour_epoch",
        "n_events",
        "n_errors",
        (F.col("n_errors") / F.col("n_events")).alias("short_rate"),
        (F.sum("n_errors").over(w6) / F.sum("n_events").over(w6)).alias(
            "long_rate"
        ),
    )
    return rated.select(
        "hour_epoch",
        "n_events",
        "n_errors",
        F.round("short_rate", 6).alias("short_rate"),
        F.round("long_rate", 6).alias("long_rate"),
        F.round(F.col("short_rate") / SLO_BUDGET, 6).alias("short_burn"),
        (
            (F.col("short_rate") / SLO_BUDGET > BURN_ALERT)
            & (F.col("long_rate") / SLO_BUDGET > BURN_ALERT)
        )
        .cast("int")
        .alias("page"),
    )


ORACLES["events_burn_rate"] = (
    "WITH hourly AS (SELECT "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) AS hour_epoch, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_errors FROM events GROUP BY 1), "
    "rated AS (SELECT hour_epoch, n_events, n_errors, "
    "n_errors / CAST(n_events AS DOUBLE) AS short_rate, "
    "sum(n_errors) OVER w / CAST(sum(n_events) OVER w AS DOUBLE) "
    "AS long_rate FROM hourly "
    "WINDOW w AS (ORDER BY hour_epoch "
    "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) "
    "SELECT hour_epoch, n_events, n_errors, "
    "round(short_rate, 6) AS short_rate, "
    "round(long_rate, 6) AS long_rate, "
    f"round(short_rate / {SLO_BUDGET}, 6) AS short_burn, "
    f"CAST(short_rate / {SLO_BUDGET} > {BURN_ALERT} "
    f"AND long_rate / {SLO_BUDGET} > {BURN_ALERT} AS INTEGER) AS page "
    "FROM rated"
)

QUERIES["events_burn_rate"] = q_events_burn_rate


ACTIVITY_WINDOW_SEC = 1800


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per event type: each event opens a
    30-minute activity interval; the answer is the max number of
    simultaneously open intervals (capacity planning's "how many
    concurrent is peak load").

    The textbook sweep is ONE global running sum over ±1 deltas — a
    single-partition window at scale.  This decomposes it exactly:
    running sums restart per (type, DAY) partition (thousands of
    bounded partitions), and each day adds the cumulative sum of all
    PRIOR days' deltas — a days-sized rollup window — as a broadcast
    offset.  partial + offset ≡ the global running sum, and the
    per-type MAX is invariant to tie order among equal (t, delta)
    rows, so only the peak is exposed.

    Intervals straddling midnight stay correct: a start counted on
    day d carries into day d+1 through the offset (its −1 lands at
    its true end time, not at the boundary)."""
    ev = load_events(spark, sf_dir).select("event_type", "epoch_sec")
    starts = ev.select(
        "event_type", F.col("epoch_sec").alias("s"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("epoch_sec") + ACTIVITY_WINDOW_SEC).alias("s"),
        F.lit(-1).alias("delta"),
    )
    deltas = starts.unionByName(ends).withColumn(
        "day", F.expr(f"s DIV {DAY_SEC}")
    )
    w_in = (
        Window.partitionBy("event_type", "day")
        .orderBy("s", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    partial = deltas.withColumn("run_in_day", F.sum("delta").over(w_in))
    day_tot = deltas.groupBy("event_type", "day").agg(
        F.sum("delta").alias("day_sum")
    )
    w_days = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = day_tot.select(
        "event_type",
        "day",
        F.coalesce(F.sum("day_sum").over(w_days), F.lit(0)).alias("offset"),
    )
    run = partial.join(offsets, ["event_type", "day"]).select(
        "event_type",
        (F.col("run_in_day") + F.col("offset")).alias("concurrency"),
        "delta",
    )
    return run.groupBy("event_type").agg(
        F.max("concurrency").cast("long").alias("peak_concurrency"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_intervals"),
    )


ORACLES["events_peak_concurrency"] = (
    "WITH b AS (SELECT event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "d AS (SELECT event_type, s, 1 AS delta FROM b "
    f"UNION ALL SELECT event_type, s + {ACTIVITY_WINDOW_SEC}, -1 FROM b), "
    "r AS (SELECT event_type, delta, sum(delta) OVER ("
    "PARTITION BY event_type ORDER BY s, delta "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM d) "
    "SELECT event_type, CAST(max(c) AS BIGINT) AS peak_concurrency, "
    "CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_intervals FROM r GROUP BY event_type"
)

QUERIES["events_peak_concurrency"] = q_events_peak_concurrency


PATH_GAP_SEC = 1800
TOP_PATHS_K = 20


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths: consecutive event-type trigrams
    per user where each hop happens within the session gap — the
    "what do users actually do" complement to the fixed-stage funnel
    (funnels test a hypothesis; path mining discovers them).

    Scale: lead() windows partition BY USER (bounded rows each), the
    trigram rollup collapses to the |types|³-bounded path space
    map-side, and the top-K is a TakeOrderedAndProject over that tiny
    table — no global sort anywhere."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "epoch_sec", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("epoch_sec", "event_id")
    tri = ev.select(
        F.col("event_type").alias("t1"),
        F.col("epoch_sec").alias("s1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("epoch_sec", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("t3"),
        F.lead("epoch_sec", 2).over(w).alias("s3"),
    ).filter(
        F.col("t3").isNotNull()
        & (F.col("s2") - F.col("s1") <= PATH_GAP_SEC)
        & (F.col("s3") - F.col("s2") <= PATH_GAP_SEC)
    )
    paths = tri.groupBy(
        F.concat_ws(">", "t1", "t2", "t3").alias("path")
    ).agg(F.count("*").alias("n"))
    return paths.orderBy(F.desc("n"), F.asc("path")).limit(TOP_PATHS_K)


ORACLES["events_top_paths"] = (
    "WITH b AS (SELECT user_id, event_type, event_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "tri AS (SELECT event_type AS t1, s AS s1, "
    "lead(event_type, 1) OVER w AS t2, lead(s, 1) OVER w AS s2, "
    "lead(event_type, 2) OVER w AS t3, lead(s, 2) OVER w AS s3 "
    "FROM b WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)) "
    "SELECT t1 || '>' || t2 || '>' || t3 AS path, "
    "CAST(count(*) AS BIGINT) AS n FROM tri "
    f"WHERE t3 IS NOT NULL AND s2 - s1 <= {PATH_GAP_SEC} "
    f"AND s3 - s2 <= {PATH_GAP_SEC} "
    f"GROUP BY 1 ORDER BY n DESC, path LIMIT {TOP_PATHS_K}"
)

QUERIES["events_top_paths"] = q_events_top_paths


DEBOUNCE_SEC = 60


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce audit: an event is a DUPLICATE FIRING if the
    same user emitted the same type within the preceding minute (held
    buttons, retry storms, double-clicks).  Per type: total, kept,
    dropped, drop share — the dashboard that says which instrumentation
    needs client-side debouncing.

    Scale: one lag() window per (user, type) — bounded independent
    partitions — then a types-bounded rollup."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "epoch_sec", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "epoch_sec", "event_id"
    )
    flagged = ev.select(
        "event_type",
        (
            F.col("epoch_sec") - F.lag("epoch_sec").over(w) <= DEBOUNCE_SEC
        ).alias("dropped"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("dropped"), 0).otherwise(1)
        ).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.round(
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)) / F.count("*"),
            6,
        ).alias("drop_share"),
    )


ORACLES["events_debounce"] = (
    "WITH b AS (SELECT user_id, event_type, event_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "f AS (SELECT event_type, "
    f"(s - lag(s) OVER w) <= {DEBOUNCE_SEC} AS dropped FROM b "
    "WINDOW w AS (PARTITION BY user_id, event_type ORDER BY s, event_id)) "
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept, "
    "CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, "
    "round(sum(CASE WHEN dropped THEN 1 ELSE 0 END) "
    "/ CAST(count(*) AS DOUBLE), 6) AS drop_share "
    "FROM f GROUP BY event_type"
)

QUERIES["events_debounce"] = q_events_debounce


PSI_EPS = 0.5  # Laplace smoothing count per bucket


def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor over the value column:
    decile fences learned on the FIRST half of the time range, both
    halves bucketed against those same fences, per-bucket PSI
    contribution (p2−p1)·ln(p2/p1) with Laplace smoothing — the
    standard ML-ops "did the feature distribution move" gauge
    (PSI > 0.2 = retrain).

    Scale: fences are ONE 9-quantile aggregate over period 1
    broadcast back (never a global rank), bucketing is a narrow
    compare chain, and the rollup is 10 rows."""
    ev = load_events(spark, sf_dir).select("epoch_sec", "value")
    cut = ev.agg(
        F.expr("(min(epoch_sec) + max(epoch_sec)) DIV 2").alias("cut")
    )
    tagged = ev.crossJoin(F.broadcast(cut)).select(
        (F.col("epoch_sec") >= F.col("cut")).cast("int").alias("period"),
        "value",
    )
    fences = (
        tagged.filter(F.col("period") == 0)
        .agg(
            F.expr(
                "percentile(value, array(0.1,0.2,0.3,0.4,0.5,"
                "0.6,0.7,0.8,0.9))"
            ).alias("f")
        )
    )
    bucket = F.lit(1)
    for i in range(9):
        bucket = bucket + (F.col("value") > F.col("f")[i]).cast("int")
    counts = (
        tagged.crossJoin(F.broadcast(fences))
        .select("period", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("period") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n2"),
        )
    )
    tot = counts.agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n1",
            "n2",
            F.round(
                (F.col("n1") + PSI_EPS) / (F.col("t1") + 10 * PSI_EPS), 6
            ).alias("p1"),
            F.round(
                (F.col("n2") + PSI_EPS) / (F.col("t2") + 10 * PSI_EPS), 6
            ).alias("p2"),
            F.round(
                (
                    (F.col("n2") + PSI_EPS) / (F.col("t2") + 10 * PSI_EPS)
                    - (F.col("n1") + PSI_EPS) / (F.col("t1") + 10 * PSI_EPS)
                )
                * F.log(
                    ((F.col("n2") + PSI_EPS) / (F.col("t2") + 10 * PSI_EPS))
                    / ((F.col("n1") + PSI_EPS) / (F.col("t1") + 10 * PSI_EPS))
                ),
                6,
            ).alias("psi_contrib"),
        )
    )


ORACLES["events_psi_drift"] = (
    "WITH b AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s, "
    "value FROM events), "
    "cut AS (SELECT (min(s) + max(s)) // 2 AS cut FROM b), "
    "tagged AS (SELECT CAST(s >= cut AS INTEGER) AS period, value "
    "FROM b, cut), "
    "f AS (SELECT quantile_cont(value, "
    "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS f "
    "FROM tagged WHERE period = 0), "
    "cnt AS (SELECT 1 "
    + " ".join(
        f"+ CAST(value > f[{i + 1}] AS INTEGER)" for i in range(9)
    )
    + " AS bucket, period FROM tagged, f), "
    "counts AS (SELECT bucket, "
    "CAST(sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2 "
    "FROM cnt GROUP BY bucket), "
    "tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM counts) "
    "SELECT bucket, n1, n2, "
    f"round((n1 + {PSI_EPS}) / (t1 + {10 * PSI_EPS}), 6) AS p1, "
    f"round((n2 + {PSI_EPS}) / (t2 + {10 * PSI_EPS}), 6) AS p2, "
    f"round(((n2 + {PSI_EPS}) / (t2 + {10 * PSI_EPS}) "
    f"- (n1 + {PSI_EPS}) / (t1 + {10 * PSI_EPS})) "
    f"* ln(((n2 + {PSI_EPS}) / (t2 + {10 * PSI_EPS})) "
    f"/ ((n1 + {PSI_EPS}) / (t1 + {10 * PSI_EPS}))), 6) AS psi_contrib "
    "FROM counts, tot"
)

QUERIES["events_psi_drift"] = q_events_psi_drift


SEASONAL_TOP_K = 20


def q_events_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted volume anomalies: hourly event counts
    compared against the mean/std OF THE SAME WEEK-PHASE (dow×hour
    slot) — Monday-9am compares to other Monday-9ams, so weekly
    rhythm doesn't read as anomaly the way it does in a global
    z-score (events_anomaly is the unconditioned twin).  Top-20
    |z| buckets on a rounded total order.

    Scale: hourly rollup (bounded), 168-slot phase aggregate broadcast
    back, TakeOrderedAndProject for the cut."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.expr("epoch_sec DIV 3600").cast("long").alias("hour_idx")
    ).agg(F.count("*").cast("long").alias("vol"))
    hourly = hourly.withColumn(
        "phase", (F.col("hour_idx") % 168).cast("int")
    )
    stats = hourly.groupBy("phase").agg(
        F.avg("vol").alias("mu"),
        F.stddev_pop("vol").alias("sigma"),
        F.count("*").alias("n_weeks"),
    )
    z = (
        hourly.join(F.broadcast(stats), "phase")
        .filter(F.col("sigma") > 0)
        .select(
            (F.col("hour_idx") * 3600).cast("long").alias("hour_epoch"),
            "phase",
            "vol",
            F.round("mu", 6).alias("mu"),
            F.round(
                (F.col("vol") - F.col("mu")) / F.col("sigma"), 6
            ).alias("z"),
        )
    )
    return (
        z.withColumn("abs_z", F.abs(F.col("z")))
        .orderBy(F.desc("abs_z"), F.asc("hour_epoch"))
        .limit(SEASONAL_TOP_K)
        .drop("abs_z")
    )


ORACLES["events_seasonal_residuals"] = (
    "WITH h AS (SELECT "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hour_idx, "
    "CAST(count(*) AS BIGINT) AS vol FROM events GROUP BY 1), "
    "p AS (SELECT hour_idx, vol, "
    "CAST(hour_idx % 168 AS INTEGER) AS phase FROM h), "
    "s AS (SELECT phase, avg(vol) AS mu, stddev_pop(vol) AS sigma "
    "FROM p GROUP BY phase) "
    "SELECT CAST(p.hour_idx * 3600 AS BIGINT) AS hour_epoch, p.phase, "
    "p.vol, round(s.mu, 6) AS mu, "
    "round((p.vol - s.mu) / s.sigma, 6) AS z "
    "FROM p JOIN s USING (phase) WHERE s.sigma > 0 "
    f"ORDER BY abs(round((p.vol - s.mu) / s.sigma, 6)) DESC, hour_epoch "
    f"LIMIT {SEASONAL_TOP_K}"
)

QUERIES["events_seasonal_residuals"] = q_events_seasonal_residuals


def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: users grouped by first-active
    WEEK, value mass at each week of age, cumulative LTV per user —
    the growth-accounting twin of the retention matrix (retention
    counts who came back; this prices what they were worth).

    Scale: first-active is one min-agg per user (the retention
    trick), the value mass joins that user-keyed aggregate once, and
    the cumulative window runs over the weeks×weeks-bounded rollup."""
    ev = load_events(spark, sf_dir)
    days = ev.select(
        "user_id",
        F.expr(f"epoch_sec DIV {DAY_SEC}").cast("long").alias("day"),
        "value",
    )
    first = days.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    aged = days.join(first, "user_id").select(
        F.expr("first_day DIV 7").cast("long").alias("cohort_week"),
        F.expr("(day - first_day) DIV 7").cast("long").alias("age_week"),
        "user_id",
        "value",
    )
    sizes = first.groupBy(
        F.expr("first_day DIV 7").cast("long").alias("cohort_week")
    ).agg(F.count("*").cast("long").alias("n_users"))
    cell = aged.groupBy("cohort_week", "age_week").agg(
        F.round(F.sum("value"), 6).alias("sum_value")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "n_users",
            "sum_value",
            F.round(F.sum("sum_value").over(w), 6).alias("cum_value"),
            F.round(
                F.sum("sum_value").over(w) / F.col("n_users"), 6
            ).alias("ltv_per_user"),
        )
    )


ORACLES["events_cohort_ltv"] = (
    "WITH d AS (SELECT user_id, "
    f"CAST(epoch_ns(ts) // 1000000000 // {DAY_SEC} AS BIGINT) AS day, "
    "value FROM events), "
    "f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id), "
    "sizes AS (SELECT CAST(first_day // 7 AS BIGINT) AS cohort_week, "
    "CAST(count(*) AS BIGINT) AS n_users FROM f GROUP BY 1), "
    "aged AS (SELECT CAST(f.first_day // 7 AS BIGINT) AS cohort_week, "
    "CAST((d.day - f.first_day) // 7 AS BIGINT) AS age_week, d.value "
    "FROM d JOIN f USING (user_id)), "
    "cell AS (SELECT cohort_week, age_week, round(sum(value), 6) "
    "AS sum_value FROM aged GROUP BY 1, 2) "
    "SELECT c.cohort_week, c.age_week, s.n_users, c.sum_value, "
    "round(sum(c.sum_value) OVER w, 6) AS cum_value, "
    "round(sum(c.sum_value) OVER w / s.n_users, 6) AS ltv_per_user "
    "FROM cell c JOIN sizes s USING (cohort_week) "
    "WINDOW w AS (PARTITION BY c.cohort_week ORDER BY c.age_week "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)

QUERIES["events_cohort_ltv"] = q_events_cohort_ltv


CHURN_IDLE_DAYS = 7


def q_events_churn_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn by signup cohort: a user is CHURNED if their last event
    precedes the corpus horizon by more than the idle window — the
    survival complement of the retention matrix, per first-active
    week.  Two min/max aggregates per user (one shuffle), horizon as
    a 1-row broadcast scalar, weeks-bounded rollup."""
    ev = load_events(spark, sf_dir)
    span = ev.agg(F.max("epoch_sec").alias("horizon"))
    per_user = ev.groupBy("user_id").agg(
        F.min("epoch_sec").alias("first_s"),
        F.max("epoch_sec").alias("last_s"),
    )
    flagged = per_user.crossJoin(F.broadcast(span)).select(
        F.expr(f"first_s DIV {DAY_SEC} DIV 7").cast("long").alias(
            "cohort_week"
        ),
        (
            F.col("last_s")
            < F.col("horizon") - CHURN_IDLE_DAYS * DAY_SEC
        )
        .cast("int")
        .alias("churned"),
    )
    return flagged.groupBy("cohort_week").agg(
        F.count("*").alias("n_users"),
        F.sum("churned").cast("long").alias("n_churned"),
        F.round(F.sum("churned") / F.count("*"), 6).alias("churn_rate"),
    )


ORACLES["events_churn_by_cohort"] = (
    "WITH b AS (SELECT user_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "h AS (SELECT max(s) AS horizon FROM b), "
    "pu AS (SELECT user_id, min(s) AS first_s, max(s) AS last_s "
    "FROM b GROUP BY user_id), "
    f"f AS (SELECT CAST(first_s // {DAY_SEC} // 7 AS BIGINT) "
    "AS cohort_week, "
    f"CAST(last_s < horizon - {CHURN_IDLE_DAYS * DAY_SEC} AS INTEGER) "
    "AS churned FROM pu, h) "
    "SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users, "
    "CAST(sum(churned) AS BIGINT) AS n_churned, "
    "round(sum(churned) / CAST(count(*) AS DOUBLE), 6) AS churn_rate "
    "FROM f GROUP BY cohort_week"
)

QUERIES["events_churn_by_cohort"] = q_events_churn_by_cohort


# --- mergeable HLL sketch rollup (incremental distinct at scale) -----


def q_events_uniques_sketch_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily DAU as MERGEABLE HLL sketches (Datasketches
    ``hll_sketch_agg``), then the period total by UNIONING the daily
    sketches — never re-touching the raw events.  This is the pattern
    that makes distinct-counting incremental at 100 TB: each ingest
    day persists an O(KB) binary sketch; weekly/monthly/all-time
    uniques are `hll_union_agg` over the stored sketches instead of a
    full re-scan + distinct shuffle of the corpus.  The day rows carry
    their own estimates; the `day_epoch = -1` row is the merged
    period total (NOT the sum of dailies — overlap dedups through the
    union, which a sum would double-count).

    Rows-only (sketch estimates are engine-specific; DuckDB's HLL
    differs); tests/test_sketch_rollup.py pins (a) estimate-vs-exact
    relative error for every day and the total, and (b) that the
    merged total is well below the sum of dailies (the union really
    dedups)."""
    ev = load_events(spark, sf_dir)
    day = (
        (F.expr(f"epoch_sec DIV {DAY_SEC}") * DAY_SEC)
        .cast("long")
        .alias("day_epoch")
    )
    daily_sk = ev.groupBy(day).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    daily = daily_sk.select(
        "day_epoch",
        F.hll_sketch_estimate("sk").cast("long").alias("n_users_sketch"),
    )
    total = daily_sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("n_users_sketch")
    ).select(F.lit(-1).cast("long").alias("day_epoch"), "n_users_sketch")
    return daily.unionByName(total)


# rows-only: no ORACLES entry (engine-specific sketch bytes)
QUERIES["events_uniques_sketch_rollup"] = (
    q_events_uniques_sketch_rollup
)


# --- time-bounded funnel (windowed step deadlines) -------------------

FUNNEL_STEP1_SEC = 3600      # view → click within 1 hour
FUNNEL_STEP2_SEC = 86400     # click → purchase within 24 hours


def q_events_funnel_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The third member of the funnel family: ``events_funnel``
    measures lifetime conversion, ``events_sessionized_funnel``
    bounds steps to one visit, THIS bounds each step by a DEADLINE
    (click within 1 h of first view, purchase within 24 h of that
    click) — the product-analytics default, because "converted three
    weeks later" usually isn't attributable to the view.

    Same scale shape as the lifetime funnel (stage filter pushed to
    the scan, per-user min-aggregates chained by co-partitioned
    joins); the deadline is one extra residual predicate on each
    stage join — no window, no session state."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", "epoch_sec"
    )
    views = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[1])
        .join(views, "user_id")
        .filter(
            (F.col("epoch_sec") >= F.col("t_view"))
            & (F.col("epoch_sec") <= F.col("t_view") + FUNNEL_STEP1_SEC)
        )
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[2])
        .join(clicks, "user_id")
        .filter(
            (F.col("epoch_sec") >= F.col("t_click"))
            & (F.col("epoch_sec") <= F.col("t_click") + FUNNEL_STEP2_SEC)
        )
        .groupBy("user_id")
        .agg(F.min("epoch_sec").alias("t_purchase"))
    )
    return (
        views.agg(F.count("*").cast("long").alias("n_viewed"))
        .crossJoin(clicks.agg(F.count("*").cast("long").alias("n_clicked")))
        .crossJoin(
            purchases.agg(F.count("*").cast("long").alias("n_purchased"))
        )
        .withColumn(
            "view_to_click",
            F.round(F.col("n_clicked") / F.col("n_viewed"), 6),
        )
        .withColumn(
            "click_to_purchase",
            F.round(F.col("n_purchased") / F.col("n_clicked"), 6),
        )
    )


QUERIES["events_funnel_windowed"] = q_events_funnel_windowed
ORACLES["events_funnel_windowed"] = (
    "WITH base AS (SELECT user_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "v AS (SELECT user_id, min(s) AS t_view FROM base "
    f"WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id), "
    "c AS (SELECT b.user_id, min(b.s) AS t_click FROM base b "
    f"JOIN v USING (user_id) WHERE b.event_type = '{FUNNEL_STAGES[1]}' "
    f"AND b.s >= v.t_view AND b.s <= v.t_view + {FUNNEL_STEP1_SEC} "
    "GROUP BY b.user_id), "
    "p AS (SELECT b.user_id, min(b.s) AS t_purchase FROM base b "
    f"JOIN c USING (user_id) WHERE b.event_type = '{FUNNEL_STAGES[2]}' "
    f"AND b.s >= c.t_click AND b.s <= c.t_click + {FUNNEL_STEP2_SEC} "
    "GROUP BY b.user_id) "
    "SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed, "
    "(SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked, "
    "(SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased, "
    "round((SELECT count(*) FROM c) * 1.0 / "
    "(SELECT count(*) FROM v), 6) AS view_to_click, "
    "round((SELECT count(*) FROM p) * 1.0 / "
    "(SELECT count(*) FROM c), 6) AS click_to_purchase"
)


JOURNEY_MOD = 199  # deterministic ~0.5% user sample for replay/QA


def q_events_journey_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-replay extraction: the FULL ordered event-type journey
    for a deterministic user sample (user_id % JOURNEY_MOD == 0) as one
    '>'-joined string (scalar columns only — the driver's pandas
    canonicalizer cannot hash list cells, CORRECTNESS_r05) — what a QA
    engineer or a sequence-model training job
    pulls when aggregate path counts (events_top_paths) aren't enough
    and they need the raw trajectories, reproducibly.

    Scale shape: the sample filter is a narrow map BEFORE any shuffle,
    so the collect_list only ever materializes journeys for the
    sampled sliver; per-user arrays are bounded by that user's own
    activity (the same bound sessionization already assumes).  The
    (epoch_sec, event_id) struct sort makes the order a total one —
    wall-clock ties cannot flip replay order between engines."""
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id") % JOURNEY_MOD == 0
    )
    return ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("epoch_sec") - F.min("epoch_sec"))
        .cast("long")
        .alias("span_sec"),
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("epoch_sec", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ),
        ).alias("journey"),
    )


ORACLES["events_journey_sample"] = (
    "WITH b AS (SELECT user_id, event_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events "
    f"WHERE user_id % {JOURNEY_MOD} = 0) "
    "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(max(s) - min(s) AS BIGINT) AS span_sec, "
    "array_to_string(list(event_type ORDER BY s, event_id), '>') "
    "AS journey FROM b GROUP BY user_id"
)
QUERIES["events_journey_sample"] = q_events_journey_sample


# --- absorbing-state conversion probability (r6) --------------------------
#
# The funnel question the one-step transition matrix can't answer:
# starting from each event type, what is the probability the user
# EVENTUALLY reaches a purchase (within ABSORB_ITERS steps of the
# estimated first-order chain)?  Classic absorbing-Markov value
# iteration: V(purchase) ≡ 1, V_k(s) = Σ_t P(s,t)·V_{k−1}(t), run a
# fixed 30 steps (geometric convergence; the tail beyond 30 is below
# the 1e-6 rounding floor for any spectral gap this data shows).
#
# Scale shape: ALL the data work is the transition estimation
# (events_transitions — one user-partitioned lag window + a
# types²-bounded groupBy); the value iteration then runs driver-side
# on the collected ≤ types² matrix — the S5 scalar-side-input
# precedent (collecting a 25-number aggregate is not a driver-loop
# anti-pattern).  The DuckDB oracle replays the SAME iteration as a
# depth-30 recursive CTE with per-iteration round-to-6 on both
# engines, so float accumulation order cannot drift the compare.
# States are the observed FROM-states (a type that never precedes
# anything has no outgoing row and no defined value; dense event
# streams have none — degenerate corpora would need a left-join
# variant).

ABSORB_TARGET = "purchase"
ABSORB_ITERS = 30


def q_events_absorption_prob(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    def r6(v: float) -> float:
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

    tr = q_events_transitions(spark, sf_dir).select(
        "from_type", "to_type", "p"
    )
    rows = tr.collect()  # ≤ |types|² — the S5 tiny-side-input shape
    pm: dict[str, list[tuple[str, float]]] = {}
    states = set()
    for r in rows:
        pm.setdefault(r["from_type"], []).append(
            (r["to_type"], r["p"])
        )
        states.add(r["from_type"])
        states.add(r["to_type"])
    v_prev = {
        s: (1.0 if s == ABSORB_TARGET else 0.0) for s in states
    }
    froms = sorted(pm)
    for _ in range(ABSORB_ITERS):
        v_new = {}
        for s in froms:
            if s == ABSORB_TARGET:
                v_new[s] = 1.0
            else:
                v_new[s] = r6(
                    sum(
                        p * v_prev.get(t, 0.0)
                        for t, p in sorted(pm[s])
                    )
                )
        v_prev = v_new
    out = [(s, float(v_prev[s])) for s in froms]
    return spark.createDataFrame(
        out, schema="state string, p_absorb double"
    )


ORACLES["events_absorption_prob"] = (
    "WITH RECURSIVE tr AS ("
    + ORACLES["events_transitions"]
    + "), "
    # NOTE: inside WITH RECURSIVE, a bare "a UNION b" CTE is parsed as
    # the base/recursive pattern and skips the global dedup — wrap in
    # a subquery with DISTINCT instead
    "states AS (SELECT DISTINCT st FROM ("
    "SELECT from_type AS st FROM tr "
    "UNION ALL SELECT to_type AS st FROM tr) u), "
    "v AS ("
    "SELECT st, CAST(CASE WHEN st = "
    f"'{ABSORB_TARGET}' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS val, "
    "0 AS k FROM states "
    "UNION ALL "
    "SELECT tr.from_type, "
    f"CASE WHEN tr.from_type = '{ABSORB_TARGET}' THEN 1.0 "
    "ELSE round(sum(tr.p * v.val), 6) END, v.k + 1 "
    f"FROM v JOIN tr ON tr.to_type = v.st WHERE v.k < {ABSORB_ITERS} "
    "GROUP BY tr.from_type, v.k) "
    "SELECT st AS state, val AS p_absorb FROM v "
    f"WHERE k = {ABSORB_ITERS}"
)
QUERIES["events_absorption_prob"] = q_events_absorption_prob


# --- Markov entropy rate of the event stream (r6) -------------------------
#
# How predictable is user behavior?  The chain's entropy rate
# H = Σ_s π(s)·H(next|s), with H(next|s) = −Σ_t P(s,t)·log2 P(s,t)
# and π the stationary distribution — the information-theoretic
# ceiling for any next-event predictor, and the baseline a sequence
# model must beat.  π comes from 40 power-iteration steps starting
# uniform (same fixed-step discipline as events_absorption_prob:
# per-iteration round-to-6 on BOTH engines so accumulation order
# cannot drift the compare).  Per state: π, the conditional entropy
# in bits, and the π-weighted contribution (their sum is the rate).

ENTROPY_ITERS = 40


def q_events_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    def r6(v: float) -> float:
        return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6

    tr = q_events_transitions(spark, sf_dir).select(
        "from_type", "to_type", "p"
    )
    rows = tr.collect()  # types² tiny side input (S5 shape)
    out_p: dict[str, list[tuple[str, float]]] = {}
    for r in rows:
        out_p.setdefault(r["from_type"], []).append(
            (r["to_type"], r["p"])
        )
    froms = sorted(out_p)
    pi = {s: r6(1.0 / len(froms)) for s in froms}
    for _ in range(ENTROPY_ITERS):
        nxt: dict[str, float] = {}
        for s in froms:
            for t, p in sorted(out_p[s]):
                nxt[t] = nxt.get(t, 0.0) + pi.get(s, 0.0) * p
        pi = {t: r6(v) for t, v in sorted(nxt.items())}
    data = []
    for s in froms:
        h = r6(
            -sum(
                p * math.log2(p)
                for _, p in sorted(out_p[s])
                if p > 0
            )
        )
        pis = pi.get(s, 0.0)
        data.append((s, float(pis), float(h), float(r6(pis * h))))
    return spark.createDataFrame(
        data,
        schema=(
            "state string, pi double, h_cond_bits double, "
            "h_contrib_bits double"
        ),
    )


ORACLES["events_entropy_rate"] = (
    "WITH RECURSIVE tr AS ("
    + ORACLES["events_transitions"]
    + "), "
    "froms AS (SELECT DISTINCT from_type AS st FROM tr), "
    "nf AS (SELECT count(*) AS n FROM froms), "
    "v AS ("
    "SELECT st, round(1.0 / nf.n, 6) AS val, 0 AS k "
    "FROM froms CROSS JOIN nf "
    "UNION ALL "
    "SELECT tr.to_type, round(sum(v.val * tr.p), 6), v.k + 1 "
    f"FROM v JOIN tr ON tr.from_type = v.st WHERE v.k < {ENTROPY_ITERS} "
    "GROUP BY tr.to_type, v.k), "
    f"pi AS (SELECT st, val AS pi FROM v WHERE k = {ENTROPY_ITERS}), "
    "h AS (SELECT from_type AS st, "
    "round(-sum(CASE WHEN p > 0 THEN p * log2(p) ELSE 0 END), 6) "
    "AS h_cond FROM tr GROUP BY from_type) "
    "SELECT h.st AS state, coalesce(pi.pi, 0.0) AS pi, "
    "h.h_cond AS h_cond_bits, "
    "round(coalesce(pi.pi, 0.0) * h.h_cond, 6) AS h_contrib_bits "
    "FROM h LEFT JOIN pi ON h.st = pi.st"
)
QUERIES["events_entropy_rate"] = q_events_entropy_rate


# --- Fano-factor burstiness audit (r6) ------------------------------------
#
# Count-process dispersion per event type: the Fano factor
# var/mean of HOURLY event counts.  A Poisson-ish process sits near
# 1; >> 1 is bursty arrivals (campaigns, bot storms, retry loops) —
# the signal that decides whether rate alerts need burst-robust
# thresholds, complementary to events_inter_arrival (time-domain) and
# text_token_burstiness (the document-side twin).  Empty hours count:
# the denominator is the full observed hour span, not just hours with
# events — computed from the global span, not a gap-fill join.
#
# Scale shape: one (type × hour) partial-agg groupBy, then a
# types-bounded rollup; variance from exact integer Σn, Σn² with the
# zero-hour mass folded in closed form ((H−H_obs) zero terms change
# nothing in Σn, Σn²).  The hour span is a 1-row broadcast aggregate.

def q_events_fano_factor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.expr("epoch_sec DIV 3600").cast("long").alias("hr"),
    )
    span = ev.agg(
        (F.max("hr") - F.min("hr") + 1).cast("long").alias("n_hours")
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count("*").cast("long").alias("n")
    )
    per = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("h_obs"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    j = per.crossJoin(F.broadcast(span))
    h = F.col("n_hours").cast("double")
    mean = F.col("s1") / h
    # population variance over ALL hours incl. empty ones: zero terms
    # contribute nothing to s1/s2, only to the count
    var = F.col("s2") / h - mean * mean
    return j.select(
        "event_type",
        "n_hours",
        "h_obs",
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(var / mean, 6).alias("fano_factor"),
    )


ORACLES["events_fano_factor"] = (
    "WITH e AS (SELECT event_type, "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 AS BIGINT) AS hr "
    "FROM events), "
    "span AS (SELECT CAST(max(hr) - min(hr) + 1 AS BIGINT) "
    "AS n_hours FROM e), "
    "hourly AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n "
    "FROM e GROUP BY event_type, hr), "
    "per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS h_obs, "
    "CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2 "
    "FROM hourly GROUP BY event_type) "
    "SELECT event_type, n_hours, h_obs, "
    "round(s1 / CAST(n_hours AS DOUBLE), 6) AS mean_per_hour, "
    "round((s2 / CAST(n_hours AS DOUBLE) - "
    "(s1 / CAST(n_hours AS DOUBLE)) * (s1 / CAST(n_hours AS DOUBLE))) "
    "/ (s1 / CAST(n_hours AS DOUBLE)), 6) AS fano_factor "
    "FROM per CROSS JOIN span"
)
QUERIES["events_fano_factor"] = q_events_fano_factor


# r8: renamed to events_gap_fill_locf — operators/timeseries.py
# registers a DIFFERENT events_gap_fill (global bounds, volume ffill,
# gap flag) later in _MODULE_ORDER, which silently shadowed this
# per-type-bounds LOCF variant in queries()/oracle_sql() AND
# double-billed one bench entry name.  Both semantics are useful, so
# this one lives on under its own name.
QUERIES["events_gap_fill_locf"] = q_events_gap_fill
ORACLES["events_gap_fill_locf"] = (
    "WITH hourly AS (SELECT event_type, "
    "CAST(epoch_ns(ts) // 1000000000 // 3600 * 3600 AS BIGINT) AS hour_epoch, "
    "CAST(count(*) AS BIGINT) AS n, round(avg(value), 6) AS hour_mean "
    "FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT event_type, min(hour_epoch) AS lo, "
    "max(hour_epoch) AS hi FROM hourly GROUP BY event_type), "
    "spine AS (SELECT event_type, "
    "unnest(range(lo, hi + 3600, 3600)) AS hour_epoch FROM bounds) "
    "SELECT s.event_type, s.hour_epoch, "
    "CAST(coalesce(h.n, 0) AS BIGINT) AS n_events, "
    "last_value(h.hour_mean IGNORE NULLS) OVER "
    "(PARTITION BY s.event_type ORDER BY s.hour_epoch "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_mean "
    "FROM spine s LEFT JOIN hourly h USING (event_type, hour_epoch)"
)
