"""Stream-stream watermarked interval join — purchase attribution
(EXTENSION; the reference has no streaming, SURVEY §2.7).

Every purchase is attributed to each same-user view it followed
within ATTRIB_SEC.  The SAME logical join is exposed twice:

- :func:`attribution_batch` — batch DataFrame, declared as the
  ``events_attribution`` query with a DuckDB oracle.
- :func:`attribution_stream` — the real stream⋈stream inner join:
  BOTH sides are unbounded streams (not a stream⋈static dim join),
  which is the one join shape that needs engine-managed state on both
  sides.  tests/test_stream_join.py proves stream ≡ batch on the
  same files.

Why the watermark + time-range condition matters at scale: a
stream-stream join must buffer every input row until the OTHER side
can no longer produce a match for it.  Without a bound that state is
the whole stream.  With ``withWatermark`` on both sides AND a range
predicate tying the two event times (purchase within [view, view +
ATTRIB_SEC]), Spark derives exactly how long each buffered view can
still match (ATTRIB_SEC + watermark delay) and drops it afterwards —
state is O(events per attribution window), independent of stream
length.  The join itself shuffles both streams on user_id, same as
the batch plan.

Timestamps follow the repo contract for the driver's TIMESTAMP(NANOS)
parquet (see streaming/windowed.py): the nanos long is integer-divided
to exact epoch seconds; the oracle divides ``epoch_ns`` the same way,
so interval edges land identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windowed import WATERMARK, event_ts_col, events_stream, load_events

ATTRIB_SEC = 1800  # purchase counts for a view seen ≤ 30 min before


def _sides(ev: DataFrame) -> tuple[DataFrame, DataFrame, F.Column]:
    """Views, purchases and the attribution-window join condition."""
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("epoch_sec").alias("view_sec"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("epoch_sec").alias("purchase_sec"),
    )
    within = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_sec") >= F.col("view_sec"))
        & (F.col("purchase_sec") <= F.col("view_sec") + ATTRIB_SEC)
    )
    return views, purchases, within


def _stream_sides(
    spark: SparkSession, events_dir: str
) -> tuple[DataFrame, DataFrame, F.Column]:
    """Stream twin of :func:`_sides`: the watermarked views and
    purchases streams over one landing zone, each read independently,
    and the interval condition that bounds both state stores."""
    def side() -> DataFrame:
        raw = events_stream(spark, events_dir)
        return raw.withColumn("event_ts", event_ts_col(raw))

    views = (
        side()
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("event_ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        side()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    within = F.expr(
        "user_id = p_user "
        "AND purchase_ts >= view_ts "
        f"AND purchase_ts <= view_ts + INTERVAL {ATTRIB_SEC} SECONDS"
    )
    return views, purchases, within


def attribution_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: the event-type filters prune the scan before the
    user_id-keyed equi-join; the range predicate rides along as a
    join residual (a per-user-bucket filter, never a cross join)."""
    views, purchases, within = _sides(load_events(spark, sf_dir))
    return (
        views.join(purchases, within)
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.col("purchase_sec") - F.col("view_sec"))
            .cast("long")
            .alias("lag_sec"),
        )
    )


def attribution_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """The same join as two watermarked unbounded streams.

    ``events_dir`` is a landing-zone directory (file stream source);
    both sides read it independently — in production they would be
    two topics.  The equality key (user_id) plus the two-sided
    event-time range is what lets Spark bound both state stores."""
    views, purchases, within = _stream_sides(spark, events_dir)
    return (
        views.join(purchases, within)
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
            )
            .cast("long")
            .alias("lag_sec"),
        )
    )


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution_batch(spark, sf_dir)


# the oracles' twin of _sides: one v/p CTE prefix for both joins
_VP_CTES = (
    "WITH v AS (SELECT user_id, event_id AS view_id, "
    "epoch_ns(ts) // 1000000000 AS view_sec "
    "FROM events WHERE event_type = 'view'), "
    "p AS (SELECT user_id, event_id AS purchase_id, "
    "epoch_ns(ts) // 1000000000 AS purchase_sec "
    "FROM events WHERE event_type = 'purchase') "
)

ORACLES: dict[str, str] = {
    "events_attribution": (
        _VP_CTES
        + "SELECT user_id, view_id, purchase_id, "
        "CAST(purchase_sec - view_sec AS BIGINT) AS lag_sec "
        "FROM v JOIN p USING (user_id) "
        "WHERE purchase_sec >= view_sec "
        f"AND purchase_sec <= view_sec + {ATTRIB_SEC}"
    )
}

QUERIES = {"events_attribution": q_events_attribution}


# --- LEFT OUTER stream-stream join: unconverted views ----------------


def unconverted_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views with NO purchase in their attribution window — the
    retargeting feed.  Left-outer on the same interval condition, then
    the null-side filter; one output row per unmatched view (an
    unmatched left row surfaces exactly once, unlike the inner join's
    one-row-per-pair)."""
    views, purchases, within = _sides(load_events(spark, sf_dir))
    return (
        views.join(purchases, within, "left_outer")
        .filter(F.col("purchase_id").isNull())
        .select("user_id", "view_id", F.col("view_sec").cast("long"))
    )


def unconverted_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """The same feed as a LEFT OUTER stream⋈stream join — the join
    shape with the subtlest streaming semantics: an unmatched view
    CANNOT be emitted when first seen (a matching purchase may still
    arrive), so the engine holds it in state and emits the null-padded
    row only once the watermark proves no match can come (view_ts +
    ATTRIB_SEC + watermark delay).  Output is therefore watermark-
    delayed but exactly-once per unmatched view — eventually identical
    to the batch feed, which tests/test_stream_join.py proves by
    advancing the watermark with a sentinel event.

    State stays bounded exactly as in the inner join; the only cost of
    OUTER is holding left rows until expiry rather than last-match."""
    views, purchases, within = _stream_sides(spark, events_dir)
    return (
        views.join(purchases, within, "leftOuter")
        .filter(F.col("purchase_id").isNull())
        .select(
            "user_id",
            "view_id",
            F.unix_timestamp("view_ts").cast("long").alias("view_sec"),
        )
    )


def q_events_unconverted_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unconverted_batch(spark, sf_dir)


ORACLES["events_unconverted_views"] = (
    _VP_CTES
    + "SELECT v.user_id, v.view_id, CAST(v.view_sec AS BIGINT) AS view_sec "
    "FROM v LEFT JOIN p ON v.user_id = p.user_id "
    "AND p.purchase_sec >= v.view_sec "
    f"AND p.purchase_sec <= v.view_sec + {ATTRIB_SEC} "
    "WHERE p.purchase_id IS NULL"
)

QUERIES["events_unconverted_views"] = q_events_unconverted_views
