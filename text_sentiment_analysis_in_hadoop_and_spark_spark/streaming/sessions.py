"""Gap-based sessionization over ``events`` (nothing like it exists in
the reference; SURVEY §2.7).

:func:`sessions_batch` — lag/cumsum window functions over a
30-minute inactivity gap, declared as the ``events_sessions`` query
with a DuckDB oracle.  The session id is the running count of
session-starts per user in event-time order, so both engines number
sessions identically.

Scale notes: batch sessionization is one shuffle (hash by user_id)
plus two in-partition window passes — O(users) state, not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .windowed import load_events

GAP_SEC = 1800


def sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select("user_id", "epoch_sec", "event_id")
    order = [F.asc("epoch_sec"), F.asc("event_id")]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("epoch_sec").over(w_lag)
    is_new = F.when(
        prev.isNull() | (F.col("epoch_sec") - prev >= GAP_SEC), 1
    ).otherwise(0)
    return (
        ev.withColumn("sid", F.sum(is_new).over(w_run))
        .groupBy("user_id", F.col("sid").cast("long").alias("session_id"))
        .agg(
            F.min("epoch_sec").cast("long").alias("start_epoch"),
            F.max("epoch_sec").cast("long").alias("end_epoch"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions_batch(spark, sf_dir)


ORACLES: dict[str, str] = {
    "events_sessions": (
        "WITH e AS (SELECT user_id, event_id, "
        "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es FROM events), "
        "lagged AS (SELECT *, lag(es) OVER "
        "(PARTITION BY user_id ORDER BY es, event_id) AS prev FROM e), "
        "flagged AS (SELECT *, CASE WHEN prev IS NULL OR es - prev >= "
        f"{GAP_SEC} THEN 1 ELSE 0 END AS is_new FROM lagged), "
        "numbered AS (SELECT *, sum(is_new) OVER "
        "(PARTITION BY user_id ORDER BY es, event_id "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) "
        "SELECT user_id, CAST(sid AS BIGINT) AS session_id, "
        "CAST(min(es) AS BIGINT) AS start_epoch, "
        "CAST(max(es) AS BIGINT) AS end_epoch, "
        "CAST(count(*) AS BIGINT) AS n_events "
        "FROM numbered GROUP BY user_id, sid"
    )
}

QUERIES = {"events_sessions": q_events_sessions}


def q_sessionized_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel WITHIN sessions — the composition that distinguishes "a
    user eventually purchased" from "a single visit converted": per
    session, did view → click → purchase occur in event-time order
    inside the session's own boundaries?  One summary row with the
    per-SESSION conversion rates (the global funnel `events_funnel`
    measures per-user lifetime conversion; this measures per-visit).

    Plan: the same one-user_id-shuffle sessionizer assigns session
    ids, the stage chaining is three conditional min-aggregates per
    session (one groupBy — stage order enforced by min-ts
    comparisons, ties broken by event type ordering view<click<
    purchase via the stage rank so a same-second view+click still
    chains), and the rollup is one bounded aggregate."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "epoch_sec", "event_id", "event_type"
    )
    order = [F.asc("epoch_sec"), F.asc("event_id")]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("epoch_sec").over(w_lag)
    is_new = F.when(
        prev.isNull() | (F.col("epoch_sec") - prev >= GAP_SEC), 1
    ).otherwise(0)
    sess = ev.withColumn("sid", F.sum(is_new).over(w_run))
    per = sess.groupBy("user_id", "sid").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("epoch_sec"))
        ).alias("t_view"),
        F.min(
            F.when(F.col("event_type") == "click", F.col("epoch_sec"))
        ).alias("t_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("epoch_sec"))
        ).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (
        F.col("t_click") >= F.col("t_view")
    )
    bought = clicked & F.col("t_buy").isNotNull() & (
        F.col("t_buy") >= F.col("t_click")
    )
    return per.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(viewed.cast("long")).cast("long").alias("n_viewed"),
        F.sum(clicked.cast("long")).cast("long").alias("n_clicked"),
        F.sum(bought.cast("long")).cast("long").alias("n_converted"),
        F.round(
            F.sum(bought.cast("long")) / F.count("*"), 6
        ).alias("session_conversion"),
    )


ORACLES["events_sessionized_funnel"] = (
    "WITH e AS (SELECT user_id, event_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es FROM events), "
    "lagged AS (SELECT *, lag(es) OVER "
    "(PARTITION BY user_id ORDER BY es, event_id) AS prev FROM e), "
    "flagged AS (SELECT *, CASE WHEN prev IS NULL OR es - prev >= "
    f"{GAP_SEC} THEN 1 ELSE 0 END AS is_new FROM lagged), "
    "numbered AS (SELECT *, sum(is_new) OVER "
    "(PARTITION BY user_id ORDER BY es, event_id "
    "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged), "
    "per AS (SELECT user_id, sid, "
    "min(CASE WHEN event_type = 'view' THEN es END) AS t_view, "
    "min(CASE WHEN event_type = 'click' THEN es END) AS t_click, "
    "min(CASE WHEN event_type = 'purchase' THEN es END) AS t_buy "
    "FROM numbered GROUP BY user_id, sid), "
    "tagged AS (SELECT t_view IS NOT NULL AS viewed, "
    "t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view "
    "AS clicked, "
    "t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view "
    "AND t_buy IS NOT NULL AND t_buy >= t_click AS bought FROM per) "
    "SELECT CAST(count(*) AS BIGINT) AS n_sessions, "
    "CAST(sum(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed, "
    "CAST(sum(CASE WHEN clicked THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked, "
    "CAST(sum(CASE WHEN bought THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_converted, "
    "round(sum(CASE WHEN bought THEN 1 ELSE 0 END) * 1.0 / count(*), 6) "
    "AS session_conversion FROM tagged"
)

QUERIES["events_sessionized_funnel"] = q_sessionized_funnel


def q_session_length_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shape distribution — the summary read against the
    inter-arrival gap profile when tuning GAP_SEC: percentiles of
    session duration and event count, plus the single-event-session
    fraction (a high bounce fraction with long p90 durations says
    the gap is splitting real visits).  One bounded aggregate over
    the sessionizer's output."""
    s = sessions_batch(spark, sf_dir).select(
        (F.col("end_epoch") - F.col("start_epoch")).alias("dur"),
        "n_events",
    )
    # r12 (guide §2.2): one array-percentile buffer for the two
    # duration ranks — bit-identical per rank
    return s.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.expr("percentile(dur, array(0.5, 0.9))").alias("_dp"),
        F.expr("percentile(n_events, 0.5)").alias("p50_events"),
        F.round(
            F.avg((F.col("n_events") == 1).cast("double")), 6
        ).alias("bounce_frac"),
    ).select(
        "n_sessions",
        F.col("_dp")[0].alias("p50_duration_sec"),
        F.round(F.col("_dp")[1], 6).alias("p90_duration_sec"),
        "p50_events",
        "bounce_frac",
    )


ORACLES["events_session_length_dist"] = (
    ORACLES["events_sessions"].replace(
        "SELECT user_id, CAST(sid AS BIGINT) AS session_id, "
        "CAST(min(es) AS BIGINT) AS start_epoch, "
        "CAST(max(es) AS BIGINT) AS end_epoch, "
        "CAST(count(*) AS BIGINT) AS n_events "
        "FROM numbered GROUP BY user_id, sid",
        "per AS (SELECT max(es) - min(es) AS dur, "
        "count(*) AS n_events FROM numbered GROUP BY user_id, sid) "
        "SELECT CAST(count(*) AS BIGINT) AS n_sessions, "
        "quantile_cont(dur, 0.5) AS p50_duration_sec, "
        "round(quantile_cont(dur, 0.9), 6) AS p90_duration_sec, "
        "quantile_cont(n_events, 0.5) AS p50_events, "
        "round(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 6) "
        "AS bounce_frac FROM per",
    ).replace(
        "numbered AS (SELECT *, sum(is_new) OVER "
        "(PARTITION BY user_id ORDER BY es, event_id "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) ",
        "numbered AS (SELECT *, sum(is_new) OVER "
        "(PARTITION BY user_id ORDER BY es, event_id "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged), ",
    )
)

QUERIES["events_session_length_dist"] = q_session_length_dist
