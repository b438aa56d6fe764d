"""As-of (point-in-time) join — the canonical "operator Spark lacks"
implemented as a composition of built-ins (SURVEY §7 extension
surface; the reference has nothing comparable).

Semantics: match each left event to the LATEST right event with
``right.ts <= left.ts`` per key — here, each ``purchase`` to the
user's most recent prior (or simultaneous) ``view``.  Unmatched
purchases are dropped (inner as-of), exactly DuckDB's native
``ASOF JOIN`` contract — which is what the oracle runs, so the
composition is verified against a real as-of implementation rather
than a hand-rolled SQL twin.

Plan shape (the scale story): tag both sides, UNION them, and carry
the last view timestamp forward with a running ``max(ts) over
(partition by user_id order by ts, side rows unbounded preceding)``.
ONE shuffle, keyed on user_id; per-user partitions are bounded; no
range join, no per-row probe.  Sorting views before purchases at
equal ts makes the match inclusive (ts_view = ts_purchase matches),
mirroring ASOF JOIN's ``>=``.  At 100 TB this is the standard
distributed as-of: shuffle once by key, merge-scan within key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.windowed import epoch_us_col, load_events

LEFT_TYPE = "purchase"
RIGHT_TYPE = "view"


def asof_join_events(
    ev: DataFrame, left_type: str = LEFT_TYPE, right_type: str = RIGHT_TYPE
) -> DataFrame:
    """(event_id, user_id, left_ts_ns, right_ts_ns) for each left-type
    event, as-of matched to the latest right-type event at-or-before
    it for the same user."""
    # microsecond granularity: DuckDB's TIMESTAMP (the oracle's native
    # ASOF JOIN input) is µs-precision, so the composition matches at
    # µs too — both engines then draw the at-or-before boundary at the
    # same tick
    ts_us = epoch_us_col(ev)
    right = ev.filter(F.col("event_type") == right_type).select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        ts_us.alias("ts"),
        F.lit(0).alias("side"),
    )
    left = ev.filter(F.col("event_type") == left_type).select(
        F.col("event_id").cast("long"),
        "user_id",
        ts_us.alias("ts"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = right.unionByName(left).withColumn(
        "matched_ts",
        F.max(F.when(F.col("side") == 0, F.col("ts"))).over(w),
    )
    return (
        carried.filter(
            (F.col("side") == 1) & F.col("matched_ts").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("left_ts_us"),
            F.col("matched_ts").alias("right_ts_us"),
        )
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_events(load_events(spark, sf_dir))


RANGE_US = 3600 * 1000 * 1000  # 1-hour lookback window, µs


def range_join_events(
    ev: DataFrame, left_type: str = LEFT_TYPE, right_type: str = RIGHT_TYPE
) -> DataFrame:
    """Range (interval) join: ALL right-type events within RANGE_US
    at-or-before each left-type event, per user — the one-to-many
    sibling of the as-of join.

    Plan shape: a naive ``ts BETWEEN`` predicate would force a
    non-equi BroadcastNestedLoopJoin — quadratic per user.  Instead
    both sides bucket their timestamp by the range width; a match can
    only sit in the probe's own bucket or the previous one, so the
    probe side explodes to those two buckets and the join is a plain
    (user_id, bucket) EQUI-join (hash-partitioned, AQE-sized) with the
    exact range applied as a residual filter.  Cost: 2× probe-side
    rows, no nested loop — the standard bucketed range join at any
    scale."""
    ts_us = epoch_us_col(ev)
    right = ev.filter(F.col("event_type") == right_type).select(
        F.col("event_id").cast("long").alias("right_id"),
        "user_id",
        ts_us.alias("r_ts"),
        (ts_us / F.lit(RANGE_US)).cast("long").alias("bucket"),
    )
    left = (
        ev.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").cast("long").alias("left_id"),
            "user_id",
            ts_us.alias("l_ts"),
            (ts_us / F.lit(RANGE_US)).cast("long").alias("b"),
        )
        .withColumn(
            "bucket", F.explode(F.array(F.col("b"), F.col("b") - 1))
        )
    )
    return (
        left.join(right, ["user_id", "bucket"])
        .filter(
            (F.col("r_ts") >= F.col("l_ts") - RANGE_US)
            & (F.col("r_ts") <= F.col("l_ts"))
        )
        .select(
            "left_id",
            "right_id",
            "user_id",
            (F.col("l_ts") - F.col("r_ts")).alias("delta_us"),
        )
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return range_join_events(load_events(spark, sf_dir))


ORACLES: dict[str, str] = {
    # verified against DuckDB's NATIVE ASOF JOIN, not a rebuilt twin
    "events_asof": (
        "SELECT p.event_id, p.user_id, "
        "CAST(epoch_us(p.ts) AS BIGINT) AS left_ts_us, "
        "CAST(epoch_us(v.ts) AS BIGINT) AS right_ts_us "
        f"FROM (SELECT * FROM events WHERE event_type = '{LEFT_TYPE}') p "
        "ASOF JOIN "
        f"(SELECT * FROM events WHERE event_type = '{RIGHT_TYPE}') v "
        "ON p.user_id = v.user_id AND p.ts >= v.ts"
    ),
    # the oracle states the range predicate directly (DuckDB plans an
    # IEJoin); the Spark side proves the bucketed equi-join rewrite
    # produces the identical pair set
    "events_range_join": (
        "SELECT p.event_id AS left_id, v.event_id AS right_id, p.user_id, "
        "epoch_us(p.ts) - epoch_us(v.ts) AS delta_us "
        f"FROM (SELECT * FROM events WHERE event_type = '{LEFT_TYPE}') p "
        f"JOIN (SELECT * FROM events WHERE event_type = '{RIGHT_TYPE}') v "
        "ON p.user_id = v.user_id "
        f"AND epoch_us(v.ts) >= epoch_us(p.ts) - {RANGE_US} "
        "AND epoch_us(v.ts) <= epoch_us(p.ts)"
    ),
    "events_json_extract": (
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
        "AS BIGINT) AS sum_k, "
        "round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) "
        "AS avg_k FROM events GROUP BY event_type"
    ),
}

def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column
    with an EXPLICIT schema (``from_json`` → struct field), then roll
    up per event type.  The explicit schema is the scale discipline:
    JVM-side Jackson parsing in one pass, no sampling-based schema
    inference scan, and Catalyst prunes the struct to the referenced
    field (Spark's JSON reader with inference reads the corpus twice
    — once to guess the schema, once to parse).  This is the engine's
    path for event payloads / API logs riding a string column through
    parquet."""
    ev = load_events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


QUERIES = {
    "events_asof": q_events_asof,
    "events_range_join": q_events_range_join,
    "events_json_extract": q_events_json_extract,
}


def asof_nearest_events(ev: DataFrame) -> DataFrame:
    """Nearest-match as-of join — both directions: each purchase
    matches the view whose timestamp is CLOSEST (before or after),
    ties at equal distance to the EARLIER view.  Same single-shuffle
    union-and-carry plan as the backward as-of: one user_id exchange,
    then a running max-of-view-ts over the preceding frame (latest
    at-or-before) and a min-of-view-ts over the following frame
    (earliest after) inside each partition — no range join, no per-row
    probe, frames bounded by per-user history.

    Verified against DuckDB running the SAME semantics as two native
    ASOF JOINs (backward + forward) combined — not a hand-rolled twin.
    """
    ts_us = epoch_us_col(ev)
    right = ev.filter(F.col("event_type") == RIGHT_TYPE).select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        ts_us.alias("ts"),
        F.lit(0).alias("side"),
    )
    left = ev.filter(F.col("event_type") == LEFT_TYPE).select(
        F.col("event_id").cast("long"),
        "user_id",
        ts_us.alias("ts"),
        F.lit(1).alias("side"),
    )
    # views sort before purchases at equal ts, so an equal-ts view is
    # "at-or-before" (prev frame), matching ASOF's >= inclusivity
    order = [F.asc("ts"), F.asc("side")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    view_ts = F.when(F.col("side") == 0, F.col("ts"))
    carried = (
        right.unionByName(left)
        .withColumn("prev_ts", F.max(view_ts).over(w_prev))
        .withColumn("next_ts", F.min(view_ts).over(w_next))
    )
    d_prev = F.col("ts") - F.col("prev_ts")
    d_next = F.col("next_ts") - F.col("ts")
    matched = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(d_next < d_prev, F.col("next_ts"))
        .otherwise(F.col("prev_ts"))  # tie → earlier (prev)
    )
    return (
        carried.filter(F.col("side") == 1)
        .withColumn("matched_ts", matched)
        .filter(F.col("matched_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("left_ts_us"),
            F.col("matched_ts").alias("right_ts_us"),
            (F.col("ts") - F.col("matched_ts")).alias("delta_us"),
        )
    )


def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_nearest_events(load_events(spark, sf_dir))


ORACLES["events_asof_nearest"] = (
    "WITH p AS (SELECT event_id, user_id, ts FROM events "
    f"WHERE event_type = '{LEFT_TYPE}'), "
    f"v AS (SELECT user_id, ts FROM events WHERE event_type = '{RIGHT_TYPE}'), "
    "bwd AS (SELECT p.event_id, v.ts AS prev_ts FROM p "
    "ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts), "
    "fwd AS (SELECT p.event_id, v.ts AS next_ts FROM p "
    "ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts < v.ts), "
    "m AS (SELECT p.event_id, p.user_id, p.ts, "
    "CASE WHEN b.prev_ts IS NULL THEN f.next_ts "
    "WHEN f.next_ts IS NULL THEN b.prev_ts "
    "WHEN f.next_ts - p.ts < p.ts - b.prev_ts THEN f.next_ts "
    "ELSE b.prev_ts END AS mts "
    "FROM p JOIN bwd b USING (event_id) JOIN fwd f USING (event_id)) "
    "SELECT event_id, user_id, "
    "CAST(epoch_us(ts) AS BIGINT) AS left_ts_us, "
    "CAST(epoch_us(mts) AS BIGINT) AS right_ts_us, "
    "CAST(epoch_us(ts) - epoch_us(mts) AS BIGINT) AS delta_us "
    "FROM m WHERE mts IS NOT NULL"
)

QUERIES["events_asof_nearest"] = q_events_asof_nearest


# --- VariantType extraction twin (r5) --------------------------------


def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCHEMA-LESS twin of events_json_extract: ``props`` parses
    into Spark 4's VariantType (a binary semi-structured encoding —
    the open-format answer to ragged payloads whose shape drifts
    faster than any declared struct), and ``variant_get`` extracts by
    JSON path at query time.  Same rollup, so drift between the two
    paths (schema'd vs variant) is itself a red flag a test pins;
    deployments pick variant when producers add fields weekly and
    declared structs would silently null them.

    Scale: parse + path-extract are narrow JVM expressions (no
    Python), one langs-bounded rollup; variant's binary encoding is
    decoded once per row, not per extracted path."""
    ev = load_events(spark, sf_dir)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


ORACLES["events_variant_extract"] = (
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
    "AS BIGINT) AS sum_k, "
    "round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) "
    "AS avg_k "
    "FROM events GROUP BY event_type"
)

QUERIES["events_variant_extract"] = q_events_variant_extract


# --- cogroup twin (two-sided Pandas escape hatch) --------------------

_COGROUP_SCHEMA = (
    "event_id LONG, user_id LONG, left_ts_us LONG, right_ts_us LONG"
)


def _asof_cogroup_merge(left, right):
    """Per-user pandas merge_asof: latest right_ts_us <= left_ts_us
    (backward, inclusive) — pd.merge_asof IS a reference as-of
    implementation, which makes the twin a meaningful check."""
    import pandas as pd

    if left.empty:
        return pd.DataFrame(
            columns=["event_id", "user_id", "left_ts_us", "right_ts_us"]
        )
    left = left.sort_values("left_ts_us", kind="mergesort")
    if right.empty:
        merged = left.assign(right_ts_us=pd.NA)
    else:
        right = right[["right_ts_us"]].sort_values(
            "right_ts_us", kind="mergesort"
        )
        merged = pd.merge_asof(
            left,
            right,
            left_on="left_ts_us",
            right_on="right_ts_us",
            direction="backward",
        )
    merged = merged.dropna(subset=["right_ts_us"])
    merged["right_ts_us"] = merged["right_ts_us"].astype("int64")
    return merged[["event_id", "user_id", "left_ts_us", "right_ts_us"]]


def q_events_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join through ``cogroup().applyInPandas`` — Spark's
    TWO-sided Python escape hatch: both inputs shuffle on user_id once
    and arrive at the same task as per-key pandas frames, where
    ``pd.merge_asof`` does the backward match.  This query twins
    :func:`q_events_asof` deliberately (same oracle, DuckDB's native
    ASOF JOIN): the JVM window composition is the production plan, the
    cogroup is the template for two-sided per-key logic that outgrows
    SQL (custom alignment, per-key model state, bitemporal merges) —
    and the bench prices the boundary.

    Scale shape: identical shuffle to the JVM plan (one exchange per
    side on the key); per-key groups are bounded by per-user activity;
    Arrow moves each group across the boundary in one batch."""
    return _asof_cogroup(spark, sf_dir)


def _asof_cogroup(
    spark: SparkSession, sf_dir: str, user_slice: int | None = None
) -> DataFrame:
    ev = load_events(spark, sf_dir)
    if user_slice is not None:
        # deterministic 1-in-N user slice for the bench probe; sliced
        # BEFORE the key shuffle so the probe pays 1/N of the Python
        # boundary it prices
        ev = ev.filter(F.col("user_id") % user_slice == 0)
    ts_us = epoch_us_col(ev)
    left = ev.filter(F.col("event_type") == LEFT_TYPE).select(
        F.col("event_id").cast("long"),
        "user_id",
        ts_us.alias("left_ts_us"),
    )
    right = ev.filter(F.col("event_type") == RIGHT_TYPE).select(
        "user_id", ts_us.alias("right_ts_us")
    )
    return (
        left.groupBy("user_id")
        .cogroup(right.groupBy("user_id"))
        .applyInPandas(_asof_cogroup_merge, _COGROUP_SCHEMA)
    )


# r9 verdict #4: the full-corpus cogroup twin was the suite's single
# most expensive bench entry (8.5 s committed) while pricing a
# NON-production path (the JVM window plan `events_asof` is the
# benchmarked production as-of).  The bench prices the Python cogroup
# boundary at a deterministic 1-in-10 user slice instead — same plan,
# same boundary, ~1/10 the rows — recorded as `events_asof_cogroup@probe`
# so the artifact says explicitly that the measurement is probe-scale.
# Correctness (parity/driver) still runs the FULL query.
BENCH_PROBE_SCALE = {
    "events_asof_cogroup": lambda spark, sf_dir: _asof_cogroup(
        spark, sf_dir, user_slice=10
    ),
}


# same oracle as the JVM composition — one contract, three
# implementations (window plan, DuckDB native ASOF, pandas merge_asof)
ORACLES["events_asof_cogroup"] = ORACLES["events_asof"]

QUERIES["events_asof_cogroup"] = q_events_asof_cogroup


# --- interval × interval overlap join (bucket decomposition) ---------


def q_events_interval_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval×interval OVERLAP join — the third member of the
    temporal-join family (as-of = latest-before, range join =
    point-in-window, THIS = interval-meets-interval): which user
    sessions overlap which platform-wide busy hours (hours whose
    event volume exceeds 1.5× the average — surge windows).

    The naive plan is an inequality theta-join
    (``s.start <= h_end AND s.end >= h_start``), which Spark executes
    as BroadcastNestedLoopJoin — O(S×H) comparisons, a non-starter
    when both sides are big.  The scale rewrite here is BUCKET
    DECOMPOSITION: each session explodes to the hour buckets it
    covers (bounded by session length — sessions are gap-bounded so
    the fan-out is small), busy hours key to their own bucket, and
    the overlap join becomes a plain shuffled EQUI-join on the bucket
    key, with the exact overlap predicate kept as a residual filter.
    The DuckDB oracle states the inequality join directly (it plans
    an IEJoin), so parity proves the rewrite emits the identical
    pair set.

    The busy-hour threshold is exact integer math
    (``2·n·H > 3·T`` ⇔ n > 1.5·avg) so both engines pick identical
    hours — no float-boundary ties.

    Reference contrast: the reference has no temporal joins at all
    (its only join is the vocabulary probe,
    /root/reference/Spark/NB/src/main/scala/NB.scala:66-99); this is
    engine surface the Spark rebuild adds."""
    from ..streaming.sessions import sessions_batch

    sess = sessions_batch(spark, sf_dir).select(
        "user_id", "session_id", "start_epoch", "end_epoch"
    )
    ev = load_events(spark, sf_dir)
    hours = ev.groupBy(
        (F.expr("epoch_sec DIV 3600") * 3600)
        .cast("long")
        .alias("hour_epoch")
    ).agg(F.count("*").alias("n"))
    tot = hours.agg(
        F.sum("n").alias("t"), F.count("*").alias("h")
    )
    busy = (
        hours.join(F.broadcast(tot))
        .filter(2 * F.col("n") * F.col("h") > 3 * F.col("t"))
        .select("hour_epoch", F.expr("hour_epoch DIV 3600").alias("bucket"))
    )
    expl = sess.select(
        "user_id",
        "session_id",
        "start_epoch",
        "end_epoch",
        F.explode(
            F.sequence(
                F.expr("start_epoch DIV 3600"),
                F.expr("end_epoch DIV 3600"),
            )
        ).alias("bucket"),
    )
    overlap = (
        F.least(F.col("end_epoch"), F.col("hour_epoch") + 3599)
        - F.greatest(F.col("start_epoch"), F.col("hour_epoch"))
        + 1
    )
    return (
        expl.join(busy, "bucket")
        # residual exact-overlap predicate: a no-op for hour-aligned
        # right intervals (every covered bucket genuinely overlaps)
        # but required in the general template where right intervals
        # span buckets
        .filter(
            (F.col("start_epoch") <= F.col("hour_epoch") + 3599)
            & (F.col("end_epoch") >= F.col("hour_epoch"))
        )
        .select(
            "user_id",
            "session_id",
            "hour_epoch",
            overlap.cast("long").alias("overlap_sec"),
        )
    )


_SESS_CTE = (
    "WITH e AS (SELECT user_id, event_id, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es FROM events), "
    "lagged AS (SELECT *, lag(es) OVER "
    "(PARTITION BY user_id ORDER BY es, event_id) AS prev FROM e), "
    "flagged AS (SELECT *, CASE WHEN prev IS NULL OR es - prev >= "
    "1800 THEN 1 ELSE 0 END AS is_new FROM lagged), "
    "numbered AS (SELECT *, sum(is_new) OVER "
    "(PARTITION BY user_id ORDER BY es, event_id "
    "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged), "
    "sess AS (SELECT user_id, CAST(sid AS BIGINT) AS session_id, "
    "min(es) AS start_epoch, max(es) AS end_epoch "
    "FROM numbered GROUP BY user_id, sid), "
    "hrs AS (SELECT CAST(es // 3600 * 3600 AS BIGINT) AS hour_epoch, "
    "count(*) AS n FROM e GROUP BY 1), "
    "tot AS (SELECT sum(n) AS t, count(*) AS h FROM hrs), "
    "busy AS (SELECT hour_epoch FROM hrs, tot WHERE 2*n*h > 3*t) "
)

ORACLES["events_interval_overlap"] = (
    _SESS_CTE
    + "SELECT s.user_id, s.session_id, b.hour_epoch, "
    "CAST(LEAST(s.end_epoch, b.hour_epoch + 3599) - "
    "GREATEST(s.start_epoch, b.hour_epoch) + 1 AS BIGINT) "
    "AS overlap_sec "
    "FROM sess s JOIN busy b "
    "ON s.start_epoch <= b.hour_epoch + 3599 "
    "AND s.end_epoch >= b.hour_epoch"
)

QUERIES["events_interval_overlap"] = q_events_interval_overlap


# --- point-in-time feature assembly (r5) ---------------------------------
#
# The feature-store primitive every supervised pipeline on event data
# needs: for each LABEL event (purchase), assemble the user's features
# as they stood STRICTLY BEFORE the label's timestamp — clicks/views/
# spend over the trailing 7 days, recency of last activity — so no
# post-label information leaks into training (the point-in-time-
# correctness contract; Feast/Tecton call this the "as-of join
# against the feature log").  The strictly-before frame (… AND 1
# PRECEDING, tie events at the label's own second excluded) is the
# leakage guard the test pins.  recency_sec looks back over the
# user's WHOLE prior history (unbounded-preceding frame, still
# strictly before the label), so -1 means "no prior activity ever"
# — not merely "quiet for 7 days" (r5 advice: the 7-day-framed
# last_seen conflated no-history with stale-history).
#
# Scale shape: ONE window shuffle partitioned BY USER (thousands of
# independent partitions — never a global window) over the unioned
# event log; labels filter out AFTER the frame computes, so feature
# rows never join back.  Spend sums in exact integer cents; the
# RANGE frame is over integer epoch seconds.

PIT_WINDOW_SEC = 7 * 86400
PIT_LABEL = "purchase"


def q_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "epoch_sec",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("epoch_sec")
        .rangeBetween(-PIT_WINDOW_SEC, -1)
    )
    w_hist = (
        Window.partitionBy("user_id")
        .orderBy("epoch_sec")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "epoch_sec",
        "cents",
        F.count("*").over(w).cast("long").alias("f_events_7d"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .over(w)
        .alias("f_clicks_7d"),
        F.sum(
            F.when(F.col("event_type") == PIT_LABEL, F.col("cents"))
        )
        .over(w)
        .alias("f_spend_cents_7d"),
        F.max("epoch_sec").over(w_hist).alias("last_seen"),
    )
    return feat.filter(F.col("event_type") == PIT_LABEL).select(
        "event_id",
        "user_id",
        F.col("epoch_sec").alias("label_epoch"),
        F.round(F.col("cents") / 100.0, 6).alias("label_value"),
        "f_events_7d",
        F.coalesce("f_clicks_7d", F.lit(0)).cast("long").alias(
            "f_clicks_7d"
        ),
        F.round(
            F.coalesce("f_spend_cents_7d", F.lit(0)) / 100.0, 6
        ).alias("f_spend_7d"),
        F.coalesce(
            F.col("epoch_sec") - F.col("last_seen"),
            F.lit(-1).cast("long"),
        )
        .cast("long")
        .alias("recency_sec"),
    )


ORACLES["events_pit_features"] = (
    "WITH e AS (SELECT event_id, user_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events), "
    "f AS (SELECT event_id, user_id, event_type, es, cents, "
    "CAST(count(*) OVER w AS BIGINT) AS f_events_7d, "
    "CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) "
    "OVER w, 0) AS BIGINT) AS f_clicks_7d, "
    "coalesce(sum(CASE WHEN event_type = "
    f"'{PIT_LABEL}' THEN cents END) OVER w, 0) AS f_spend_cents_7d, "
    "max(es) OVER wh AS last_seen FROM e "
    "WINDOW w AS (PARTITION BY user_id ORDER BY es "
    f"RANGE BETWEEN {PIT_WINDOW_SEC} PRECEDING AND 1 PRECEDING), "
    "wh AS (PARTITION BY user_id ORDER BY es "
    "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
    f"SELECT event_id, user_id, es AS label_epoch, "
    "round(cents / 100.0, 6) AS label_value, f_events_7d, f_clicks_7d, "
    "round(f_spend_cents_7d / 100.0, 6) AS f_spend_7d, "
    "CAST(coalesce(es - last_seen, -1) AS BIGINT) AS recency_sec "
    f"FROM f WHERE event_type = '{PIT_LABEL}'"
)
QUERIES["events_pit_features"] = q_pit_features
