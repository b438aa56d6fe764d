"""Calendar-spine time-series operators over ``events`` (engine
extension — the reference computes no time series at all; its only
temporal structure is job ordering, SURVEY §2).

Two classic warehouse shapes the event suite did not cover yet:

- ``events_gap_fill`` — a DENSE hourly series per event type: every
  hour between the corpus's first and last event appears exactly once
  per type, absent hours carry zero counts and a ``gap`` flag, and a
  forward-fill column carries the last observed hourly volume across
  the gap (the `LOCF` imputation every monitoring/feature pipeline
  needs before a model sees the series).
- ``events_rolling_corr`` — 7-day rolling Pearson correlation between
  the daily ``click`` and ``purchase`` counts, computed from EXACT
  integer window sums (n, Σx, Σy, Σxy, Σx², Σy²) so both engines
  derive the identical double: correlation enters only at the final
  division, never inside the accumulation.  NULL until a full 7-day
  window exists or when either series is constant in the window
  (zero variance has no defined correlation — returning NULL beats
  an engine-specific NaN).

Scale shape — why the windows here are fine at 100 TB: both queries
aggregate events down to a CALENDAR-bounded table first (hours × 5
types, or days), via an ordinary partial-agg ``groupBy`` that scales
with the data.  The windows then run over rows bounded by elapsed
time (8 760 hours/year), not by event volume, so the partition-less
day window is a constant-sized tail, not a bottleneck.  The hour
spine is generated with ``sequence``/``explode`` from a 1-row bounds
aggregate — no driver collect, no Python.

Integer-exactness note (``events_rolling_corr``): the window sums are
LONGs over daily counts — exact, engine-independent.  At planetary
volumes (≥ ~2³¹ events/day) Σxy would need the built-in
``covar_pop``/``stddev_pop`` instead; the docstring trade is exactness
of the oracle comparison at test scale vs headroom, and the constants
make the switch point explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.windowed import load_events

HOUR_SEC = 3600
DAY_SEC = 86400
CORR_DAYS = 7
CORR_X = "click"
CORR_Y = "purchase"


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        (F.expr(f"epoch_sec DIV {HOUR_SEC}") * HOUR_SEC)
        .cast("long")
        .alias("hr"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("vol"),
    )
    bounds = ev.agg(
        (F.min(F.expr(f"epoch_sec DIV {HOUR_SEC}")) * HOUR_SEC)
        .cast("long")
        .alias("mn"),
        (F.max(F.expr(f"epoch_sec DIV {HOUR_SEC}")) * HOUR_SEC)
        .cast("long")
        .alias("mx"),
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("mn", "mx", F.lit(HOUR_SEC).cast("long"))
            ).alias("hr")
        )
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            (F.coalesce("vol", F.lit(0.0)) + 0.0).alias("volume"),
            F.col("n").isNull().cast("int").alias("gap"),
            (
                F.coalesce(
                    F.last("vol", ignorenulls=True).over(w), F.lit(0.0)
                )
                + 0.0
            ).alias("ffill_vol"),
        )
    )


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    daily = (
        ev.filter(F.col("event_type").isin(CORR_X, CORR_Y))
        .groupBy(
            F.expr(f"epoch_sec DIV {DAY_SEC}").cast("long").alias("day")
        )
        .agg(
            F.sum((F.col("event_type") == CORR_X).cast("long"))
            .cast("long")
            .alias("x"),
            F.sum((F.col("event_type") == CORR_Y).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-(CORR_DAYS - 1), 0)
    n = F.count("*").over(w).cast("long")
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    # exact integer moments; doubles appear only in the final ratio
    num = (n * sxy - sx * sy).cast("double")
    dx = (n * sxx - sx * sx).cast("double")
    dy = (n * syy - sy * sy).cast("double")
    moments = daily.select(
        "day",
        "x",
        "y",
        n.alias("n_w"),
        num.alias("num"),
        dx.alias("dx"),
        dy.alias("dy"),
    )
    corr = F.when(
        (F.col("n_w") == CORR_DAYS)
        & (F.col("dx") > 0)
        & (F.col("dy") > 0),
        F.round(F.col("num") / (F.sqrt("dx") * F.sqrt("dy")), 6),
    )
    return moments.select(
        "day",
        F.col("x").alias("n_click"),
        F.col("y").alias("n_purchase"),
        corr.alias("corr7"),
    )


_HR = f"epoch_ns(ts) // 1000000000 // {HOUR_SEC} * {HOUR_SEC}"

ORACLES: dict[str, str] = {
    "events_gap_fill": (
        f"WITH b AS (SELECT event_type, CAST({_HR} AS BIGINT) AS hr, "
        "CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS vol "
        "FROM events GROUP BY 1, 2), "
        "bounds AS (SELECT min(hr) AS mn, max(hr) AS mx FROM b), "
        "spine AS (SELECT et.event_type, g.hr FROM "
        "(SELECT DISTINCT event_type FROM events) et CROSS JOIN "
        f"(SELECT unnest(generate_series(mn, mx, {HOUR_SEC})) AS hr "
        "FROM bounds) g) "
        "SELECT s.event_type, s.hr, "
        "CAST(coalesce(b.n, 0) AS BIGINT) AS n_events, "
        "coalesce(b.vol, 0.0) + 0.0 AS volume, "
        "CAST(b.n IS NULL AS INTEGER) AS gap, "
        "coalesce(last_value(b.vol IGNORE NULLS) OVER ("
        "PARTITION BY s.event_type ORDER BY s.hr "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) + 0.0 "
        "AS ffill_vol "
        "FROM spine s LEFT JOIN b "
        "ON s.event_type = b.event_type AND s.hr = b.hr"
    ),
    "events_rolling_corr": (
        "WITH d AS (SELECT "
        f"CAST(epoch_ns(ts) // 1000000000 // {DAY_SEC} AS BIGINT) AS day, "
        f"CAST(sum(CASE WHEN event_type = '{CORR_X}' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS x, "
        f"CAST(sum(CASE WHEN event_type = '{CORR_Y}' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS y "
        "FROM events "
        f"WHERE event_type IN ('{CORR_X}', '{CORR_Y}') GROUP BY 1), "
        "m AS (SELECT day, x, y, "
        "CAST(count(*) OVER w AS BIGINT) AS n, "
        "sum(x) OVER w AS sx, sum(y) OVER w AS sy, "
        "sum(x * y) OVER w AS sxy, "
        "sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy "
        "FROM d WINDOW w AS (ORDER BY day "
        f"ROWS BETWEEN {CORR_DAYS - 1} PRECEDING AND CURRENT ROW)) "
        "SELECT day, x AS n_click, y AS n_purchase, "
        f"CASE WHEN n = {CORR_DAYS} "
        "AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 "
        "THEN round(CAST(n * sxy - sx * sy AS DOUBLE) / "
        "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * "
        "sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) END AS corr7 "
        "FROM m"
    ),
}

BACKTEST_H = 168  # seasonal-naive horizon AND backtest window (hours)


def q_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality floor per event type: the seasonal-naive
    forecast (this hour = same hour last week) backtested over the
    final week, scored with WAPE (Σ|f−a| / Σa — defined even when
    single hours are zero, unlike MAPE) and signed bias.  Every
    fancier forecaster must beat this number; shipping the baseline
    as a query is what makes "the model helps" a measurable claim.

    Built on the DENSE gap-filled series — on the raw hourly rollup a
    ``lag(168)`` would silently misalign across missing hours; the
    spine makes the lag a true calendar week.  All sums are integer
    counts (exact, engine-independent); the two ratios round once."""
    gf = q_gap_fill(spark, sf_dir).select("event_type", "hr", "n_events")
    w_asc = Window.partitionBy("event_type").orderBy("hr")
    w_desc = Window.partitionBy("event_type").orderBy(F.desc("hr"))
    scored = gf.select(
        "event_type",
        "n_events",
        F.lag("n_events", BACKTEST_H).over(w_asc).alias("fc"),
        F.row_number().over(w_desc).alias("rn"),
    ).filter((F.col("rn") <= BACKTEST_H) & F.col("fc").isNotNull())
    return scored.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.round(
            F.sum(F.abs(F.col("fc") - F.col("n_events")))
            / F.sum("n_events"),
            6,
        ).alias("wape"),
        F.round(
            F.sum(F.col("fc") - F.col("n_events")) / F.sum("n_events"), 6
        ).alias("bias"),
    )


ORACLES["events_snaive_backtest"] = (
    "WITH gf AS ("
    + ORACLES["events_gap_fill"]
    + "), l AS (SELECT event_type, n_events, "
    f"lag(n_events, {BACKTEST_H}) OVER "
    "(PARTITION BY event_type ORDER BY hr) AS fc, "
    "row_number() OVER (PARTITION BY event_type ORDER BY hr DESC) AS rn "
    "FROM gf) "
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours, "
    "round(sum(abs(fc - n_events)) * 1.0 / sum(n_events), 6) AS wape, "
    "round(sum(fc - n_events) * 1.0 / sum(n_events), 6) AS bias "
    f"FROM l WHERE rn <= {BACKTEST_H} AND fc IS NOT NULL "
    "GROUP BY event_type"
)

WM_BUCKET = 1024     # arrival-order bucket width for the prefix max
LATE_FENCE = 3600    # "badly late" fence (seconds) for the rate column


def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-tuning statistic: per event type, the lateness
    distribution of the stream — how far each event's timestamp lags
    the maximum timestamp already seen at its ARRIVAL position
    (arrival order = event_id, the ingest sequence).  p99 lateness is
    the number a streaming job's ``withWatermark`` should be set to;
    frac_late_1h is the data loss a 1-hour watermark would accept.
    Shipping this as a batch query is how the delay is chosen from
    evidence instead of folklore.

    The running max over arrival order is inherently sequential, so
    it decomposes exactly like the epoch-shuffle ranks: within-bucket
    running max (ordinary partitioned window over event_id DIV 1024
    buckets) + an exclusive prefix max over the bucket-max rollup
    (bounded: N/1024 rows) broadcast back — global running max =
    max(prior buckets' max, within-bucket running max).  At extreme
    N the bucket rollup itself re-buckets (the same two-level escape
    as the IVF quantizer); lateness values are integer seconds, so
    every aggregate below the quantiles is exact."""
    ev = load_events(spark, sf_dir).select(
        "event_id", "event_type", "epoch_sec"
    )
    b = ev.withColumn(
        "bk", F.expr(f"event_id DIV {WM_BUCKET}").cast("long")
    )
    w_in = (
        Window.partitionBy("bk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run_in = F.max("epoch_sec").over(w_in)
    bmax = b.groupBy("bk").agg(F.max("epoch_sec").alias("m"))
    w_pre = (
        Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = bmax.select(
        "bk", F.max("m").over(w_pre).alias("pm")
    )
    late = (
        F.greatest(run_in, F.coalesce(F.col("pm"), run_in))
        - F.col("epoch_sec")
    ).cast("long")
    scored = b.join(F.broadcast(pre), "bk").select(
        "event_type", late.alias("late")
    )
    # r12 (guide §2.2): one array-percentile buffer for the three
    # ranks — bit-identical per rank, 3 per-group value maps → 1
    return scored.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr("percentile(late, array(0.5, 0.95, 0.99))").alias("_ps"),
        F.max("late").cast("long").alias("max_late"),
        F.round(
            F.avg((F.col("late") > LATE_FENCE).cast("double")), 6
        ).alias("frac_late_1h"),
    ).select(
        "event_type",
        "n_events",
        F.round(F.col("_ps")[0], 6).alias("p50_late"),
        F.round(F.col("_ps")[1], 6).alias("p95_late"),
        F.round(F.col("_ps")[2], 6).alias("p99_late"),
        "max_late",
        "frac_late_1h",
    )


ORACLES["events_watermark_audit"] = (
    "WITH b AS (SELECT event_id, event_type, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS s FROM events), "
    "r AS (SELECT event_type, "
    "max(s) OVER (ORDER BY event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - s AS late "
    "FROM b) "
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "round(quantile_cont(late, 0.5), 6) AS p50_late, "
    "round(quantile_cont(late, 0.95), 6) AS p95_late, "
    "round(quantile_cont(late, 0.99), 6) AS p99_late, "
    "CAST(max(late) AS BIGINT) AS max_late, "
    f"round(avg(CASE WHEN late > {LATE_FENCE} THEN 1.0 ELSE 0.0 END), 6) "
    "AS frac_late_1h "
    "FROM r GROUP BY event_type"
)

QUERIES = {
    "events_gap_fill": q_gap_fill,
    "events_rolling_corr": q_rolling_corr,
    "events_snaive_backtest": q_snaive_backtest,
    "events_watermark_audit": q_watermark_audit,
}


# --- offline change-point detection (CUSUM argmax) -------------------


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point in daily purchase revenue via the offline
    CUSUM statistic (Page): the day boundary t maximizing
    |S_t·N − N_t·S| (prefix cents sum vs its expected share) — where
    the level of the series most decisively shifts.  Binary
    segmentation applies this recursively; the engine surfaces the
    first (strongest) split plus both segment means so the caller
    sees the effect size, not just the location.

    Scale shape: one day-keyed partial agg over events, a cumulative
    window over the DAY histogram (bounded by the calendar, not the
    data), and an integer argmax — the statistic stays in exact
    integer cents arithmetic end-to-end (floats only in the final
    rounded means), with the min-day tie-break making the argmax
    engine-deterministic."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    days = ev.groupBy(
        ((F.expr("epoch_sec DIV 86400")) * 86400)
        .cast("long")
        .alias("day_epoch")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("s_cents"),
    )
    w = Window.orderBy("day_epoch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = days.select(
        "day_epoch",
        F.sum("n").over(w).alias("cn"),
        F.sum("s_cents").over(w).alias("cs"),
    )
    tot = days.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("s_cents").cast("long").alias("ts"),
    )
    scored = (
        cum.join(F.broadcast(tot))
        # a boundary at the last day splits nothing — exclude it
        .filter(F.col("cn") < F.col("tn"))
        .select(
            "day_epoch",
            "cn",
            "cs",
            "tn",
            "ts",
            F.abs(
                F.col("cs") * F.col("tn") - F.col("cn") * F.col("ts")
            ).alias("d2"),
        )
    )
    best = scored.select(
        F.min_by(
            F.struct("day_epoch", "cn", "cs", "tn", "ts"),
            F.struct(-F.col("d2"), F.col("day_epoch")),
        ).alias("b")
    ).select("b.*")
    return best.select(
        F.col("day_epoch").alias("change_day_epoch"),
        F.col("cn").alias("n_before"),
        (F.col("tn") - F.col("cn")).alias("n_after"),
        F.round(F.col("cs").cast("double") / F.col("cn") / 100.0, 6).alias(
            "mean_before"
        ),
        F.round(
            (F.col("ts") - F.col("cs")).cast("double")
            / (F.col("tn") - F.col("cn"))
            / 100.0,
            6,
        ).alias("mean_after"),
    )


ORACLES["events_changepoint"] = (
    "WITH pv AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents "
    "FROM events WHERE event_type = 'purchase'), "
    "days AS (SELECT CAST(es // 86400 * 86400 AS BIGINT) AS day_epoch, "
    "CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s_cents "
    "FROM pv GROUP BY 1), "
    "cum AS (SELECT day_epoch, sum(n) OVER (ORDER BY day_epoch "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn, "
    "sum(s_cents) OVER (ORDER BY day_epoch "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs "
    "FROM days), "
    "tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, "
    "CAST(sum(s_cents) AS BIGINT) AS ts FROM days), "
    "scored AS (SELECT day_epoch, cn, cs, tn, ts, "
    "abs(cs * tn - cn * ts) AS d2 FROM cum, tot WHERE cn < tn), "
    "best AS (SELECT * FROM scored ORDER BY d2 DESC, day_epoch ASC "
    "LIMIT 1) "
    "SELECT day_epoch AS change_day_epoch, "
    "CAST(cn AS BIGINT) AS n_before, "
    "CAST(tn - cn AS BIGINT) AS n_after, "
    "round(CAST(cs AS DOUBLE) / cn / 100.0, 6) AS mean_before, "
    "round(CAST(ts - cs AS DOUBLE) / (tn - cn) / 100.0, 6) AS mean_after "
    "FROM best"
)

QUERIES["events_changepoint"] = q_events_changepoint


# --- seasonality strength (variance decomposition) -------------------


def q_events_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How much of daily revenue variance is explained by the
    day-of-week pattern: F_s = 1 − Var(residual)/Var(total) over
    daily cents totals, residual = day − its weekday mean (the
    strength-of-seasonality statistic from the STL literature,
    Wang-Smith-Hyndman).  ≈0 → no weekly rhythm, →1 → the calendar
    explains everything; it gates whether the seasonal-naive
    forecaster (`events_snaive_backtest`) is even applicable.

    One day histogram (calendar-bounded), one weekday mean join back,
    two variance aggregates — integer cents until the final ratio;
    var_pop on both engines is the same two-moment formula."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    days = ev.groupBy(
        ((F.expr("epoch_sec DIV 86400")) * 86400)
        .cast("long")
        .alias("day_epoch")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    dow = days.withColumn(
        "dow", F.expr("(day_epoch DIV 86400) % 7").cast("int")
    )
    means = dow.groupBy("dow").agg(F.avg("cents").alias("mu_dow"))
    resid = dow.join(F.broadcast(means), "dow").select(
        "day_epoch",
        "cents",
        (F.col("cents") - F.col("mu_dow")).alias("resid"),
    )
    return resid.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            1.0 - F.var_pop("resid") / F.var_pop("cents"), 6
        ).alias("seasonal_strength"),
        # raw var_pop of ~1e9-scale cents carries ±1e-6 accumulation
        # noise (two-moment cancellation) that survives round(,6);
        # sqrt + dollar scaling compresses it below round(,4)
        F.round(F.sqrt(F.var_pop("cents")) / 100.0, 4).alias(
            "sd_daily_usd"
        ),
    )


ORACLES["events_seasonality_strength"] = (
    "WITH pv AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents "
    "FROM events WHERE event_type = 'purchase'), "
    "days AS (SELECT CAST(es // 86400 * 86400 AS BIGINT) AS day_epoch, "
    "CAST(sum(cents) AS BIGINT) AS cents FROM pv GROUP BY 1), "
    "dow AS (SELECT day_epoch, cents, "
    "CAST((day_epoch // 86400) % 7 AS INTEGER) AS dow FROM days), "
    "m AS (SELECT dow, avg(cents) AS mu_dow FROM dow GROUP BY dow), "
    "r AS (SELECT d.day_epoch, d.cents, d.cents - m.mu_dow AS resid "
    "FROM dow d JOIN m USING (dow)) "
    "SELECT CAST(count(*) AS BIGINT) AS n_days, "
    "round(1.0 - var_pop(resid) / var_pop(cents), 6) "
    "AS seasonal_strength, "
    "round(sqrt(var_pop(cents)) / 100.0, 4) AS sd_daily_usd FROM r"
)

QUERIES["events_seasonality_strength"] = q_events_seasonality_strength


# --- Mann-Kendall trend test + Theil-Sen slope ------------------------
#
# The robust, distribution-free complement to the CUSUM change-point:
# CUSUM asks "where did the level shift", Mann-Kendall asks "is there
# a monotone trend at all" and Theil-Sen "how steep, robustly".  Both
# statistics are pairwise over the DAILY revenue histogram, so the
# self-join is calendar² (365 days → ~66k pairs), bounded by elapsed
# time — never by event volume; the day rollup in front is the usual
# partial-agg groupBy that does scale with the data.
#
# Exactness discipline: S (the sign sum), the tie term, and the
# variance numerator are pure BIGINT arithmetic; Theil-Sen slopes are
# pre-rounded to 6 decimals BEFORE the median so both engines order
# and average the identical doubles (the tools/parity.py sort-key
# convention applied inside the query).  z uses the standard
# continuity correction (S∓1)/σ and is NULL when the variance is zero
# (constant series).

MK_Z_CRIT = 1.959964  # two-sided 5% normal critical value


def q_events_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    days = ev.groupBy(
        F.expr("epoch_sec DIV 86400").cast("long").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    a = days.select(F.col("d").alias("da"), F.col("cents").alias("xa"))
    b = days.select(F.col("d").alias("db"), F.col("cents").alias("xb"))
    pairs = a.join(b, F.col("da") < F.col("db"))
    sgn = (
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
        .cast("long")
    )
    s_tab = pairs.agg(F.sum(sgn).cast("long").alias("s_stat"))
    n_tab = days.agg(F.count("*").cast("long").alias("n_days"))
    tie_tab = (
        days.groupBy("cents")
        .agg(F.count("*").cast("long").alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    slopes = pairs.select(
        F.round(
            (F.col("xb") - F.col("xa")).cast("double")
            / (F.col("db") - F.col("da"))
            / 100.0,
            6,
        ).alias("slope")
    )
    wsl = Window.orderBy("slope")
    wall = Window.partitionBy()
    med = (
        slopes.select(
            "slope",
            F.row_number().over(wsl).alias("rn"),
            F.count("*").over(wall).alias("m"),
        )
        .filter(
            (F.col("rn") == F.floor((F.col("m") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("m") + 2) / 2))
        )
        .agg(F.round(F.avg("slope"), 6).alias("sen_slope"))
    )
    var_num = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    )
    var_s = var_num.cast("double") / 18.0
    z = (
        F.when(
            var_s > 0,
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1) / F.sqrt(var_s),
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1) / F.sqrt(var_s),
            )
            .otherwise(F.lit(0.0)),
        )
    )
    return (
        n_tab.crossJoin(s_tab)
        .crossJoin(tie_tab)
        .crossJoin(med)
        .select(
            "n_days",
            "s_stat",
            F.round(var_s, 6).alias("var_s"),
            F.round(z, 6).alias("z"),
            "sen_slope",
            F.when(z > MK_Z_CRIT, F.lit("increasing"))
            .when(z < -MK_Z_CRIT, F.lit("decreasing"))
            .otherwise(F.lit("none"))
            .alias("trend"),
        )
    )


ORACLES["events_trend_test"] = (
    "WITH pv AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents "
    "FROM events WHERE event_type = 'purchase'), "
    "days AS (SELECT CAST(es // 86400 AS BIGINT) AS d, "
    "CAST(sum(cents) AS BIGINT) AS cents FROM pv GROUP BY 1), "
    "pairs AS (SELECT a.d AS da, a.cents AS xa, b.d AS db, b.cents AS xb "
    "FROM days a JOIN days b ON a.d < b.d), "
    "stab AS (SELECT CAST(coalesce(sum(CASE WHEN xb > xa THEN 1 "
    "WHEN xb < xa THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat FROM pairs), "
    "ntab AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM days), "
    "ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) "
    "AS BIGINT) AS tie_term FROM (SELECT CAST(count(*) AS BIGINT) AS t "
    "FROM days GROUP BY cents)), "
    "slopes AS (SELECT round(CAST(xb - xa AS DOUBLE) / (db - da) / 100.0, "
    "6) AS slope FROM pairs), "
    "ranked AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn, "
    "count(*) OVER () AS m FROM slopes), "
    "med AS (SELECT round(avg(slope), 6) AS sen_slope FROM ranked "
    "WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2), "
    "joined AS (SELECT n.n_days, s.s_stat, t.tie_term, m.sen_slope, "
    "CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_term "
    "AS DOUBLE) / 18.0 AS var_s "
    "FROM ntab n, stab s, ties t, med m), "
    "zt AS (SELECT *, CASE WHEN var_s > 0 THEN "
    "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
    "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) ELSE 0.0 END "
    "ELSE NULL END AS z FROM joined) "
    "SELECT n_days, s_stat, round(var_s, 6) AS var_s, "
    "round(z, 6) AS z, sen_slope, "
    f"CASE WHEN z > {MK_Z_CRIT} THEN 'increasing' "
    f"WHEN z < -{MK_Z_CRIT} THEN 'decreasing' "
    "ELSE 'none' END AS trend FROM zt"
)

QUERIES["events_trend_test"] = q_events_trend_test


# --- EWMA forecast + anomaly flags ------------------------------------
#
# One-step-ahead exponentially-weighted forecast of daily purchase
# revenue with 3σ residual flags — the EWMA control chart (Roberts
# 1959), the standard first-alarm next to the z-score volume monitor
# (events_anomaly scores hourly COUNTS against a global mean; this
# scores daily REVENUE against a locally-adapting level, so a slow
# drift that never breaks the global z fence still trips here).
#
# The EWMA recurrence y_t = α·x_t + (1−α)·y_{t−1} is sequential; the
# distributed form expands it to the K-term truncated kernel
#   ŷ_t = Σ_{k=1..K} (1−α)^{k−1} x_{t−k} / Σ_{k avail} (1−α)^{k−1}
# over the GAP-FILLED day spine (lag-k must mean "k calendar days
# ago", not "k observed rows ago").  With α=0.3, K=14 the dropped
# tail mass is (1−α)^14 ≈ 0.7%, and the adjusted normalization (divide
# by the sum of PRESENT weights) keeps ŷ a proper weighted mean at
# the series head and at the truncation boundary alike — this is
# pandas' ewm(adjust=True) restricted to a 14-day memory, chosen
# precisely so the plan is K narrow lag columns over the
# calendar-bounded day table instead of an unbounded recursion.
#
# Determinism: the spine, lags, and weights are identical integer/
# closed-form doubles in both engines; the residual σ is computed
# from ROUNDED residuals via explicit n/Σr/Σr² moments (not
# stddev_samp) and the flag compares 6-rounded values, the same
# fence discipline the registry's other boundary queries use.

EWMA_ALPHA = 0.3
EWMA_K = 14
EWMA_FENCE = 3.0


def q_events_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        F.expr("epoch_sec DIV 86400").cast("long").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    bounds = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    dense = spine.join(daily, "d", "left").select(
        "d", F.coalesce("cents", F.lit(0)).cast("long").alias("cents")
    )
    w = Window.orderBy("d")
    lag_terms = []
    den_terms = []
    for k in range(1, EWMA_K + 1):
        wt = (1.0 - EWMA_ALPHA) ** (k - 1)
        lk = F.lag("cents", k).over(w)
        lag_terms.append(
            F.when(lk.isNotNull(), F.lit(wt) * lk).otherwise(F.lit(0.0))
        )
        den_terms.append(
            F.when(lk.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        )
    num = sum(lag_terms[1:], lag_terms[0])
    den = sum(den_terms[1:], den_terms[0])
    fc = dense.select(
        "d",
        "cents",
        F.when(den > 0, num / den).alias("fc_cents"),
    )
    resid = fc.select(
        "d",
        "cents",
        "fc_cents",
        F.round((F.col("cents") - F.col("fc_cents")) / 100.0, 6).alias(
            "resid"
        ),
    )
    mom = resid.filter(F.col("resid").isNotNull()).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("resid").alias("s1"),
        F.sum(F.col("resid") * F.col("resid")).alias("s2"),
    )
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        resid.crossJoin(F.broadcast(mom))
        .select(
            (F.col("d") * 86400).alias("day_epoch"),
            F.round(F.col("cents") / 100.0, 6).alias("revenue"),
            F.round(F.col("fc_cents") / 100.0, 6).alias("forecast"),
            "resid",
            F.coalesce(
                F.abs(F.col("resid"))
                > F.round(F.lit(EWMA_FENCE) * sd, 6),
                F.lit(False),
            ).alias("is_anomaly"),
        )
    )


def _ewma_lag_sql() -> tuple[str, str]:
    nums, dens = [], []
    for k in range(1, EWMA_K + 1):
        wt = (1.0 - EWMA_ALPHA) ** (k - 1)
        lk = f"lag(cents, {k}) OVER (ORDER BY d)"
        nums.append(f"CASE WHEN {lk} IS NOT NULL THEN {wt} * {lk} ELSE 0 END")
        dens.append(f"CASE WHEN {lk} IS NOT NULL THEN {wt} ELSE 0 END")
    return " + ".join(nums), " + ".join(dens)


_EWMA_NUM, _EWMA_DEN = _ewma_lag_sql()

ORACLES["events_ewma_anomaly"] = (
    "WITH pv AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents "
    "FROM events WHERE event_type = 'purchase'), "
    "daily AS (SELECT CAST(es // 86400 AS BIGINT) AS d, "
    "CAST(sum(cents) AS BIGINT) AS cents FROM pv GROUP BY 1), "
    "spine AS (SELECT unnest(range((SELECT min(d) FROM daily), "
    "(SELECT max(d) FROM daily) + 1)) AS d), "
    "dense AS (SELECT s.d, CAST(coalesce(dl.cents, 0) AS BIGINT) AS cents "
    "FROM spine s LEFT JOIN daily dl ON s.d = dl.d), "
    f"fc AS (SELECT d, cents, CASE WHEN ({_EWMA_DEN}) > 0 THEN "
    f"({_EWMA_NUM}) / ({_EWMA_DEN}) ELSE NULL END AS fc_cents FROM dense), "
    "res AS (SELECT d, cents, fc_cents, "
    "round((cents - fc_cents) / 100.0, 6) AS resid FROM fc), "
    "mom AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(resid) AS s1, "
    "sum(resid * resid) AS s2 FROM res WHERE resid IS NOT NULL), "
    "sdt AS (SELECT sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd FROM mom) "
    "SELECT CAST(r.d * 86400 AS BIGINT) AS day_epoch, "
    "round(r.cents / 100.0, 6) AS revenue, "
    "round(r.fc_cents / 100.0, 6) AS forecast, r.resid, "
    f"coalesce(abs(r.resid) > round({EWMA_FENCE} * s.sd, 6), FALSE) "
    "AS is_anomaly FROM res r CROSS JOIN sdt s"
)

QUERIES["events_ewma_anomaly"] = q_events_ewma_anomaly


# --- Kaplan-Meier user-survival curve (r5) -----------------------------
#
# The churn readout events_retention can't give: retention tables
# condition on a fixed day grid, while the KM estimator (Kaplan &
# Meier 1958) handles RIGHT-CENSORING — users whose last event falls
# inside the final CENSOR_DAYS of the corpus are "still alive at the
# end of observation", not churned, and removing them from the risk
# set (instead of counting them as deaths or dropping them) is what
# makes the curve unbiased.  Lifetime = last_day − first_day per user;
# S(t) = Π_{t'≤t} (1 − d_t'/n_t') over the day-level rollup.
#
# Scale shape: ONE per-user partial-agg groupBy (the only shuffle that
# scales with the data), a broadcast 1-row corpus max, then all windows
# run over the lifetime-level table bounded by the CALENDAR span
# (≤ days-of-history rows), so the unpartitioned ORDER BY t is a
# constant-sized tail, not a data-sized sort.
#
# Determinism: d_t and n_t are exact integers in both engines; the
# survival product is a cumulative-frame ``product()`` window — a
# left-to-right chain of IEEE multiplications, bit-identical across
# engines (no exp/ln round-trip) — rounded once at the edge.  A day
# where everyone at risk churns drives the factor to exactly 0 and the
# product stays 0 from there, no log-domain guard needed.

KM_CENSOR_DAYS = 7


def q_events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    ue = ev.groupBy("user_id").agg(
        F.min(F.expr("epoch_sec DIV 86400")).cast("long").alias("f"),
        F.max(F.expr("epoch_sec DIV 86400")).cast("long").alias("l"),
    )
    mx = ue.agg(F.max("l").alias("corpus_last"))
    u = ue.crossJoin(F.broadcast(mx)).select(
        (F.col("l") - F.col("f")).cast("long").alias("t"),
        (F.col("l") > F.col("corpus_last") - KM_CENSOR_DAYS)
        .cast("int")
        .alias("cens"),
    )
    tot = u.agg(F.count("*").cast("long").alias("n_users"))
    byt = u.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("cens")).cast("long").alias("d"),
        F.sum("cens").cast("long").alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = byt.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        (
            F.col("n_users")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            )
        ).cast("long"),
    )
    return km.select(
        F.col("t").alias("t_day"),
        "n_risk",
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.round(
            F.product(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
            ).over(w_cum),
            6,
        ).alias("survival"),
    )


ORACLES["events_survival_km"] = (
    "WITH ue AS (SELECT user_id, "
    "CAST(min(epoch_ns(ts) // 1000000000 // 86400) AS BIGINT) AS f, "
    "CAST(max(epoch_ns(ts) // 1000000000 // 86400) AS BIGINT) AS l "
    "FROM events GROUP BY user_id), "
    "mx AS (SELECT max(l) AS corpus_last FROM ue), "
    "u AS (SELECT CAST(ue.l - ue.f AS BIGINT) AS t, "
    f"CASE WHEN ue.l > mx.corpus_last - {KM_CENSOR_DAYS} "
    "THEN 1 ELSE 0 END AS cens FROM ue CROSS JOIN mx), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u), "
    "byt AS (SELECT t, CAST(sum(1 - cens) AS BIGINT) AS d, "
    "CAST(sum(cens) AS BIGINT) AS c FROM u GROUP BY t), "
    "km AS (SELECT t, d, c, CAST((SELECT n_users FROM tot) - "
    "coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk FROM byt) "
    "SELECT t AS t_day, n_risk, d AS n_churned, c AS n_censored, "
    "round(product(1.0 - CAST(d AS DOUBLE) / n_risk) OVER ("
    "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) "
    "AS survival FROM km"
)

QUERIES["events_survival_km"] = q_events_survival_km


# --- daily OHLC candles (r5) -------------------------------------------
#
# The market-data/metrics-rollup shape every monitoring store keeps:
# per calendar day of purchase events, open/close = the value of the
# FIRST/LAST event under the (epoch_sec, event_id) total order (the
# same deterministic tiebreak merge.py's upsert uses — wall-clock ties
# cannot flip the candle between engines), high/low = max/min, plus
# volume and an exact-cents turnover.  first()/last() over a window
# would need a per-day sort; min_by/max_by fold the argmin into ONE
# partial-agg groupBy — map-side combinable, single shuffle, no
# window at all.

def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    # Struct ordering key (lexicographic) — NOT an arithmetic
    # epoch_sec*SHIFT+event_id pack, which only encodes the total
    # order while event_id < SHIFT and silently mis-picks open/close
    # one order of magnitude past sf0.1 (r5 advice).  Catalyst
    # defines ordering on structs, so min_by/max_by stay one
    # map-side-combinable partial agg.
    ordk = F.struct("epoch_sec", "event_id")
    return ev.groupBy(
        F.expr("epoch_sec DIV 86400").cast("long").alias("day")
    ).agg(
        F.min_by("value", ordk).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordk).alias("close"),
        F.count("*").cast("long").alias("n_trades"),
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0, 6
        ).alias("turnover"),
    )


# DuckDB's min_by cannot order by a struct, so the oracle expresses
# the identical (epoch_sec, event_id) total order as window
# first/last_value per day — same semantics, no packed-key overflow.
ORACLES["events_ohlc"] = (
    "WITH pv AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, "
    "event_id, value FROM events WHERE event_type = 'purchase'), "
    "w AS (SELECT CAST(es // 86400 AS BIGINT) AS day, value, "
    "first_value(value) OVER (PARTITION BY es // 86400 "
    "ORDER BY es, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "UNBOUNDED FOLLOWING) AS open, "
    "last_value(value) OVER (PARTITION BY es // 86400 "
    "ORDER BY es, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "UNBOUNDED FOLLOWING) AS close FROM pv) "
    "SELECT day, any_value(open) AS open, max(value) AS high, "
    "min(value) AS low, any_value(close) AS close, "
    "CAST(count(*) AS BIGINT) AS n_trades, "
    "round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0, 6) "
    "AS turnover FROM w GROUP BY day"
)

QUERIES["events_ohlc"] = q_events_ohlc


# --- timestamp-heaping audit (r5) ---------------------------------------
#
# The temporal twin of rel_benford_audit: real event streams heap on
# round timestamps when some producer truncates to the minute/hour/day
# (or backfills with midnight defaults) — a silent killer for
# sessionization gaps, as-of joins, and watermark tuning.  For each
# boundary, compare the observed share of events landing exactly ON
# the boundary against the uniform expectation (1/60, 1/3600, 1/86400)
# with a one-sample binomial z-score; |z| > 6 on a big stream is
# producer truncation, not chance.
#
# Scale shape: ONE full-scan aggregate with three conditional integer
# sums (map-side combinable), unpivoted to 3 rows via stack — no
# shuffle beyond the 1-row reduce.  The z denominator uses exact
# integer n and closed-form constants, so both engines compute the
# identical double.

_HEAP_BOUNDARIES = (("minute", 60), ("hour", 3600), ("day", 86400))


def q_events_timestamp_heaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    agg = ev.agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum((F.col("epoch_sec") % m == 0).cast("long"))
            .cast("long")
            .alias(f"on_{name}")
            for name, m in _HEAP_BOUNDARIES
        ],
    )
    stacked = agg.select(
        "n",
        F.expr(
            "stack({}, {}) AS (boundary, modulus, n_on_boundary)".format(
                len(_HEAP_BOUNDARIES),
                ", ".join(
                    f"'{name}', {m}L, on_{name}"
                    for name, m in _HEAP_BOUNDARIES
                ),
            )
        ),
    )
    p0 = F.lit(1.0) / F.col("modulus").cast("double")
    phat = F.col("n_on_boundary") / F.col("n").cast("double")
    z = (phat - p0) / F.sqrt(p0 * (F.lit(1.0) - p0) / F.col("n"))
    return stacked.select(
        "boundary",
        "n_on_boundary",
        F.col("n").alias("n_events"),
        F.round(phat, 6).alias("observed_rate"),
        F.round(p0, 6).alias("expected_rate"),
        F.round(z, 6).alias("z_score"),
        (F.abs(F.round(z, 6)) > 6.0).alias("heaped"),
    )


def _heaping_sql() -> str:
    sums = ", ".join(
        f"CAST(sum(CASE WHEN es % {m} = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS on_{name}"
        for name, m in _HEAP_BOUNDARIES
    )
    arms = " UNION ALL ".join(
        f"SELECT '{name}' AS boundary, CAST({m} AS BIGINT) AS modulus, "
        f"on_{name} AS n_on_boundary, n FROM a"
        for name, m in _HEAP_BOUNDARIES
    )
    return (
        "WITH e AS (SELECT CAST(epoch_ns(ts) // 1000000000 AS BIGINT) "
        "AS es FROM events), "
        f"a AS (SELECT CAST(count(*) AS BIGINT) AS n, {sums} FROM e), "
        f"s AS ({arms}) "
        "SELECT boundary, n_on_boundary, n AS n_events, "
        "round(n_on_boundary / CAST(n AS DOUBLE), 6) AS observed_rate, "
        "round(1.0 / CAST(modulus AS DOUBLE), 6) AS expected_rate, "
        "round((n_on_boundary / CAST(n AS DOUBLE) - 1.0 / "
        "CAST(modulus AS DOUBLE)) / sqrt(1.0 / CAST(modulus AS DOUBLE) * "
        "(1.0 - 1.0 / CAST(modulus AS DOUBLE)) / n), 6) AS z_score, "
        "abs(round((n_on_boundary / CAST(n AS DOUBLE) - 1.0 / "
        "CAST(modulus AS DOUBLE)) / sqrt(1.0 / CAST(modulus AS DOUBLE) * "
        "(1.0 - 1.0 / CAST(modulus AS DOUBLE)) / n), 6)) > 6.0 AS heaped "
        "FROM s"
    )


ORACLES["events_timestamp_heaping"] = _heaping_sql()
QUERIES["events_timestamp_heaping"] = q_events_timestamp_heaping


# --- multiplicative KPI decomposition (r5) -------------------------------
#
# The growth-team "why did revenue move" readout: revenue factors
# exactly as  users × (purchases/user) × (revenue/purchase), so the
# log-ratio between two periods ADDS across factors —
# Δln(revenue) = Δln(users) + Δln(frequency) + Δln(AOV) — and each
# factor's share of the total log-move is its attribution.  Compared
# over the last two complete weeks of the corpus (anchored to the max
# event time; integer week cut, no partial-week bias).
#
# Exactness: the three per-week primitives (distinct purchasers,
# purchase count, cents) are exact integers; ln/ratios happen once at
# the edge on identical integer inputs, rounded to 6.  Scale shape:
# one filtered scan → two 1-row aggregates (purchasers via
# count(DISTINCT) per week over a week-keyed pre-aggregate), a 3-row
# stack — no data-sized shuffle beyond the per-user pre-agg.


def q_events_kpi_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    mx = ev.agg(F.max("epoch_sec").alias("mx"))
    wk = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(
            F.col("epoch_sec") > F.col("mx") - 7 * 86400, F.lit(1)
        )
        .when(
            F.col("epoch_sec") > F.col("mx") - 14 * 86400, F.lit(0)
        )
        .alias("wk"),
    ).filter(F.col("wk").isNotNull())
    agg = wk.groupBy("wk").agg(
        F.countDistinct("user_id").cast("long").alias("users"),
        F.count("*").cast("long").alias("purchases"),
        F.sum("cents").cast("long").alias("cents"),
    )
    w0 = agg.filter(F.col("wk") == 0).select(
        F.col("users").alias("u0"),
        F.col("purchases").alias("p0"),
        F.col("cents").alias("c0"),
    )
    w1 = agg.filter(F.col("wk") == 1).select(
        F.col("users").alias("u1"),
        F.col("purchases").alias("p1"),
        F.col("cents").alias("c1"),
    )
    j = w0.crossJoin(w1)
    stacked = j.select(
        F.expr(
            "stack(4, "
            "'users', CAST(u0 AS DOUBLE), CAST(u1 AS DOUBLE), "
            "'frequency', p0 / CAST(u0 AS DOUBLE), p1 / CAST(u1 AS DOUBLE), "
            "'aov', c0 / (100.0D * p0), c1 / (100.0D * p1), "
            "'revenue', c0 / 100.0D, c1 / 100.0D"
            ") AS (factor, week_prev, week_last)"
        )
    )
    lr = F.log(F.col("week_last") / F.col("week_prev"))
    total = F.log(
        F.max(F.when(F.col("factor") == "revenue", F.col("week_last"))).over(
            Window.partitionBy()
        )
        / F.max(
            F.when(F.col("factor") == "revenue", F.col("week_prev"))
        ).over(Window.partitionBy())
    )
    return stacked.select(
        "factor",
        F.round("week_prev", 6).alias("week_prev"),
        F.round("week_last", 6).alias("week_last"),
        (F.round(lr, 6) + F.lit(0.0)).alias("ln_ratio"),
        (F.round(lr / total, 6) + F.lit(0.0)).alias("contribution"),
    )


ORACLES["events_kpi_decomposition"] = (
    "WITH pv AS (SELECT user_id, "
    "CAST(round(value * 100, 0) AS BIGINT) AS cents, "
    "CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es "
    "FROM events WHERE event_type = 'purchase'), "
    "mx AS (SELECT max(es) AS mx FROM pv), "
    "wkt AS (SELECT user_id, cents, CASE "
    "WHEN es > mx - 7 * 86400 THEN 1 "
    "WHEN es > mx - 14 * 86400 THEN 0 END AS wk "
    "FROM pv CROSS JOIN mx), "
    "agg AS (SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS users, "
    "CAST(count(*) AS BIGINT) AS purchases, "
    "CAST(sum(cents) AS BIGINT) AS cents "
    "FROM wkt WHERE wk IS NOT NULL GROUP BY wk), "
    "j AS (SELECT a.users AS u0, a.purchases AS p0, a.cents AS c0, "
    "b.users AS u1, b.purchases AS p1, b.cents AS c1 "
    "FROM (SELECT * FROM agg WHERE wk = 0) a, "
    "(SELECT * FROM agg WHERE wk = 1) b), "
    "s AS (SELECT 'users' AS factor, CAST(u0 AS DOUBLE) AS week_prev, "
    "CAST(u1 AS DOUBLE) AS week_last, "
    "ln(c1 * 1.0 / c0) AS total FROM j "
    "UNION ALL SELECT 'frequency', p0 / CAST(u0 AS DOUBLE), "
    "p1 / CAST(u1 AS DOUBLE), ln(c1 * 1.0 / c0) FROM j "
    "UNION ALL SELECT 'aov', c0 / (100.0 * p0), c1 / (100.0 * p1), "
    "ln(c1 * 1.0 / c0) FROM j "
    "UNION ALL SELECT 'revenue', c0 / 100.0, c1 / 100.0, "
    "ln(c1 * 1.0 / c0) FROM j) "
    "SELECT factor, round(week_prev, 6) AS week_prev, "
    "round(week_last, 6) AS week_last, "
    "round(ln(week_last / week_prev), 6) + 0.0 AS ln_ratio, "
    "round(ln(week_last / week_prev) / total, 6) + 0.0 AS contribution FROM s"
)

QUERIES["events_kpi_decomposition"] = q_events_kpi_decomposition


# --- declarative alert-rules engine (r5) ----------------------------------
#
# Monitoring rules as DATA, not code: the rule table (metric, op,
# threshold) lives where analysts can edit it, and the engine
# cross-applies it to a computed metric vector each run — the
# warehouse pattern behind every "alerting config" UI.  New rules
# need a row, not a deploy.  Metrics here: per-type event shares,
# the min/max daily volume, and the global mean purchase value —
# one full-scan aggregate, stacked to a metric vector, broadcast-
# joined against the rules.
#
# Exactness: shares/means derive from exact integer counts/cents and
# round once; thresholds are literals, and `fired` compares the
# ROUNDED value so the boundary is engine-exact.

ALERT_RULES = (
    ("R1_error_share_high", "error_share", ">", 0.25),
    ("R2_purchase_share_low", "purchase_share", "<", 0.15),
    ("R3_daily_min_volume", "min_daily_events", "<", 100.0),
    ("R4_daily_peak_volume", "max_daily_events", ">", 100000.0),
    ("R5_avg_purchase_value", "mean_purchase_value", ">", 30.0),
)


def q_events_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.expr("epoch_sec DIV 86400").alias("d")).agg(
        F.count("*").cast("long").alias("n")
    )
    base = ev.agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("n_err"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("n_buy"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            )
        ).alias("buy_cents"),
    ).crossJoin(
        F.broadcast(
            daily.agg(
                F.min("n").cast("long").alias("d_min"),
                F.max("n").cast("long").alias("d_max"),
            )
        )
    )
    metrics = base.select(
        F.expr(
            "stack(5, "
            "'error_share', round(n_err / CAST(n_all AS DOUBLE), 6), "
            "'purchase_share', round(n_buy / CAST(n_all AS DOUBLE), 6), "
            "'min_daily_events', CAST(d_min AS DOUBLE), "
            "'max_daily_events', CAST(d_max AS DOUBLE), "
            "'mean_purchase_value', "
            "round(buy_cents / (100.0D * n_buy), 6)"
            ") AS (metric, value)"
        )
    )
    rules = spark.createDataFrame(
        list(ALERT_RULES), "rule_id string, metric string, op string, threshold double"
    )
    j = metrics.join(F.broadcast(rules), "metric")
    fired = F.when(F.col("op") == ">", F.col("value") > F.col("threshold")).otherwise(
        F.col("value") < F.col("threshold")
    )
    return j.select(
        "rule_id", "metric", "value", "op", "threshold", fired.alias("fired")
    )


def _alert_rules_sql() -> str:
    rule_rows = ", ".join(
        f"('{rid}', '{m}', '{op}', CAST({thr} AS DOUBLE))"
        for rid, m, op, thr in ALERT_RULES
    )
    return (
        "WITH e AS (SELECT event_type, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents, "
        "CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS d "
        "FROM events), "
        "daily AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM e "
        "GROUP BY d), "
        "base AS (SELECT CAST(count(*) AS BIGINT) AS n_all, "
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_err, "
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_buy, "
        "sum(CASE WHEN event_type = 'purchase' THEN cents END) "
        "AS buy_cents FROM e), "
        "dd AS (SELECT CAST(min(n) AS BIGINT) AS d_min, "
        "CAST(max(n) AS BIGINT) AS d_max FROM daily), "
        "m AS ("
        "SELECT 'error_share' AS metric, "
        "round(n_err / CAST(n_all AS DOUBLE), 6) AS value FROM base "
        "UNION ALL SELECT 'purchase_share', "
        "round(n_buy / CAST(n_all AS DOUBLE), 6) FROM base "
        "UNION ALL SELECT 'min_daily_events', CAST(d_min AS DOUBLE) FROM dd "
        "UNION ALL SELECT 'max_daily_events', CAST(d_max AS DOUBLE) FROM dd "
        "UNION ALL SELECT 'mean_purchase_value', "
        "round(buy_cents / (100.0 * n_buy), 6) FROM base), "
        f"rules(rule_id, metric, op, threshold) AS (VALUES {rule_rows}) "
        "SELECT r.rule_id, m.metric, m.value, r.op, r.threshold, "
        "CASE WHEN r.op = '>' THEN m.value > r.threshold "
        "ELSE m.value < r.threshold END AS fired "
        "FROM m JOIN rules r ON m.metric = r.metric"
    )


ORACLES["events_alert_rules"] = _alert_rules_sql()
QUERIES["events_alert_rules"] = q_events_alert_rules


# --- dormancy & reactivation (r5) -------------------------------------------
#
# Win-back analytics: a REACTIVATION is an event arriving after the
# same user was silent for ≥ DORMANT_DAYS.  Per calendar week of the
# return event: how many reactivations landed, how many distinct
# users came back, and the mean dormancy they returned from (exact
# integer days, milli-scaled mean) — the readout that tells a
# lifecycle team whether win-back campaigns actually move returns.
#
# Shape: ONE lag window partitioned BY USER over (user, day)-distinct
# activity, then a weeks-sized partial agg.  No global windows.

DORMANT_DAYS = 14


def q_events_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    act = ev.select(
        "user_id",
        F.expr("epoch_sec DIV 86400").cast("long").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = act.select(
        "user_id",
        "day",
        (F.col("day") - F.lag("day").over(w)).alias("gap"),
    ).filter(F.col("gap") >= DORMANT_DAYS)
    return gaps.groupBy(
        (F.col("day") - F.pmod(F.col("day"), F.lit(7)))
        .cast("long")
        .alias("week_start_day")
    ).agg(
        F.count("*").cast("long").alias("n_reactivations"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("gap") / F.count("*").cast("double"), 6).alias(
            "mean_dormancy_days"
        ),
        F.max("gap").cast("long").alias("max_dormancy_days"),
    )


ORACLES["events_reactivation"] = (
    "WITH act AS (SELECT DISTINCT user_id, "
    "CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day "
    "FROM events), "
    "g AS (SELECT user_id, day, day - lag(day) OVER "
    "(PARTITION BY user_id ORDER BY day) AS gap FROM act) "
    "SELECT CAST(day - day % 7 AS BIGINT) AS week_start_day, "
    "CAST(count(*) AS BIGINT) AS n_reactivations, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
    "round(sum(gap) / CAST(count(*) AS DOUBLE), 6) "
    "AS mean_dormancy_days, "
    "CAST(max(gap) AS BIGINT) AS max_dormancy_days "
    f"FROM g WHERE gap >= {DORMANT_DAYS} GROUP BY day - day % 7"
)

QUERIES["events_reactivation"] = q_events_reactivation


# --- revenue volatility & max drawdown (r5) ----------------------------------
#
# The treasury-style risk readout next to events_cvar: realized
# volatility = std of day-over-day log returns of daily purchase
# revenue, and MAX DRAWDOWN = the deepest fractional fall of the
# daily series from its running peak (the running-max window pattern;
# peak-to-trough is what a "worst day to have started" question
# means).  One row: days, mean daily revenue, realized vol, max
# drawdown with its day.
#
# Determinism: daily cents are exact; log returns are ln of exact
# integer ratios, pre-rounded to 6 before the variance moments
# (integer-scaled, order-free); the drawdown compares 6-rounded
# fractions.  All windows run on the calendar-bounded day table.


def q_events_revenue_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        F.expr("epoch_sec DIV 86400").cast("long").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d")
    lr = F.round(
        F.log(
            F.col("cents").cast("double")
            / F.lag("cents").over(w).cast("double")
        ),
        6,
    )
    peak = F.max("cents").over(
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = daily.select(
        "d",
        "cents",
        lr.alias("logret"),
        F.round(
            (peak - F.col("cents")) / peak.cast("double"), 6
        ).alias("drawdown"),
    )
    mom = scored.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.sum("cents") / (F.count("*") * 100.0), 6).alias(
            "mean_daily_revenue"
        ),
        F.sum(F.round(F.col("logret") * 1000000).cast("long")).alias("s1"),
        F.sum(
            F.round(F.col("logret") * 1000000).cast("long")
            * F.round(F.col("logret") * 1000000).cast("long")
        ).alias("s2"),
        F.count("logret").cast("long").alias("n_ret"),
        F.max_by(
            "d",
            F.round(F.col("drawdown") * 1000000).cast("long")
            * F.lit(1000000000).cast("long")
            - F.col("d"),
        )
        .cast("long")
        .alias("max_dd_day"),
        F.max("drawdown").alias("max_drawdown"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_ret")
    ) / (F.col("n_ret") - 1)
    return mom.select(
        "n_days",
        "mean_daily_revenue",
        F.round(F.sqrt(var) / 1000000.0, 6).alias("realized_vol"),
        "max_drawdown",
        "max_dd_day",
    )


ORACLES["events_revenue_volatility"] = (
    "WITH pv AS (SELECT CAST(epoch_ns(ts) // 1000000000 // 86400 "
    "AS BIGINT) AS d, CAST(round(value * 100, 0) AS BIGINT) AS cents "
    "FROM events WHERE event_type = 'purchase'), "
    "daily AS (SELECT d, CAST(sum(cents) AS BIGINT) AS cents FROM pv "
    "GROUP BY d), "
    "sc AS (SELECT d, cents, "
    "CAST(round(ln(cents / CAST(lag(cents) OVER (ORDER BY d) "
    "AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lr6, "
    "round((max(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW) - cents) / "
    "CAST(max(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED "
    "PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS drawdown FROM daily) "
    "SELECT CAST(count(*) AS BIGINT) AS n_days, "
    "round(sum(cents) / (count(*) * 100.0), 6) AS mean_daily_revenue, "
    "round(sqrt((sum(lr6 * lr6) - CAST(sum(lr6) AS DOUBLE) * sum(lr6) "
    "/ count(lr6)) / (count(lr6) - 1)) / 1000000.0, 6) "
    "AS realized_vol, "
    "max(drawdown) AS max_drawdown, "
    "CAST(max_by(d, CAST(round(drawdown * 1000000, 0) AS BIGINT) * 1000000000 - d) AS BIGINT) AS max_dd_day "
    "FROM sc"
)

QUERIES["events_revenue_volatility"] = q_events_revenue_volatility


# --- Holt double-exponential smoothing (r6) -------------------------------
#
# Level+trend forecasting, one notch up from events_ewma_anomaly's
# simple smoothing and the model the snaive backtest is usually
# compared against.  Per user-segment (user_id % 4) daily-revenue
# series: l_1 = y_1, b_1 = 0, then
#   l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1})
#   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
# with the one-step-ahead forecast l_t + b_t.
#
# Scale shape: the full scan reduces to |segs|·|days| rows via ONE
# partial-agg groupBy (exact integer cents); the recursion then runs
# per segment inside an Arrow-batched ``applyInPandas`` — the
# documented inherently-sequential path (cf. pipe_pack_nextfit):
# sequential WITHIN a day-grain series, all series in parallel.
# Determinism: both engines execute the identical IEEE-double ops in
# the identical order (the smoothing constants appear as the SAME
# literals 0.5/0.7 on both sides — never recomputed as 1−β, whose
# rounding could differ from the literal), so the recursion is
# bit-reproducible; outputs round to 6.  DuckDB replays it as a
# depth-|days| recursive CTE stepping one row per series per
# iteration.

HOLT_ALPHA = 0.5   # level gain; 1-α written as literal 0.5
HOLT_BETA = 0.3    # trend gain; 1-β written as literal 0.7
HOLT_SEG_MOD = 4


def _round6_half_away(v: float) -> float:
    """SQL ROUND semantics (half away from zero) — Python's round()
    is banker's and would diverge from both engines on .5e-6 ties."""
    import math

    return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6


def _holt_segment(pdf):
    import pandas as pd

    pdf = pdf.sort_values("day").reset_index(drop=True)
    lvl = trd = 0.0
    out = []
    for i in range(len(pdf)):
        y = pdf.at[i, "cents"] / 100.0
        if i == 0:
            lvl, trd = y, 0.0
        else:
            prev = lvl
            lvl = 0.5 * y + 0.5 * (lvl + trd)
            trd = 0.3 * (lvl - prev) + 0.7 * trd
        out.append(
            (
                int(pdf.at[i, "seg"]),
                int(pdf.at[i, "day"]),
                _round6_half_away(lvl),
                _round6_half_away(trd),
                _round6_half_away(lvl + trd),
            )
        )
    return pd.DataFrame(
        out, columns=["seg", "day", "level", "trend", "forecast_next"]
    )


def q_events_holt_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        (F.col("user_id") % HOLT_SEG_MOD).cast("int").alias("seg"),
        F.expr("epoch_sec DIV 86400").cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    daily = ev.groupBy("seg", "day").agg(
        F.sum("c").cast("long").alias("cents")
    )
    return daily.groupBy("seg").applyInPandas(
        _holt_segment,
        schema=(
            "seg int, day long, level double, trend double, "
            "forecast_next double"
        ),
    )


ORACLES["events_holt_forecast"] = (
    "WITH RECURSIVE e AS (SELECT "
    f"CAST(user_id % {HOLT_SEG_MOD} AS INTEGER) AS seg, "
    "CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day, "
    "CAST(round(value * 100, 0) AS BIGINT) AS c FROM events), "
    "daily AS (SELECT seg, day, sum(c) AS cents "
    "FROM e GROUP BY seg, day), "
    "d AS (SELECT seg, day, cents / 100.0 AS y, "
    "row_number() OVER (PARTITION BY seg ORDER BY day) AS rn "
    "FROM daily), "
    "h AS ("
    "SELECT seg, day, rn, y, y AS l, CAST(0.0 AS DOUBLE) AS b "
    "FROM d WHERE rn = 1 "
    "UNION ALL "
    "SELECT d.seg, d.day, d.rn, d.y, "
    "0.5 * d.y + 0.5 * (h.l + h.b), "
    "0.3 * ((0.5 * d.y + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b "
    "FROM h JOIN d ON d.seg = h.seg AND d.rn = h.rn + 1) "
    "SELECT seg, day, round(l, 6) AS level, round(b, 6) AS trend, "
    "round(l + b, 6) AS forecast_next FROM h"
)

QUERIES["events_holt_forecast"] = q_events_holt_forecast


# --- peak-over-threshold tail analysis (r6) -------------------------------
#
# Extreme-value readout over daily revenue: classic POT with an
# exponential excess model (the GPD ξ→0 case — one closed-form
# parameter, no iterative MLE): threshold u = the exact 95th
# percentile order statistic of daily revenue, σ̂ = mean excess over
# u, and the m-day return level u + σ̂·ln(m·ζ_u) with ζ_u the
# exceedance rate — "the daily revenue spike you should expect once
# per m days".  Complements events_cvar (empirical tail mean) by
# EXTRAPOLATING beyond the observed maximum, which is the point of
# EVT.
#
# Scale shape: the scan reduces to the day table; the threshold is an
# exact order statistic (integer rank over the calendar-bounded day
# series), excess sums are exact integer cents, and ln applies once
# to identical doubles.

POT_Q = 0.95
POT_RETURN_DAYS = (30, 100, 365)


def q_events_pot_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        F.expr("epoch_sec DIV 86400").cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = ev.groupBy("day").agg(
        F.sum("cents").cast("long").alias("rev")
    )
    w = Window.orderBy("rev", "day")
    ranked = daily.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).withColumn(
        "n", F.count("*").over(Window.partitionBy()).cast("long")
    )
    thr = ranked.filter(
        F.col("rn")
        == F.ceil(F.lit(POT_Q) * F.col("n")).cast("long")
    ).select(F.col("rev").alias("u"), "n")
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .filter(F.col("rev") > F.col("u"))
        .agg(
            F.max("u").alias("u"),
            F.max("n").alias("n_days"),
            F.count("*").cast("long").alias("n_exceed"),
            F.sum(F.col("rev") - F.col("u")).cast("long").alias(
                "sum_excess"
            ),
        )
    )
    sigma = F.col("sum_excess") / F.col("n_exceed").cast("double")
    zeta = F.col("n_exceed") / F.col("n_days").cast("double")
    cols = [
        F.round(F.col("u") / 100.0, 2).alias("u_threshold"),
        F.col("n_days"),
        F.col("n_exceed"),
        F.round(sigma / 100.0, 6).alias("mean_excess"),
    ]
    for m in POT_RETURN_DAYS:
        cols.append(
            F.round(
                (F.col("u") + sigma * F.log(F.lit(float(m)) * zeta))
                / 100.0,
                4,
            ).alias(f"return_level_{m}d")
        )
    return exc.select(*cols)


def _pot_sql() -> str:
    rl = ", ".join(
        f"round((u + sum_excess / CAST(n_exceed AS DOUBLE) * "
        f"ln({float(m)} * (n_exceed / CAST(n_days AS DOUBLE)))) "
        f"/ 100.0, 4) AS return_level_{m}d"
        for m in POT_RETURN_DAYS
    )
    return (
        "WITH e AS (SELECT "
        "CAST(epoch_ns(ts) // 1000000000 // 86400 AS BIGINT) AS day, "
        "CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events), "
        "daily AS (SELECT day, CAST(sum(cents) AS BIGINT) AS rev "
        "FROM e GROUP BY day), "
        "r AS (SELECT *, row_number() OVER (ORDER BY rev, day) AS rn, "
        "count(*) OVER () AS n FROM daily), "
        "thr AS (SELECT rev AS u, CAST(n AS BIGINT) AS n FROM r "
        f"WHERE rn = CAST(ceil({POT_Q} * n) AS BIGINT)), "
        "exc AS (SELECT max(u) AS u, max(n) AS n_days, "
        "CAST(count(*) AS BIGINT) AS n_exceed, "
        "CAST(sum(rev - u) AS BIGINT) AS sum_excess "
        "FROM daily CROSS JOIN thr WHERE rev > u) "
        "SELECT round(u / 100.0, 2) AS u_threshold, n_days, n_exceed, "
        "round(sum_excess / CAST(n_exceed AS DOUBLE) / 100.0, 6) "
        f"AS mean_excess, {rl} FROM exc"
    )


ORACLES["events_pot_tail"] = _pot_sql()
QUERIES["events_pot_tail"] = q_events_pot_tail


# --- first-order Markov model of the event stream (r10) ---------------
#
# The behavioral-sequence complement to rel_value_migration's tier
# transitions: per USER JOURNEY, what follows what?  lead(event_type)
# over each user's time-ordered stream gives the bigram stream; the
# rollup is the Laplace-free empirical transition matrix P(next|cur)
# with per-state ranks — the model behind "after an error, 40% of
# sessions bounce", next-event prediction baselines, and funnel
# anomaly detection (a transition probability moving is a product
# incident).  Deterministic: the window orders by (ts, event_id) —
# the same total-order tie-break every other events window here uses
# (corpus ts collisions are real; event_id breaks them identically in
# both engines) — and user_id/ts carry the documented NOT-NULL
# contract, pinned EXPLICITLY on both sides anyway (r9 advice class:
# never let the two engines disagree about NULL keys).
#
# Scale: one shuffle on user_id for the window (bounded per-user
# state), one partial-aggregating rollup to ≤ |types|² rows, and the
# ranking windows run over that bounded matrix — nothing here grows
# with the corpus except the first exchange.


def q_events_markov_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    bigrams = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = bigrams.groupBy("event_type", "next_type").agg(
        F.count("*").cast("long").alias("n")
    )
    state = Window.partitionBy("event_type")
    rank_w = state.orderBy(F.desc("n"), F.asc("next_type"))
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(state).cast("double"), 6
        ).alias("prob"),
        F.row_number().over(rank_w).cast("int").alias("nxt_rank"),
    )


ORACLES["events_markov_next"] = (
    "WITH ev AS (SELECT user_id, event_type, ts, event_id FROM events "
    "WHERE user_id IS NOT NULL AND ts IS NOT NULL), "
    "bg AS (SELECT event_type, lead(event_type) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM ev), "
    "c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n "
    "FROM bg WHERE next_type IS NOT NULL GROUP BY 1, 2) "
    "SELECT event_type, next_type, n, "
    "round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) "
    "AS prob, "
    "CAST(row_number() OVER (PARTITION BY event_type "
    "ORDER BY n DESC, next_type) AS INTEGER) AS nxt_rank FROM c"
)
QUERIES["events_markov_next"] = q_events_markov_next
