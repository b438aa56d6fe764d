"""Event-time queries of streaming/windowed.py: the hour-bucket oracle,
approximate percentiles, RANGE frames and the windowed funnel."""

from __future__ import annotations

import __spark_entry__ as entrymod
from tools.parity import compare

from conftest import SF_DIR


def test_events_windowed_oracle(spark, duck):
    df = entrymod.queries()["events_windowed"](spark, SF_DIR)
    res = duck.execute(entrymod.oracle_sql()["events_windowed"])
    errs = compare(
        "events_windowed", df, res.fetchall(), [d[0] for d in res.description]
    )
    assert not errs, errs


def test_approx_percentiles_bounded_error(spark):
    """Greenwald-Khanna guarantees a RANK bound, not a value bound
    (in a heavy tail, adjacent order statistics can sit far apart in
    value space): with accuracy=10⁴ the returned value's rank must be
    within n·1e-4 (+2 slack: the sketch returns a data point while the
    exact aggregate interpolates between two) of the target rank."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.windowed import (
        load_events,
    )

    vals: dict[str, list[float]] = {}
    for r in load_events(spark, SF_DIR).select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    approx = {
        r["event_type"]: r
        for r in entrymod.queries()["events_percentiles_approx"](
            spark, SF_DIR
        ).collect()
    }
    assert approx.keys() == vals.keys()
    for etype, ap in approx.items():
        xs = sorted(vals[etype])
        n = len(xs)
        assert ap["n_events"] == n
        for q, frac in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99)):
            # rank of the approx value among the exact data
            import bisect

            rank = bisect.bisect_left(xs, ap[q])
            target = frac * (n - 1)
            tol = n * 1e-4 + 2
            assert abs(rank - target) <= tol, (etype, q, rank, target, n)


def test_sliding_volume_range_frame_includes_peers(spark, tmp_path):
    """RANGE frames include ALL rows at equal order values (peers) —
    two events at the same second must see each other's value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.windowed import (
        SLIDE_SEC,
        q_events_sliding_volume,
    )

    base = 1_704_067_200  # 2024-01-01T00:00:00Z
    rows = [  # (event_id, epoch_sec, user, value)
        (1, base, 7, 1.0),
        (2, base, 7, 2.0),                  # peer of 1
        (3, base + SLIDE_SEC - 1, 7, 4.0),  # inside 1h of 1/2
        (4, base + SLIDE_SEC, 7, 8.0),      # 1/2 fall out, 3 stays
        (5, base, 9, 16.0),                 # other user: isolated
    ]
    ts = pa.array(
        [r[1] * 1_000_000 for r in rows], type=pa.int64()
    ).cast(pa.timestamp("us"))
    table = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": ts,
            "user_id": [r[2] for r in rows],
            "event_type": ["view"] * len(rows),
            "value": [r[3] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    d = tmp_path / "ev"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"), store_schema=False)
    got = {
        r["event_id"]: (r["n_1h"], r["vol_1h"])
        for r in q_events_sliding_volume(spark, str(d)).collect()
    }
    assert got[1] == (2, 3.0)  # peers see each other
    assert got[2] == (2, 3.0)
    assert got[3] == (3, 7.0)
    assert got[4] == (2, 12.0)  # 1h window: events 3 and 4 only
    assert got[5] == (1, 16.0)


def test_windowed_funnel_dominated_by_lifetime_funnel(spark):
    """Deadline-bounded counts can never exceed the lifetime funnel's
    at each stage, and rates stay in [0, 1]."""
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.streaming.windowed import (
        q_events_funnel,
        q_events_funnel_windowed,
    )

    life = q_events_funnel(spark, SF_DIR).collect()[0]
    wind = q_events_funnel_windowed(spark, SF_DIR).collect()[0]
    assert wind["n_viewed"] == life["n_viewed"]
    assert wind["n_clicked"] <= life["n_clicked"]
    assert wind["n_purchased"] <= life["n_purchased"]
    assert 0.0 <= wind["view_to_click"] <= 1.0
    assert 0.0 <= wind["click_to_purchase"] <= 1.0
