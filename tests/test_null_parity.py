"""Cross-engine NULL semantics, proven on NULL-bearing data.

ADVICE r8 found one latent divergence class (rel_q12_priority_class):
a Spark `cond.cast(...)` / `1 − cond` / `~cond` aggregate DROPS a row
whose condition is NULL, while the DuckDB oracle's ``CASE … ELSE``
counts it — invisible on the synthetic tables (no NULLs), wrong on
real data.  r9 swept the surface for the class and fixed every
divergent site (rel_q12, events_rate_ratio_test, events_diff_in_diff,
events_msprt, events_new_vs_returning) with explicit
``F.when(...).otherwise(...)``.

These tests re-prove the fixes the only honest way: INJECT the NULLs
and run the real query against the real oracle on the same files via
``tools.parity.compare`` — a mini driver-t2 over NULL-bearing data.
Sites where BOTH engines deliberately share NULL-dropping semantics
(e.g. events_ks_drift's literal `sum(1 - early)` on both sides) are
consistent by construction and out of scope.

NULL-injection is split per table-column so queries never see a NULL
that changes ENGINE-DEPENDENT behavior unrelated to the fixed class
(a NULL day would hit Spark NULLS-FIRST vs DuckDB NULLS-LAST window
ordering in msprt's cumulative window, for example).
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import tools.parity as parity
from tests.conftest import SF_DIR
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
    TABLE_NAMES,
)


def _null_dir(tmp_path, table: str, null_rows: list[dict]):
    """sf_dir clone: every table symlinked from SF_DIR except
    ``table``, which gets ``null_rows`` appended (missing keys in a
    row dict stay NULL)."""
    d = str(tmp_path)
    for t in TABLE_NAMES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        if t != table:
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
    base = pq.read_table(os.path.join(SF_DIR, f"{table}.parquet"))
    extra = pa.Table.from_pylist(
        [
            {c: r.get(c) for c in base.column_names}
            for r in null_rows
        ],
        schema=base.schema,
    )
    pq.write_table(
        pa.concat_tables([base, extra]),
        os.path.join(d, f"{table}.parquet"),
    )
    return d


def _assert_parity(spark, sf_dir: str, names: list[str]):
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = parity.duck_connection(sf_dir)
    for name in names:
        res = con.execute(oracles[name])
        cols = [c[0] for c in res.description]
        errs = parity.compare(
            name, queries[name](spark, sf_dir), res.fetchall(), cols
        )
        assert not errs, f"{name}: {errs}"


def test_window_ordering_keys_honor_the_not_null_contract():
    """Window ORDER BY keys carry a documented NOT-NULL contract
    (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST — see the
    tools/parity.py docstring): the raw columns those keys derive
    from must be NULL-free in the corpus the oracles run over.  If a
    future testdata drop breaks this, the failure should be THIS
    loud assertion, not a silent cross-engine window divergence."""
    for sf in ("sf0.001", "sf0.01"):
        con = duckdb.connect()
        n = con.execute(
            f"SELECT sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) + "
            f"sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) + "
            f"sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) + "
            f"sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) "
            f"FROM '/root/testdata/{sf}/events.parquet'"
        ).fetchone()[0]
        assert n == 0, f"{sf}: {n} NULL ordering-key cells"


def test_null_user_id_splits_like_the_oracle(spark, tmp_path):
    """NULL user_id rows land in the CONTROL arm (CASE ELSE) on both
    engines — before the r9 fix Spark dropped them from both arms of
    the DiD cells and the mSPRT daily counts/sums."""
    import datetime as dt

    rows = [
        {
            "event_id": 10_000_000 + i,
            "ts": dt.datetime(2024, 1, 2, 3, 0, i),
            "user_id": None,
            "event_type": "purchase",
            "value": 5.0 + i,
            "props": "{}",
        }
        for i in range(3)
    ]
    d = _null_dir(tmp_path, "events", rows)
    _assert_parity(
        spark, d, ["events_diff_in_diff", "events_msprt"]
    )


def test_null_ts_counts_like_the_oracle(spark, tmp_path):
    """NULL ts rows: the rate-ratio C-test counts them in the LATE
    half (CASE ELSE) and new-vs-returning counts them as RETURNING
    events — before the r9 fix Spark dropped them from both sides."""
    rows = [
        {
            "event_id": 10_000_100,
            "ts": None,
            "user_id": 3,
            "event_type": "purchase",
            "value": 7.5,
            "props": "{}",
        },
        {
            "event_id": 10_000_101,
            "ts": None,
            "user_id": 5,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        },
    ]
    d = _null_dir(tmp_path, "events", rows)
    _assert_parity(
        spark, d, ["events_rate_ratio_test", "events_new_vs_returning"]
    )


def test_null_order_priority_counts_low(spark, tmp_path):
    """The original ADVICE r8 finding: a NULL o_orderpriority makes
    Q12's `isin` NULL — the fixed when/otherwise buckets the line as
    low_line_count exactly like the oracle's CASE ELSE 1.  NULLing
    every priority maximizes exposure (every surviving join row hits
    the ELSE path)."""
    base = pq.read_table(os.path.join(SF_DIR, "orders.parquet"))
    cols = {}
    for c in base.column_names:
        if c == "o_orderpriority":
            cols[c] = pa.nulls(len(base), base.schema.field(c).type)
        else:
            cols[c] = base.column(c)
    d = str(tmp_path)
    for t in TABLE_NAMES:
        if t != "orders":
            os.symlink(
                os.path.join(SF_DIR, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    pq.write_table(
        pa.table(cols, schema=base.schema),
        os.path.join(d, "orders.parquet"),
    )
    import __spark_entry__ as entrymod

    q = entrymod.queries()["rel_q12_priority_class"]
    out = {r["l_linestatus"]: r for r in q(spark, d).collect()}
    # every late line is a LOW line now — high must be 0, low > 0
    assert out, "date-window join produced no rows"
    for r in out.values():
        assert r["high_line_count"] == 0
        assert r["low_line_count"] > 0
    _assert_parity(spark, d, ["rel_q12_priority_class"])


def test_null_keys_drop_identically_in_markov(spark, tmp_path):
    """events_markov_next (r10) pins NULL user_id / NULL ts handling
    EXPLICITLY (both engines filter them before the lead() window) —
    inject both NULL classes and require parity, so the window's
    NULLS FIRST/LAST divergence can never be reached."""
    import datetime as dt

    rows = [
        {
            "event_id": 10_000_200,
            "ts": None,
            "user_id": 7,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        },
        {
            "event_id": 10_000_201,
            "ts": dt.datetime(2024, 1, 2, 3, 4, 5),
            "user_id": None,
            "event_type": "purchase",
            "value": 2.0,
            "props": "{}",
        },
    ]
    d = _null_dir(tmp_path, "events", rows)
    _assert_parity(spark, d, ["events_markov_next"])
