"""Sessionization: the lag/cumsum sessions query against its oracle
and the 30-minute gap rule."""

from __future__ import annotations

import __spark_entry__ as entrymod
from tools.parity import compare

from conftest import SF_DIR


def test_sessions_oracle(spark, duck):
    df = entrymod.queries()["events_sessions"](spark, SF_DIR)
    res = duck.execute(entrymod.oracle_sql()["events_sessions"])
    errs = compare(
        "events_sessions", df, res.fetchall(), [d[0] for d in res.description]
    )
    assert not errs, errs


def test_sessions_respect_gap(spark):
    """Within a session consecutive gaps < 30 min; between sessions
    of one user the gap >= 30 min."""
    rows = sorted(
        (
            (r["user_id"], r["session_id"], r["start_epoch"], r["end_epoch"])
            for r in entrymod.queries()["events_sessions"](spark, SF_DIR).collect()
        )
    )
    by_user: dict[int, list[tuple]] = {}
    for u, sid, s, e in rows:
        assert s <= e
        by_user.setdefault(u, []).append((sid, s, e))
    for u, sess in by_user.items():
        sess.sort()
        for (s1, st1, en1), (s2, st2, en2) in zip(sess, sess[1:]):
            assert st2 - en1 >= 1800, (u, s1, s2)
