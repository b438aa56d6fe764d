"""Warm min-of-k probe for named queries — the A/B harness.

Usage: python tools/probe_ab.py [sf_dir] name [name ...]

Times each query through bench.py's measurement core: one cold run,
then K more runs recording the minimum.  Each rerun re-pays the memo
builds its first run paid (bench.py's rerun rule), so ``warm_min`` is
a steady-state re-execution, not a cached read; memos a query finds
already built (an earlier name's) stay warm.  Prints one JSON line
{"cold": {...}, "warm_min": {...}}.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import force, measure, warm_up  # noqa: E402

K = 3


def main() -> int:
    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import (
        get_spark,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
        DEFAULT_SF_DIR,
    )

    rest = sys.argv[1:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = DEFAULT_SF_DIR, rest

    spark = get_spark("probe_ab")
    warm_up(spark, sf_dir)
    qs = entrymod.queries()

    cold, warm = {}, {}
    for name in names:
        times, _ = measure(lambda: force(qs[name](spark, sf_dir)), runs=1 + K)
        cold[name] = round(times[0], 3)
        warm[name] = round(min(times[1:]), 3)
        print(f"  {name}: cold {times[0]:.2f}s warm_min {min(times[1:]):.2f}s",
              file=sys.stderr)
    print(json.dumps({"cold": cold, "warm_min": warm}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
