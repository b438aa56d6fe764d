"""Bucketed tables — the shuffle-elimination knob for repeated
co-located joins (100 TB posture; engine extension, the reference
re-shuffles every job).

Writing both sides of a recurring fact⋈fact join bucketed by the join
key with the SAME bucket count lets Spark's scan report a compatible
``HashPartitioning``: the SortMergeJoin consumes the bucketed layout
directly and the plan contains NO Exchange — the single biggest cost
of a 100 TB join paid once at write time instead of on every query.
``tests/test_bucketing.py`` asserts exactly that plan property.

``sortBy`` on the join key additionally pre-orders rows within each
bucket file so the merge side can skip its Sort at read time (Spark
still inserts a Sort when bucket-sort metadata can't be used; the
Exchange elimination is the guaranteed win).

Tables are written as EXTERNAL (explicit ``path``) so callers control
placement; the catalog entry (in-memory or Hive metastore) carries
the bucketing metadata that the scan needs — a plain
``spark.read.parquet`` of the same files would NOT get bucketed-scan
treatment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed parquet table named ``table``.

    Both sides of a co-located join must use the same ``bucket_cols``
    semantics and the same ``n_buckets``.

    The input is clustered by the bucket expression first (r13, guide
    §6 write-path sizing): ``repartition(n, cols)`` uses the SAME
    murmur3-pmod HashPartitioning the bucketed writer computes, so
    each write task holds exactly one bucket — n-way parallel writes
    and exactly one file per bucket, instead of every input task
    serially writing a file into all n buckets (the sf0.1 lineitem
    scan is ONE split, which single-threaded the whole write).  This
    is the write.distribution-mode=hash posture at any scale; A/B
    min-of-4 on the build entry: 2.40 s → 1.20 (repartition) → 0.72
    (with the two independent writes overlapped, §2.6)."""
    df = df.repartition(n_buckets, *bucket_cols)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort:
        w = w.sortBy(*bucket_cols)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table THROUGH the catalog (required: the path
    alone carries no bucketing metadata)."""
    return spark.table(table)


# --- registered bucketed-join query (r6) ------------------------------
#
# The write-once/join-free-forever path exercised as a DECLARED query
# (r4 verdict stretch item asked for the bucketed path at bench
# scale; tests/test_bucketing.py proves the plan property, this entry
# runs it in the driver's correctness gate and in bench.py):
# both fact tables persist bucketed by the join key, the recurring
# fact⋈fact join then SortMergeJoins with NO Exchange — the 100 TB
# shuffle paid once at write time.  The ``merge`` hint pins SMJ even
# where the sf0.01 planner would broadcast, so the bucketed scan is
# what actually runs.  The DuckDB oracle computes the identical
# aggregate from the raw parquet — bucketing must be invisible to
# results.
#
# Money math follows the relational-suite discipline: exact integer
# cents per row (price_cents · (100 − discount_pct)), summed as
# BIGINT.

import os as _os

from pyspark.sql import functions as F

from .catalog import _tag
from .tables import load_table

BUCKET_N = 16


def _fresh_external_path(spark: SparkSession, table: str) -> str:
    """Location for an EXTERNAL bucketed table under the warehouse
    dir, cleared of any leftovers from a PREVIOUS session: the
    in-memory catalog forgets tables at session end but their files
    survive, and a managed saveAsTable then fails with
    LOCATION_ALREADY_EXISTS."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = _os.path.join(wh, table)
    if _os.path.exists(path):
        shutil.rmtree(path, ignore_errors=True)
    return path


def ensure_bucketed_facts(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Create (once per session/sf) the bucketed lineitem+orders
    tables; idempotent — re-entry reuses the catalog entry."""
    from concurrent.futures import ThreadPoolExecutor

    tag = _tag(sf_dir)
    li_t, ord_t = f"tsa_li_bucketed_{tag}", f"tsa_ord_bucketed_{tag}"

    def build_li() -> None:
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
            ),
            li_t,
            ["l_orderkey"],
            BUCKET_N,
            path=_fresh_external_path(spark, li_t),
        )

    def build_ord() -> None:
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            ord_t,
            ["o_orderkey"],
            BUCKET_N,
            path=_fresh_external_path(spark, ord_t),
        )

    # the two writes are independent jobs — overlap them so one job's
    # task tail back-fills the other's executors (guide §2.6); each
    # write keeps its own catalog entry and idempotency check
    todo = []
    if not spark.catalog.tableExists(li_t):
        todo.append(build_li)
    if not spark.catalog.tableExists(ord_t):
        todo.append(build_ord)
    if len(todo) > 1:
        with ThreadPoolExecutor(max_workers=len(todo)) as pool:
            for f in [pool.submit(fn) for fn in todo]:
                f.result()
    elif todo:
        todo[0]()
    return li_t, ord_t


def q_rel_bucketed_join_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li_t, ord_t = ensure_bucketed_facts(spark, sf_dir)
    li, orders = read_table(spark, li_t), read_table(spark, ord_t)
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    j = li.hint("merge").join(
        orders, li.l_orderkey == orders.o_orderkey
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(cents("l_quantity")).cast("long").alias("qty_cents"),
        F.sum(
            cents("l_extendedprice") * (100 - cents("l_discount"))
        )
        .cast("long")
        .alias("revenue_cents_pct"),
    )


ORACLES = {
    "rel_bucketed_join_agg": (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, "
        "CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) "
        "AS qty_cents, "
        "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * "
        "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT) "
        "AS revenue_cents_pct "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority"
    )
}

QUERIES = {"rel_bucketed_join_agg": q_rel_bucketed_join_agg}

# bench bills the one-off bucketed write as its own entry, like the
# IVF quantizer fit — an index/layout BUILD cost, not a query cost
BENCH_PREPARE = {
    "rel_bucketed_build": lambda spark, sf_dir: ensure_bucketed_facts(
        spark, sf_dir
    )
}
