"""Partitioned catalog tables: the o_year filter must prune at
planning time — exactly one partition directory scanned."""

from __future__ import annotations

from conftest import SF_DIR

from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import catalog


def _drop(spark):
    spark.sql(
        "DROP TABLE IF EXISTS tsa_orders_by_year_sf0_001"
    )


def test_partition_filter_reaches_the_scan(spark):
    try:
        df = catalog.q_catalog_partition_pruning(spark, SF_DIR)
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, plan
        # columns print with expr-ids (o_year#NN = 1997)
        assert re.search(
            rf"o_year#\d+ = {catalog.PRUNE_YEAR}\)", plan
        ), plan
        # the file index already narrowed to the single surviving
        # partition directory — pruning happened before any IO.  Checked
        # on the files, not the plan string: the plan truncates a long
        # Location path before the partition directory.
        files = df.inputFiles()
        assert files, plan
        part_dir = f"/o_year={catalog.PRUNE_YEAR}/"
        assert all(part_dir in f for f in files), files
    finally:
        _drop(spark)


def test_partitioned_read_matches_flat_read(spark):
    from pyspark.sql import functions as F

    try:
        got = {
            r["month"]: (r["n_orders"], r["total_cents"])
            for r in catalog.q_catalog_partition_pruning(
                spark, SF_DIR
            ).collect()
        }
        flat = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .filter(F.year("o_orderdate") == catalog.PRUNE_YEAR)
            .groupBy(F.month("o_orderdate").cast("int").alias("month"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                )
                .cast("long")
                .alias("c"),
            )
            .collect()
        )
        want = {r["month"]: (r["n"], r["c"]) for r in flat}
        assert got == want
    finally:
        _drop(spark)


def test_managed_table_prunes_and_is_catalog_owned(spark):
    """r6 verdict item 7: the MANAGED twin — created via saveAsTable
    with no path, discovered via spark.catalog — must (a) be MANAGED
    per the catalog API, (b) expose c_mktsegment as a partition
    column, and (c) prune 4 of 5 segment directories at planning
    time."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.catalog import (
        PRUNE_SEGMENT,
        ensure_managed_customers,
        q_catalog_managed_pruning,
    )

    t = ensure_managed_customers(spark, SF_DIR)
    try:
        tbl = next(
            x for x in spark.catalog.listTables() if x.name == t
        )
        assert tbl.tableType == "MANAGED", tbl
        parts = [
            c.name
            for c in spark.catalog.listColumns(t)
            if c.isPartition
        ]
        assert parts == ["c_mktsegment"]

        df = q_catalog_managed_pruning(spark, SF_DIR)
        import re

        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, plan
        assert re.search(
            rf"c_mktsegment#\d+ = {PRUNE_SEGMENT}\)", plan
        ), plan
        # results identical to the flat parquet read
        from pyspark.sql import functions as F

        got = {
            r["nationkey"]: (r["n_customers"], r["acctbal_cents"])
            for r in df.collect()
        }
        flat = (
            spark.read.parquet(f"{SF_DIR}/customer.parquet")
            .filter(F.col("c_mktsegment") == PRUNE_SEGMENT)
            .groupBy(F.col("c_nationkey").cast("long").alias("k"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
                .cast("long")
                .alias("c"),
            )
            .collect()
        )
        assert got == {r["k"]: (r["n"], r["c"]) for r in flat}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_managed_table_build_is_idempotent(spark):
    """ensure_managed_customers called twice returns the same table
    without rewriting (tableExists short-circuit) — the property that
    lets bench bill the build once and consumers stay cheap."""
    import os

    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.catalog import (
        ensure_managed_customers,
    )

    t1 = ensure_managed_customers(spark, SF_DIR)
    try:
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {t1}")
            .filter("col_name = 'Location'")
            .collect()[0]["data_type"]
        ).removeprefix("file:")
        mtime = os.path.getmtime(loc)
        t2 = ensure_managed_customers(spark, SF_DIR)
        assert t2 == t1
        assert os.path.getmtime(loc) == mtime  # no rewrite
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
