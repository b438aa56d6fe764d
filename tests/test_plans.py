"""Physical-plan assertions — the 100 TB posture, checked in CI.

These lock in the plan properties the engine is designed around:
broadcast joins where a side is small, column pruning down to the
parquet scan, shuffle-free narrow maps for the per-doc operators, and
whole-stage codegen on the hot paths.  A regression that silently
turns the model join into a sort-merge shuffle or starts scanning all
columns fails here, not in a profile three rounds later.
"""

from __future__ import annotations

import re

import __spark_entry__ as entrymod
import pytest

from conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_nb_score_joins_are_broadcast(spark):
    """The model probe (J1) must be a broadcast hash join — never a
    shuffle join: the model is tiny, the token stream is the corpus.
    (The final doc_id left-join of test docs to per-doc scores is
    corpus⋈corpus and is allowed to sort-merge — that one SHOULD
    shuffle at scale.)"""
    plan = _plan(entrymod.queries()["nb_scores"](spark, SF_DIR))
    # the probe is the BroadcastHashJoin; the only word-keyed Exchange
    # allowed is the model-training aggregate (A3), which the
    # BroadcastExchange then consumes — i.e. every SortMergeJoin in the
    # plan must be doc_id-keyed, never word-keyed.
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "word" not in line, line


@pytest.mark.parametrize("name", ["nb_learning_curve", "nb_cv_accuracy"])
def test_multi_arm_nb_probes_the_model_once(spark, name):
    """All arms of the learning curve and k-fold CV score through ONE
    broadcast model probe on ``word`` (operators/nb.py::arm_accuracy),
    never one join per arm and never a word-keyed shuffle join."""
    df = entrymod.queries()[name](spark, SF_DIR)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]  # AQE's final plan
    assert len(re.findall(r"BroadcastHashJoin \[word#", plan)) == 1, plan
    assert not re.search(r"SortMergeJoin \[word#", plan), plan


def test_docs_scan_prunes_columns(spark):
    """Cleaning reads (doc_id, text) — the parquet scan must not read
    lang/source/n_chars."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (
        load_table,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.functions.cleaning import (
        clean_text,
    )
    from pyspark.sql import functions as F

    df = load_table(spark, SF_DIR, "documents").select(
        "doc_id", clean_text(F.col("text")).alias("text")
    )
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    for unused in ("lang", "source", "n_chars"):
        assert unused not in read_schema, read_schema


def test_frontdoor_plan_is_broadcast_and_pruned(spark):
    """The end-to-end CSV→NB front door must keep the parquet-path
    plan shape: every join broadcast (model, per-doc scores, output
    text join — all small-or-keyed-by-doc sides at this layout), no
    cartesian product, and every documents scan pruned to
    (doc_id, text)."""
    plan = _plan(entrymod.queries()["csv_nb_frontdoor"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "doc_id:bigint,text:string" in line, line


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Directory partitioning is the 100 TB data-layout knob: a filter
    on the partition column must become a PartitionFilter (directory
    pruning — untouched partitions are never listed into the scan),
    not a post-scan row filter."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "events_by_type")
    df = spark.createDataFrame(
        [(t, float(i)) for i, t in enumerate(["click", "view", "error"] * 20)],
        "event_type STRING, value DOUBLE",
    )
    df.write.partitionBy("event_type").parquet(out)

    q = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(q)
    assert any(
        "PartitionFilters" in ln and "event_type" in ln
        for ln in plan.splitlines()
    ), plan
    assert q.count() == 20


def test_textstats_are_shuffle_free(spark):
    """Narrow-map operators must have no KEY shuffle in the plan — no
    hash/range Exchange.  A RoundRobinPartitioning Exchange is allowed:
    that's ``common.rebalance_scan`` spreading the one-file test corpus
    before a CPU-heavy map (a no-op at production split counts, proven
    by test_rebalance_scan_noop_on_wide_input)."""
    for name in ("text_token_stats", "text_quality", "text_lang_id",
                 "text_bpe_token_count", "text_fingerprint",
                 "text_winnow_fingerprints", "text_repetition",
                 "text_pii_redact"):
        plan = _plan(entrymod.queries()[name](spark, SF_DIR))
        for ln in plan.splitlines():
            if "Exchange" in ln and "Partitioning" in ln:
                assert "RoundRobinPartitioning" in ln, (name, ln, plan)
        assert "hashpartitioning" not in plan, (name, plan)
        assert "rangepartitioning" not in plan, (name, plan)


def test_rebalance_scan_noop_on_wide_input(spark):
    """rebalance_scan must be the identity once the input already has
    >= defaultParallelism partitions — the production-scale case where
    adding an exchange would shuffle the whole corpus for nothing."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.common import (
        rebalance_scan,
    )

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(target)
    assert rebalance_scan(spark, wide) is wide
    narrow = spark.range(10_000).coalesce(1)
    out = rebalance_scan(spark, narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target


def test_disjunctive_predicate_splits_to_both_scans(spark):
    """Q19 shape: the OR-of-ANDs spans both join sides, so neither arm
    pushes whole — but Catalyst must distribute per-side residuals: the
    part scan keeps only brand/size-matching rows and the lineitem scan
    only quantity-range rows, BEFORE the broadcast join."""
    # FileScan metadata truncates at 100 chars by default, which can
    # cut the residual out of the string depending on attribute-id
    # width — widen it for the duration of the assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        plan = _plan(
            entrymod.queries()["rel_disjunctive_revenue"](spark, SF_DIR)
        )
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "BroadcastHashJoin" in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("p_brand" in ln and "Brand#12" in ln for ln in scans), plan
    assert any("l_quantity" in ln and "DataFilters" in ln for ln in scans), plan


def test_order_count_distribution_preaggregates(spark):
    """Q13 shape: orders must aggregate per custkey BEFORE the join
    (the shuffle carries |customer| rows, not |orders|), and the
    orders scan must read only the join key."""
    plan = _plan(
        entrymod.queries()["rel_order_count_distribution"](spark, SF_DIR)
    )
    assert "partial_count" in plan, plan
    order_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "orders.parquet" in ln
    ]
    assert order_scans and all(
        "o_totalprice" not in ln for ln in order_scans
    ), plan


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark gram set is fixed-size (real benchmark suites are
    MBs) — it must broadcast; the corpus side must never sort-merge."""
    plan = _plan(entrymod.queries()["text_contamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sim_topk_broadcasts_queries(spark):
    """The query-vector side must broadcast (no shuffle of the
    candidate corpus)."""
    plan = _plan(entrymod.queries()["sim_topk_brute"](spark, SF_DIR))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_hot_paths_have_codegen(spark):
    """Whole-stage codegen must cover the clean/tokenize pipeline."""
    plan = _plan(entrymod.queries()["nb_tokens"](spark, SF_DIR))
    # codegen'd operators carry the `*(n)` stage marker in toString()
    assert "*(" in plan


def test_pricing_summary_pushes_date_filter(spark):
    """The ship-date predicate must reach the parquet scan."""
    plan = _plan(entrymod.queries()["rel_pricing_summary"](spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("l_shipdate" in l for l in pushed), plan


def test_star_join_broadcasts_dimensions(spark):
    """Q5-shape: every dimension join is broadcast; only the
    fact⋈fact join may shuffle."""
    plan = _plan(entrymod.queries()["rel_revenue_by_nation"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "orderkey" in line, line  # fact⋈fact only


def test_semi_anti_joins(spark):
    plan = _plan(entrymod.queries()["rel_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    plan = _plan(entrymod.queries()["rel_customers_no_orders"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan


def test_top_customers_is_distributed_topk(spark):
    """rel_top_customers (VERDICT r2 item 1): the top-20 must compile
    to TakeOrderedAndProject (per-partition heaps), with NO window —
    an unpartitioned global window funnels all rows into one task."""
    plan = _plan(entrymod.queries()["rel_top_customers"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_tfidf_df_is_broadcast_not_window(spark):
    """tfidf document-frequency (VERDICT r2 item 5): df attaches via a
    broadcast hash join of the vocabulary-sized groupBy — never a
    count(*) OVER (PARTITION BY word) that sorts the whole corpus by
    word.  The only Window allowed is doc_id-partitioned."""
    plan = _plan(entrymod.queries()["tfidf_tf"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "Window" in line:
            assert "doc_id" in line, line


def test_promo_revenue_broadcasts_part(spark):
    """Q14 shape: the part dimension must broadcast and the ship-date
    filter must reach the scan."""
    plan = _plan(entrymod.queries()["rel_promo_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), plan


def test_monthly_ma_window_is_partitioned(spark):
    """The moving-average window must be customer-partitioned — every
    Window operator line carries the partition key."""
    plan = _plan(entrymod.queries()["rel_customer_monthly_ma"](spark, SF_DIR))
    win_lines = [l for l in plan.splitlines() if "Window" in l]
    assert win_lines, plan
    for line in win_lines:
        assert "o_custkey" in line, line


def test_no_python_udf_on_relational_paths(spark):
    """Python only appears in the explicitly-Pandas multimodal path."""
    for name in ("nb_confusion", "tfidf_nb_confusion", "dedup_minhash_pairs",
                 "sim_topk_brute", "text_quality", "events_windowed"):
        plan = _plan(entrymod.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_waiting_suppliers_has_no_expand(spark):
    """Q21 shape: the two distinct counts come from a two-level
    aggregate — a countDistinct pair in one groupBy compiles to an
    Expand that triples the shuffle volume."""
    plan = _plan(entrymod.queries()["rel_waiting_suppliers"](spark, SF_DIR))
    assert "Expand" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_span_stats_windows_are_doc_partitioned(spark):
    """Span coverage: every window is doc_id-partitioned (bounded by
    doc length) and the dup-gram mark is a semi join, never a fan-out
    inner join."""
    plan = _plan(entrymod.queries()["dedup_span_stats"](spark, SF_DIR))
    for line in plan.splitlines():
        if "Window" in line:
            assert "doc_id" in line, line
    assert "LeftSemi" in plan, plan


def test_incremental_probe_caps_via_broadcast_anti(spark):
    """Incremental probe: the index-side hot-bucket exclusion is a
    broadcast anti join (the hot-key list is tiny), and batch/index
    splitting never becomes a cartesian product."""
    plan = _plan(entrymod.queries()["dedup_incremental"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_big_orders_aggregates_before_join(spark):
    """Q18 shape: the quantity rollup must sit BELOW the joins (the
    probe side is pre-filtered to big orders), with the HAVING filter
    applied on the aggregate, not post-join."""
    plan = _plan(entrymod.queries()["rel_big_orders"](spark, SF_DIR))
    # the tree prints top-down, so an aggregate that feeds the join
    # (dataflow-before) appears AFTER the join operator in the string
    assert plan.index("HashAggregate") > plan.index("Join"), plan
    # and the threshold filter rides on the aggregate output column,
    # pre-join
    agg_tail = plan[plan.index("Join") :]
    assert "total_qty" in agg_tail and "Filter" in agg_tail, plan
    assert "CartesianProduct" not in plan, plan


def test_relational2_decorrelated_shapes(spark):
    """The Q2/Q11/Q15/Q20 decorrelations must keep their aggregate
    tables on the broadcast side: no cartesian products beyond the
    1-row scalar crosses, and no sort-merge join against a
    dimension-sized aggregate."""
    q = entrymod.queries()
    for name in (
        "rel_min_price_supplier",
        "rel_part_value_share",
        "rel_top_supplier",
        "rel_dominant_suppliers",
        "rel_market_share",
        "rel_profit_by_nation_year",
        "rel_supplier_part_counts",
    ):
        plan = _plan(q[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, name
        assert "CartesianProduct" not in plan, name
        # only fact-side groupBys may shuffle; the join of the
        # per-part/per-supplier aggregate back into the probe must not
        # introduce a second fact-wide Exchange via SortMergeJoin
        assert "SortMergeJoin" not in plan, name


def test_dominant_suppliers_single_fact_shuffle(spark):
    """Q20 shape: the part-level rollup must derive from the
    (part, supplier) aggregate — exactly one Exchange keyed on the
    fact columns (plus AQE reads), not two independent fact scans."""
    plan = _plan(
        entrymod.queries()["rel_dominant_suppliers"](spark, SF_DIR)
    )
    scans = plan.count("FileScan parquet")
    assert scans == 2, f"expected lineitem+supplier scans only:\n{plan}"


def test_global_shuffle_sorts_per_shard_not_globally(spark):
    """pipe_global_shuffle must be N_SHARDS independent sorts: exactly
    one hash Exchange keyed on shard, and the Sort node is per-
    partition (global=false) — never a range-partitioned global sort."""
    plan = _plan(entrymod.queries()["pipe_global_shuffle"](spark, SF_DIR))
    assert "hashpartitioning(shard" in plan, plan
    assert "rangepartitioning" not in plan, plan
    # Spark renders a global sort as `Sort [...], true`; per-partition
    # window sorts render `false`
    assert "], true, " not in plan, plan


def test_volume_shipping_broadcasts_dims_pushes_nation_filter(spark):
    """rel_volume_shipping's contract: the nation pair filter reaches
    BOTH nation scans as a pushed In-filter, and the supplier side
    stays a broadcast join even when auto-broadcast is off (the
    explicit hint) — only the fact joins shuffle."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(
            entrymod.queries()["rel_volume_shipping"](spark, SF_DIR)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert plan.count("In(n_name") == 2, plan  # pushed to both scans
    assert "BroadcastHashJoin [l_suppkey" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_forecast_revenue_filters_pushed(spark):
    """Q6 is pure pushdown: the shipdate and quantity predicates must
    reach the parquet scan's PushedFilters, and the plan has no join
    or wide exchange beyond the single global-agg collapse."""
    plan = _plan(entrymod.queries()["rel_forecast_revenue"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    scan = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_shipdate" in scan and "l_quantity" in scan
    assert "Join" not in plan


def test_shipping_priority_preaggregates_lineitem(spark):
    """Q3's orderkey shuffle must carry per-order PARTIAL aggregates,
    not raw lines: a partial_sum HashAggregate appears below the
    l_orderkey Exchange, and the segment customers probe broadcast."""
    plan = _plan(entrymod.queries()["rel_shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    li_exchange = plan.index("hashpartitioning(l_orderkey")
    assert "partial_sum" in plan[li_exchange:]


def test_revenue_concentration_cuts_before_windowing(spark):
    """The Pareto curve must TakeOrderedAndProject to the 100-row
    prefix BEFORE the running-sum window — never a global window over
    the full per-customer table."""
    plan = _plan(entrymod.queries()["rel_revenue_concentration"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # the only Window in the plan runs above the 100-row limit, so the
    # single-partition exchange it needs feeds from the cut, not the
    # corpus-sized aggregate
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")
