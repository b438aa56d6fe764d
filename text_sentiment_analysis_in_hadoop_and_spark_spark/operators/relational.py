"""General relational queries over the TPC-H-style star schema —
engine-generality surface (the reference is a classifier pipeline; a
user migrating to this engine also gets a real analytics engine, and
these queries prove the relational core on the driver's 600k-row
``lineitem`` rather than the 500-row text tables).

Operator coverage added here beyond the reference's inventory:
multi-way star joins with broadcast dimensions, LEFT SEMI and LEFT
ANTI joins, date-range predicate pushdown to the parquet scan, and
top-k over a large aggregate.

Money arithmetic is done in **integer cents-space** (prices have
exactly 2 decimals, discounts/taxes are integer percents): BIGINT
sums are order-independent and therefore bit-identical between Spark
(partition-parallel partial sums) and the DuckDB oracle (sequential
sums) — double sums over 600k rows would diverge in the last bits.
Averages divide the exact integer sums, so they match too.

Scale notes: fact⋈fact (lineitem⋈orders) shuffles on the join key —
correct at any scale; all dimension joins (customer, nation, region)
are explicit broadcasts; the ship-date filters reach the parquet scan
(PushedFilters — asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

Q1_CUTOFF = "1998-09-02"
Q5_REGION = "ASIA"
Q5_FROM, Q5_TO = "1996-01-01", "1998-01-01"
TOPN_CUSTOMERS = 20
PRIORITY_MIN_QTY = 45.0
Q14_FROM, Q14_TO = "1996-01-01", "1996-07-01"


def _cents(col: Column) -> Column:
    return F.round(col * 100, 0).cast("long")


def _cents_sql(expr: str) -> str:
    return f"CAST(round({expr} * 100, 0) AS BIGINT)"


def _revenue_cents(df: DataFrame) -> Column:
    """price_cents * (100 - discount_pct): exact BIGINT per row."""
    return _cents(F.col("l_extendedprice")) * (
        100 - _cents(F.col("l_discount"))
    )


_REV_SQL = (
    f"{_cents_sql('l_extendedprice')} * (100 - {_cents_sql('l_discount')})"
)


# --------------------------------------------------------------------------
# queries() entries
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: per (returnflag, linestatus) pricing summary
    with the ship-date filter pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF)
    )
    qty = F.col("l_quantity").cast("long")
    price_c = _cents(F.col("l_extendedprice"))
    disc_p = _cents(F.col("l_discount"))
    tax_p = _cents(F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("long").alias("sum_qty"),
            F.sum(price_c).cast("long").alias("sum_base_price_cents"),
            F.sum(price_c * (100 - disc_p)).cast("long").alias("sum_disc_price_u"),
            F.sum(price_c * (100 - disc_p) * (100 + tax_p))
            .cast("long")
            .alias("sum_charge_u"),
            F.count("*").cast("long").alias("count_order"),
            F.round(F.sum(qty) / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(price_c) / F.count("*"), 6).alias("avg_price_cents"),
            F.round(F.sum(disc_p) / F.count("*"), 6).alias("avg_disc_pct"),
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation for one region and a 2-year
    order window.  Dimensions broadcast; only lineitem⋈orders
    shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_FROM))
        & (F.col("o_orderdate") < F.lit(Q5_TO))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q5_REGION
    )
    dims = F.broadcast(
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue_cents(li)).cast("long").alias("revenue_cents_pct"))
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue.
    Integer revenue makes the ranking deterministic on both engines
    (ties broken by custkey).

    Scale note: the top-k is ``orderBy(...).limit(k)``, which Spark
    compiles to a distributed ``TakeOrderedAndProject`` (per-partition
    heap of k rows, then a k-row merge on the driver) — NOT an
    unpartitioned global window, which would funnel every per-customer
    row through a single task.  Rank is then attached to the k
    surviving rows with a broadcast self-join (rank = how many top-k
    rows sort at-or-before me) — a k×k nested loop over k=20 rows,
    window-free, so nothing ever moves to a single partition."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(_revenue_cents(li)).cast("long").alias("revenue_cents_pct"))
    )
    top = rev.orderBy(
        F.desc("revenue_cents_pct"), F.asc("o_custkey")
    ).limit(TOPN_CUSTOMERS)
    other = top.select(
        F.col("revenue_cents_pct").alias("r2"), F.col("o_custkey").alias("k2")
    )
    at_or_before = (F.col("r2") > F.col("revenue_cents_pct")) | (
        (F.col("r2") == F.col("revenue_cents_pct"))
        & (F.col("k2") <= F.col("o_custkey"))
    )
    ranked = (
        top.join(F.broadcast(other), at_or_before)
        .groupBy("o_custkey", "revenue_cents_pct")
        .agg(F.count("*").cast("int").alias("rank"))
    )
    return (
        ranked.join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            "c_name",
            "revenue_cents_pct",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders having ≥1 big-quantity lineitem,
    counted by priority — a LEFT SEMI join."""
    orders = load_table(spark, sf_dir, "orders")
    big = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= PRIORITY_MIN_QTY
    )
    return (
        orders.join(
            big, orders.o_orderkey == big.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders, by market segment — a LEFT ANTI
    join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


def _year_custkeys(orders: DataFrame, y: int) -> DataFrame:
    """Distinct customers with an order in calendar year ``y``."""
    return orders.filter(
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01"))
    ).select("o_custkey").distinct()


def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage (INTERSECT — absent from the reference,
    free in the engine): customers who ordered in both 1996 and 1997,
    counted by market segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    both = _year_custkeys(orders, 1996).intersect(
        _year_custkeys(orders, 1997)
    )
    return (
        both.join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT coverage (the set-op complement of rel_repeat_customers):
    customers who ordered in 1996 but not in 1997, by segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    lapsed = _year_custkeys(orders, 1996).exceptAll(
        _year_custkeys(orders, 1997)
    )
    return (
        lapsed.join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (grouping-set coverage, also absent from the
    reference): revenue by (region, nation) plus per-region and grand
    totals — NULL group keys mark the subtotal rows, identically in
    Spark and the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .rollup("r_name", "n_name")
        .agg(F.sum(_revenue_cents(li)).cast("long").alias("revenue_cents_pct"))
    )


def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all four grouping sets in
    ONE pass over the fact table (vs four separate scans), with
    ``grouping_id`` disambiguating real NULL keys from subtotal rows
    (the thing ROLLUP output alone can't express)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_revenue_cents(li)).cast("long").alias("revenue_cents_pct"),
        F.grouping_id().cast("long").alias("gid"),
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of revenue from PROMO parts in one
    half-year of shipments.  ``part`` broadcasts; the exact integer
    numerator/denominator are exposed alongside the rounded ratio so
    the hash check pins the arithmetic, not just 6 decimals."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_FROM))
        & (F.col("l_shipdate") < F.lit(Q14_TO))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _revenue_cents(li)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
            .cast("long")
            .alias("promo_cents_pct"),
            F.sum(rev).cast("long").alias("total_cents_pct"),
        )
        .select(
            "promo_cents_pct",
            "total_cents_pct",
            F.round(
                F.lit(100.0)
                * F.col("promo_cents_pct").cast("double")
                / F.col("total_cents_pct"),
                6,
            ).alias("promo_share_pct"),
        )
    )


def q_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by SUPPLIER nation (the supply-side twin of Q5):
    lineitem ⋈ broadcast(supplier ⋈ broadcast(nation))."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    dims = F.broadcast(
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy("n_name")
        .agg(
            F.sum(_revenue_cents(li)).cast("long").alias("revenue_cents_pct"),
            F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        )
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated-subquery pattern, decorrelated:
    revenue from lineitems whose quantity is below half their part's
    average quantity.

    The correlated form (`WHERE l_quantity < (SELECT 0.5*avg(...) WHERE
    p_partkey = l_partkey)`) would re-aggregate per row; the scalable
    plan aggregates per-part (sum, count) ONCE — a |part|-sized result,
    ~30× smaller than lineitem — and joins it back on partkey.  No
    broadcast hint: AQE picks broadcast when the per-part aggregate
    fits (it does at every test sf) and a shuffle-hash join on partkey
    when it doesn't — both are the right plan at their scale.

    The threshold compare is exact integer math, no division:
    ``2 · qty · cnt < sum_qty  ⇔  qty < 0.5 · avg`` (quantities are
    integral), so Spark and DuckDB agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _cents(F.col("l_extendedprice")).alias("price_cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("sum_qty"),
        F.count("*").cast("long").alias("cnt"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.lit(2) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.sum("price_cents").cast("long").alias("revenue_cents"),
        )
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — how many customers placed 0, 1, 2, … orders.

    The naive form left-joins raw ``orders`` onto ``customer`` and
    counts after the join — shuffling every order row.  The scalable
    form pre-aggregates orders per custkey FIRST (map-side combine;
    the shuffle carries one row per customer, ~10× fewer than orders),
    then left-joins the |customer|-sized aggregate — customers with no
    orders surface via coalesce(0).  The final distribution groupBy is
    over ≤ a few hundred distinct counts: trivially tiny."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce("n_orders", F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
    )


# Q19-shape disjunctive predicate: (brand, size-range, quantity-range)
# triples — adapted to the driver schema (no p_container column).
Q19_ARMS: tuple[tuple[str, int, int, int], ...] = (
    ("Brand#12", 10, 1, 11),
    ("Brand#23", 20, 10, 20),
    ("Brand#34", 30, 20, 30),
)


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — revenue from an OR-of-ANDs predicate mixing
    part attributes (brand, size) and lineitem attributes (quantity).

    The disjunction spans both join sides, so no single conjunct can
    be pushed whole — but Catalyst distributes the OR into per-side
    residuals: the part scan keeps only rows satisfying SOME arm's
    (brand, size) clause and lineitem only rows in SOME quantity range
    (asserted in tests/test_plans.py).  Part is a dimension →
    broadcast join; the full mixed predicate runs as the post-join
    filter on the already-thinned stream."""
    li_raw = load_table(spark, sf_dir, "lineitem")
    li = li_raw.select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _revenue_cents(li_raw).alias("rev_u"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    arm = None
    for brand, size_max, q_lo, q_hi in Q19_ARMS:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_max)
            & (F.col("qty") >= q_lo)
            & (F.col("qty") <= q_hi)
        )
        arm = c if arm is None else (arm | c)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(arm)
        .agg(
            F.count("*").cast("long").alias("n_lineitems"),
            F.sum("rev_u").cast("long").alias("revenue_u"),
        )
    )


def q_customer_monthly_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer monthly spend with a 3-month moving average — the
    window done RIGHT: partitioned by customer (bounded partitions,
    parallel across customers) rather than one global ordering.  The
    month key is a string so both engines sort identically."""
    orders = load_table(spark, sf_dir, "orders")
    # date_format renders in the session timezone; the engine session
    # pins UTC (session.py) and the oracle's strftime is tz-naive, so
    # both agree.  A non-UTC session would shift midnight boundaries —
    # pin spark.sql.session.timeZone=UTC if embedding elsewhere.
    monthly = (
        orders.groupBy(
            "o_custkey",
            F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month"),
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).cast("long").alias("spend_cents"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("month")
        .rowsBetween(-2, Window.currentRow)
    )
    return monthly.select(
        F.col("o_custkey").alias("custkey"),
        "month",
        "spend_cents",
        F.round(F.avg("spend_cents").over(w), 6).alias("ma3_cents"),
    )


BIG_ORDER_MIN_QTY = 250    # Q18-style threshold: ~top 1% of orders by qty
LATE_DAYS = 365            # Q21-style lateness: shipped >1y after order
IDLE_NATIONS = (2, 5, 9, 12, 17, 20, 23)  # Q22-style country-code set
IDLE_SINCE = "2000-01-01"  # "idle" = no orders on/after this date


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): a HAVING filter on a
    fact-side aggregate, joined back to orders and customer.

    Scale shape: the quantity rollup is a partial-agg groupBy on
    lineitem BEFORE any join, so the join probe side is already
    filtered to the ~1% of orders above the threshold; big⋈orders is
    orderkey-co-partitioned, and orders⋈customer is a fact⋈fact
    shuffle left to AQE (customer grows with the corpus — a broadcast
    hint here would be wrong at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > BIG_ORDER_MIN_QTY)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select(
            "c_name",
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _cents(F.col("o_totalprice")).alias("total_price_cents"),
            "total_qty",
        )
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    multi-supplier orders where EXACTLY ONE supplier shipped late,
    count blamed orders per supplier; top 100.

    Spark-first rewrite of Q21's EXISTS/NOT-EXISTS double self-join:
    a TWO-LEVEL aggregate replaces both correlated subqueries AND the
    count-distinct Expand.  Level 1 dedups to (order, supplier,
    any-late) — after it, plain count/sum ARE the distinct counts, so
    level 2 needs no ``countDistinct`` (a single groupBy with two
    distinct aggregates compiles to an Expand that triples the
    shuffle volume; both levels here keep map-side partial agg).  The
    lone supplier is well-defined exactly when the late count is 1,
    so ``min(CASE WHEN late...)`` recovers it without a join back.
    Top-100 is orderBy+limit → distributed ``TakeOrderedAndProject``
    (same pattern as q_top_customers); ties are impossible to
    mis-order because s_name is unique."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {LATE_DAYS} DAYS"
    )
    flagged = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_pair = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late"),
        F.min(F.when(F.col("late"), F.col("l_suppkey"))).alias("lone"),
    )
    blamed = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy(F.col("lone").alias("suppkey"))
        .agg(F.count("*").cast("long").alias("numwait"))
    )
    return (
        blamed.join(F.broadcast(supp), F.col("suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers in a
    fixed nation set with above-average positive account balance and
    no RECENT orders (every sf0.01 customer has ≥1 lifetime order, so
    the idle predicate is "nothing on/after IDLE_SINCE"), rolled up
    per nation.

    The scalar AVG subquery is decorrelated as a 1-row aggregate
    cross-joined (broadcast) onto the corpus — and the comparison is
    kept in EXACT integer math (``bal_cents · n_pos > sum_pos_cents``
    ⇔ bal > avg) so partial-sum order can never flip a razor-edge
    comparison between engines.  The recent-orders test is a LEFT
    ANTI join on custkey against a date-pruned orders scan (the
    filter reaches the parquet scan); nation is a broadcast dim."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*IDLE_NATIONS)
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(IDLE_SINCE))
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count("*").cast("long").alias("n_pos"),
        F.sum(_cents(F.col("c_acctbal"))).cast("long").alias("sum_pos_cents"),
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(
            _cents(F.col("c_acctbal")) * F.col("n_pos") > F.col("sum_pos_cents")
        )
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.sum(_cents(F.col("c_acctbal")))
            .cast("long")
            .alias("total_acctbal_cents"),
        )
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "rel_pricing_summary": (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
        f"CAST(sum({_cents_sql('l_extendedprice')}) AS BIGINT) AS sum_base_price_cents, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS sum_disc_price_u, "
        f"CAST(sum({_REV_SQL} * (100 + {_cents_sql('l_tax')})) AS BIGINT) "
        "AS sum_charge_u, "
        "CAST(count(*) AS BIGINT) AS count_order, "
        "round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*), 6) "
        "AS avg_qty, "
        f"round(CAST(sum({_cents_sql('l_extendedprice')}) AS DOUBLE) / count(*), 6) "
        "AS avg_price_cents, "
        f"round(CAST(sum({_cents_sql('l_discount')}) AS DOUBLE) / count(*), 6) "
        "AS avg_disc_pct "
        f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
    "rel_revenue_by_nation": (
        "SELECT n_name, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_cents_pct "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        f"WHERE r_name = '{Q5_REGION}' "
        f"AND o_orderdate >= TIMESTAMP '{Q5_FROM}' "
        f"AND o_orderdate < TIMESTAMP '{Q5_TO}' "
        "GROUP BY n_name"
    ),
    "rel_top_customers": (
        "WITH rev AS (SELECT o_custkey, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_cents_pct "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_returnflag = 'R' GROUP BY o_custkey), "
        "ranked AS (SELECT *, row_number() OVER "
        "(ORDER BY revenue_cents_pct DESC, o_custkey ASC) AS rank FROM rev) "
        "SELECT o_custkey AS custkey, c_name, revenue_cents_pct, "
        "CAST(rank AS INTEGER) AS rank "
        "FROM ranked JOIN customer ON o_custkey = c_custkey "
        f"WHERE rank <= {TOPN_CUSTOMERS}"
    ),
    "rel_order_priority": (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders "
        "FROM orders WHERE EXISTS (SELECT 1 FROM lineitem "
        f"WHERE l_orderkey = o_orderkey AND l_quantity >= {PRIORITY_MIN_QTY}) "
        "GROUP BY o_orderpriority"
    ),
    "rel_customers_no_orders": (
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers "
        "FROM customer WHERE NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
        "GROUP BY c_mktsegment"
    ),
    "rel_repeat_customers": (
        "WITH both_years AS ("
        "SELECT DISTINCT o_custkey FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "INTERSECT "
        "SELECT DISTINCT o_custkey FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01') "
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers "
        "FROM both_years JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment"
    ),
    "rel_lapsed_customers": (
        "WITH lapsed AS ("
        "SELECT DISTINCT o_custkey FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "EXCEPT "
        "SELECT DISTINCT o_custkey FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01') "
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers "
        "FROM lapsed JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment"
    ),
    "rel_revenue_cube": (
        "SELECT l_returnflag, l_linestatus, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_cents_pct, "
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    ),
    "rel_promo_revenue": (
        "WITH agg AS (SELECT "
        f"CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END) "
        "AS BIGINT) AS promo_cents_pct, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS total_cents_pct "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        f"WHERE l_shipdate >= TIMESTAMP '{Q14_FROM}' "
        f"AND l_shipdate < TIMESTAMP '{Q14_TO}') "
        "SELECT promo_cents_pct, total_cents_pct, "
        "round(100.0 * CAST(promo_cents_pct AS DOUBLE) / total_cents_pct, 6) "
        "AS promo_share_pct FROM agg"
    ),
    "rel_supplier_nation_revenue": (
        "SELECT n_name, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_cents_pct, "
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "GROUP BY n_name"
    ),
    "rel_customer_monthly_ma": (
        "WITH monthly AS (SELECT o_custkey, "
        "strftime(o_orderdate, '%Y-%m') AS month, "
        f"CAST(sum({_cents_sql('o_totalprice')}) AS BIGINT) AS spend_cents "
        "FROM orders GROUP BY o_custkey, strftime(o_orderdate, '%Y-%m')) "
        "SELECT o_custkey AS custkey, month, spend_cents, "
        "round(avg(spend_cents) OVER (PARTITION BY o_custkey ORDER BY month "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3_cents "
        "FROM monthly"
    ),
    "rel_revenue_rollup": (
        "SELECT r_name, n_name, "
        f"CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_cents_pct "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ROLLUP (r_name, n_name)"
    ),
    "rel_order_count_distribution": (
        "WITH pc AS (SELECT o_custkey, count(*) AS n_orders "
        "FROM orders GROUP BY o_custkey) "
        "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM ("
        "SELECT CAST(coalesce(n_orders, 0) AS BIGINT) AS c_count "
        "FROM customer LEFT JOIN pc ON c_custkey = o_custkey) "
        "GROUP BY c_count"
    ),
    "rel_disjunctive_revenue": (
        "WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, "
        f"{_REV_SQL} AS rev_u FROM lineitem) "
        "SELECT CAST(count(*) AS BIGINT) AS n_lineitems, "
        "CAST(sum(rev_u) AS BIGINT) AS revenue_u "
        "FROM li JOIN part ON l_partkey = p_partkey WHERE "
        + " OR ".join(
            f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s} "
            f"AND qty BETWEEN {lo} AND {hi})"
            for b, s, lo, hi in Q19_ARMS
        )
    ),
    "rel_small_quantity_revenue": (
        "WITH li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty, "
        f"{_cents_sql('l_extendedprice')} AS price_cents FROM lineitem), "
        "per_part AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty, "
        "CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY l_partkey) "
        "SELECT CAST(count(*) AS BIGINT) AS n_lineitems, "
        "CAST(sum(price_cents) AS BIGINT) AS revenue_cents "
        "FROM li JOIN per_part USING (l_partkey) "
        "WHERE 2 * qty * cnt < sum_qty"
    ),
}

ORACLES["rel_big_orders"] = (
    "WITH big AS (SELECT l_orderkey, "
    "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty "
    "FROM lineitem GROUP BY l_orderkey "
    f"HAVING sum(CAST(l_quantity AS BIGINT)) > {BIG_ORDER_MIN_QTY}) "
    "SELECT c_name, o_custkey AS custkey, o_orderkey AS orderkey, "
    "strftime(o_orderdate, '%Y-%m-%d') AS orderdate, "
    f"{_cents_sql('o_totalprice')} AS total_price_cents, total_qty "
    "FROM big JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey"
)

ORACLES["rel_waiting_suppliers"] = (
    "WITH flagged AS (SELECT l_orderkey, l_suppkey, "
    f"(l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY) AS late "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
    "per_pair AS (SELECT l_orderkey, l_suppkey, bool_or(late) AS late "
    "FROM flagged GROUP BY l_orderkey, l_suppkey), "
    "per_order AS (SELECT l_orderkey, count(*) AS n_supp, "
    "sum(CASE WHEN late THEN 1 ELSE 0 END) AS n_late, "
    "min(CASE WHEN late THEN l_suppkey END) AS lone "
    "FROM per_pair GROUP BY l_orderkey), "
    "blamed AS (SELECT lone AS suppkey, CAST(count(*) AS BIGINT) AS numwait "
    "FROM per_order WHERE n_supp >= 2 AND n_late = 1 GROUP BY lone) "
    "SELECT s_name, numwait FROM blamed "
    "JOIN supplier ON s_suppkey = suppkey "
    "ORDER BY numwait DESC, s_name LIMIT 100"
)

_IDLE_IN = ", ".join(str(k) for k in IDLE_NATIONS)
ORACLES["rel_idle_customers"] = (
    "WITH pos AS (SELECT CAST(count(*) AS BIGINT) AS n_pos, "
    f"CAST(sum({_cents_sql('c_acctbal')}) AS BIGINT) AS sum_pos_cents "
    f"FROM customer WHERE c_nationkey IN ({_IDLE_IN}) AND c_acctbal > 0) "
    "SELECT n_name, CAST(count(*) AS BIGINT) AS numcust, "
    f"CAST(sum({_cents_sql('c_acctbal')}) AS BIGINT) AS total_acctbal_cents "
    "FROM customer CROSS JOIN pos "
    "JOIN nation ON c_nationkey = n_nationkey "
    f"WHERE c_nationkey IN ({_IDLE_IN}) "
    f"AND {_cents_sql('c_acctbal')} * n_pos > sum_pos_cents "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    f"AND o_orderdate >= TIMESTAMP '{IDLE_SINCE}') "
    "GROUP BY n_name"
)

QUERIES = {
    "rel_pricing_summary": q_pricing_summary,
    "rel_revenue_by_nation": q_revenue_by_nation,
    "rel_top_customers": q_top_customers,
    "rel_order_priority": q_order_priority,
    "rel_customers_no_orders": q_customers_no_orders,
    "rel_repeat_customers": q_repeat_customers,
    "rel_lapsed_customers": q_lapsed_customers,
    "rel_revenue_rollup": q_revenue_rollup,
    "rel_revenue_cube": q_revenue_cube,
    "rel_promo_revenue": q_promo_revenue,
    "rel_supplier_nation_revenue": q_supplier_nation_revenue,
    "rel_customer_monthly_ma": q_customer_monthly_ma,
    "rel_small_quantity_revenue": q_small_quantity_revenue,
    "rel_order_count_distribution": q_order_count_distribution,
    "rel_disjunctive_revenue": q_disjunctive_revenue,
    "rel_big_orders": q_big_orders,
    "rel_waiting_suppliers": q_waiting_suppliers,
    "rel_idle_customers": q_idle_customers,
}


# --- r8: TPC-H Q12 shape (the last of the 22 classic shapes) ---------

Q12_FROM = "1996-01-01"   # one ship-year window, non-empty at every SF
Q12_TO = "1997-01-01"
Q12_LATE_DAYS = 90        # commit-date stand-in: shipped >90d after order
Q12_HIGH = ("1-URGENT", "2-HIGH")


def q_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): for late
    lineitems shipped inside one year, split each line-status bucket
    into high-priority and low-priority order counts.

    The synthetic lineitem carries no l_shipmode / l_commitdate /
    l_receiptdate, so the ADAPTED shape groups by ``l_linestatus``
    (the categorical axis available) and defines "late" as shipped
    more than ``Q12_LATE_DAYS`` after the order date — the same
    join-then-two-conditional-counts skeleton as the official query
    (completes the 22/22 TPC-H shape inventory; see SURVEY §8).

    Scale shape: the shipdate-window filter prunes lineitem BEFORE
    the join (pushed to the parquet scan); the join is
    orderkey⋈orderkey fact⋈fact left to AQE; the two conditional
    counts are one partial-aggregating groupBy on a 2-value key —
    no Expand, no distinct."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*Q12_HIGH)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(Q12_FROM))
            & (F.col("l_shipdate") < F.lit(Q12_TO))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS")
        )
        .groupBy("l_linestatus")
        # F.when(...).otherwise(...) — NOT high.cast / (~high).cast: a
        # NULL o_orderpriority makes `isin` NULL, which sum() would
        # silently drop from BOTH counts, while the oracle's CASE ...
        # ELSE 1 counts it as a low line (ADVICE r8).  The explicit
        # otherwise() pins the ELSE semantics on the Spark side too.
        .agg(
            F.sum(F.when(high, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, F.lit(0)).otherwise(F.lit(1)))
            .cast("long")
            .alias("low_line_count"),
        )
    )


_Q12_HIGH_IN = ", ".join(f"'{p}'" for p in Q12_HIGH)
ORACLES["rel_q12_priority_class"] = (
    "SELECT l_linestatus, "
    f"CAST(sum(CASE WHEN o_orderpriority IN ({_Q12_HIGH_IN}) "
    "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    f"CAST(sum(CASE WHEN o_orderpriority IN ({_Q12_HIGH_IN}) "
    "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    f"WHERE l_shipdate >= TIMESTAMP '{Q12_FROM}' "
    f"AND l_shipdate < TIMESTAMP '{Q12_TO}' "
    f"AND l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY "
    "GROUP BY l_linestatus"
)
QUERIES["rel_q12_priority_class"] = q_q12_priority_class
