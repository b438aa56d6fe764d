"""Privacy risk audit over the customer dimension (engine extension —
release-gating analytics a data platform runs before sharing a table;
complements quality.py's PII redaction, which fixes individual rows
while these measure RE-IDENTIFICATION risk of the whole release).

- ``priv_k_anonymity`` — equivalence classes over the quasi-identifier
  tuple (nation, market segment, account-balance bucket) with their
  sizes; a class smaller than K re-identifies its members (Sweeney,
  2002).
- ``priv_risk_by_nation`` — per-nation rollup: how many records sit in
  sub-K classes and what share of the nation that is.
- ``priv_l_diversity`` — with the segment treated as the SENSITIVE
  attribute and (nation, balance bucket) as the QI: per-nation minimum
  l (distinct sensitive values per class) and the share of classes
  meeting l ≥ L_MIN (Machanavajjhala et al., 2007).

Scale: one QI-keyed partial aggregation each (bounded state: |QI|
classes, not |rows|); the risky-class join broadcasts the class table
(quasi-identifier cardinality ≪ data size by construction — if it
were not, k-anonymity would be trivially satisfied).  No windows over
unpartitioned data, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table

K_ANON = 5
L_MIN = 3

_BAL_BUCKET = "CAST(floor(c_acctbal / 1000.0) AS BIGINT)"


def _classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(_BAL_BUCKET).alias("bal_bucket"),
    ).agg(F.count("*").alias("class_size"))


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _classes(spark, sf_dir).select(
        "nationkey",
        "segment",
        "bal_bucket",
        "class_size",
        (F.col("class_size") < K_ANON).cast("int").alias("is_risky"),
    )


def q_risk_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cls = _classes(spark, sf_dir)
    return cls.groupBy("nationkey").agg(
        F.sum("class_size").alias("n_customers"),
        F.sum(
            F.when(F.col("class_size") < K_ANON, F.col("class_size")).otherwise(
                F.lit(0)
            )
        ).alias("n_risky"),
        F.round(
            F.sum(
                F.when(
                    F.col("class_size") < K_ANON, F.col("class_size")
                ).otherwise(F.lit(0))
            )
            / F.sum("class_size"),
            6,
        ).alias("risk_share"),
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cls = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.expr(_BAL_BUCKET).alias("bal_bucket"),
    ).agg(F.countDistinct("c_mktsegment").alias("l"))
    return cls.groupBy("nationkey").agg(
        F.count("*").alias("n_classes"),
        F.min("l").alias("min_l"),
        F.round(
            F.sum((F.col("l") >= L_MIN).cast("bigint")) / F.count("*"), 6
        ).alias("diverse_share"),
    )


ORACLES: dict[str, str] = {
    "priv_k_anonymity": (
        "SELECT c_nationkey AS nationkey, c_mktsegment AS segment, "
        f"{_BAL_BUCKET} AS bal_bucket, "
        "CAST(count(*) AS BIGINT) AS class_size, "
        f"CAST(count(*) < {K_ANON} AS INTEGER) AS is_risky "
        "FROM customer GROUP BY 1, 2, 3"
    ),
    "priv_risk_by_nation": (
        "WITH cls AS (SELECT c_nationkey AS nationkey, "
        f"c_mktsegment, {_BAL_BUCKET} AS bal_bucket, "
        "CAST(count(*) AS BIGINT) AS class_size "
        "FROM customer GROUP BY 1, 2, 3) "
        "SELECT nationkey, CAST(sum(class_size) AS BIGINT) AS n_customers, "
        f"CAST(sum(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END) "
        "AS BIGINT) AS n_risky, "
        f"round(sum(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END) "
        "/ CAST(sum(class_size) AS DOUBLE), 6) AS risk_share "
        "FROM cls GROUP BY nationkey"
    ),
    "priv_l_diversity": (
        "WITH cls AS (SELECT c_nationkey AS nationkey, "
        f"{_BAL_BUCKET} AS bal_bucket, "
        "CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l "
        "FROM customer GROUP BY 1, 2) "
        "SELECT nationkey, CAST(count(*) AS BIGINT) AS n_classes, "
        "min(l) AS min_l, "
        f"round(sum(CASE WHEN l >= {L_MIN} THEN 1 ELSE 0 END) "
        "/ CAST(count(*) AS DOUBLE), 6) AS diverse_share "
        "FROM cls GROUP BY nationkey"
    ),
}

QUERIES = {
    "priv_k_anonymity": q_k_anonymity,
    "priv_risk_by_nation": q_risk_by_nation,
    "priv_l_diversity": q_l_diversity,
}


# --- t-closeness (Li, Li & Venkatasubramanian, 2007) -----------------


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the release-audit triad: k-anonymity bounds class
    SIZE, l-diversity bounds sensitive-value VARIETY, t-closeness
    bounds how much a class's sensitive-value DISTRIBUTION deviates
    from the global one (an attacker who knows the QI learns little
    beyond the public marginal).  Sensitive attribute = market
    segment (categorical), QI = (nation, balance bucket); distance =
    total variation (the EMD instance for categorical ground
    distance): t = ½ Σ_s |p_s − q_s|, with segments ABSENT from a
    class contributing their full global mass q_s — computed as
    ½·(Σ_{s∈class}(|p_s − q_s| − q_s) + 1) so only observed
    (class, segment) rows are ever materialized.

    Scale: one (QI, segment)-keyed partial agg over the table, one
    QI-keyed re-agg, and a broadcast of the |segments|-row global
    marginal — state is O(|QI|·|segments|), never O(rows)."""
    cust = load_table(spark, sf_dir, "customer")
    cs = cust.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.expr(_BAL_BUCKET).alias("bal_bucket"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count("*").alias("cnt"))
    glob = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("seg_n")
    )
    n_total = cust.groupBy().agg(F.count("*").alias("n_total"))
    p = F.col("cnt") / F.col("class_size")
    q = F.col("seg_n") / F.col("n_total")
    return (
        cs.withColumn(
            "class_size",
            F.sum("cnt").over(
                Window.partitionBy("nationkey", "bal_bucket")
            ),
        )
        .join(F.broadcast(glob), "segment")
        .join(F.broadcast(n_total))
        .groupBy("nationkey", "bal_bucket")
        .agg(
            F.max("class_size").cast("long").alias("class_size"),
            F.round(
                (F.sum(F.abs(p - q) - q) + 1) / 2, 6
            ).alias("t_distance"),
        )
    )


ORACLES["priv_t_closeness"] = (
    "WITH cs AS (SELECT c_nationkey AS nationkey, "
    f"{_BAL_BUCKET} AS bal_bucket, c_mktsegment AS segment, "
    "CAST(count(*) AS BIGINT) AS cnt FROM customer GROUP BY 1, 2, 3), "
    "sized AS (SELECT *, sum(cnt) OVER "
    "(PARTITION BY nationkey, bal_bucket) AS class_size FROM cs), "
    "gm AS (SELECT c_mktsegment AS segment, "
    "CAST(count(*) AS BIGINT) AS seg_n FROM customer GROUP BY 1), "
    "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM customer) "
    "SELECT s.nationkey, s.bal_bucket, "
    "CAST(max(s.class_size) AS BIGINT) AS class_size, "
    "round((sum(abs(CAST(s.cnt AS DOUBLE) / s.class_size - "
    "CAST(g.seg_n AS DOUBLE) / t.n_total) - "
    "CAST(g.seg_n AS DOUBLE) / t.n_total) + 1) / 2, 6) AS t_distance "
    "FROM sized s JOIN gm g USING (segment) CROSS JOIN tot t "
    "GROUP BY 1, 2"
)

QUERIES["priv_t_closeness"] = q_t_closeness


# --- right-to-erasure propagation audit (r5) ------------------------------
#
# The operational half of privacy next to the risk metrics: a DSAR
# delete list arrives (stand-in: user_id % 97 == 0) and the platform
# must show WHERE those users live before scrubbing and prove the
# scrub is complete after.  One row per artifact — the raw event log
# and two derived artifacts a warehouse actually materializes (the
# latest-state upsert view and the per-user lifetime rollup) — with
# total rows, affected rows, affected users, and the post-scrub
# remainder (recomputed through the same anti-join that performs the
# erasure, so 0 here IS the completeness proof, not an assumption).
#
# Scale shape: the delete list is users-scale ÷ 97 — broadcast side of
# every semi/anti join; each artifact contributes one partial-agg
# count pass.  The anti-join scrub is idempotent by construction
# (anti ∘ anti = anti), which the test pins.

ERASE_MOD = 97


def _erase_list(ev: DataFrame) -> DataFrame:
    return (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % ERASE_MOD == 0)
    )


def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windowed import load_events

    ev = load_events(spark, sf_dir)
    dl = F.broadcast(_erase_list(ev))
    latest = ev.groupBy("user_id").agg(
        F.max("epoch_sec").alias("last_es")
    )
    rollup = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    arms = []
    for name, df in (
        ("events_log", ev.select("user_id")),
        ("latest_state_view", latest.select("user_id")),
        ("user_lifetime_rollup", rollup.select("user_id")),
    ):
        hit = df.join(dl, "user_id", "left_semi")
        scrubbed = df.join(dl, "user_id", "left_anti")
        arms.append(
            df.agg(F.count("*").cast("long").alias("n_rows"))
            .crossJoin(
                hit.agg(
                    F.count("*").cast("long").alias("n_affected_rows"),
                    F.countDistinct("user_id")
                    .cast("long")
                    .alias("n_affected_users"),
                )
            )
            .crossJoin(
                scrubbed.join(dl, "user_id", "left_semi").agg(
                    F.count("*").cast("long").alias("post_scrub_remaining")
                )
            )
            .select(
                F.lit(name).alias("artifact"),
                "n_rows",
                "n_affected_rows",
                "n_affected_users",
                "post_scrub_remaining",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def _erasure_sql() -> str:
    arms = []
    for name, src in (
        ("events_log", "SELECT user_id FROM e"),
        ("latest_state_view", "SELECT user_id FROM e GROUP BY user_id"),
        ("user_lifetime_rollup", "SELECT user_id FROM e GROUP BY user_id"),
    ):
        arms.append(
            f"SELECT '{name}' AS artifact, "
            f"(SELECT count(*) FROM ({src}) t)::BIGINT AS n_rows, "
            f"(SELECT count(*) FROM ({src}) t WHERE user_id IN "
            "(SELECT user_id FROM dl))::BIGINT AS n_affected_rows, "
            f"(SELECT count(DISTINCT user_id) FROM ({src}) t "
            "WHERE user_id IN (SELECT user_id FROM dl))::BIGINT "
            "AS n_affected_users, "
            f"(SELECT count(*) FROM ({src}) t WHERE user_id NOT IN "
            "(SELECT user_id FROM dl) AND user_id IN "
            "(SELECT user_id FROM dl))::BIGINT AS post_scrub_remaining"
        )
    return (
        "WITH e AS (SELECT user_id FROM events), "
        "dl AS (SELECT DISTINCT user_id FROM events "
        f"WHERE user_id % {ERASE_MOD} = 0) "
        + " UNION ALL ".join(arms)
    )


ORACLES["priv_erasure_audit"] = _erasure_sql()
QUERIES["priv_erasure_audit"] = q_erasure_audit


# --- quasi-identifier subset audit (r6) ------------------------------------
#
# priv_k_anonymity measures re-identification risk for ONE fixed QI
# set; this audit asks the prior question a data-release review
# actually needs answered: WHICH combination of candidate columns is
# identifying?  For every non-empty subset of {nation, market
# segment, balance band} it reports the equivalence-class count, the
# singletons (k = 1 — unique, re-identifiable rows), and the
# identifiable share — the marginal-risk table that decides which
# column must be generalized or dropped.
#
# Scale shape: all 2³−1 subsets come from ONE scan via CUBE (Spark
# expands grouping sets map-side; no per-subset re-aggregation), the
# per-class rows collapse in a second subset-keyed partial agg, and
# the balance band is a fixed-width narrow map (never an ntile).
# GROUPING bit conventions agree between engines (last column = LSB,
# 1 = aggregated-away), pinned by the shared gid → label expression.

QI_BAL_BAND = 1000  # acctbal band width


def q_qi_subset_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = cust.join(
        F.broadcast(nation),
        cust.c_nationkey == nation.n_nationkey,
    ).select(
        "n_name",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / QI_BAL_BAND)
        .cast("long")
        .alias("bal_band"),
    )
    classes = base.cube("n_name", "c_mktsegment", "bal_band").agg(
        F.count("*").cast("long").alias("k"),
        F.grouping_id().cast("int").alias("gid"),
    )
    per = (
        classes.filter(F.col("gid") != 7)  # drop the global total row
        .groupBy("gid")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum((F.col("k") == 1).cast("long"))
            .cast("long")
            .alias("n_singletons"),
            F.sum("k").cast("long").alias("n_rows"),
            F.min("k").cast("long").alias("min_k"),
        )
    )
    label = F.concat_ws(
        "+",
        F.when(F.col("gid").bitwiseAND(4) == 0, F.lit("nation")),
        F.when(F.col("gid").bitwiseAND(2) == 0, F.lit("segment")),
        F.when(F.col("gid").bitwiseAND(1) == 0, F.lit("bal_band")),
    )
    return per.select(
        label.alias("qi_subset"),
        "n_classes",
        "n_singletons",
        "min_k",
        F.round(
            F.col("n_singletons") / F.col("n_rows").cast("double"), 6
        ).alias("identifiable_share"),
    )


ORACLES["priv_qi_subset_audit"] = (
    "WITH base AS (SELECT n_name, c_mktsegment, "
    f"CAST(floor(c_acctbal / {QI_BAL_BAND}) AS BIGINT) AS bal_band "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey), "
    "classes AS (SELECT n_name, c_mktsegment, bal_band, "
    "CAST(count(*) AS BIGINT) AS k, "
    "CAST(GROUPING(n_name, c_mktsegment, bal_band) AS INTEGER) AS gid "
    "FROM base GROUP BY CUBE (n_name, c_mktsegment, bal_band)), "
    "per AS (SELECT gid, CAST(count(*) AS BIGINT) AS n_classes, "
    "CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_singletons, sum(k) AS n_rows, "
    "CAST(min(k) AS BIGINT) AS min_k "
    "FROM classes WHERE gid <> 7 GROUP BY gid) "
    "SELECT concat_ws('+', "
    "CASE WHEN gid & 4 = 0 THEN 'nation' END, "
    "CASE WHEN gid & 2 = 0 THEN 'segment' END, "
    "CASE WHEN gid & 1 = 0 THEN 'bal_band' END) AS qi_subset, "
    "n_classes, n_singletons, min_k, "
    "round(n_singletons / CAST(n_rows AS DOUBLE), 6) "
    "AS identifiable_share FROM per"
)
QUERIES["priv_qi_subset_audit"] = q_qi_subset_audit


# --- DP release-error budget (r7) -------------------------------------
#
# Before a histogram release under ε-differential privacy, the privacy
# engineer asks: at which ε does each cell stay USEFUL?  A count
# histogram has L1-sensitivity 1, so the Laplace mechanism adds noise
# of scale b = 1/ε with expected absolute error exactly b.  This audit
# computes, per (nation, segment) cell and per candidate ε, the noise
# scale, the expected relative error b/count, and whether the cell
# clears a 10% relative-error release bar — the deterministic
# CALIBRATION side of DP (Dwork & Roth §3.3); no noise is drawn, so
# the audit is exactly reproducible and oracle-checkable.  (Actual
# noisy release would draw Laplace samples at publish time — a
# one-pass map over this table.)
#
# Scale: one QI-keyed partial agg (|cells| state), crossed with the
# 3-row ε grid — bounded everywhere.

DP_EPSILONS = (0.1, 1.0, 10.0)
DP_REL_ERR_BAR = 0.10


def q_dp_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count("*").cast("long").alias("n"))
    eps = spark.createDataFrame(
        [(e,) for e in DP_EPSILONS], "epsilon double"
    )
    out = cells.crossJoin(F.broadcast(eps))
    b = F.lit(1.0) / F.col("epsilon")  # Laplace scale, sensitivity 1
    rel = b / F.col("n")
    return out.select(
        "nationkey",
        "segment",
        "n",
        "epsilon",
        F.round(b, 6).alias("noise_scale"),
        F.round(rel, 6).alias("expected_rel_err"),
        (rel <= DP_REL_ERR_BAR).cast("int").alias("releasable"),
    )


ORACLES["priv_dp_error_budget"] = (
    "WITH cells AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey, "
    "c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n "
    "FROM customer GROUP BY c_nationkey, c_mktsegment), "
    "eps AS (SELECT CAST(unnest([0.1, 1.0, 10.0]) AS DOUBLE) "
    "AS epsilon) "
    "SELECT nationkey, segment, n, epsilon, "
    "round(1.0 / epsilon, 6) AS noise_scale, "
    "round(1.0 / epsilon / n, 6) AS expected_rel_err, "
    "CAST(1.0 / epsilon / n <= 0.10 AS INTEGER) AS releasable "
    "FROM cells CROSS JOIN eps"
)
QUERIES["priv_dp_error_budget"] = q_dp_error_budget


# --- generalization ladder (r10) ---------------------------------------
#
# The STEP AFTER measuring k-anonymity: if the release fails k ≥ K at
# the full QI, which generalization fixes it, and what does each rung
# cost?  The standard lattice walk (Samarati 2001; the full-domain
# generalization LaRS/Incognito search evaluates exactly these rungs)
# over four nested QI coarsenings of the customer release:
#
#   L0  (nation, segment, balance-1000s)   — the priv_k_anonymity QI
#   L1  (nation, segment)                  — suppress the balance
#   L2  (region, segment)                  — generalize nation→region
#   L3  (region)                           — drop the segment
#
# Per rung: class count, the achieved k (min class size), how many
# records sit in sub-K classes (what SUPPRESSION would have to remove
# to publish at this rung), that suppression rate, and whether the
# rung meets k ≥ K outright.  Monotone by construction (coarser QI →
# larger classes), so the first `meets_k = 1` row is the minimal
# generalization — the number a privacy engineer actually asks for.
#
# Scale: four partial aggregations over the customer dimension (each
# bounded by its QI cardinality, |QI| ≪ rows by construction), the
# nation→region map rides a 25-row broadcast; the four rung rollups
# are 1-row aggregates unioned — the whole query ships 4 rows.


def q_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_regionkey").cast("long").alias("regionkey"),
    )
    base = cust.join(F.broadcast(nat), "c_nationkey").select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "regionkey",
        F.col("c_mktsegment").alias("segment"),
        F.expr(_BAL_BUCKET).alias("bal_bucket"),
    )
    rungs = (
        (0, "nation+segment+balance", ("nationkey", "segment", "bal_bucket")),
        (1, "nation+segment", ("nationkey", "segment")),
        (2, "region+segment", ("regionkey", "segment")),
        (3, "region", ("regionkey",)),
    )
    arms = []
    for lvl, desc, cols in rungs:
        cls = base.groupBy(*cols).agg(F.count("*").alias("cs"))
        subk = F.sum(
            F.when(F.col("cs") < K_ANON, F.col("cs")).otherwise(F.lit(0))
        ).cast("long")
        arms.append(
            cls.agg(
                F.lit(lvl).cast("int").alias("level"),
                F.lit(desc).alias("qi"),
                F.count("*").cast("long").alias("n_classes"),
                F.min("cs").cast("long").alias("min_k"),
                subk.alias("subk_records"),
                F.round(
                    subk / F.sum("cs").cast("double"), 6
                ).alias("suppressed_frac"),
                (F.min("cs") >= K_ANON).cast("int").alias("meets_k"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def _ladder_sql() -> str:
    base = (
        "base AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey, "
        "CAST(n_regionkey AS BIGINT) AS regionkey, "
        "c_mktsegment AS segment, "
        f"{_BAL_BUCKET} AS bal_bucket "
        "FROM customer JOIN nation ON n_nationkey = c_nationkey)"
    )
    rungs = (
        (0, "nation+segment+balance", "nationkey, segment, bal_bucket"),
        (1, "nation+segment", "nationkey, segment"),
        (2, "region+segment", "regionkey, segment"),
        (3, "region", "regionkey"),
    )
    arms = []
    for lvl, desc, cols in rungs:
        arms.append(
            f"SELECT {lvl} AS level, '{desc}' AS qi, "
            "CAST(count(*) AS BIGINT) AS n_classes, "
            "CAST(min(cs) AS BIGINT) AS min_k, "
            f"CAST(sum(CASE WHEN cs < {K_ANON} THEN cs ELSE 0 END) "
            "AS BIGINT) AS subk_records, "
            f"round(sum(CASE WHEN cs < {K_ANON} THEN cs ELSE 0 END) "
            "/ CAST(sum(cs) AS DOUBLE), 6) AS suppressed_frac, "
            f"CAST(min(cs) >= {K_ANON} AS INTEGER) AS meets_k "
            f"FROM (SELECT count(*) AS cs FROM base GROUP BY {cols}) "
            f"l{lvl}"
        )
    return "WITH " + base + " " + " UNION ALL ".join(arms)


QUERIES["priv_generalization_ladder"] = q_generalization_ladder
ORACLES["priv_generalization_ladder"] = _ladder_sql()
