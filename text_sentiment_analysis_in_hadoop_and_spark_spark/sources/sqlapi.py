"""SQL front door — the engine's surface exposed as plain SQL over
registered views (the interface a reference user migrating from
spark-submit jobs reaches for first: `spark.sql(...)` against the
same tables, same Catalyst plans as the DataFrame API).

`register_views` binds every TESTDATA table as a temp view named
exactly as the driver's DuckDB oracle names them, so a query string
can run UNCHANGED on both engines — the two entries here are literal
ANSI strings whose Spark text and oracle text are character-identical
(modulo the integer-cents helper macros).  A plan test asserts the
SQL path produces the same physical plan family as the DataFrame
twin: there is ONE optimizer underneath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.relational import _cents_sql
from .tables import register_views


# Q1 shape as ONE literal string both engines execute unchanged
_SQL_PRICING = (
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, "
    f"CAST(sum({_cents_sql('l_extendedprice')}) AS BIGINT) AS sum_base_cents, "
    "CAST(count(*) AS BIGINT) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
)

# a cross-table string: per-nation customer count + total balance
_SQL_NATION_CUSTOMERS = (
    "SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_customers, "
    f"CAST(sum({_cents_sql('c_acctbal')}) AS BIGINT) AS balance_cents "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name"
)


def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PRICING)


def q_sql_nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SQL_NATION_CUSTOMERS)


ORACLES: dict[str, str] = {
    # the SAME strings, verbatim — one dialect, two engines
    "sql_pricing_summary": _SQL_PRICING,
    "sql_nation_customers": _SQL_NATION_CUSTOMERS,
}

QUERIES = {
    "sql_pricing_summary": q_sql_pricing_summary,
    "sql_nation_customers": q_sql_nation_customers,
}


# --- native recursive CTE: k-hop reachability (r5) -------------------

KHOP_MAX = 3       # traversal depth bound (terminates UNION ALL
                   # recursion even on cyclic dup graphs)
KHOP_SEED_MOD = 50  # deterministic seed set: doc_id % 50 == 0

# the recursive body is ONE shared string — Spark executes it over the
# registered dup_edges view, DuckDB over the inlined verified-pair
# CTEs — so the traversal semantics cannot drift between engines.
_KHOP_CORE = (
    "bi AS (SELECT a AS src, b AS dst FROM dup_edges "
    "UNION ALL SELECT b AS src, a AS dst FROM dup_edges), "
    "seeds AS (SELECT DISTINCT src AS seed FROM bi "
    f"WHERE src % {KHOP_SEED_MOD} = 0), "
    "reach(seed, node, hop) AS ("
    "SELECT seed, seed, 0 FROM seeds "
    "UNION ALL "
    "SELECT r.seed, e.dst, r.hop + 1 FROM reach r "
    f"JOIN bi e ON r.node = e.src WHERE r.hop < {KHOP_MAX}) "
)

_KHOP_SELECT = (
    "SELECT hop, CAST(count(*) AS BIGINT) AS n_reached "
    "FROM (SELECT DISTINCT hop, seed, node FROM reach) "
    "GROUP BY hop"
)


def q_sql_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius traversal through the engine's NATIVE recursive
    CTE (Spark 4): from every seed doc, the distinct (seed, node)
    pairs reachable within 1..KHOP_MAX hops of the verified near-dup
    graph — the "if this doc is contaminated, what else is suspect"
    query, expressed as the SQL a warehouse user would actually
    write instead of the hand-looped CC driver.

    Depth-bounded UNION ALL recursion terminates on cyclic graphs by
    the hop fence (Spark's recursive CTEs don't yet support UNION
    distinct); the final DISTINCT collapses the path multiplicity.
    The edge table is the SAME memoized banded→verified pair cache
    every graph operator shares — recursion never touches the
    corpus."""
    from ..operators.graph import _verified_edges

    _verified_edges(spark, sf_dir).createOrReplaceTempView("dup_edges")
    return spark.sql("WITH RECURSIVE " + _KHOP_CORE + _KHOP_SELECT)


def _khop_oracle() -> str:
    from ..operators.dedup import JACCARD_DUP_MIN, _CLUSTER_CTES

    prelude = _CLUSTER_CTES[:-2] + (
        "dup_edges AS (SELECT doc_a AS a, doc_b AS b FROM djac "
        f"WHERE jaccard >= {JACCARD_DUP_MIN})",
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(prelude)
        + ", "
        + _KHOP_CORE
        + _KHOP_SELECT
    )


ORACLES["sql_khop_reach"] = _khop_oracle()
QUERIES["sql_khop_reach"] = q_sql_khop_reach


# --- SQL pipe syntax (r5): Spark 4's |> operator chain ----------------
#
# The same nation-customer rollup written in SQL pipe syntax
# (SPARK-49555, the ZetaSQL-style `|>` chain Spark 4 ships): each
# stage reads top-down like a DataFrame chain while remaining one SQL
# string through the same parser/optimizer.  DuckDB has no pipe
# dialect, so the oracle is the classic formulation — same plan
# family, same rows; the point of the entry is pinning that the
# engine ACCEPTS and correctly executes the dialect a migrating
# ZetaSQL/BigQuery user will write.

_SQL_PIPE_SEGMENTS = (
    "FROM customer "
    "|> JOIN nation ON c_nationkey = n_nationkey "
    "|> WHERE c_acctbal >= 0 "
    "|> AGGREGATE CAST(count(*) AS BIGINT) AS n_customers, "
    f"CAST(sum({_cents_sql('c_acctbal')}) AS BIGINT) AS balance_cents "
    "GROUP BY c_mktsegment AS segment "
    "|> ORDER BY segment"
)


def q_sql_pipe_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SQL_PIPE_SEGMENTS)


ORACLES["sql_pipe_segments"] = (
    "SELECT c_mktsegment AS segment, "
    "CAST(count(*) AS BIGINT) AS n_customers, "
    f"CAST(sum({_cents_sql('c_acctbal')}) AS BIGINT) AS balance_cents "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "WHERE c_acctbal >= 0 GROUP BY c_mktsegment ORDER BY segment"
)
QUERIES["sql_pipe_segments"] = q_sql_pipe_segments


# --- collation-aware aggregation (r5): Spark 4 COLLATE ----------------
#
# Case-insensitive GROUP BY via Spark 4's collation support
# (SPARK-46830): grouping the order-priority code under UTF8_LCASE
# folds case variants into one group AT THE TYPE LEVEL — the grouping
# key, joins, and comparisons all inherit the collation instead of
# every call site remembering to lower() (the classic bug this
# feature retires).  The oracle lower()s explicitly — same rows; the
# entry pins that the engine's collated grouping agrees with the
# manual fold.  Keys are exposed lower()ed on both sides so the
# VALUES, not just the group structure, are engine-identical.

_SQL_COLLATED = (
    "SELECT lower(o_orderpriority) AS priority, "
    "CAST(count(*) AS BIGINT) AS n_orders "
    "FROM (SELECT o_orderpriority COLLATE UTF8_LCASE AS o_orderpriority "
    "FROM orders) GROUP BY o_orderpriority"
)


def q_sql_collated_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SQL_COLLATED)


ORACLES["sql_collated_priority"] = (
    "SELECT lower(o_orderpriority) AS priority, "
    "CAST(count(*) AS BIGINT) AS n_orders "
    "FROM orders GROUP BY lower(o_orderpriority)"
)
QUERIES["sql_collated_priority"] = q_sql_collated_priority
