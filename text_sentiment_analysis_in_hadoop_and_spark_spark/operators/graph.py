"""PageRank over the near-duplicate document graph — the second graph
algorithm next to dedup's connected components (engine extension).

Why a training-data pipeline wants it: connected components answers
"which docs are the same content family"; PageRank over the same
verified-similarity edges scores CENTRALITY — the canonical-doc pick
"highest-rank member" beats "min doc_id" when families are hub-and-
spoke (one original, many partial copies), and rank mass identifies
template/boilerplate hubs that near-dup thresholds alone miss.

Plan shape per iteration (the textbook distributed PageRank):
contributions = ranks ⋈ out-edges (co-partitioned on src — ONE
shuffle family for the whole loop since both sides hash on the same
key), groupBy(dst) sum, damping applied as a narrow map.  Dangling
nodes (no out-edges) redistribute uniformly via a 1-row aggregate
broadcast — the S5 scalar-side-input shape.  Lineage is cut per
round with localCheckpoint like the CC loop.  Iterations are bounded
(N_ITERS), not convergence-polled: no per-round driver relay at all
beyond the dangling-mass scalar.

Rows-only BY DESIGN (SURVEY §5 iterative category): 10 rounds of
damped float recursion are not one SQL statement.  Pinned by
closed-form tests (uniform graphs, star hub/spoke ratios) and a
rank-mass conservation invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import JACCARD_DUP_MIN, q_dedup_clusters, q_jaccard_pairs

N_ITERS = 10
DAMPING = 0.85


def pagerank(nodes: DataFrame, edges: DataFrame, n_iters: int = N_ITERS) -> DataFrame:
    """nodes(node), undirected edges(a, b) → (node, rank); Σrank = |nodes|
    (the size-normalized convention, so a singleton's rank is 1.0 only
    until damping redistributes its mass).

    Driver-loop discipline: NO per-round action.  In an undirected
    graph every node that touches an edge has out-degree ≥ 1, so the
    only dangling nodes are the singletons outside the edge set — and
    they all carry the SAME rank, which follows the closed driver-side
    recurrence r_s(t+1) = (1−d) + d·n_sing·r_s(t)/N.  The dangling
    mass and per-round base term therefore precompute analytically;
    the distributed loop touches ONLY the connected subgraph (the same
    only-iterate-the-candidates discipline as dedup's CC loop), and
    singletons join back at the end with their closed-form rank."""
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    directed = edges.selectExpr("a AS src", "b AS dst").unionByName(
        edges.selectExpr("b AS src", "a AS dst")
    )
    deg = directed.groupBy("src").agg(F.count("*").alias("deg"))
    # out-edge table with 1/deg weight, checkpointed once — every
    # iteration joins against this same co-partitioned table
    out = (
        directed.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .repartition("src")
        .localCheckpoint()
    )
    connected = deg.select(F.col("src").alias("node")).localCheckpoint()
    n_connected = connected.count()
    n_sing = n_nodes - n_connected

    # closed-form singleton/base series (no distributed work)
    r_s = 1.0
    bases = []
    for _ in range(n_iters):
        base = (1.0 - DAMPING) + DAMPING * n_sing * r_s / n_nodes
        bases.append(base)
        r_s = base

    ranks = connected.select("node", F.lit(1.0).alias("rank"))
    for rnd, base in enumerate(bases, 1):
        contrib = (
            ranks.join(out, ranks.node == out.src)
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("recv"))
        )
        ranks = connected.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(DAMPING) * F.coalesce("recv", F.lit(0.0))
            ).alias("rank"),
        )
        # cut lineage every fifth round (r12: was every third — each
        # eager checkpoint is a job, and a 5-round plan over the
        # (tiny) subgraph is still cheap; 4 checkpoint jobs → 2).
        # r13 (ADVICE r12): eager=False — lineage/plan is cut
        # identically but materialization defers into the consuming
        # job, so the loop itself launches ZERO jobs; interleaved A/B
        # warm min-of-4: cad5 lazy 3.49 vs eager 3.60 vs cad3 3.78
        # (cad10 lazy 3.68 — the longer plan costs the win back)
        if rnd % 5 == 0 or rnd == len(bases):
            ranks = ranks.localCheckpoint(eager=False)
    singles = nodes.join(connected, "node", "left_anti").select(
        "node", F.lit(r_s).alias("rank")
    )
    return ranks.unionByName(singles)


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-dup graph (same edge source as
    dedup_clusters — the memoized jaccard pair cache), every corpus
    doc a node; ranks rounded to 6 for stable comparison."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    edges = (
        q_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_DUP_MIN)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    return pagerank(docs, edges).select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


# --- Triangle counting / clustering coefficients --------------------------
#
# Third graph op over the same verified near-dup edges: triangles
# measure how CLIQUE-LIKE a dup family is.  Chain-shaped families
# (A~B~C but A≁C) are usually template drift — each hop shares
# boilerplate with the next — while triangle-dense families are true
# copy clusters; the clustering coefficient separates the two, which
# picks the scrub strategy (span-level scrub for chains, whole-doc
# drop for cliques).
#
# Scale shape: the edge set is the LSH-candidate→verified pair table
# (bounded by banding + the hot-bucket cap — never all-pairs).  The
# triangle join is the canonical a<b<c orientation: every triangle is
# enumerated exactly once, and orienting edges low→high id bounds each
# join's fan-out by the max ORIENTED out-degree (the standard
# degree-orientation trick; with id-orientation the bound is looser
# but the join stays a pure equi-join on the edge table — 2 shuffles
# total, both on edge keys).

from .dedup import _CLUSTER_CTES, _with  # noqa: E402  (oracle reuse)


def _verified_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (a < b) verified near-dup edges — same memoized source
    as dedup_clusters/pagerank."""
    return (
        q_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_DUP_MIN)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )


def _triangles(edges: DataFrame) -> DataFrame:
    """(a, b, c) with a < b < c, each triangle exactly once."""
    e1 = edges.select(F.col("a"), F.col("b"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    return (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )


def q_graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census: triangle count, wedge (open-triad)
    count, and the global clustering coefficient 3·T / W."""
    edges = _verified_edges(spark, sf_dir)
    tri = _triangles(edges).agg(F.count("*").alias("n_triangles"))
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2), F.lit(0.0)
        )
        .cast("long")
        .alias("n_wedges")
    )
    return (
        tri.crossJoin(wedges)
        .select(
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


def q_graph_node_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree, triangle membership, and local clustering
    coefficient 2·T(v) / (deg·(deg−1)) over the connected subgraph."""
    edges = _verified_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    tri = _triangles(edges)
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("local_clustering"),
        )
    )


_TRI_CTES = _CLUSTER_CTES[:-2] + (
    f"uedges AS (SELECT doc_a AS a, doc_b AS b FROM djac "
    f"WHERE jaccard >= {JACCARD_DUP_MIN})",
    "tri AS (SELECT e1.a, e1.b, e2.b AS c FROM uedges e1 "
    "JOIN uedges e2 ON e2.a = e1.b "
    "JOIN uedges e3 ON e3.a = e1.a AND e3.b = e2.b)",
    "gdeg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM ("
    "SELECT a AS node FROM uedges UNION ALL SELECT b FROM uedges"
    ") GROUP BY node)",
)

ORACLES: dict[str, str] = {
    "graph_triangle_stats": _with(*_TRI_CTES)
    + "SELECT (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles, "
    "(SELECT CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT) "
    "FROM gdeg) AS n_wedges, "
    "CASE WHEN (SELECT sum(deg * (deg - 1) // 2) FROM gdeg) > 0 "
    "THEN round(3.0 * (SELECT count(*) FROM tri) / "
    "(SELECT sum(deg * (deg - 1) // 2) FROM gdeg), 6) ELSE 0.0 END "
    "AS global_clustering",
    "graph_node_clustering": _with(
        *_TRI_CTES,
        "ntri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles "
        "FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri "
        "UNION ALL SELECT c FROM tri) GROUP BY node)",
    )
    + "SELECT d.node, d.deg, "
    "CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles, "
    "CASE WHEN d.deg >= 2 THEN round(2.0 * coalesce(t.n_triangles, 0) / "
    "(d.deg * (d.deg - 1)), 6) ELSE 0.0 END AS local_clustering "
    "FROM gdeg d LEFT JOIN ntri t USING (node)",
}

def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-edge recovery over the verified near-dup graph: for
    every NON-edge pair (a < b) with at least one common verified
    neighbor, the common-neighbor count and Adamic–Adar score
    Σ 1/ln(deg(m)) over shared neighbors m.  A high-scoring non-edge
    is a near-dup pair the LSH banding + Jaccard threshold missed but
    for which the graph carries strong transitive evidence — the
    candidate-recovery pass a dedup pipeline runs before trusting
    cluster boundaries (re-verify exactly these pairs, not all pairs).

    Scale shape: wedges come from the adjacency self-join on the
    MIDDLE node — the same equi-join key family as the triangle
    census, bounded by the verified edge set (banding + hot-bucket
    cap), never the corpus.  Degrees join co-partitioned on that same
    middle key BEFORE the wedge join (one shuffle family); known
    edges are removed by a left-anti equi-join.  Every neighbor m of
    a wedge has deg(m) ≥ 2, so ln(deg) is never zero."""
    return link_prediction(_verified_edges(spark, sf_dir))


def link_prediction(edges: DataFrame) -> DataFrame:
    """Canonical (a < b) undirected edges → non-edge pairs with
    ≥1 common neighbor, scored (common_neighbors, adamic_adar)."""
    adj = edges.select(
        F.col("a").alias("m"), F.col("b").alias("x")
    ).unionAll(edges.select(F.col("b").alias("m"), F.col("a").alias("x")))
    deg = adj.groupBy("m").agg(F.count("*").cast("long").alias("deg"))
    adjd = adj.join(deg, "m")
    w2 = adjd.select(
        F.col("m"), F.col("x").alias("y")
    )
    wedges = (
        adjd.join(w2, "m")
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"),
            F.col("y").alias("doc_b"),
            "deg",
        )
    )
    non_edges = wedges.join(
        edges,
        (wedges.doc_a == edges.a) & (wedges.doc_b == edges.b),
        "left_anti",
    )
    return non_edges.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.round(F.sum(F.lit(1.0) / F.log("deg")), 6).alias("adamic_adar"),
    )


ORACLES["graph_link_prediction"] = (
    _with(
        *_TRI_CTES,
        "adj AS (SELECT a AS m, b AS x FROM uedges "
        "UNION ALL SELECT b AS m, a AS x FROM uedges)",
    )
    + "SELECT w1.x AS doc_a, w2.x AS doc_b, "
    "CAST(count(*) AS BIGINT) AS common_neighbors, "
    "round(sum(1.0 / ln(d.deg)), 6) AS adamic_adar "
    "FROM adj w1 JOIN adj w2 ON w1.m = w2.m AND w1.x < w2.x "
    "JOIN gdeg d ON d.node = w1.m "
    "LEFT JOIN uedges e ON e.a = w1.x AND e.b = w2.x "
    "WHERE e.a IS NULL GROUP BY 1, 2"
)


QUERIES = {
    "dedup_pagerank": q_dedup_pagerank,
    "graph_triangle_stats": q_graph_triangle_stats,
    "graph_node_clustering": q_graph_node_clustering,
    "graph_link_prediction": q_graph_link_prediction,
}


# --- clustering quality: Newman modularity ---------------------------


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the near-dup clustering against the
    verified edge set — the single-number answer to "is this
    clustering structure or noise": Q ≈ 0 means the partition does no
    better than random wiring of the same degree sequence, Q → 1
    means dense well-separated communities.  Computed in the general
    form Q = Σ_c [m_c/m − (d_c/2m)²] (intra-edge share minus the
    degree-sequence expectation) so it prices ANY (node, label)
    assignment, not just connected components — for CC labels every
    edge is intra by construction, an identity the test pins.

    All-integer plumbing: edge count, per-cluster intra counts and
    squared degree sums stay BIGINT; the only float is the final
    rounded division (Q = (4·m·Σm_c − Σd_c²) / 4m²).  Shape: two
    label joins keyed on node, two bounded aggregates — no window, no
    driver loop."""
    edges = _verified_edges(spark, sf_dir)
    # r12 (guide §5.3): labels feeds THREE consumers (both edge-side
    # label joins + the degree rollup), each otherwise re-running the
    # distinct-union semi-join against the edge memo; the table is
    # edge-node-sized (bounded), so one localCheckpoint per
    # invocation pays that once
    labels = (
        q_dedup_clusters(spark, sf_dir)
        .select(F.col("doc_id").alias("node"), F.col("cluster_id"))
        .join(
            edges.select(F.col("a").alias("node"))
            .union(edges.select(F.col("b").alias("node")))
            .distinct(),
            "node",
            "left_semi",
        )
        # r13 (ADVICE r12): lazy — the first consumer materializes it,
        # the other two still share the blocks; no standalone job
        .localCheckpoint(eager=False)
    )
    la = labels.select(F.col("node").alias("a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("cluster_id").alias("cb"))
    ee = edges.join(la, "a").join(lb, "b")
    m1 = edges.agg(F.count("*").cast("long").alias("m"))
    si = ee.filter(F.col("ca") == F.col("cb")).agg(
        F.count("*").cast("long").alias("s_intra")
    )
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    degc = deg.join(labels, "node").groupBy("cluster_id").agg(
        F.sum("d").cast("long").alias("dc")
    )
    s2 = degc.agg(
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("s2"),
        F.count("*").cast("long").alias("n_clusters"),
    )
    return (
        m1.join(si)
        .join(s2)
        .select(
            F.col("m").alias("n_edges"),
            "n_clusters",
            F.col("s_intra"),
            F.round(
                (4 * F.col("m") * F.col("s_intra") - F.col("s2")).cast(
                    "double"
                )
                / (4.0 * F.col("m") * F.col("m")).cast("double"),
                6,
            ).alias("modularity"),
        )
    )


from .dedup import JACCARD_DUP_MIN as _T  # noqa: E402

ORACLES["graph_modularity"] = "WITH RECURSIVE " + ",\n".join((
    *_CLUSTER_CTES,
    f"edg AS (SELECT doc_a AS a, doc_b AS b FROM djac WHERE jaccard >= {_T})",
    "en AS (SELECT DISTINCT node FROM (SELECT a AS node FROM edg UNION ALL SELECT b AS node FROM edg))",
    "lab AS (SELECT l.node, l.label FROM dlabels l JOIN en USING (node))",
    "ee AS (SELECT la.label AS ca, lb.label AS cb FROM edg "
    "JOIN lab la ON la.node = edg.a JOIN lab lb ON lb.node = edg.b)",
    "m1 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edg)",
    "si AS (SELECT CAST(count(*) AS BIGINT) AS s_intra FROM ee "
    "WHERE ca = cb)",
    "deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM "
    "(SELECT a AS node FROM edg UNION ALL SELECT b FROM edg) "
    "GROUP BY node)",
    "degc AS (SELECT l.label, CAST(sum(d.d) AS BIGINT) AS dc "
    "FROM deg d JOIN lab l USING (node) GROUP BY l.label)",
    "s2 AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS s2, "
    "CAST(count(*) AS BIGINT) AS n_clusters FROM degc)",
)) + (
    " SELECT m1.m AS n_edges, s2.n_clusters, si.s_intra, "
    "round(CAST(4 * m1.m * si.s_intra - s2.s2 AS DOUBLE) / "
    "CAST(4.0 * m1.m * m1.m AS DOUBLE), 6) AS modularity "
    "FROM m1, si, s2"
)

QUERIES["graph_modularity"] = q_graph_modularity


# --- k-core decomposition (iterative peeling) ------------------------

KCORE_K = 2
KCORE_MAX_ROUNDS = 20


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-core of the verified near-dup graph: nodes surviving
    repeated peeling of degree-<k vertices — the standard "dense
    part" extractor (pendant pairs drop out, actual duplicate
    clusters and chains survive), and the classic ANTI-monotone
    iteration: the edge set only SHRINKS, so each round is one
    degree aggregate + two semi-joins over a smaller input, with the
    same ``localCheckpoint`` lineage discipline as connected
    components.  Converges in O(peeling depth) rounds — near-dup
    graphs are shallow (tested ≤ a handful) — and every round's
    plan is keyed on node/edge columns only.

    The DuckDB oracle UNROLLS the same peeling a fixed
    ``KCORE_MAX_ROUNDS`` times (anti-monotone fixpoints do not fit a
    plain recursive CTE, but peeling is idempotent after convergence,
    so the unrolled form computes the identical fixpoint).  Output:
    (node, core_degree) for surviving nodes."""
    # r13: lazy checkpoints — the count right after materializes
    # each round's edge set, one job per round instead of two (the
    # CC-loop precedent)
    edges = _verified_edges(spark, sf_dir).localCheckpoint(eager=False)
    n_edges = edges.count()
    for _ in range(KCORE_MAX_ROUNDS):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("node")
        ne = edges.join(
            keep.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
        ne = ne.localCheckpoint(eager=False)
        n_new = ne.count()
        if n_new == n_edges:
            break
        edges, n_edges = ne, n_new
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("core_degree"))
    )


def _kcore_sql() -> str:
    # AS MATERIALIZED: DuckDB inlines plain CTEs, and each unrolled
    # round references its predecessor 3x — without materialization
    # the expansion is 3^rounds scans of the base table
    ctes = [
        f"e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM djac "
        f"WHERE jaccard >= {_T})",
    ]
    for r in range(KCORE_MAX_ROUNDS):
        ctes.append(
            f"d{r} AS (SELECT node, count(*) AS d FROM "
            f"(SELECT a AS node FROM e{r} UNION ALL "
            f"SELECT b AS node FROM e{r}) GROUP BY node)"
        )
        ctes.append(
            f"k{r} AS (SELECT node FROM d{r} WHERE d >= {KCORE_K})"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e "
            f"JOIN k{r} ka ON ka.node = e.a "
            f"JOIN k{r} kb ON kb.node = e.b)"
        )
    last = f"e{KCORE_MAX_ROUNDS}"
    body = (
        f" SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM "
        f"(SELECT a AS node FROM {last} UNION ALL "
        f"SELECT b AS node FROM {last}) GROUP BY node"
    )
    # djac needs the minhash prelude; cc/dlabels are not needed but
    # ride along harmlessly inside _CLUSTER_CTES — use the prelude
    # slice up to djac instead to keep the statement lean
    from .dedup import _CLUSTER_CTES

    prelude = [c for c in _CLUSTER_CTES if not c.startswith(("dedges", "cc(", "dlabels"))]
    return "WITH " + ",\n".join(prelude + ctes) + body


ORACLES["graph_kcore"] = _kcore_sql()
QUERIES["graph_kcore"] = q_graph_kcore


# --- Degree assortativity ---------------------------------------------
#
# Newman's degree-assortativity coefficient r over the verified
# near-dup graph: the Pearson correlation of END-POINT degrees across
# (directed) edges.  r > 0 means hubs link to hubs (copy rings /
# template mills sharing boilerplate with each other), r < 0 means
# hub-and-spoke (one original, many partial copies attached to it) —
# the same structural tell the clustering coefficient gives, but as a
# single signed scalar a pipeline can threshold and track over
# ingests.
#
# Scale shape: degrees are one groupBy over the (bounded, banded)
# edge set; both endpoint joins re-key on the SAME node-id family the
# triangle census uses, and the correlation reduces entirely to
# INTEGER sums (M, Σx, Σy, Σxy, Σx², Σy²) over the directed edge
# table — doubles appear only in the final ratio, so both engines
# emit the identical rounded value.  Including both orientations
# makes the statistic symmetric (the standard undirected convention).


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assortativity(_verified_edges(spark, sf_dir))


def assortativity(edges: DataFrame) -> DataFrame:
    """Canonical (a < b) undirected edges → 1-row
    (n_directed_edges, assortativity); NULL when either endpoint
    degree sequence is constant (zero variance — regular graphs have
    no defined assortativity)."""
    directed = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = directed.groupBy("a").agg(F.count("*").cast("long").alias("deg"))
    paired = (
        directed.join(deg.withColumnRenamed("deg", "dx"), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("dy")),
            "b",
        )
    )
    mom = paired.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx2 = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy2 = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        F.when(
            (dx2 > 0) & (dy2 > 0),
            F.round(num / (F.sqrt(dx2) * F.sqrt(dy2)), 6),
        ).alias("assortativity"),
    )


ORACLES["graph_assortativity"] = (
    _with(
        *_TRI_CTES,
        "asedges AS (SELECT a, b FROM uedges "
        "UNION ALL SELECT b AS a, a AS b FROM uedges)",
        "asdeg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg "
        "FROM asedges GROUP BY a)",
        "paired AS (SELECT x.deg AS dx, y.deg AS dy FROM asedges e "
        "JOIN asdeg x ON e.a = x.a JOIN asdeg y ON e.b = y.a)",
        "mom AS (SELECT CAST(count(*) AS BIGINT) AS m, "
        "CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy, "
        "CAST(sum(dx * dy) AS BIGINT) AS sxy, "
        "CAST(sum(dx * dx) AS BIGINT) AS sxx, "
        "CAST(sum(dy * dy) AS BIGINT) AS syy FROM paired)",
    )
    + "SELECT m AS n_directed_edges, "
    "CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN "
    "round(CAST(m * sxy - sx * sy AS DOUBLE) / "
    "(sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) * "
    "sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6) "
    "ELSE NULL END AS assortativity FROM mom"
)

QUERIES["graph_assortativity"] = q_graph_assortativity


# --- deterministic neighbor sampling (r5) ---------------------------------
#
# GNN minibatch prep (the GraphSAGE fanout): for every seed node,
# sample up to FANOUT1 neighbors, and up to FANOUT2 second-hop
# neighbors per first-hop node — but DETERMINISTICALLY, ranking
# neighbors by a content hash of the (path) key instead of an RNG, so
# the sampled computation graph is reproducible across runs/engines
# (the same property every sampler in pipeline.py guarantees).
# Back-edges to the seed are excluded at hop 2.
#
# Scale shape: edges are the bounded verified near-dup pair table;
# fanout ranking windows partition BY SEED (hop 1) and BY (SEED,
# FIRST-HOP) (hop 2) — thousands of small partitions, no global
# window; output is ≤ seeds · F1 · (1 + F2) rows by construction.

SAMPLE_SEED_MOD = 7
FANOUT1 = 3
FANOUT2 = 2


def q_graph_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.hashing import hex32

    e = _verified_edges(spark, sf_dir)
    bidir = e.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    seeds = (
        bidir.select(F.col("src").alias("seed"))
        .distinct()
        .filter(F.col("seed") % SAMPLE_SEED_MOD == 0)
    )
    h1 = seeds.join(bidir, F.col("seed") == F.col("src")).select(
        "seed",
        F.col("dst").alias("n1"),
        hex32(
            F.concat_ws(
                ":",
                F.col("seed").cast("string"),
                F.col("dst").cast("string"),
            )
        ).alias("hk"),
    )
    w1 = Window.partitionBy("seed").orderBy("hk", "n1")
    hop1 = (
        h1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= FANOUT1)
        .select("seed", "n1")
    )
    h2 = (
        hop1.join(bidir, F.col("n1") == F.col("src"))
        .filter(F.col("dst") != F.col("seed"))
        .select(
            "seed",
            "n1",
            F.col("dst").alias("n2"),
            hex32(
                F.concat_ws(
                    ":",
                    F.col("seed").cast("string"),
                    F.col("n1").cast("string"),
                    F.col("dst").cast("string"),
                )
            ).alias("hk"),
        )
    )
    w2 = Window.partitionBy("seed", "n1").orderBy("hk", "n2")
    hop2 = (
        h2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= FANOUT2)
        .select("seed", "n1", "n2")
    )
    return hop1.select(
        "seed",
        F.lit(1).cast("int").alias("hop"),
        F.col("seed").alias("src"),
        F.col("n1").alias("dst"),
    ).unionByName(
        hop2.select(
            "seed",
            F.lit(2).cast("int").alias("hop"),
            F.col("n1").alias("src"),
            F.col("n2").alias("dst"),
        )
    )


def _neighbor_sample_sql() -> str:
    from ..functions.hashing import hex32_sql

    hk1 = hex32_sql("CAST(seed AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")
    hk2 = hex32_sql(
        "CAST(seed AS VARCHAR) || ':' || CAST(n1 AS VARCHAR) || ':' || "
        "CAST(dst AS VARCHAR)"
    )
    return _with(
        *_TRI_CTES[:-2],
        "bidir AS (SELECT a AS src, b AS dst FROM uedges "
        "UNION ALL SELECT b, a FROM uedges)",
        "seeds AS (SELECT DISTINCT src AS seed FROM bidir "
        f"WHERE src % {SAMPLE_SEED_MOD} = 0)",
        "h1 AS (SELECT s.seed, b.dst, row_number() OVER "
        f"(PARTITION BY s.seed ORDER BY {hk1}, b.dst) AS rn "
        "FROM seeds s JOIN bidir b ON b.src = s.seed)",
        f"hop1 AS (SELECT seed, dst AS n1 FROM h1 WHERE rn <= {FANOUT1})",
        "h2 AS (SELECT h.seed, h.n1, b.dst, row_number() OVER "
        f"(PARTITION BY h.seed, h.n1 ORDER BY {hk2}, b.dst) AS rn "
        "FROM hop1 h JOIN bidir b ON b.src = h.n1 "
        "WHERE b.dst <> h.seed)",
        f"hop2 AS (SELECT seed, n1, dst AS n2 FROM h2 WHERE rn <= {FANOUT2})",
    ) + (
        "SELECT seed, CAST(1 AS INTEGER) AS hop, seed AS src, n1 AS dst "
        "FROM hop1 "
        "UNION ALL "
        "SELECT seed, CAST(2 AS INTEGER) AS hop, n1 AS src, n2 AS dst "
        "FROM hop2"
    )


ORACLES["graph_neighbor_sample"] = _neighbor_sample_sql()
QUERIES["graph_neighbor_sample"] = q_graph_neighbor_sample


# --- degree power-law fit (r7) ----------------------------------------
#
# Real similarity graphs are heavy-tailed (template/boilerplate hubs);
# the standard one-number summary is the power-law exponent α of
# P(deg = k) ∝ k^-α, estimated here by log-log OLS over the DEGREE
# HISTOGRAM (Newman 2005's binned-regression baseline — the histogram
# estimator a pipeline can afford at any scale, since the regression
# runs over |distinct degrees| rows, never |nodes|).
#
# Scale shape: degrees = one groupBy over directed edges; histogram =
# one groupBy over degrees (≤ max-degree rows); the OLS moments are a
# 1-row aggregate.  Everything partial-agg, nothing corpus-sized past
# the first groupBy.


def degree_powerlaw(edges: DataFrame) -> DataFrame:
    """Canonical (a < b) edges → 1-row (n_nodes, max_degree,
    n_degree_bins, alpha_hat, r2).  alpha_hat = −slope of
    ln(count) on ln(deg); NULL when under 3 distinct degrees (no
    meaningful fit)."""
    directed = edges.select("a").unionAll(
        edges.select(F.col("b").alias("a"))
    )
    deg = directed.groupBy("a").agg(
        F.count("*").cast("long").alias("deg")
    )
    hist = deg.groupBy("deg").agg(
        F.count("*").cast("long").alias("cnt")
    )
    pts = hist.select(
        F.log(F.col("deg").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.max("deg").cast("long").alias("max_degree"),
    )
    kd = F.col("k").cast("double")
    den = kd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    deny = kd * F.col("syy") - F.col("sy") * F.col("sy")
    r2 = (
        (kd * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (kd * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (den * deny)
    )
    fit = mom.select(
        F.col("k").alias("n_degree_bins"),
        F.when((F.col("k") >= 3) & (den > 0), F.round(-slope, 6)).alias(
            "alpha_hat"
        ),
        F.when(
            (F.col("k") >= 3) & (den > 0) & (deny > 0), F.round(r2, 6)
        ).alias("r2"),
    )
    return tot.crossJoin(F.broadcast(fit)).select(
        "n_nodes", "max_degree", "n_degree_bins", "alpha_hat", "r2"
    )


def q_graph_degree_powerlaw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return degree_powerlaw(_verified_edges(spark, sf_dir))


ORACLES["graph_degree_powerlaw"] = (
    _with(
        *_TRI_CTES,
        "pl_hist AS (SELECT deg, CAST(count(*) AS BIGINT) AS cnt "
        "FROM gdeg GROUP BY deg)",
        "pl_pts AS (SELECT ln(CAST(deg AS DOUBLE)) AS x, "
        "ln(CAST(cnt AS DOUBLE)) AS y FROM pl_hist)",
        "pl_mom AS (SELECT CAST(count(*) AS BIGINT) AS k, "
        "sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, "
        "sum(x * x) AS sxx, sum(y * y) AS syy FROM pl_pts)",
        "pl_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes, "
        "CAST(max(deg) AS BIGINT) AS max_degree FROM gdeg)",
    )
    + "SELECT n_nodes, max_degree, k AS n_degree_bins, "
    "CASE WHEN k >= 3 AND k * sxx - sx * sx > 0 THEN "
    "round(-(k * sxy - sx * sy) / (k * sxx - sx * sx), 6) "
    "END AS alpha_hat, "
    "CASE WHEN k >= 3 AND k * sxx - sx * sx > 0 "
    "AND k * syy - sy * sy > 0 THEN "
    "round((k * sxy - sx * sy) * (k * sxy - sx * sy) / "
    "((k * sxx - sx * sx) * (k * syy - sy * sy)), 6) "
    "END AS r2 FROM pl_mom CROSS JOIN pl_tot"
)
QUERIES["graph_degree_powerlaw"] = q_graph_degree_powerlaw


# --- bipartite projection: user × event_type (r9) ---------------------
#
# The third graph construction next to the document near-dup graph
# and its PageRank: PROJECT a bipartite graph (users on one side,
# event types on the other, an edge when the user emitted the type)
# onto the type side.  Edge weight between two types = co-engagement:
# how many users touch BOTH, plus the Jaccard of their user sets —
# the behavioral-similarity matrix recommender and funnel-design
# teams read ("error co-occurs with purchase for 40% of buyers").
#
# Scale shape — the classic bipartite-projection trap is projecting
# onto the LARGE side (users), which is |users|² in the worst case.
# Projecting onto the small side is safe by construction, and the
# pair stream needs NO self-join at all: ONE partial-aggregating
# groupBy(user_id) collects each user's type set (bounded: ≤ |types|
# elements), then narrow explode + array-filter emit the ≤ types²/2
# ordered pairs per user map-side — one corpus-wide shuffle total,
# where distinct + self-join would pay three.  The final rollup has
# ≤ types² groups; the per-type marginals ride broadcast joins
# (|types| rows each).


def q_graph_bipartite_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # NULL-user rows carry no identity to co-engage on: Spark's
    # groupBy would keep the NULL-key group (emitting its pairs) while
    # the oracle's equi-self-join drops it — pin identical semantics
    # explicitly on BOTH sides (r9 advice; same class as the
    # when/otherwise NULL sweep, marginals stay consistent too).
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .filter(F.col("user_id").isNotNull())
    )
    sets = ev.groupBy("user_id").agg(
        F.collect_set("event_type").alias("ts")
    )
    # ONE exploded stream carries both readouts — ordered pairs (a, b)
    # for co-engagement and sentinel rows (a, NULL) for the marginals —
    # so the pair rollup and the marginal rollup groupBy the SAME key
    # and Spark's ReuseExchange collapses the two branches onto one
    # corpus scan + one shuffle (separate groupBys re-scanned the
    # parquet: measured two Scan/Exchange pairs before this shape)
    ts = F.col("ts")
    pair_arr = F.flatten(
        F.transform(
            ts,
            lambda a: F.transform(
                F.filter(ts, lambda b: b > a),
                lambda b: F.struct(
                    a.alias("type_a"), b.alias("type_b")
                ),
            ),
        )
    )
    sing_arr = F.transform(
        ts,
        lambda a: F.struct(
            a.alias("type_a"),
            F.lit(None).cast("string").alias("type_b"),
        ),
    )
    counts = (
        sets.select(F.explode(F.concat(pair_arr, sing_arr)).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n"))
    )
    pairs = counts.filter(F.col("type_b").isNotNull()).withColumnRenamed(
        "n", "n_co_users"
    )
    marg = counts.filter(F.col("type_b").isNull()).select(
        F.col("type_a").alias("event_type"), F.col("n").alias("n_users")
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("event_type").alias("type_a"),
                                    F.col("n_users").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(marg.select(F.col("event_type").alias("type_b"),
                                    F.col("n_users").alias("nb"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_co_users",
            F.round(
                F.col("n_co_users")
                / (F.col("na") + F.col("nb") - F.col("n_co_users")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLES["graph_bipartite_projection"] = (
    "WITH ev AS (SELECT DISTINCT user_id, event_type FROM events "
    "WHERE user_id IS NOT NULL), "
    "pairs AS (SELECT a.event_type AS type_a, c.event_type AS type_b, "
    "CAST(count(*) AS BIGINT) AS n_co_users "
    "FROM ev a JOIN ev c ON a.user_id = c.user_id "
    "AND a.event_type < c.event_type GROUP BY 1, 2), "
    "marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users "
    "FROM ev GROUP BY 1) "
    "SELECT p.type_a, p.type_b, p.n_co_users, "
    "round(CAST(p.n_co_users AS DOUBLE) / "
    "(ma.n_users + mb.n_users - p.n_co_users), 6) AS jaccard "
    "FROM pairs p JOIN marg ma ON ma.event_type = p.type_a "
    "JOIN marg mb ON mb.event_type = p.type_b"
)
QUERIES["graph_bipartite_projection"] = q_graph_bipartite_projection
