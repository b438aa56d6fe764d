"""Spectral embedding analytics: covariance matrix + PCA (engine
extension — the OPQ/whitening preprocessing step ANN indexes run over
an embedding column, and the 2-D map every embedding-quality audit
plots).

- ``sim_embedding_covariance`` — the d×d covariance matrix of the
  embedding column (upper triangle, 0-based ``i ≤ j``), oracle-checked
  cell by cell against DuckDB's ``covar_pop``.
- ``sim_pca_components`` — top-2 principal axes via power iteration
  with deflation on the driver-side d×d matrix (rows-only: eigen
  iteration is not one SQL statement; pinned by Rayleigh-quotient,
  orthogonality and unit-norm tests).
- ``sim_pca_project`` — every embedding projected onto (pc1, pc2) as
  a JVM-side literal-array dot product, rolled up per label (the
  class-separation readout).

Scale shapes (the 100 TB story):
- covariance: the N×d table never shuffles by row.  ``mapInPandas``
  reduces each Arrow batch to a CONSTANT-size partial — the 2080
  upper-triangle cells of the batch's Xᵀ X plus the batch coordinate
  sums — so the only shuffle is (#batches × 2080) partial rows into a
  (i, j)-keyed sum: the treeAggregate shape, expressed as DataFrame
  ops.  Python is justified here: the inner product is a d²-per-row
  BLAS kernel, exactly what Arrow-batched numpy is for; a JVM
  expression would explode N·d² value rows instead.
- pca_components: consumes the 2080-cell aggregate (a scalar side
  input, S5 shape) — the iteration runs on a 64×64 numpy matrix on
  the driver, never on the cluster.
- pca_project: the learned axes return to the cluster as literal
  arrays in a narrow map — no shuffle, no UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import load_table
from .common import memo
from .similarity import dot

DIM = 64
N_POWER_ITERS = 60

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("s_i", T.DoubleType()),
        T.StructField("s_j", T.DoubleType()),
        T.StructField("q_ij", T.DoubleType()),
    ]
)


def _cov_partials(batches):
    import numpy as np

    iu, ju = np.triu_indices(DIM)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n = x.shape[0]
        q = x.T @ x
        s = x.sum(axis=0)
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "n": np.full(len(iu), n, dtype="int64"),
                "s_i": s[iu],
                "s_j": s[ju],
                "q_ij": q[iu, ju],
            }
        )


def covariance(emb: DataFrame) -> DataFrame:
    """(i, j, cov) upper triangle of the population covariance."""
    partials = emb.select("embedding").mapInPandas(
        _cov_partials, schema=_PARTIAL_SCHEMA
    )
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s_i").alias("s_i"),
            F.sum("s_j").alias("s_j"),
            F.sum("q_ij").alias("q_ij"),
        )
        .select(
            "i",
            "j",
            # + 0 folds IEEE −0.0 to +0.0 (DuckDB's round yields −0.0
            # for tiny negatives; a "−0.0" vs "0.0" string hash differs)
            (
                F.round(
                    F.col("q_ij") / F.col("n")
                    - (F.col("s_i") / F.col("n"))
                    * (F.col("s_j") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return covariance(load_table(spark, sf_dir, "embeddings"))


# learned (pc1, pc2) per (applicationId, sf_dir) — the fit is a scalar
# side input consumed by both pca queries
@memo
def _fit_pcs(spark: SparkSession, sf_dir: str):
    import numpy as np

    cells = q_embedding_covariance(spark, sf_dir).collect()
    cov = np.zeros((DIM, DIM))
    for r in cells:
        cov[r["i"], r["j"]] = r["cov"]
        cov[r["j"], r["i"]] = r["cov"]
    pcs = []
    mat = cov.copy()
    for _ in range(2):
        v = np.ones(DIM) / np.sqrt(DIM)
        for _ in range(N_POWER_ITERS):
            v = mat @ v
            nrm = np.linalg.norm(v)
            if nrm == 0:
                break
            v = v / nrm
        # deterministic sign: largest-|loading| coordinate positive
        k = int(np.abs(v).argmax())
        if v[k] < 0:
            v = -v
        lam = float(v @ cov @ v)
        pcs.append((v, lam))
        mat = mat - lam * np.outer(v, v)
    return pcs


def q_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pcs = _fit_pcs(spark, sf_dir)
    rows = [
        (c + 1, i, round(float(v[i]), 6), round(lam, 6))
        for c, (v, lam) in enumerate(pcs)
        for i in range(DIM)
    ]
    return spark.createDataFrame(
        rows, "component int, i int, loading double, variance double"
    )


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean/std of the (pc1, pc2) projections — the class
    separation summary."""
    pcs = _fit_pcs(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    lits = [
        F.array(*[F.lit(float(x)) for x in v]) for v, _ in pcs
    ]
    proj = emb.select(
        "label",
        dot(F.col("embedding"), lits[0]).alias("p1"),
        dot(F.col("embedding"), lits[1]).alias("p2"),
    )
    return proj.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg("p1"), 6).alias("mean_pc1"),
        F.round(F.stddev_pop("p1"), 6).alias("std_pc1"),
        F.round(F.avg("p2"), 6).alias("mean_pc2"),
        F.round(F.stddev_pop("p2"), 6).alias("std_pc2"),
    )


ORACLES: dict[str, str] = {
    "sim_embedding_covariance": (
        "WITH ex AS (SELECT vec_id, "
        "generate_subscripts(embedding, 1) - 1 AS i, "
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) "
        "SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j, "
        "round(covar_pop(a.x, b.x), 6) + 0.0 AS cov "
        "FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i "
        "GROUP BY 1, 2"
    ),
}

QUERIES = {
    "sim_embedding_covariance": q_embedding_covariance,
    "sim_pca_components": q_pca_components,
    "sim_pca_project": q_pca_project,
}


def q_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std of the embedding column — the feature-
    scaling audit (a dimension whose std collapses to ~0 is dead
    weight in every distance computation; one drifting off-center
    breaks dot-product ANN).  Reuses the covariance partials: the
    diagonal cells carry exactly the Σx and Σx² each dimension needs,
    so the scan stays ONE Arrow-batched pass with constant-size
    partials — never a 64× posexplode row blow-up."""
    partials = (
        load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .mapInPandas(_cov_partials, schema=_PARTIAL_SCHEMA)
    )
    diag = partials.filter(F.col("i") == F.col("j"))
    return (
        diag.groupBy("i")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s_i").alias("s"),
            F.sum("q_ij").alias("q"),
        )
        .select(
            "i",
            (F.round(F.col("s") / F.col("n"), 6) + F.lit(0.0)).alias("mean"),
            (
                F.round(
                    F.sqrt(
                        F.col("q") / F.col("n")
                        - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("std"),
        )
    )


ORACLES["sim_dim_stats"] = (
    "WITH ex AS (SELECT vec_id, "
    "generate_subscripts(embedding, 1) - 1 AS i, "
    "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) "
    "SELECT CAST(i AS INTEGER) AS i, "
    "round(avg(x), 6) + 0.0 AS mean, "
    "round(stddev_pop(x), 6) + 0.0 AS std "
    "FROM ex GROUP BY i"
)

QUERIES["sim_dim_stats"] = q_dim_stats


# --- Mahalanobis OOD scoring (r5) --------------------------------------
#
# Out-of-distribution detection over the embedding table: the
# diagonal-covariance Mahalanobis distance md² = Σ_i ((x_i−μ_i)/σ_i)²
# (the standard OOD score of Lee et al. 2018, diagonal form) using the
# SAME rounded per-dimension μ/σ the feature-scaling audit
# (sim_dim_stats) already publishes — so the two readouts can never
# disagree about what "standardized" means.  Under in-distribution
# Gaussian data E[md²] = D (=64); the MAHAL_K highest-md² vectors are
# the OOD review queue (norm outliers catch scale anomalies; this
# catches DIRECTION anomalies norms can't see).  Zero-variance dims
# are excluded from the sum (they carry no direction information).
#
# Shape: stats are a D-row broadcast; the z² fold is one narrow
# posexplode + per-vector partial agg; the queue is a bounded
# TakeOrderedAndProject on the 6-rounded score with vec_id tiebreak.

MAHAL_K = 20


def q_mahalanobis_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    stats = q_dim_stats(spark, sf_dir).filter(F.col("std") > 0)
    x = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    )
    z2 = (
        x.join(F.broadcast(stats), "i")
        .select(
            "vec_id",
            (
                (F.col("v").cast("double") - F.col("mean"))
                / F.col("std")
            ).alias("z"),
        )
        .groupBy("vec_id")
        .agg(
            F.round(F.sum(F.col("z") * F.col("z")), 6).alias("md2"),
            F.count("*").cast("long").alias("n_dims"),
        )
    )
    top = z2.orderBy(F.desc("md2"), F.asc("vec_id")).limit(MAHAL_K)
    w = Window.orderBy(F.desc("md2"), F.asc("vec_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        "md2",
        "n_dims",
    )


ORACLES["sim_mahalanobis_ood"] = (
    "WITH st AS (SELECT i, mean, std FROM ("
    + ORACLES["sim_dim_stats"]
    + ") WHERE std > 0), "
    "x AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i, "
    "unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v "
    "FROM embeddings), "
    "z AS (SELECT x.vec_id, "
    "round(sum(((x.v - st.mean) / st.std) * ((x.v - st.mean) / st.std)), "
    "6) AS md2, CAST(count(*) AS BIGINT) AS n_dims "
    "FROM x JOIN st USING (i) GROUP BY x.vec_id) "
    "SELECT CAST(row_number() OVER (ORDER BY md2 DESC, vec_id) "
    "AS INTEGER) AS rank, vec_id, md2, n_dims FROM z "
    f"ORDER BY md2 DESC, vec_id LIMIT {MAHAL_K}"
)
QUERIES["sim_mahalanobis_ood"] = q_mahalanobis_ood
