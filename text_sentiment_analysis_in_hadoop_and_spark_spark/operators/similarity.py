"""Similarity search over the ``embeddings`` table (vec_id,
embedding: array<float>[64], label) — training-data-pipeline extension
surface (the reference has no vector operations; engine extension).

Three search paths:

- **brute-force top-k cosine** — the exactness baseline.  The query
  set is broadcast (small side), so the candidate scan is one narrow
  map stage; the only shuffle is the per-query top-k.  At 100 TB of
  vectors this is the O(N·Q) floor every ANN variant is judged
  against.
- **banded multi-table LSH top-k** — sign-of-random-hyperplane
  bucketing, ``N_TABLES`` independent tables of ``PLANES_PER_TABLE``
  planes each (4 × 8 → 256 buckets per table).  A pair is a candidate
  if it collides in ANY table; candidates are unioned across tables,
  deduped, then exact-cosine verified — the same candidate→verify
  shape as the MinHash band structure in dedup.py.  Narrow codes
  (8 bits) keep per-bucket populations ~N/256; multiple tables buy
  back the recall that narrow codes alone would lose (at cosine 0.99
  a pair collides in ≥1 of 4 tables w.p. ~0.99; at cosine 0.3 w.p.
  ~0.01 — the selectivity IS the index).
- **IVF top-k** — k-means coarse quantizer (seeded
  ``pyspark.ml.clustering.KMeans``, k ≈ √N) with ``N_PROBE``-nearest
  -centroid probing: each query scores only the inverted lists of its
  ``N_PROBE`` closest centroids, ~N·nprobe/k candidates per query.

Hyperplane weights are derived from md5 in *Python* at import time
and inlined as literals on BOTH engines, so Spark and the DuckDB
oracle score bit-identical planes.  All vector math is built-in
higher-order functions (`zip_with`/`aggregate`) casting float→double
element-wise — JVM-side, no Python UDF, no NumPy on the hot path.
The IVF queries are rows-only (k-means is not oracle-expressible);
their recall is pinned against brute force in tests/test_similarity.py.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .common import memo
from .dedup import connected_components

DIM = 64
N_QUERIES = 8
TOP_K = 10
N_TABLES = 4         # independent LSH tables (OR-amplification → recall)
PLANES_PER_TABLE = 8  # planes per table → 256 buckets (AND → selectivity)
# Hot-bucket cap for the CORPUS-side bucket SELF-joins (pairs, k-NN
# hubness, hard-negative mining) — the sim twin of dedup.py's
# HOT_BUCKET_CAP (r8 verdict #2).  Random hyperplanes make hot buckets
# unlikely but not impossible: a degenerate embedding cluster (all
# vectors one direction — a collapsed encoder, a constant-padding bug)
# IS a hot bucket, and a bucket of size m contributes O(m²) candidate
# pairs.  Buckets above the cap are dropped from the self-join — a
# degenerate cluster is self-evidently near-duplicate and needs no
# pairwise verification, so losing its pairs loses no information
# while keeping the candidate set O(N·cap) instead of O(N²).
# Query-probe joins (sim_topk_lsh) are NOT capped: each probe scans
# at most its own bucket, linear per query, no quadratic risk.
# SCALE RULE: per-bucket occupancy is ~N / 2^PLANES_PER_TABLE, so
# PLANES_PER_TABLE must grow with log2(N) to hold occupancy flat —
# at 10⁹ vectors use ~16-20 planes (65k-1M buckets/table), not 8;
# the cap is the backstop for the buckets the hash can't spread.
SIM_HOT_BUCKET_CAP = 1000


def _plane_weight(r: int, j: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1] with an exact
    decimal representation (x/1000) that round-trips identically
    through a Spark float literal and a DuckDB SQL literal."""
    h = int(hashlib.md5(f"plane{r}_{j}".encode()).hexdigest()[:8], 16)
    return ((h % 2001) - 1000) / 1000.0


# PLANES[t][r] = 64 weights for plane r of table t (32 planes total,
# all distinct by construction of the md5 seed string).
PLANES = [
    [
        [_plane_weight(t * PLANES_PER_TABLE + r, j) for j in range(DIM)]
        for r in range(PLANES_PER_TABLE)
    ]
    for t in range(N_TABLES)
]


# --------------------------------------------------------------------------
# vector math as built-in higher-order functions (Spark side)
# --------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, sequential fold — matches the oracle's
    list_sum(list_transform(...)) evaluation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _pair_cos_raw(
    df: DataFrame,
    a_emb: str,
    b_emb: str,
    a_nrm: str,
    b_nrm: str,
    keep: list[str],
    out: str = "cos_raw",
) -> DataFrame:
    """Exact pairwise cosine, vectorized (guide §4.2, the r12
    decontam precedent): one mapInPandas stage replaces the
    interpreted zip_with/aggregate HOF evaluated once per pair (the
    HOF is CodegenFallback — ~µs/pair — and dominated every
    pair-scoring query's warm cost).  Emits ``keep + [out]`` where
    ``out`` is the UNROUNDED double cosine computed with the
    IDENTICAL IEEE op sequence as ``dot(a,b) / (nrm_a * nrm_b)``:
    per-dimension product then accumulate IN DIMENSION ORDER (the
    left fold, each product and each add rounded once), the norm
    product first, one divide — bit-identical doubles, so callers
    round / compare / rank in the JVM exactly as before.  Only the
    named columns cross the Python boundary (§4.1); both array
    columns must be equal-length per row (the embeddings-table
    schema)."""
    import numpy as np

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {fields[c]}" for c in keep] + [f"{out} double"]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ea = np.stack(pdf[a_emb].to_numpy()).astype(np.float64)
            eb = np.stack(pdf[b_emb].to_numpy()).astype(np.float64)
            acc = np.zeros(len(pdf))
            for i in range(ea.shape[1]):  # dimension-order exact fold
                acc += ea[:, i] * eb[:, i]
            cos = acc / (
                pdf[a_nrm].to_numpy() * pdf[b_nrm].to_numpy()
            )
            out_cols = {c: pdf[c] for c in keep}
            out_cols[out] = cos
            yield pd.DataFrame(out_cols)

    cols = list(dict.fromkeys(keep + [a_emb, b_emb, a_nrm, b_nrm]))
    return df.select(*cols).mapInPandas(score, schema)


# --------------------------------------------------------------------------
# queries() entries
# --------------------------------------------------------------------------


# emb+norm, the wide bucket table, and the IVF assignments are each
# consumed by several queries — memoized per (session, sf_dir) like
# dedup's signature table, so the bench/driver pays the 32-plane dots
# and the k-dot assignment once, not per query.
@memo
def _emb_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, nrm) — norms are per-vector, not per-pair:
    materialize once before any join (3× fewer dot products than
    cosine() per candidate pair)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
        .cache()
    )


@memo
def q_sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for the first 8 vectors.

    r13: the finished table memoizes per (session, sf_dir) — it is
    the family's ground-truth side, consumed by SEVEN evaluators
    (query-margin, ann-ndcg, matryoshka, quantized recall, lsh recall
    report, nprobe profile, hybrid retrieval), each of which re-ran
    the full O(N·Q) scan + window per call (~0.5-0.6 s warm apiece).
    The quality.q_lm_score precedent: build billed to the first
    consumer, never cross-run."""
    emb = _emb_with_norm(spark, sf_dir)
    cand = emb
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = _pair_cos_raw(
        cand.crossJoin(F.broadcast(q)).filter(
            F.col("vec_id") != F.col("q_id")
        ),
        "embedding",
        "q_vec",
        "nrm",
        "q_nrm",
        keep=["q_id", "vec_id"],
        out="cos",
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cosine"))
        .cache()
    )


@memo
def _buckets_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket0..bucket3) — the 32 hyperplane dots, computed
    once per (session, sf_dir) and cached.

    r12 (guide §4.2, the rp_distortion precedent): the one-off build
    ran 32 interpreted HOF dots + 32 CreateArray plane literals per
    row (~2.5 s of the family's cold wall at sf0.1); vectorized in
    one mapInPandas pass with the same dimension-order exact fold, so
    every plane dot is the bit-identical double and every sign bit —
    and therefore every bucket id — matches the oracle's per-plane
    sign test exactly (pinned by the LSH recall/occupancy tests and
    the DuckDB bucket replay oracles downstream)."""
    import numpy as np

    planes = np.array(PLANES, dtype=np.float64)  # (T, R, DIM)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            emat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64
            )
            n = emat.shape[0]
            out = {"vec_id": pdf["vec_id"]}
            for t in range(N_TABLES):
                acc = np.zeros(n, dtype=np.int64)
                for r in range(PLANES_PER_TABLE):
                    pj = np.zeros(n)
                    for i in range(emat.shape[1]):
                        pj += emat[:, i] * planes[t, r, i]
                    # NaN mirrors Spark's NaN-is-largest compare
                    acc += (
                        (pj > 0) | np.isnan(pj)
                    ).astype(np.int64) << r
                out[f"bucket{t}"] = acc.astype(np.int32)
            yield pd.DataFrame(out)

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            assign,
            "vec_id long, "
            + ", ".join(f"bucket{t} int" for t in range(N_TABLES)),
        )
        .cache()
    )


def _bucket_rows(
    spark: SparkSession, sf_dir: str, id_col: str = "vec_id"
) -> DataFrame:
    """(id, tbl, bucket) — one row per vector per table, derived from
    the cached wide bucket table (posexplode, not 4 more plane scans)."""
    wide = _buckets_wide(spark, sf_dir)
    buckets = F.array(*[F.col(f"bucket{t}") for t in range(N_TABLES)])
    return wide.select(
        F.col("vec_id").alias(id_col),
        F.posexplode(buckets).alias("tbl", "bucket"),
    )


def capped_bucket_rows(bx: DataFrame, cap: int | None = None) -> DataFrame:
    """Drop every row whose (tbl, bucket) group exceeds ``cap`` members
    — the guard every corpus-side bucket SELF-join goes through (see
    the SIM_HOT_BUCKET_CAP comment).  The hot list is at most
    N_TABLES·2^PLANES_PER_TABLE rows (1024 here), so the exclusion is
    a broadcast anti-join: one map-side pass, no extra shuffle on the
    corpus."""
    if cap is None:
        cap = SIM_HOT_BUCKET_CAP
    hot = (
        bx.groupBy("tbl", "bucket")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > cap)
        .select("tbl", "bucket")
    )
    return bx.join(F.broadcast(hot), ["tbl", "bucket"], "left_anti")


def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector bucket id in each of the 4 LSH tables."""
    return _buckets_wide(spark, sf_dir)


def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: candidates collide with the query in ≥1 of
    the 4 LSH tables; exact cosine only on candidates.

    Plan shape: (tbl, bucket) equi-join against the broadcast query
    buckets → distinct candidate pairs → re-join the (tiny) pair list
    to the embeddings for the verify scores.  No shuffle touches the
    corpus except the candidate distinct, whose size is governed by
    the 256-bucket tables, not by N²."""
    emb = _emb_with_norm(spark, sf_dir)
    bx = _bucket_rows(spark, sf_dir)
    qb = bx.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "tbl", "bucket"
    )
    cand = (
        bx.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    # r12: NOT converted to _pair_cos_raw (candidate lists are a few
    # thousand pairs; in-bench the fused HOF plan measured equal or
    # better — the composition lesson)
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("embedding"), F.col("q_vec"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# IVF — k-means coarse quantizer + nprobe probing (rows-only: k-means
# is iterative/non-oracle-expressible; recall pinned vs brute force in
# tests/test_similarity.py)
# --------------------------------------------------------------------------

N_PROBE = 4
KMEANS_SEED = 1234
# quantizer training-sample budget: ~TRAIN_PER_CENTROID vectors per
# centroid is the standard IVF recipe (FAISS trains on 39-256·k points)
TRAIN_PER_CENTROID = 64


@memo
def _centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """k-means centroids with k ≈ √N (the standard IVF sizing: k lists
    of ~N/k vectors balance the k-dot assignment against the N/k-dot
    probe).  Seeded, so reruns in one driver session are stable.  The
    k×64 floats ride the sanctioned driver relay (same shape as the
    reference's counters→conf), cached per (session, sf_dir).

    The quantizer trains on a DETERMINISTIC HASH-SAMPLE of
    ~TRAIN_PER_CENTROID·k vectors (the pipe_sample_decile filter
    shape — membership is a pure function of vec_id, so retries and
    re-runs train on the identical sample), never the full table: full
    -table training is O(N·k·iters) dot products, which at k = √N is
    O(N^1.5) and dominates the whole index build; sampled training is
    O(64·k²·iters) — independent of N beyond the one narrow sampling
    scan.  The centroid table is k×DIM doubles ≈ 512·√N bytes, which
    :func:`ivf_assignments` broadcasts whole (0.5 MB at k = 1024,
    N ≈ 10⁶)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    )
    n = emb.count()
    k = max(4, math.isqrt(n))
    target = TRAIN_PER_CENTROID * k
    if n >= 2 * target:
        # keep one vec_id-hash residue class — deterministic,
        # partition-independent, pushes to the scan.  The 1/mod
        # rate only approximates target/n in integer steps, so
        # engage it only from 2× over-budget (below that the
        # coarsest rate 1/2 would over-thin the training set)
        mod = n // target  # ≥ 2 here → sample ≈ target vectors
        emb = emb.filter(F.pmod(F.xxhash64("vec_id"), mod) == 0)
    feats = emb.select(array_to_vector("arr").alias("features"))
    # 8 iterations + random init (k-means|| costs 3× in extra
    # passes): a coarse quantizer needs balanced lists, not a
    # converged clustering — recall is pinned by test_similarity.py
    model = KMeans(
        k=k, seed=KMEANS_SEED, maxIter=8, initMode="random"
    ).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _centroids_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroids WITH their norms: the norm is a per-centroid constant,
    computed driver-side (left-to-right fold, the same order as
    :func:`dot`) so assignment pays ONE fold per (vector, centroid)
    pair — ``dot/(nrm·cnrm)`` — instead of cosine()'s three."""
    rows = [
        (i, c, math.sqrt(sum(x * x for x in c)))
        for i, c in enumerate(_centroids(spark, sf_dir))
    ]
    return spark.createDataFrame(
        rows, "cid INT, cvec ARRAY<DOUBLE>, cnrm DOUBLE"
    )


@memo
def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, centroid_id): nearest centroid by cosine, ties to the
    smallest id.  Cached: assign + topk both consume it.

    Broadcast the k×DIM centroid table, one partial-aggregating max_by
    per vector — no N×k shuffle.  The N·k assignment dots run
    vectorized in :func:`_pair_cos_raw` (its exact-fold contract);
    the argmax stays a JVM max_by over the raw similarity."""
    return (
        _pair_cos_raw(
            _emb_with_norm(spark, sf_dir).crossJoin(
                F.broadcast(_centroids_df(spark, sf_dir))
            ),
            "embedding",
            "cvec",
            "nrm",
            "cnrm",
            keep=["vec_id", "cid"],
            out="sim",
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cid"),
                F.struct(
                    F.col("sim").alias("sim"),
                    (-F.col("cid")).alias("tie"),
                ),
            ).alias("centroid_id")
        )
        .cache()
    )


def q_sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_assignments(spark, sf_dir)


def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with nprobe=4: each query scores only the vectors on
    its 4 nearest centroids' inverted lists."""
    return _ivf_topk(spark, sf_dir, N_PROBE)


def _query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, q_vec, q_nrm): the query vectors every ANN path probes."""
    return _emb_with_norm(spark, sf_dir).filter(
        F.col("vec_id") < N_QUERIES
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )


def _probe_cells(
    spark: SparkSession, sf_dir: str, nprobe: int, keep_rank: bool = False
) -> DataFrame:
    """(q_id, centroid_id[, rn]): the coarse-quantizer probe set —
    per query, the ``nprobe`` nearest centroids by cosine, tie-broken
    by ascending cid.  ONE definition shared by the IVF top-k, the
    nprobe tuning profile, and the IVFPQ serving path (r8 review:
    three verbatim copies meant a probe-ranking change could silently
    de-synchronize their candidate sets)."""
    q = _query_side(spark, sf_dir)
    qsim = q.crossJoin(
        F.broadcast(_centroids_df(spark, sf_dir))
    ).select(
        "q_id", "cid", cosine(F.col("q_vec"), F.col("cvec")).alias("sim")
    )
    wp = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cid"))
    cols = ["q_id", F.col("cid").alias("centroid_id")]
    if keep_rank:
        cols.append(F.col("rn"))
    return (
        qsim.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select(*cols)
    )


def _ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    emb = _emb_with_norm(spark, sf_dir)
    asg = ivf_assignments(spark, sf_dir)
    q = _query_side(spark, sf_dir)
    probe = _probe_cells(spark, sf_dir, nprobe)
    cand = (
        asg.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    # r12: NOT converted to _pair_cos_raw (in-bench +0.4 min-of-k;
    # the nprobe/semdedup composition lesson)
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("embedding"), F.col("q_vec"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", F.round("cos", 6).alias("cosine"))
    )


# The synthetic embeddings have no planted near-dups (max all-pairs
# cosine ~0.51), so the threshold is set where the operator actually
# fires on this corpus; production near-dup filtering would use ~0.9+.
COS_DUP_THRESHOLD = 0.45


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs colliding in ≥1 LSH table with
    exact cosine ≥ threshold (the vector-space member of the dedup
    family — candidate→verify, never an all-pairs product).  True
    near-dups (cosine ~0.99) collide in some table w.p. ~0.99; random
    pairs w.p. ~0.01, so the candidate set stays ~N·(collisions) and
    a hot cluster is bounded by its own size, not by N — and a
    DEGENERATE cluster above SIM_HOT_BUCKET_CAP is excluded outright
    before the self-join (capped_bucket_rows), mirrored in the
    oracle."""
    emb = _emb_with_norm(spark, sf_dir)
    bx = capped_bucket_rows(_bucket_rows(spark, sf_dir))
    right = bx.select(
        F.col("vec_id").alias("vec_b"), "tbl", "bucket"
    )
    pairs = (
        bx.join(right, ["tbl", "bucket"])
        .filter(F.col("vec_id") < F.col("vec_b"))
        .select(F.col("vec_id").alias("vec_a"), "vec_b")
        .distinct()
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        _pair_cos_raw(
            pairs.join(a, "vec_a").join(b, "vec_b"),
            "emb_a",
            "emb_b",
            "nrm_a",
            "nrm_b",
            keep=["vec_a", "vec_b"],
        )
        .select(
            "vec_a",
            "vec_b",
            F.round("cos_raw", 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= COS_DUP_THRESHOLD)
    )


# converged embedding-cluster labels memoized per (session, sf_dir)
@memo
def _embedding_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_dedup_embedding_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return connected_components(pairs)


def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: the generic connected-components
    operator (operators/dedup.py — the same one the text-Jaccard
    family uses) run over the verified cosine pairs, labeling every
    vector with the min vec_id of its component (singletons label
    themselves).  Demonstrates the CC API is pair-family agnostic:
    candidate→verify produces ``(a, b)`` edges, CC turns them into a
    dedup-cluster keep policy (``vec_id == cluster_id`` survives).

    Scale shape: identical to the text variant — the iteration runs
    only on vectors that appear in a verified pair; the full
    embedding table joins back once as singletons."""
    labels = _embedding_cc_labels(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return emb.join(
        labels.withColumnRenamed("node", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce("label", "vec_id").cast("long").alias("cluster_id"),
    )


def q_corpus_keep_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL corpus keep-list: the text capstone
    (dedup.q_corpus_keep — repetition gate ∧ exact canonical ∧
    text-near-dup canonical) intersected with the EMBEDDING near-dup
    cluster canonical (vec_id == cluster_id, the semantic-dup gate the
    text shingles can't see — paraphrases, translations, re-encodes).
    The driver's doc_id ↔ vec_id spaces are 1:1, so the gate is one
    more doc_id-keyed left-semi join in the same co-partitioned
    shuffle family; both sides reuse their memoized cluster labels,
    and the gates stay independently computed → order-independent and
    idempotent like the text-only variant."""
    from .dedup import q_corpus_keep

    emb_canon = (
        q_dedup_embedding_clusters(spark, sf_dir)
        .filter(F.col("vec_id") == F.col("cluster_id"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    return q_corpus_keep(spark, sf_dir).join(emb_canon, "doc_id", "left_semi")


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def _plane_sql(t: int, r: int) -> str:
    return "[" + ", ".join(repr(w) for w in PLANES[t][r]) + "]"


def _dot_plane_sql(vec: str, t: int, r: int) -> str:
    lits = _plane_sql(t, r)
    return (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * CAST(({lits})[i] AS DOUBLE)))"
    )


def _bucket_sql(t: int) -> str:
    return "(" + " + ".join(
        f"CASE WHEN {_dot_plane_sql('embedding', t, r)} > 0 "
        f"THEN {1 << r} ELSE 0 END"
        for r in range(PLANES_PER_TABLE)
    ) + ")"


_BRUTE_SQL = (
    "WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings "
    f"WHERE vec_id < {N_QUERIES}), "
    "scored AS (SELECT q.q_id, c.vec_id, "
    + _cos_sql("c.embedding", "q.q_vec")
    + " AS cos FROM embeddings c, q WHERE c.vec_id <> q.q_id), "
    "ranked AS (SELECT *, row_number() OVER "
    "(PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) "
    "SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, "
    f"round(cos, 6) AS cosine FROM ranked WHERE rank <= {TOP_K}"
)

_B_CTE = (
    "b AS (SELECT vec_id, "
    + ", ".join(
        f"CAST({_bucket_sql(t)} AS INTEGER) AS bucket{t}"
        for t in range(N_TABLES)
    )
    + " FROM embeddings)"
)

def _hot_excl_sql(t: int, alias: str = "a") -> str:
    """Oracle twin of capped_bucket_rows for table ``t``: exclude
    members of over-cap buckets.  Filtering ONE join side suffices —
    the join is on bucket{t} equality, so killing the bucket on either
    side kills all its pairs."""
    return (
        f"{alias}.bucket{t} NOT IN (SELECT bucket{t} FROM b "
        f"GROUP BY bucket{t} HAVING count(*) > {SIM_HOT_BUCKET_CAP})"
    )


_LSH_CAND_CTE = (
    "cand AS (SELECT DISTINCT q_id, vec_id FROM ("
    + " UNION ALL ".join(
        f"SELECT q.vec_id AS q_id, c.vec_id FROM b c JOIN b q "
        f"ON c.bucket{t} = q.bucket{t} "
        f"WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id"
        for t in range(N_TABLES)
    )
    + "))"
)

_LSH_SQL = (
    f"WITH {_B_CTE}, {_LSH_CAND_CTE}, "
    "scored AS (SELECT cand.q_id, cand.vec_id, "
    + _cos_sql("c.embedding", "q.embedding")
    + " AS cos FROM cand JOIN embeddings c ON c.vec_id = cand.vec_id "
    "JOIN embeddings q ON q.vec_id = cand.q_id), "
    "ranked AS (SELECT *, row_number() OVER "
    "(PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) "
    "SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank, "
    f"round(cos, 6) AS cosine FROM ranked WHERE rank <= {TOP_K}"
)

_PAIR_CAND_CTE = (
    "pairs AS (SELECT DISTINCT vec_a, vec_b FROM ("
    + " UNION ALL ".join(
        f"SELECT a.vec_id AS vec_a, c.vec_id AS vec_b FROM b a JOIN b c "
        f"ON a.bucket{t} = c.bucket{t} AND a.vec_id < c.vec_id "
        f"WHERE {_hot_excl_sql(t)}"
        for t in range(N_TABLES)
    )
    + "))"
)

_EMB_VERIFIED_CTE = (
    "verified AS (SELECT p.vec_a, p.vec_b, "
    + _cos_sql("a.embedding", "c.embedding")
    + " AS cos FROM pairs p JOIN embeddings a ON a.vec_id = p.vec_a "
    "JOIN embeddings c ON c.vec_id = p.vec_b)"
)

_EMB_DUP_SQL = (
    f"WITH {_B_CTE}, {_PAIR_CAND_CTE}, {_EMB_VERIFIED_CTE} "
    "SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM verified "
    f"WHERE round(cos, 6) >= {COS_DUP_THRESHOLD}"
)

# same recursive-CTE transitive closure as dedup.py's text clusters,
# over the thresholded cosine edge set
_EMB_CC_SQL = (
    f"WITH RECURSIVE {_B_CTE}, {_PAIR_CAND_CTE}, {_EMB_VERIFIED_CTE}, "
    "vedges AS (SELECT vec_a AS src, vec_b AS dst FROM verified "
    f"WHERE round(cos, 6) >= {COS_DUP_THRESHOLD} "
    "UNION ALL SELECT vec_b, vec_a FROM verified "
    f"WHERE round(cos, 6) >= {COS_DUP_THRESHOLD}), "
    "cc(node, label) AS (SELECT src, src FROM vedges "
    "UNION "
    "SELECT e.dst, cc.label FROM cc JOIN vedges e ON cc.node = e.src), "
    "vlabels AS (SELECT node, min(label) AS label FROM cc GROUP BY node) "
    "SELECT e.vec_id, CAST(coalesce(m.label, e.vec_id) AS BIGINT) "
    "AS cluster_id FROM embeddings e LEFT JOIN vlabels m "
    "ON e.vec_id = m.node"
)

# q_corpus_keep_mm: the text keep-list intersected with the embedding
# cluster canonicals.  Both sides nest as self-contained subqueries
# (each carries its own WITH RECURSIVE) so their CTE namespaces — both
# define `cc` — never collide.
def _mm_keep_sql() -> str:
    from .dedup import ORACLES as _DEDUP_ORACLES

    return (
        "SELECT doc_id FROM (" + _DEDUP_ORACLES["dedup_corpus_keep"] + ") "
        "WHERE doc_id IN (SELECT vec_id FROM (" + _EMB_CC_SQL + ") "
        "WHERE vec_id = cluster_id)"
    )


Q8_SCALE = 127  # int8 quantization range


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization — the storage-side operator
    a 100 TB vector corpus runs before indexing (4× smaller than
    float32, SIMD-friendly dot products): q_i = round(v_i·127 / max|v|)
    with one scale per vector.  Shuffle-free narrow map; the math is
    forced to double on BOTH engines so rounding at the .5 boundary
    agrees.  Zero vectors quantize to zeros with scale 0 (guarded
    division).  The dequantization error bound (≤ scale/2 per
    component, scale = max|v|/127) is pinned by
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    mx = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    q = F.when(
        mx == 0.0,
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * Q8_SCALE / mx).cast("int"),
        )
    )
    return emb.select(
        "vec_id",
        F.round(mx / Q8_SCALE, 6).alias("scale"),
        q.alias("qvec"),
    )


_QUANT_SQL = (
    "WITH m AS (SELECT vec_id, embedding, "
    "list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) "
    "AS mx FROM embeddings) "
    "SELECT vec_id, "
    f"round(mx / {127}, 6) AS scale, "
    "CASE WHEN mx = 0 THEN list_transform(embedding, v -> 0) "
    "ELSE list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) "
    f"* {127} / mx) AS INTEGER)) END AS qvec FROM m"
)


# sim_ivf_assign / sim_topk_ivf are rows-only: the k-means quantizer
# is iterative and not expressible as one SQL statement.  Their
# behavior is pinned by tests/test_similarity.py (assignment totals +
# recall vs the brute-force oracle-checked baseline).
def q_embedding_quantize_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing projection of :func:`q_embedding_quantize`: the
    int8 code vector rendered as one CSV string.  The driver's
    order-insensitive value-hash canonicalizes via pandas sort, where
    a list-typed cell is unhashable (CORRECTNESS_r05 ``unhashable
    type: 'list'``) — so the REGISTERED query emits only scalar
    columns; downstream consumers (``sim_quantized_recall``) keep
    using the array-producing internal function."""
    return q_embedding_quantize(spark, sf_dir).select(
        "vec_id",
        "scale",
        F.concat_ws(
            ",", F.transform("qvec", lambda x: x.cast("string"))
        ).alias("qvec_csv"),
    )


_QUANT_FLAT_SQL = (
    "SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec_csv "
    "FROM (" + _QUANT_SQL + ")"
)


ORACLES: dict[str, str] = {
    "sim_topk_brute": _BRUTE_SQL,
    "dedup_embedding_pairs": _EMB_DUP_SQL,
    "dedup_embedding_clusters": _EMB_CC_SQL,
    "dedup_corpus_keep_mm": _mm_keep_sql(),
    "sim_lsh_buckets": (
        "SELECT vec_id, "
        + ", ".join(
            f"CAST({_bucket_sql(t)} AS INTEGER) AS bucket{t}"
            for t in range(N_TABLES)
        )
        + " FROM embeddings"
    ),
    "sim_topk_lsh": _LSH_SQL,
    "sim_embedding_quantize": _QUANT_FLAT_SQL,
}

QUERIES = {
    "sim_topk_brute": q_sim_topk_brute,
    "sim_lsh_buckets": q_sim_lsh_buckets,
    "sim_topk_lsh": q_sim_topk_lsh,
    "dedup_embedding_pairs": q_dedup_embedding_pairs,
    "dedup_embedding_clusters": q_dedup_embedding_clusters,
    "dedup_corpus_keep_mm": q_corpus_keep_mm,
    "sim_ivf_assign": q_sim_ivf_assign,
    "sim_topk_ivf": q_sim_topk_ivf,
    "sim_embedding_quantize": q_embedding_quantize_flat,
}


def bench_prepare_ivf_fit(spark: SparkSession, sf_dir: str) -> None:
    """Bench-only probe: force the IVF coarse-quantizer fit (the
    driver-side sampled KMeans in :func:`_centroids`) so the bench can
    bill it as its OWN entry (``sim_ivf_fit``) instead of folding it
    into whichever IVF query happens to run first.  r4 billed the fit
    to ``sim_ivf_assign`` after the cache-group re-billing, which made
    a pure index-BUILD cost look like a per-query assignment
    regression (r4 verdict item 2).  No-op when the centroid cache is
    already warm."""
    _centroids(spark, sf_dir)


# Timed one-off setup steps the bench records as separate entries
# before this module's QUERIES run (consumed by bench.py).
BENCH_PREPARE = {"sim_ivf_fit": bench_prepare_ivf_fit}


# --- per-group embedding centroids (r5) ------------------------------

def q_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the vector-mean
    aggregation a mixture/clustering pipeline runs per domain (and the
    building block the IVF trainer repeats).  Spark has no elementwise
    vector-sum aggregate, so the idiomatic distributed form is
    posexplode → groupBy(label, pos) avg → reassemble ordered.

    Scale shape: the exploded shuffle is tamed by partial aggregation
    — each map task pre-combines to |labels|·DIM rows regardless of
    input size — and the reassembly groupBy handles |labels|·DIM tiny
    rows.  The centroid norm is computed from the ROUNDED means so
    both engines derive it from identical doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    means = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("m"),
            F.count("*").cast("long").alias("n"),
        )
    )
    return (
        means.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("pm"),
        )
        .select(
            "label",
            "n_vecs",
            F.col("pm.m").alias("centroid"),
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.col("pm.m"),
                        F.lit(0.0),
                        lambda acc, x: acc + x * x,
                    )
                ),
                6,
            ).alias("centroid_norm"),
        )
    )


def q_group_centroids_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing projection of :func:`q_group_centroids`: the
    centroid array rendered as one CSV string of micro-scaled
    integers (round(m·1e6) — the means are already rounded to 6, so
    the integer rendering is exact and engine-identical, avoiding
    double→string format drift).  Scalar columns only: the driver's
    pandas canonicalizer cannot hash list cells (CORRECTNESS_r05)."""
    return q_group_centroids(spark, sf_dir).select(
        "label",
        "n_vecs",
        F.concat_ws(
            ",",
            F.transform(
                "centroid",
                lambda x: F.round(x * 1000000.0).cast("long").cast("string"),
            ),
        ).alias("centroid_micro_csv"),
        "centroid_norm",
    )


# Array-producing form — kept for composition (the silhouette oracle
# CTEs over it); the REGISTERED oracle below flattens the array.
_CENTROID_ARRAY_SQL = (
    "WITH e AS (SELECT label, "
    "generate_subscripts(embedding, 1) AS pos, "
    "unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v "
    "FROM embeddings), "
    "a AS (SELECT label, pos, round(avg(v), 6) AS m, "
    "CAST(count(*) AS BIGINT) AS n FROM e GROUP BY label, pos), "
    "c AS (SELECT label, max(n) AS n_vecs, "
    "list(m ORDER BY pos) AS centroid FROM a GROUP BY label) "
    "SELECT label, n_vecs, centroid, "
    "round(sqrt(list_sum(list_transform(centroid, x -> x * x))), 6) "
    "AS centroid_norm FROM c"
)

ORACLES["sim_group_centroids"] = (
    "SELECT label, n_vecs, "
    "array_to_string(list_transform(centroid, "
    "x -> CAST(round(x * 1000000) AS BIGINT)), ',') "
    "AS centroid_micro_csv, centroid_norm "
    "FROM (" + _CENTROID_ARRAY_SQL + ")"
)

QUERIES["sim_group_centroids"] = q_group_centroids_flat


# --------------------------------------------------------------------------
# Product quantization (r5): 64-dim float → 8 × 4-bit codes, ADC top-k
# --------------------------------------------------------------------------

M_SUB = 8                     # subspaces
SUB_DIM = DIM // M_SUB        # dims per subspace
K_CODES = 16                  # codebook entries per subspace (4-bit codes)

# codebooks memoized per (session, sf_dir): list[m][code] = 8-dim center
@memo
def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Driver-side per-subspace Lloyd training on the SAME bounded
    hash-residue sample discipline as the IVF quantizer: the training
    set is ~TRAIN_PER_CENTROID·K_CODES vectors regardless of corpus
    size, and each of the M_SUB fits runs on a (sample × SUB_DIM)
    array — trivially driver-sized."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    )
    n = emb.count()
    target = TRAIN_PER_CENTROID * K_CODES
    if n >= 2 * target:
        mod = n // target
        emb = emb.filter(F.pmod(F.xxhash64("vec_id"), mod) == 0)
    sample = np.asarray(
        [r["arr"] for r in emb.select("arr").collect()], dtype=np.float64
    )
    books = []
    for m in range(M_SUB):
        sub = sample[:, m * SUB_DIM : (m + 1) * SUB_DIM]
        rng = np.random.RandomState(KMEANS_SEED + m)
        cents = sub[rng.choice(len(sub), size=K_CODES, replace=False)]
        for _ in range(10):
            d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(K_CODES):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def _codebook_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    books = _pq_codebooks(spark, sf_dir)
    rows = [
        (m, c, books[m][c], sum(x * x for x in books[m][c]))
        for m in range(M_SUB)
        for c in range(K_CODES)
    ]
    return spark.createDataFrame(
        rows, "m INT, code INT, cvec ARRAY<DOUBLE>, c2 DOUBLE"
    )


@memo
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes array<int>[M_SUB]): nearest codebook entry per
    subspace.  One broadcast join against the 128-row codebook and a
    min_by groupBy — the encode pass that shrinks every vector 64×
    (8 × 4-bit codes vs 64 floats); downstream top-k scans THESE, not
    the float column."""
    emb = load_table(spark, sf_dir, "embeddings")
    subs_expr = F.expr(
        "explode(transform(sequence(0, {last}), m -> struct(m AS m, "
        "transform(slice(embedding, m * {sd} + 1, {sd}), "
        "x -> CAST(x AS DOUBLE)) AS sub)))".format(
            last=M_SUB - 1, sd=SUB_DIM
        )
    )
    subs = emb.select("vec_id", subs_expr.alias("s")).select(
        "vec_id", "s.m", "s.sub"
    )
    scored = subs.join(F.broadcast(_codebook_df(spark, sf_dir)), "m").select(
        "vec_id",
        "m",
        "code",
        # argmin ||sub − c||² == argmin (−2⟨sub,c⟩ + ||c||²)
        (
            F.lit(-2.0)
            * F.aggregate(
                F.zip_with("sub", "cvec", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            + F.col("c2")
        ).alias("d"),
    )
    best = scored.groupBy("vec_id", "m").agg(
        F.min(F.struct("d", "code")).alias("b")
    )
    return (
        best.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", F.col("b.code").alias("code")))).alias("mc"))
        .select("vec_id", F.col("mc.code").alias("codes"))
        .cache()
    )


def q_sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form emits the code vector as one CSV string —
    scalar columns only, so the driver's pandas canonicalizer can
    hash rows (list cells are unhashable, CORRECTNESS_r05);
    consumers keep using the array-producing :func:`pq_codes`."""
    return pq_codes(spark, sf_dir).select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda x: x.cast("string"))
        ).alias("codes_csv"),
    )


RERANK_POOL = 100  # ADC shortlist size fed to the exact re-rank


def _query_adc_dtab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ADC distance table (q_id, m, code, d): L2 from each
    query's m-th subvector to every codebook entry.  M_SUB × K_CODES ×
    N_QUERIES rows — broadcast-sized by construction, shared by the
    flat-PQ and IVFPQ serving paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_subs = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.expr(
                "explode(transform(sequence(0, {last}), m -> struct(m AS m, "
                "transform(slice(embedding, m * {sd} + 1, {sd}), "
                "x -> CAST(x AS DOUBLE)) AS sub)))".format(
                    last=M_SUB - 1, sd=SUB_DIM
                )
            ).alias("s"),
        )
        .select("q_id", "s.m", "s.sub")
    )
    return q_subs.join(
        F.broadcast(_codebook_df(spark, sf_dir)), "m"
    ).select(
        "q_id",
        "m",
        "code",
        F.aggregate(
            F.zip_with("sub", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    )


def _adc_refine_topk(
    spark: SparkSession, sf_dir: str, adc: DataFrame
) -> DataFrame:
    """Shortlist-then-refine tail shared by flat PQ and IVFPQ: keep the
    RERANK_POOL best ADC rows per query, fetch floats for the pool
    only, exact L2, final top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    w_pool = Window.partitionBy("q_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    shortlist = adc.withColumn("prk", F.row_number().over(w_pool)).filter(
        F.col("prk") <= RERANK_POOL
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    refined = (
        shortlist.join(
            emb.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("v"),
            ),
            "vec_id",
        )
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with("v", "q_vec", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("l2_dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("l2_dist"), F.asc("vec_id"))
    return (
        refined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "q_id", "vec_id", "l2_dist", F.col("rk").cast("int").alias("rk")
        )
    )


def q_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving top-k, the two-stage textbook shape (Jégou et al.):
    **ADC shortlist** — per query, an L2 distance table to every
    codebook entry (M_SUB × K_CODES × N_QUERIES rows, broadcast)
    replaces all float math, and each candidate's approximate distance
    is 8 lookups summed over the 64×-compressed codes table — then
    **exact re-rank**: only the top-RERANK_POOL shortlist docs fetch
    their float vectors for true L2, and the final top-k is exact over
    that pool.  4-bit codes alone rank too coarsely (measured
    recall@10 ≈ 0.25); the shortlist+refine split is how production
    PQ serves: the compressed scan bounds IO, the refine touches
    pool-sized data.  Recall is pinned ≥ 0.7 in tests at both test
    scales."""
    dtab = _query_adc_dtab(spark, sf_dir)
    cand = (
        pq_codes(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", F.posexplode("codes").alias("m", "code"))
    )
    adc = (
        cand.join(F.broadcast(dtab), ["m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return _adc_refine_topk(spark, sf_dir, adc)


def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a FIRST-CLASS query (the sim-family twin of
    dedup's MinHash error audit): per-query recall@k of the LSH top-k
    against the brute-force truth, plus the candidate-set size that
    bought it — the tuning gauge for N_TABLES × PLANES_PER_TABLE.
    Composes the two memoized top-k paths with one (q_id, vec_id)
    semi-join and a per-query rollup; everything upstream is cached,
    so the report costs two small joins."""
    brute = q_sim_topk_brute(spark, sf_dir).select(
        "q_id", F.col("vec_id").alias("true_id")
    )
    lsh = q_sim_topk_lsh(spark, sf_dir).select(
        "q_id", F.col("vec_id").alias("lsh_id")
    )
    hits = brute.join(
        lsh,
        (brute.q_id == lsh.q_id) & (F.col("true_id") == F.col("lsh_id")),
        "left",
    ).groupBy(brute.q_id.alias("q_id")).agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("lsh_id").isNotNull().cast("long"))
        .cast("long")
        .alias("n_hits"),
    )
    return hits.select(
        "q_id",
        "k",
        "n_hits",
        F.round(F.col("n_hits") / F.col("k"), 6).alias("recall_at_k"),
    )


ORACLES["sim_lsh_recall_report"] = (
    "WITH brute AS (" + _BRUTE_SQL + "), "
    "lshq AS (" + _LSH_SQL + ") "
    "SELECT b.q_id, CAST(count(*) AS BIGINT) AS k, "
    "CAST(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_hits, "
    "round(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 "
    "/ count(*), 6) AS recall_at_k "
    "FROM brute b LEFT JOIN lshq l "
    "ON b.q_id = l.q_id AND b.vec_id = l.vec_id "
    "GROUP BY b.q_id"
)

QUERIES["sim_lsh_recall_report"] = q_lsh_recall_report


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding health gauge: vectors whose L2 norm sits more than
    3 ROBUST z-scores from the corpus median (broken encoders emit
    near-zero or exploded vectors; both poison cosine math
    downstream).  Robust z = (norm − median)/(1.4826·MAD), because a
    single exploded vector inflates a plain σ enough to MASK the
    collapsed ones (observed on the planted test corpus) while the
    median/MAD fence ignores it.  Norms are one narrow map over the
    cached (vec_id, nrm) table; the two-percentile fence is a 1-row
    aggregate broadcast back — same shape as the hourly anomaly
    flags."""
    emb = _emb_with_norm(spark, sf_dir).select("vec_id", "nrm")
    med = emb.agg(F.expr("percentile(nrm, 0.5)").alias("mu"))
    stats = (
        emb.crossJoin(F.broadcast(med))
        .agg(
            F.first("mu").alias("mu"),
            (
                F.expr("percentile(abs(nrm - mu), 0.5)") * 1.4826
            ).alias("sd"),
        )
    )
    z = (F.col("nrm") - F.col("mu")) / F.col("sd")
    return (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.round("nrm", 6).alias("norm"),
            F.round(z, 6).alias("z"),
        )
        .filter(F.abs(F.col("z")) > 3)
    )


ORACLES["sim_embedding_norm_outliers"] = (
    "WITH n AS (SELECT vec_id, sqrt(list_sum(list_transform(embedding, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm FROM embeddings), "
    "m AS (SELECT quantile_cont(nrm, 0.5) AS mu FROM n), "
    "s AS (SELECT m.mu, quantile_cont(abs(n.nrm - m.mu), 0.5) * 1.4826 "
    "AS sd FROM n CROSS JOIN m GROUP BY m.mu) "
    "SELECT vec_id, round(nrm, 6) AS norm, "
    "round((nrm - s.mu) / s.sd, 6) AS z "
    "FROM n CROSS JOIN s WHERE abs((nrm - s.mu) / s.sd) > 3"
)

QUERIES["sim_embedding_norm_outliers"] = q_embedding_norm_outliers


def q_cosine_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does RANDOM similarity look like in this embedding space?
    The calibration baseline every cosine threshold should be read
    against (64-dim random vectors concentrate near 0 ± 1/√64;
    planted near-dups live far outside).  Pairs are a deterministic
    half-rotation (vec k ↔ vec k + N/2 — disjoint, unbiased by
    content, one co-keyed join), and the summary is mean/std/p95/p99
    plus the max — one bounded aggregate."""
    emb = _emb_with_norm(spark, sf_dir)
    n = emb.count()
    half = n // 2
    a = emb.filter(F.col("vec_id") < half).select(
        F.col("vec_id").alias("k"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.filter(F.col("vec_id") >= half).select(
        (F.col("vec_id") - half).alias("k"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "k")
        .select(cos.alias("c"))
        # r12: the array-percentile merge was A/B'd here and reverted
        # (0.354 → 0.39/0.42 warm min-of-3 — the pair set is too small
        # for the buffer saving to beat the extra projection)
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("c"), 6).alias("mean_cos"),
            F.round(F.stddev_samp("c"), 6).alias("std_cos"),
            F.round(F.expr("percentile(c, 0.95)"), 6).alias("p95_cos"),
            F.round(F.expr("percentile(c, 0.99)"), 6).alias("p99_cos"),
            F.round(F.max("c"), 6).alias("max_cos"),
        )
    )


ORACLES["sim_cosine_calibration"] = (
    "WITH n AS (SELECT vec_id, embedding, "
    "sqrt(list_sum(list_transform(embedding, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS nrm "
    "FROM embeddings), "
    "cnt AS (SELECT count(*) // 2 AS half FROM embeddings), "
    "p AS (SELECT "
    + _cos_sql("a.embedding", "b.embedding")
    + " AS c FROM n a JOIN cnt ON a.vec_id < cnt.half "
    "JOIN n b ON b.vec_id = a.vec_id + cnt.half) "
    "SELECT CAST(count(*) AS BIGINT) AS n_pairs, "
    "round(avg(c), 6) AS mean_cos, "
    "round(stddev_samp(c), 6) AS std_cos, "
    "round(quantile_cont(c, 0.95), 6) AS p95_cos, "
    "round(quantile_cont(c, 0.99), 6) AS p99_cos, "
    "round(max(c), 6) AS max_cos FROM p"
)

QUERIES["sim_cosine_calibration"] = q_cosine_calibration
# PQ entries are rows-only, pinned by the recall tests
QUERIES["sim_pq_codes"] = q_sim_pq_codes
QUERIES["sim_topk_pq"] = q_sim_topk_pq


# --- kNN leave-one-out label evaluation -----------------------------------

KNN_K = 5
KNN_QUERY_MOD = 5  # deterministic 20% evaluation sample


def q_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality as a LABEL metric: leave-one-out 5-NN
    majority-vote accuracy per class over a deterministic 20% query
    sample — the "are these embeddings worth indexing" eval that runs
    before any ANN index is built (chance accuracy = labels are noise;
    high accuracy = the space separates classes).

    Exactness contract: EXACT brute-force neighbors (query side
    broadcast — BroadcastNestedLoopJoin, never a shuffled cartesian),
    rank on the ROUNDED cosine with vec_id tie-break so both engines
    pick identical neighbor sets.  At production scale the identical
    vote/accuracy rollup runs over sim_topk_lsh/ivf candidates
    instead — this query is also the ground-truth the recall reports
    compare those against."""
    emb = _emb_with_norm(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    # spread the N×Q dot-product loop: the cached emb table is one
    # partition at bench scale, which would run the whole NL join on a
    # single core (measured 5.8 s → 1.3 s at sf0.1); the exchange
    # moves only N corpus rows once
    corpus = (
        emb.join(labels, "vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id", "embedding", "nrm", F.col("label").alias("n_label")
        )
    )
    queries = (
        corpus.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("n_label").alias("q_label"),
        )
    )
    # r12: NOT converted to _pair_cos_raw — measured +0.9 s standalone
    # (1.63 → 2.53 warm): shipping both 64-float arrays per pair
    # through Arrow (~540 B × 400k pairs) costs more than the fused
    # HOF evaluation that reads them out of the broadcast hash table
    pairs = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "q_label",
            "vec_id",
            "n_label",
            F.round(
                dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    nn = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KNN_K
    )
    votes = nn.groupBy("qid", "q_label", "n_label").agg(
        F.count("*").alias("c")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("n_label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", "q_label", F.col("n_label").alias("pred"))
    )
    return pred.groupBy(F.col("q_label").alias("label")).agg(
        F.count("*").alias("n_queries"),
        F.sum((F.col("pred") == F.col("q_label")).cast("bigint")).alias(
            "n_correct"
        ),
        F.round(
            F.sum((F.col("pred") == F.col("q_label")).cast("bigint"))
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )


ORACLES["sim_knn_loo_accuracy"] = (
    "WITH q AS (SELECT vec_id AS qid, embedding AS q_emb, label AS q_label "
    f"FROM embeddings WHERE vec_id % {KNN_QUERY_MOD} = 0), "
    "p AS (SELECT q.qid, q.q_label, c.vec_id, c.label AS n_label, "
    f"round({_cos_sql('c.embedding', 'q.q_emb')}, 6) AS cos "
    "FROM embeddings c JOIN q ON c.vec_id <> q.qid), "
    "r AS (SELECT qid, q_label, n_label, row_number() OVER ("
    "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM p), "
    f"v AS (SELECT qid, q_label, n_label, count(*) AS c FROM r "
    f"WHERE rn <= {KNN_K} GROUP BY 1, 2, 3), "
    "m AS (SELECT qid, q_label, n_label AS pred FROM ("
    "SELECT qid, q_label, n_label, c, row_number() OVER ("
    "PARTITION BY qid ORDER BY c DESC, n_label) AS vr FROM v) WHERE vr = 1) "
    "SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries, "
    "CAST(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_correct, "
    "round(sum(CASE WHEN pred = q_label THEN 1 ELSE 0 END) "
    "/ CAST(count(*) AS DOUBLE), 6) AS accuracy FROM m GROUP BY q_label"
)

QUERIES["sim_knn_loo_accuracy"] = q_knn_loo_accuracy


def q_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label centroids — the embedding-
    space confusion matrix (two labels whose centroids nearly coincide
    will confuse every downstream classifier and ANN filter; the
    labels×labels map says which).  Computed FROM the rounded per-
    (label, pos) means, so both engines derive identical doubles; the
    pair join runs on the |labels|·DIM aggregate, never on vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    means = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
    )
    norms = means.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm")
    )
    a = means.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = means.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dotab"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dotab") / (F.col("na") * F.col("nb")), 6).alias(
                "centroid_cosine"
            ),
        )
    )


ORACLES["sim_centroid_separation"] = (
    "WITH ex AS (SELECT label, generate_subscripts(embedding, 1) AS pos, "
    "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), "
    "m AS (SELECT label, pos, round(avg(v), 6) AS m FROM ex GROUP BY 1, 2), "
    "n AS (SELECT label, sqrt(sum(m * m)) AS nrm FROM m GROUP BY label), "
    "d AS (SELECT a.label AS label_a, b.label AS label_b, "
    "sum(a.m * b.m) AS dotab FROM m a "
    "JOIN m b ON a.pos = b.pos AND a.label < b.label GROUP BY 1, 2) "
    "SELECT d.label_a, d.label_b, "
    "round(d.dotab / (na.nrm * nb.nrm), 6) AS centroid_cosine "
    "FROM d JOIN n na ON na.label = d.label_a "
    "JOIN n nb ON nb.label = d.label_b"
)

QUERIES["sim_centroid_separation"] = q_centroid_separation


# --- MMR diversified re-rank ----------------------------------------------

MMR_POOL = 50
MMR_K = 10
# λ = 0.5 (the common default): at λ much higher, a near-duplicate
# clique with ~1.0 internal similarity still outranks moderately
# relevant diverse candidates, defeating the operator's purpose
MMR_LAMBDA = 0.5


def _mmr_rerank(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy maximal-marginal-relevance over ONE query's candidate
    pool: pick argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)."""
    import numpy as np

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    nrm = np.linalg.norm(vecs, axis=1)
    nrm[nrm == 0] = 1.0
    unit = vecs / nrm[:, None]
    qsim = pdf["cos"].to_numpy()
    pair = unit @ unit.T
    n = len(pdf)
    chosen: list[int] = []
    penal = np.full(n, -1.0)
    for _ in range(min(MMR_K, n)):
        score = MMR_LAMBDA * qsim - (1 - MMR_LAMBDA) * np.where(
            penal < 0, 0.0, penal
        )
        score[chosen] = -np.inf
        # deterministic: ties resolve to the smallest vec_id (rows
        # are vec_id-sorted, argmax takes the first max)
        pick = int(score.argmax())
        chosen.append(pick)
        penal = np.maximum(penal, pair[:, pick])
    out = pdf.iloc[chosen][["q_id", "vec_id"]].copy()
    out["mmr_rank"] = range(1, len(chosen) + 1)
    out["cosine"] = [round(float(qsim[i]), 6) for i in chosen]
    return out


def q_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware serving re-rank: greedy MMR (Carbonell &
    Goldstein) over each query's top-``MMR_POOL`` exact candidates —
    relevance alone returns near-duplicate neighbors; MMR penalizes a
    candidate by its similarity to what is ALREADY selected, the
    standard RAG/search result diversifier.

    Rows-only BY DESIGN (a greedy argmax recursion over a growing
    selected-set is not one SQL statement); pinned by first-pick,
    diversity-dominance and determinism tests.  Scale shape: the pool
    build is the distributed part (candidates-only, broadcast query
    side, same as topk_brute); the greedy runs per query GROUP in
    ``applyInPandas`` over pool-sized data — k·pool work per query,
    never corpus-sized, and queries parallelize across the cluster."""
    emb = _emb_with_norm(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
    )
    # r13 adjudication (VERDICT r12 #1): the r12 _pair_cos_raw
    # conversion REGRESSED here on the driver's box AND on a quiet-box
    # interleaved A/B (warm min-of-5: HOF 0.66 s vs Arrow-keep 1.18 vs
    # Arrow+pool-rejoin 0.84, identical results) — the mmr pool ships
    # `embedding` (~540 B/pair) through the Arrow boundary and the
    # window exchange, the knn_loo per-pair-bytes mechanism.  REVERTED
    # to the fused HOF dot (the r11 plan).
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "embedding",
            F.round(
                dot(F.col("embedding"), F.col("q_vec"))
                / (F.col("nrm") * F.col("q_nrm")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    pool = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= MMR_POOL
    )
    return pool.groupBy("q_id").applyInPandas(
        lambda pdf: _mmr_rerank(pdf),
        schema="q_id long, vec_id long, mmr_rank int, cosine double",
    )


QUERIES["sim_topk_mmr"] = q_topk_mmr


def q_query_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN difficulty gauge per query: the top1−top2 cosine margin
    and the top1−top10 spread from the exact neighbor table — a thin
    margin means ANN recall for that query is fragile (the per-query
    explanation behind an aggregate recall dip).  One pass over the
    memoized brute top-k output."""
    topk = q_sim_topk_brute(spark, sf_dir)
    return topk.groupBy("q_id").agg(
        F.round(
            F.max(F.when(F.col("rank") == 1, F.col("cosine")))
            - F.max(F.when(F.col("rank") == 2, F.col("cosine"))),
            6,
        ).alias("top1_top2_margin"),
        F.round(
            F.max(F.when(F.col("rank") == 1, F.col("cosine")))
            - F.min("cosine"),
            6,
        ).alias("top1_top10_spread"),
    )


ORACLES["sim_query_margin"] = (
    "WITH topk AS (" + _BRUTE_SQL + ") "
    "SELECT q_id, "
    "round(max(CASE WHEN rank = 1 THEN cosine END) "
    "- max(CASE WHEN rank = 2 THEN cosine END), 6) AS top1_top2_margin, "
    "round(max(CASE WHEN rank = 1 THEN cosine END) "
    "- min(cosine), 6) AS top1_top10_spread "
    "FROM topk GROUP BY q_id"
)

QUERIES["sim_query_margin"] = q_query_margin


# --- Matryoshka truncation evaluation (r5) ---------------------------

MRL_DIMS = (8, 16, 32, 64)  # prefix lengths evaluated against full-D


def _topk_at_dim(spark: SparkSession, sf_dir: str, d: int) -> DataFrame:
    """Exact top-K neighbors using only the first ``d`` embedding
    dimensions — same query set, ranking, and tie-break as the
    full-dimension brute pass."""
    emb = _emb_with_norm(spark, sf_dir)
    base = emb.select(
        "vec_id", F.slice("embedding", 1, d).alias("v")
    ).withColumn("nrm_d", norm(F.col("v")))
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q_vec"),
        F.col("nrm_d").alias("q_nrm"),
    )
    scored = _pair_cos_raw(
        base.crossJoin(F.broadcast(q)).filter(
            F.col("vec_id") != F.col("q_id")
        ),
        "v",
        "q_vec",
        "nrm_d",
        "q_nrm",
        keep=["q_id", "vec_id"],
        out="cos",
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank")
    )


def q_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many leading embedding dimensions retrieval actually
    needs — the Matryoshka/truncation curve: for each prefix length
    d, top-1 agreement with the full-dimension exact neighbors and
    mean top-10 overlap across the query set.  This is the
    storage-planning readout for 100 TB vector corpora: if d=16
    already reproduces the full-D ranking, the ANN index and the hot
    vector tier can store a quarter of the bytes and re-rank the
    short candidate list at full precision (the standard
    truncate-then-rerank deployment).

    The d=DIM row is the self-check anchor (agreement 1.0 by
    construction).  Scale shape: one broadcast-query brute pass per
    evaluated d over the shared cached embedding table — the same
    O(N·Q) floor as sim_topk_brute, times a 4-entry constant; the
    overlap join keys on (q_id, vec_id) against the memoized full-D
    top-k, and each d's verdict is a 2-number aggregate."""
    full = q_sim_topk_brute(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rank").alias("full_rank")
    )
    out = None
    for d in MRL_DIMS:
        # both metrics fold into ONE aggregation over td LEFT JOIN full
        # (r8): the two-arm form re-evaluated the O(N·Q) prefix scan
        # per metric — 8 corpus passes for 4 output rows
        td = _topk_at_dim(spark, sf_dir, d)
        row = (
            td.join(full, ["q_id", "vec_id"], "left")
            .agg(
                F.coalesce(
                    F.sum(
                        (
                            (F.col("rank") == 1)
                            & (F.col("full_rank") == 1)
                        ).cast("long")
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("top1_agree"),
                F.count("full_rank").alias("n_overlap"),
            )
            .select(
                F.lit(d).cast("int").alias("dims"),
                "top1_agree",
                F.round(
                    F.col("n_overlap") / F.lit(float(N_QUERIES * TOP_K)),
                    6,
                ).alias("mean_overlap10"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _dot_d_sql(a: str, b: str, d: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {d + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos_d_sql(a: str, b: str, d: int) -> str:
    return (
        f"{_dot_d_sql(a, b, d)} / "
        f"(sqrt({_dot_d_sql(a, a, d)}) * sqrt({_dot_d_sql(b, b, d)}))"
    )


def _mrl_row_sql(d: int) -> str:
    return (
        f"SELECT CAST({d} AS INTEGER) AS dims, "
        "(SELECT CAST(count(*) AS BIGINT) "
        f"FROM tk{d} t JOIN fulltk f ON t.q_id = f.q_id "
        "AND t.vec_id = f.vec_id WHERE t.rank = 1 AND f.rank = 1) "
        "AS top1_agree, "
        "round((SELECT count(*) "
        f"FROM tk{d} t JOIN fulltk f ON t.q_id = f.q_id "
        f"AND t.vec_id = f.vec_id) / {float(N_QUERIES * TOP_K)}, 6) "
        "AS mean_overlap10"
    )


def _mrl_topk_cte(d: int) -> str:
    return (
        f"tk{d} AS (SELECT q_id, vec_id, rank FROM ("
        "SELECT q.q_id, c.vec_id, row_number() OVER ("
        f"PARTITION BY q.q_id ORDER BY "
        f"{_cos_d_sql('c.embedding', 'q.q_vec', d)} DESC, c.vec_id ASC"
        ") AS rank FROM embeddings c, "
        "(SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings "
        f"WHERE vec_id < {N_QUERIES}) q "
        "WHERE c.vec_id <> q.q_id) "
        f"WHERE rank <= {TOP_K})"
    )


ORACLES["sim_matryoshka_eval"] = (
    "WITH fulltk AS (SELECT q_id, vec_id, rank FROM ("
    + _BRUTE_SQL
    + ")), "
    + ", ".join(_mrl_topk_cte(d) for d in MRL_DIMS)
    + " "
    + " UNION ALL ".join(_mrl_row_sql(d) for d in MRL_DIMS)
)

QUERIES["sim_matryoshka_eval"] = q_matryoshka_eval


# --- int8 ranking-fidelity evaluation (r5) ---------------------------


# quantized (vec_id, qvec, qnrm) table — r13, the recall evaluator's
# per-call rebuild measured 1.37 s (see q_quantized_recall)
@memo
def _quantized_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = q_embedding_quantize(spark, sf_dir).select("vec_id", "qvec")
    qn = (
        qv.withColumn("qnrm", norm(F.col("qvec")))
        .filter(F.col("qnrm") > 0)
        .cache()
    )
    qn.count()  # materialize before the 4-branch consumer races
    return qn


def q_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What int8 storage costs retrieval — the evaluation twin of
    ``sim_embedding_quantize``: rank neighbors with the QUANTIZED
    vectors and score the damage against the exact float ranking
    (top-1 agreement, mean top-10 overlap) plus the mean absolute
    cosine distortion over the true top-10 pairs (rank fidelity and
    score fidelity are different failure modes — re-rank thresholds
    care about the second).

    Per-vector scale cancels inside cosine (both scales are
    positive), so the quantized ranking is the cosine of the raw
    INTEGER code vectors — every dot product below is exact integer
    arithmetic in doubles (|q|≤127, D=64 ⇒ products ≪ 2^53), making
    the comparison engine-exact before the single rounding.  Same
    O(N·Q) broadcast-query shape as the brute baseline."""
    # r12 (guide §5.3): the quantize subtree (3 interpreted HOF
    # transforms per row) + the qnrm fold feed FOUR plan branches
    # (qside, both cross-join sides, the pair re-score) — ~4 full
    # re-evaluations per call, measured as ~90% of this query's 5.3 s.
    # r12 used a per-invocation localCheckpoint; r13 promotes it to
    # the standard (session, sf_dir) memo (the _emb_with_norm
    # pattern): the decomposition probe measured the per-call rebuild
    # at 1.37 s of the query's 4.3 s standalone warm cost, and the
    # |N|-row quantized table is exactly the "reused AND expensive"
    # shape guide §5 asks to cache.  (A lazy checkpoint was also
    # A/B'd — ADVICE r12 — and LOST, 2.75 → 3.23: the four branches
    # race to compute the same partitions inside one job.)
    qn = _quantized_norms(spark, sf_dir)
    qside = qn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("qvec").alias("q_q"),
        F.col("qnrm").alias("q_qnrm"),
    )
    # r12: NOT converted to _pair_cos_raw (the knn_loo precedent —
    # measured +0.8 s standalone: the qvec arrays are array<double>,
    # ~1 KB per pair across the Arrow boundary)
    scored = (
        qn.crossJoin(F.broadcast(qside))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("qvec"), F.col("q_q"))
                / (F.col("qnrm") * F.col("q_qnrm"))
            ).alias("qcos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("qcos"), F.asc("vec_id")
    )
    topq = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank")
    )
    full = q_sim_topk_brute(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rank").alias("frank"), "cosine"
    )
    # r8 single-pass rewrite: the three metrics previously ran as three
    # 1-row arms, and each re-evaluated the O(N·Q) quantized scan (and
    # the brute baseline) — four corpus passes for one output row.  All
    # three are aggregates over the TRUE top-10 pairs left-joined with
    # the quantized ranking, so: recompute qcos for just those
    # |Q|·k pairs directly from the quantized vectors (same expression,
    # bit-identical doubles — never through the big `scored` table),
    # left-join the quantized top-k, and fold everything in ONE
    # aggregation — the expensive scan now runs exactly once.
    pairq = (
        F.broadcast(full)
        .join(qn.select("vec_id", "qvec", "qnrm"), "vec_id")
        .join(F.broadcast(qside), "q_id")
        .select(
            "q_id",
            "vec_id",
            "frank",
            "cosine",
            (
                dot(F.col("qvec"), F.col("q_q"))
                / (F.col("qnrm") * F.col("q_qnrm"))
            ).alias("qcos"),
        )
    )
    j = pairq.join(
        topq.select("q_id", "vec_id", "rank"), ["q_id", "vec_id"], "left"
    )
    return j.agg(
        F.coalesce(
            F.sum(
                ((F.col("rank") == 1) & (F.col("frank") == 1)).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("top1_agree"),
        F.round(
            F.count("rank") / F.lit(float(N_QUERIES * TOP_K)), 6
        ).alias("mean_overlap10"),
        F.round(F.avg(F.abs(F.col("qcos") - F.col("cosine"))), 6).alias(
            "mean_abs_cos_err"
        ),
    )


ORACLES["sim_quantized_recall"] = (
    "WITH qv AS (SELECT vec_id, qvec FROM ("
    + _QUANT_SQL
    + ")), "
    "qn AS (SELECT vec_id, qvec, "
    f"sqrt({_dot_sql('qvec', 'qvec')}) AS qnrm FROM qv "
    f"WHERE sqrt({_dot_sql('qvec', 'qvec')}) > 0), "
    "sc AS (SELECT q.vec_id AS q_id, c.vec_id, "
    f"{_dot_sql('c.qvec', 'q.qvec')} / (c.qnrm * q.qnrm) AS qcos "
    f"FROM qn c, qn q WHERE q.vec_id < {N_QUERIES} "
    "AND c.vec_id <> q.vec_id), "
    "topq AS (SELECT q_id, vec_id, rank FROM (SELECT q_id, vec_id, "
    "row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, "
    f"vec_id ASC) AS rank FROM sc) WHERE rank <= {TOP_K}), "
    "fulltk AS (SELECT q_id, vec_id, rank AS frank, cosine FROM ("
    + _BRUTE_SQL
    + ")) "
    "SELECT "
    "(SELECT CAST(count(*) AS BIGINT) FROM topq t JOIN fulltk f "
    "ON t.q_id = f.q_id AND t.vec_id = f.vec_id "
    "WHERE t.rank = 1 AND f.frank = 1) AS top1_agree, "
    "round((SELECT count(*) FROM topq t JOIN fulltk f "
    "ON t.q_id = f.q_id AND t.vec_id = f.vec_id) / "
    f"{float(N_QUERIES * TOP_K)}, 6) AS mean_overlap10, "
    "(SELECT round(avg(abs(s.qcos - f.cosine)), 6) FROM fulltk f "
    "JOIN sc s ON s.q_id = f.q_id AND s.vec_id = f.vec_id) "
    "AS mean_abs_cos_err"
)

QUERIES["sim_quantized_recall"] = q_quantized_recall


# --- embedding drift monitor (r5) ------------------------------------


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label: split the corpus into two
    deterministic halves (vec_id parity — stands in for
    before/after a re-embed or two ingest windows) and compare the
    per-label centroids across halves — centroid cosine (≈1 means the
    space is stable) and L2 shift.  This is the monitor a vector
    platform runs after swapping the embedding model or upgrading a
    codec: classifier thresholds and IVF centroids silently rot when
    this number moves.

    Same engine-exactness discipline as sim_centroid_separation: the
    per-(label, half, pos) means pre-round to 6, so every downstream
    double derives from identical inputs on both engines; everything
    runs on |labels|·2·DIM aggregates, never on raw vectors after the
    one partial-agg pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    means = (
        emb.select(
            "label",
            F.pmod(F.col("vec_id"), 2).alias("half"),
            F.posexplode("embedding").alias("pos", "v"),
        )
        .groupBy("label", "half", "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("m"),
            # one exploded row per vector per pos, so the group count
            # IS the half's vector count
            F.count("*").cast("long").alias("n"),
        )
    )
    a = means.filter(F.col("half") == 0).select(
        "label", "pos", F.col("m").alias("ma"), F.col("n").alias("n_a")
    )
    b = means.filter(F.col("half") == 1).select(
        "label", "pos", F.col("m").alias("mb"), F.col("n").alias("n_b")
    )
    j = a.join(b, ["label", "pos"])
    return j.groupBy("label").agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            6,
        ).alias("centroid_cos"),
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("ma") - F.col("mb"))
                    * (F.col("ma") - F.col("mb"))
                )
            ),
            6,
        ).alias("l2_shift"),
    )


ORACLES["sim_embedding_drift"] = (
    "WITH ex AS (SELECT label, vec_id % 2 AS half, "
    "generate_subscripts(embedding, 1) - 1 AS pos, "
    "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), "
    "m AS (SELECT label, half, pos, round(avg(v), 6) AS m, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM (SELECT label, half, pos, v FROM ex) GROUP BY 1, 2, 3), "
    "a AS (SELECT label, pos, m AS ma, n AS n_a FROM m WHERE half = 0), "
    "b AS (SELECT label, pos, m AS mb, n AS n_b FROM m WHERE half = 1) "
    "SELECT a.label, CAST(max(n_a) AS BIGINT) AS n_a, "
    "CAST(max(n_b) AS BIGINT) AS n_b, "
    "round(sum(ma * mb) / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6) "
    "AS centroid_cos, "
    "round(sqrt(sum((ma - mb) * (ma - mb))), 6) AS l2_shift "
    "FROM a JOIN b ON a.label = b.label AND a.pos = b.pos "
    "GROUP BY a.label"
)

QUERIES["sim_embedding_drift"] = q_embedding_drift


# --- nDCG ranking-quality eval of the ANN index ----------------------


def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@K of the LSH index against brute-force ground truth — the
    GRADED companion to the recall report: recall says "did the true
    neighbors appear at all", nDCG says "did they appear in the right
    ORDER", which is what a retrieval consumer actually experiences.
    Relevance of a returned vector = K+1 − its brute rank (0 if
    outside the true top-K); DCG discounts by log2(position+1); the
    ideal DCG is computed from the brute ranking itself with the SAME
    expression so both engines run identical float ops.

    Scale: consumes the two already-materialized top-K tables (each
    O(queries × K)); the eval join is keyed on (q_id, vec_id) — cost
    is independent of corpus size."""
    brute = q_sim_topk_brute(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rank").alias("brank")
    )
    ann = q_sim_topk_lsh(spark, sf_dir).select(
        "q_id", "vec_id", F.col("rank").alias("arank")
    )
    gain = (TOP_K + 1 - F.col("brank")).cast("double")
    dcg = ann.join(brute, ["q_id", "vec_id"], "left").groupBy(
        "q_id"
    ).agg(
        F.sum(
            F.coalesce(
                gain / F.log2(F.col("arank") + 1), F.lit(0.0)
            )
        ).alias("dcg"),
        F.count(F.col("brank")).cast("long").alias("n_true_in_ann"),
    )
    idcg = brute.groupBy("q_id").agg(
        F.sum(gain / F.log2(F.col("brank") + 1)).alias("idcg")
    )
    return dcg.join(idcg, "q_id").select(
        "q_id",
        "n_true_in_ann",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


def _ann_ndcg_sql() -> str:
    return (
        "WITH bo AS (" + ORACLES["sim_topk_brute"] + "), "
        "lo AS (" + ORACLES["sim_topk_lsh"] + "), "
        "d AS (SELECT l.q_id, "
        "sum(coalesce(CAST(" f"{TOP_K} + 1 - b.rank AS DOUBLE) "
        "/ log2(l.rank + 1), 0.0)) AS dcg, "
        "CAST(count(b.rank) AS BIGINT) AS n_true_in_ann "
        "FROM lo l LEFT JOIN bo b "
        "ON l.q_id = b.q_id AND l.vec_id = b.vec_id GROUP BY l.q_id), "
        "i AS (SELECT q_id, "
        f"sum(CAST({TOP_K} + 1 - rank AS DOUBLE) / log2(rank + 1)) "
        "AS idcg FROM bo GROUP BY q_id) "
        "SELECT d.q_id, d.n_true_in_ann, "
        "round(d.dcg / i.idcg, 6) AS ndcg "
        "FROM d JOIN i USING (q_id)"
    )


ORACLES["sim_ann_ndcg"] = _ann_ndcg_sql()
QUERIES["sim_ann_ndcg"] = q_ann_ndcg


# --- IVF tuning curve: recall vs nprobe ------------------------------

NPROBE_GRID = (1, 2, 4, 8)


def q_sim_ivf_nprobe_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@K against brute-force truth for nprobe ∈ {1, 2, 4, 8} —
    the tuning curve every IVF deployment reads before fixing its
    latency/recall trade: each probed cell multiplies candidate cost
    ~linearly while recall saturates, and the knee of THIS curve is
    the right production setting (the engine's default nprobe=4 sits
    on it).

    Shape (r8 single-pass rewrite): the quantizer and assignments are
    the memoized one-off index.  The four grid points previously ran
    four independent probe→score→top-K searches; but the probe sets
    are NESTED (top-8 cells ⊇ top-4 ⊇ …), so one pass suffices —
    score every candidate in the top-max(grid) cells ONCE, tag it
    with its cell's probe rank, explode it into the arms that cover
    it (rank ≤ nprobe), and rank all arms in one (arm, q) window.
    One candidate scan + one shuffle over ≤|grid|× candidate rows
    instead of four of each.  Rows-only (k-means quantizer, SURVEY
    §5); monotonicity pinned in tests/test_similarity.py."""
    brute = q_sim_topk_brute(spark, sf_dir).select("q_id", "vec_id")
    n_true = brute.groupBy().agg(F.count("*").alias("n_true"))
    emb = _emb_with_norm(spark, sf_dir)
    q = _query_side(spark, sf_dir)
    probe = _probe_cells(
        spark, sf_dir, max(NPROBE_GRID), keep_rank=True
    )
    # r12: NOT converted to _pair_cos_raw — in-bench min-of-k lost on
    # both runs (1.64 → 1.90/2.92); the semdedup composition lesson
    scored = (
        ivf_assignments(spark, sf_dir)
        .join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(emb, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            "rn",
            (
                dot(F.col("embedding"), F.col("q_vec"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("cos"),
        )
    )
    grid = F.array(*[F.lit(a) for a in NPROBE_GRID])
    armed = scored.select(
        F.explode(
            F.filter(grid, lambda a: a >= F.col("rn"))
        ).alias("arm"),
        "q_id",
        "vec_id",
        "cos",
    )
    wa = Window.partitionBy("arm", "q_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    hits = (
        armed.withColumn("rank", F.row_number().over(wa))
        .filter(F.col("rank") <= TOP_K)
        .join(brute, ["q_id", "vec_id"], "left_semi")
        .groupBy("arm")
        .agg(F.count("*").alias("n_hit"))
    )
    arms = spark.createDataFrame(
        [(a,) for a in NPROBE_GRID], "arm INT"
    )
    return (
        arms.join(hits, "arm", "left")
        .crossJoin(F.broadcast(n_true))
        .select(
            F.col("arm").cast("long").alias("nprobe"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_true"),
                6,
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


QUERIES["sim_ivf_nprobe_profile"] = q_sim_ivf_nprobe_profile


# --- SemDeDup: semantic dedup scoped to IVF cells --------------------

SEMDEDUP_T = 0.45  # same corpus-calibrated threshold as COS_DUP_THRESHOLD


def q_sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "Semantic deduplication"):
    k-means-cluster the embeddings, compare pairs only WITHIN each
    cluster, and keep one representative per within-cluster duplicate
    group.  This is the third member of the embedding-dedup family
    and its distinct trade: LSH pairs (`dedup_embedding_pairs`) bound
    candidates probabilistically per table, brute force is exact but
    quadratic — SemDeDup bounds the quadratic BY CELL (cells ≈ √N of
    size ≈ √N, so total comparisons ≈ N^1.5 with perfect parallelism
    per cell), reusing the IVF quantizer the ANN index already paid
    for.

    Components within a cell come from the same min-label propagation
    as the text dedup; representatives are the component minima.
    Rows-only (the k-means quantizer, SURVEY §5); pinned by
    tests/test_similarity.py: within-cell agreement with the exact
    cosine pairs, and keep-set idempotence."""
    from .dedup import connected_components

    asg = ivf_assignments(spark, sf_dir)
    emb = _emb_with_norm(spark, sf_dir)
    cell = asg.join(emb, "vec_id").select(
        "centroid_id", "vec_id", "embedding", "nrm"
    )
    a = cell.select(
        "centroid_id",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = cell.select(
        "centroid_id",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # r12: NOT converted to _pair_cos_raw — faster standalone (2.62 vs
    # 3.04) but consistently SLOWER inside the bench group (1.73 →
    # 4.75/4.09 min-of-k on two runs) where the family's caches and
    # Python worker pool are co-resident; the fused HOF plan wins in
    # composition
    dups = (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (
                dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("nrm_a") * F.col("nrm_b"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_T)
        .select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    labels = connected_components(dups)
    return (
        asg.select("vec_id", "centroid_id")
        .join(
            labels.select(
                F.col("node").alias("vec_id"),
                F.col("label").alias("sem_cluster"),
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.coalesce(F.col("sem_cluster"), F.col("vec_id"))
            .cast("long")
            .alias("sem_cluster"),
            (
                F.coalesce(F.col("sem_cluster"), F.col("vec_id"))
                == F.col("vec_id")
            )
            .cast("int")
            .alias("keep"),
        )
    )


QUERIES["sim_semdedup"] = q_sim_semdedup


# --- Johnson-Lindenstrauss random-projection distortion audit (r5) -----
#
# The cheap dimensionality-reduction path next to the learned ones
# (sim_pca_*, sim_matryoshka_eval): project 64-dim embeddings onto
# RP_DIM Rademacher hyperplanes (Achlioptas 2003 — ±1 entries suffice
# for the JL guarantee; E[‖Px‖²/k] = ‖x‖²) and report the measured
# norm-distortion distribution ‖Px‖²/(k·‖x‖²) as a 0.25-wide
# histogram.  A mean far from 1.0 or mass in the tail buckets is the
# evidence that k is too small for the downstream ANN index; JL says
# Var ≈ 2/k (0.125 at k=16), so ±2σ ≈ [0.3, 1.7] should hold ~95%.
#
# Scale shape: the signs are md5-derived CONSTANTS baked at import
# (like PLANES), so the whole projection is RP_DIM folded
# ``zip_with`` expressions — narrow, JVM-side, zero shuffle before
# the ≤13-row bucket rollup.  Exactness: the per-vector ratio rounds
# to 6 decimals, the bucket mean averages INTEGER 1e6-scaled ratios
# (no float accumulation-order leak), and the squared-norm
# denominator uses the raw dot (no sqrt), all in the same fold order
# as the oracle's list_sum.

RP_DIM = 16


def _rp_sign(j: int, i: int) -> float:
    h = int(hashlib.md5(f"rp{j}_{i}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


# RP_SIGNS[j] = 64 Rademacher signs for output dimension j
RP_SIGNS = [[_rp_sign(j, i) for i in range(DIM)] for j in range(RP_DIM)]


def q_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §4.2): the 16 projection dots + the norm fold per row
    # (17 interpreted HOFs, plus 16 per-row CreateArray sign literals)
    # run vectorized in ONE mapInPandas pass — per-dimension products
    # accumulate in dimension order and the 16 squared projections add
    # in plane order, every product/add IEEE-rounded exactly like the
    # JVM expression, so proj_sq/nrm2 are bit-identical doubles.
    # Rounding and bucketing stay in the JVM.
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    signs = np.array(RP_SIGNS, dtype=np.float64)

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            emat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64
            )
            n = emat.shape[0]
            proj_sq = np.zeros(n)
            for j in range(RP_DIM):
                pj = np.zeros(n)
                for i in range(emat.shape[1]):  # dimension-order fold
                    pj += emat[:, i] * signs[j, i]
                proj_sq = pj * pj if j == 0 else proj_sq + pj * pj
            nrm2 = np.zeros(n)
            for i in range(emat.shape[1]):
                nrm2 += emat[:, i] * emat[:, i]
            yield pd.DataFrame({"proj_sq": proj_sq, "nrm2": nrm2})

    raw = emb.mapInPandas(project, "proj_sq double, nrm2 double")
    ratio = F.round(
        F.col("proj_sq") / (F.lit(float(RP_DIM)) * F.col("nrm2")), 6
    )
    b = raw.filter(F.col("nrm2") > 0).select(
        F.least(
            F.floor(F.round(ratio * 4, 6)).cast("long"), F.lit(11)
        ).alias("bk"),
        F.round(ratio * 1000000).cast("long").alias("r6"),
    )
    return b.groupBy("bk").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(
            F.sum("r6") / (F.count("*") * F.lit(1000000.0)), 6
        ).alias("mean_ratio"),
    ).select(
        (F.col("bk") / 4.0).alias("bucket_lo"), "n_vecs", "mean_ratio"
    )


def _rp_sign_sql(j: int) -> str:
    return "[" + ", ".join(repr(w) for w in RP_SIGNS[j]) + "]"


def _rp_proj_sq_sql() -> str:
    terms = []
    for j in range(RP_DIM):
        d = (
            f"list_sum(list_transform(range(1, {DIM + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * "
            f"CAST(({_rp_sign_sql(j)})[i] AS DOUBLE)))"
        )
        terms.append(f"({d}) * ({d})")
    return " + ".join(terms)


ORACLES["sim_rp_distortion"] = (
    "WITH r AS (SELECT round(("
    + _rp_proj_sq_sql()
    + f") / ({float(RP_DIM)} * {_dot_sql('embedding', 'embedding')}), 6) "
    "AS ratio FROM embeddings "
    f"WHERE {_dot_sql('embedding', 'embedding')} > 0), "
    "b AS (SELECT least(CAST(floor(round(ratio * 4, 6)) AS BIGINT), 11) "
    "AS bk, CAST(round(ratio * 1000000, 0) AS BIGINT) AS r6 FROM r) "
    "SELECT bk / 4.0 AS bucket_lo, CAST(count(*) AS BIGINT) AS n_vecs, "
    "round(sum(r6) / (count(*) * 1000000.0), 6) AS mean_ratio "
    "FROM b GROUP BY bk"
)
QUERIES["sim_rp_distortion"] = q_rp_distortion


# --- semantic benchmark decontamination (r5) ----------------------------
#
# The embedding-space twin of text_contamination's n-gram gate (and
# the GPT-3/Phi decontamination recipe): flag corpus vectors whose
# cosine to ANY benchmark vector reaches DECON_TAU — paraphrased or
# re-worded eval leakage that exact n-gram matching can't see.
# Benchmark split = vec_id % 10 == 0 (the deterministic stand-in for
# a real eval-set embedding table).
#
# Scale shape: benchmarks are orders of magnitude smaller than the
# corpus, so the EXACT path — ship the benchmark side to every task
# (the broadcast budget), one narrow pass over the corpus — is also
# the 100 TB path (O(N·B) dots with B bounded by the eval suite; the
# LSH-bucketed variant only pays off once B outgrows the broadcast
# budget, and sim_topk_lsh already demonstrates that rewrite).
#
# r12 (guide §4.2): the N·B dot products moved from the interpreted
# zip_with/aggregate HOF pair (CodegenFallback, ~µs per pair and the
# whole warm cost of this query) into one vectorized NumPy pass
# inside mapInPandas — Spark keeps the scan/distribution, NumPy does
# the flops.  Exactness is preserved, not approximated:
#   - the dot accumulates IN DIMENSION ORDER via one vectorized
#     multiply-add per dimension (D += E[:,i] ⊗ B[:,i]), each product
#     and each add IEEE-rounded exactly like the JVM left fold
#     ((0+p_0)+p_1)+… — bit-identical doubles, proven by the oracle;
#   - rounding stays in the JVM: round6 is monotone, so
#     max_j round6(c_j) = round6(max_j c_j) and the max travels raw;
#   - the tau compare on rounded cosines is rewritten to the raw
#     threshold via _ge_after_round6 (exact decimal boundary
#     tau − 5e-7, snapped to the next double), with NaN counted ≥ tau
#     to mirror Spark's NaN-is-largest comparison semantics.

DECON_MOD = 10      # vec_id % 10 == 0 → benchmark split
DECON_TAU = 0.35    # cosine at/above which a corpus vec is contaminated


def _ge_after_round6(tau: float) -> float:
    """Smallest double c with round(c, 6) >= tau, for positive tau an
    exact multiple of 1e-6 (HALF_UP, Spark/DuckDB semantics): the
    boundary is the exact decimal tau − 5e-7; if the nearest double
    sits below it, snap up one ulp so the double compare `c >= θ` is
    equivalent to `round(c, 6) >= tau` for every double c."""
    from decimal import Decimal

    bound = Decimal(str(tau)) - Decimal("5e-7")
    c = float(bound)
    if Decimal(c) < bound:
        c = math.nextafter(c, math.inf)
    return c


def q_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = _emb_with_norm(spark, sf_dir)
    # bounded side input (the eval-suite split — same budget as the
    # broadcast it replaces); rows carry the cached nrm so the Python
    # side never recomputes norms
    bench_rows = (
        emb.filter(F.col("vec_id") % DECON_MOD == 0)
        .select("embedding", "nrm")
        .collect()
    )
    corpus = emb.filter(F.col("vec_id") % DECON_MOD != 0)
    if not bench_rows:
        return corpus.select(
            "vec_id",
            F.lit(None).cast("double").alias("max_cos"),
            F.lit(None).cast("long").alias("n_bench_close"),
            F.lit(None).cast("boolean").alias("contaminated"),
        ).limit(0)
    bmat = np.array(
        [r["embedding"] for r in bench_rows], dtype=np.float32
    ).astype(np.float64)
    b_nrm = np.array([r["nrm"] for r in bench_rows], dtype=np.float64)
    theta = _ge_after_round6(DECON_TAU)
    n_dim = bmat.shape[1]

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            emat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64
            )
            dots = np.zeros((emat.shape[0], bmat.shape[0]))
            for i in range(n_dim):  # dimension-order exact fold
                dots += np.outer(emat[:, i], bmat[:, i])
            cos = dots / (
                pdf["nrm"].to_numpy()[:, None] * b_nrm[None, :]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "max_raw": np.max(cos, axis=1),
                    "n_close": ((cos >= theta) | np.isnan(cos)).sum(
                        axis=1
                    ),
                }
            )

    scored = corpus.select("vec_id", "embedding", "nrm").mapInPandas(
        score, "vec_id long, max_raw double, n_close long"
    )
    return scored.select(
        "vec_id",
        F.round("max_raw", 6).alias("max_cos"),
        F.col("n_close").alias("n_bench_close"),
        (F.col("n_close") > 0).alias("contaminated"),
    )


ORACLES["sim_benchmark_decontam"] = (
    "WITH e AS (SELECT vec_id, embedding, "
    f"sqrt({_dot_sql('embedding', 'embedding')}) AS nrm FROM embeddings), "
    f"b AS (SELECT vec_id AS b_id, embedding AS b_vec, nrm AS b_nrm "
    f"FROM e WHERE vec_id % {DECON_MOD} = 0), "
    f"c AS (SELECT * FROM e WHERE vec_id % {DECON_MOD} <> 0), "
    "p AS (SELECT c.vec_id, "
    f"round({_dot_sql('c.embedding', 'b.b_vec')} / (c.nrm * b.b_nrm), 6) "
    "AS cos FROM c CROSS JOIN b) "
    "SELECT vec_id, max(cos) AS max_cos, "
    f"CAST(sum(CASE WHEN cos >= {DECON_TAU} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_bench_close, "
    f"sum(CASE WHEN cos >= {DECON_TAU} THEN 1 ELSE 0 END) > 0 "
    "AS contaminated FROM p GROUP BY vec_id"
)
QUERIES["sim_benchmark_decontam"] = q_benchmark_decontam


# --- simplified silhouette score (r5) -----------------------------------
#
# Clustering-quality eval for the label partition (and, by the same
# machinery, any IVF-cell assignment): the simplified silhouette
# (Hruschka et al. 2004 — distances to CENTROIDS instead of all-pairs,
# which is what makes it computable at corpus scale: O(N·k) dots, not
# O(N²)) per vector is s = (b − a)/max(a, b) with a = distance to the
# own-label centroid, b = the nearest other centroid.  Reported per
# label: mean s (integer-scaled — no float accumulation-order leak),
# and how many vectors sit closer to a foreign centroid (b < a, the
# would-be reassignments a k-means step would move).
#
# Scale shape: centroids are the |labels|-sized rounded-mean table
# sim_group_centroids already materializes (broadcast side); the
# distance pass is one narrow crossJoin over it, and the rollup is a
# |labels|-group partial agg.  Distances round to 6 before the a/b
# compare so the b < a boundary is engine-exact.


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cents = q_group_centroids(spark, sf_dir).select(
        F.col("label").alias("c_label"), "centroid"
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "c_label",
        F.round(F.sqrt(d2), 6).alias("d"),
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("d"))).alias(
            "a"
        ),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d"))).alias(
            "b"
        ),
    )
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    scored = ab.select(
        "label",
        F.round(s * 1000000).cast("long").alias("s6"),
        (F.col("b") < F.col("a")).cast("long").alias("mis"),
    )
    return scored.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.sum("s6") / (F.count("*") * F.lit(1000000.0)), 6).alias(
            "mean_silhouette"
        ),
        F.sum("mis").cast("long").alias("n_misassigned"),
    )


def _silhouette_sql() -> str:
    d2 = (
        f"list_sum(list_transform(range(1, {DIM + 1}), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) * "
        "(CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])))"
    )
    return (
        "WITH cent AS (" + _CENTROID_ARRAY_SQL + "), "
        "d AS (SELECT e.vec_id, e.label, c.label AS c_label, "
        f"round(sqrt({d2}), 6) AS d "
        "FROM embeddings e CROSS JOIN "
        "(SELECT label, centroid FROM cent) c), "
        "ab AS (SELECT vec_id, label, "
        "min(CASE WHEN c_label = label THEN d END) AS a, "
        "min(CASE WHEN c_label <> label THEN d END) AS b "
        "FROM d GROUP BY vec_id, label), "
        "sc AS (SELECT label, "
        "CAST(round((b - a) / greatest(a, b) * 1000000, 0) AS BIGINT) "
        "AS s6, CASE WHEN b < a THEN 1 ELSE 0 END AS mis FROM ab) "
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
        "round(sum(s6) / (count(*) * 1000000.0), 6) AS mean_silhouette, "
        "CAST(sum(mis) AS BIGINT) AS n_misassigned "
        "FROM sc GROUP BY label"
    )


ORACLES["sim_silhouette"] = _silhouette_sql()
QUERIES["sim_silhouette"] = q_silhouette


# --- k-NN graph hubness audit (r6) ------------------------------------
#
# The embedding-pathology diagnostic retrieval teams run before
# shipping an index (Radovanović et al., JMLR'10): in high dimensions
# some vectors become HUBS that appear in a disproportionate share of
# other vectors' top-k lists, silently dominating retrieval results
# and nearest-neighbor training signals.  Readout: the in-degree
# HISTOGRAM of the k-NN digraph over ALL vectors (antihubs at
# in-degree 0 included via the left join) — a long right tail is the
# pathology.
#
# Scale shape: the graph is built the ANN way, not the O(N²) way —
# candidate pairs come from the SAME portable 4×256 LSH bucket tables
# the serving index uses (per-table self-equi-joins, bucket-bounded),
# exact cosine only on candidates, per-source top-k via the ranked
# window that compiles to WindowGroupLimit.  Cosines round to 6
# BEFORE ranking (ties break on dst id) so the graph is
# engine-identical; the DuckDB oracle replays the identical buckets,
# candidates, and ranking.


def q_sim_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_with_norm(spark, sf_dir)
    br = capped_bucket_rows(_bucket_rows(spark, sf_dir))
    a = br.select(F.col("vec_id").alias("src"), "tbl", "bucket")
    b = br.select(F.col("vec_id").alias("dst"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    es = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("s_emb"),
        F.col("nrm").alias("s_nrm"),
    )
    ed = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("d_emb"),
        F.col("nrm").alias("d_nrm"),
    )
    scored = _pair_cos_raw(
        cand.join(es, "src").join(ed, "dst"),
        "s_emb",
        "d_emb",
        "s_nrm",
        "d_nrm",
        keep=["src", "dst"],
    ).select(
        "src", "dst", F.round("cos_raw", 6).alias("cos")
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("cos"), F.asc("dst")
    )
    knn = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= TOP_K
    )
    indeg = knn.groupBy("dst").agg(
        F.count("*").cast("long").alias("n_in")
    )
    deg = (
        emb.select(F.col("vec_id").alias("dst"))
        .join(indeg, "dst", "left")
        .select(
            F.coalesce("n_in", F.lit(0)).cast("long").alias("in_degree")
        )
    )
    return deg.groupBy("in_degree").agg(
        F.count("*").cast("long").alias("n_vectors")
    )


def _hubness_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT a.vec_id AS src, c.vec_id AS dst FROM b a JOIN b c "
        f"ON a.bucket{t} = c.bucket{t} AND a.vec_id <> c.vec_id "
        f"WHERE {_hot_excl_sql(t)}"
        for t in range(N_TABLES)
    )
    return (
        "WITH " + _B_CTE + ", "
        "cand AS (SELECT DISTINCT src, dst FROM (" + unions + ")), "
        "sc AS (SELECT cand.src, cand.dst, "
        "round(" + _cos_sql("e1.embedding", "e2.embedding") + ", 6) "
        "AS cos FROM cand "
        "JOIN embeddings e1 ON e1.vec_id = cand.src "
        "JOIN embeddings e2 ON e2.vec_id = cand.dst), "
        "rk AS (SELECT src, dst, row_number() OVER "
        "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS r FROM sc), "
        f"knn AS (SELECT dst FROM rk WHERE r <= {TOP_K}), "
        "ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_in "
        "FROM knn GROUP BY dst), "
        "deg AS (SELECT coalesce(ind.n_in, 0) AS in_degree "
        "FROM embeddings v LEFT JOIN ind ON v.vec_id = ind.dst) "
        "SELECT CAST(in_degree AS BIGINT) AS in_degree, "
        "CAST(count(*) AS BIGINT) AS n_vectors "
        "FROM deg GROUP BY in_degree"
    )


QUERIES["sim_knn_hubness"] = q_sim_knn_hubness
ORACLES["sim_knn_hubness"] = _hubness_sql()


# --------------------------------------------------------------------------
# r8: IVF + PQ combined serving (IVFADC, Jégou et al. 2011 §IV) — the
# production ANN shape: the coarse quantizer bounds WHICH inverted
# lists are scanned (nprobe cells, not the corpus) and PQ bounds WHAT
# is read per candidate (8 × 4-bit codes, 64× smaller than floats).
# sim_topk_ivf scans nprobe lists but reads full floats; sim_topk_pq
# reads codes but scans every vector.  At 100 TB only the combination
# holds: scan cost ~ nprobe/k of the corpus × 1/64 of the bytes, then
# the exact refine touches RERANK_POOL floats per query.  Hash/kmeans-
# dependent end to end → rows-only; recall is pinned vs exact L2 in
# tests/test_similarity.py alongside the flat-PQ gate.
# --------------------------------------------------------------------------


def q_sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, vec_id, l2_dist, rk): top-k via probe → ADC → refine."""
    emb = _emb_with_norm(spark, sf_dir)
    q = _query_side(spark, sf_dir)
    probe = _probe_cells(spark, sf_dir, N_PROBE)
    # candidates: PQ code rows restricted to the probed inverted lists
    # — ONE broadcast equi-join against the (q_id, cell) probe table;
    # at scale the codes table is bucketed by centroid_id so this scan
    # is partition-pruned to nprobe lists per query.  (vec_id >=
    # N_QUERIES already excludes every q_id, so no self-match filter
    # is needed — r8 review dropped the dead predicate.)
    cand = (
        ivf_assignments(spark, sf_dir)
        .join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("q_id", "vec_id")
    )
    codes = (
        pq_codes(spark, sf_dir)
        .filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", F.posexplode("codes").alias("m", "code"))
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(_query_adc_dtab(spark, sf_dir)),
            ["q_id", "m", "code"],
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    return _adc_refine_topk(spark, sf_dir, adc)


QUERIES["sim_topk_ivfpq"] = q_sim_topk_ivfpq


# --- LSH index health audit (r9) --------------------------------------
#
# The observability twin of SIM_HOT_BUCKET_CAP: the per-table bucket
# OCCUPANCY profile an operator watches before trusting the ANN /
# near-dup candidate joins at a new corpus size.  One row per LSH
# table: how many buckets are populated, the worst occupancy, how
# many buckets the cap excludes, and the candidate-pair BOUNDS the
# bucket shape implies — Σ c·(c−1)/2 over kept buckets is exactly the
# per-table upper bound on self-join pairs, and the dropped-bound
# column prices what the cap discards (0 on a healthy corpus).  This
# is the number that tells you to grow PLANES_PER_TABLE with log2(N)
# (see the scale rule at the constant) BEFORE a quadratic blowup, not
# after.
#
# Scale shape: one partial-agg groupBy per (tbl, bucket) — ≤ 1024
# groups — then a 4-group rollup; no joins, no window, nothing
# corpus-quadratic.


def q_sim_bucket_occupancy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    occ = (
        _bucket_rows(spark, sf_dir)
        .groupBy("tbl", "bucket")
        .agg(F.count("*").alias("c"))
    )
    cap = F.lit(SIM_HOT_BUCKET_CAP)
    # integer DIV, not float /: c·(c−1) overflows double exactness
    # past 2^53 (a ~10⁸-row bucket), and this column is exactly the
    # number a capacity planner trusts; both engines use their
    # integer-division operator so the value stays exact at any c
    pair_bound = F.expr("(c * (c - 1)) DIV 2")
    return occ.groupBy("tbl").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("c").cast("long").alias("max_occupancy"),
        F.round(F.avg("c"), 6).alias("avg_occupancy"),
        F.sum(F.when(F.col("c") > cap, 1).otherwise(0))
        .cast("long")
        .alias("n_hot_buckets"),
        F.sum(F.when(F.col("c") <= cap, pair_bound).otherwise(0))
        .cast("long")
        .alias("pairs_kept_bound"),
        F.sum(F.when(F.col("c") > cap, pair_bound).otherwise(0))
        .cast("long")
        .alias("pairs_dropped_bound"),
    )


_OCC_UNPIVOT = " UNION ALL ".join(
    f"SELECT {t} AS tbl, bucket{t} AS bk FROM b" for t in range(N_TABLES)
)

_OCC_AUDIT_SQL = (
    f"WITH {_B_CTE}, "
    "occ AS (SELECT tbl, bk, count(*) AS c FROM ("
    + _OCC_UNPIVOT
    + ") GROUP BY tbl, bk) "
    "SELECT CAST(tbl AS INTEGER) AS tbl, "
    "CAST(count(*) AS BIGINT) AS n_buckets, "
    "CAST(max(c) AS BIGINT) AS max_occupancy, "
    "round(avg(c), 6) AS avg_occupancy, "
    f"CAST(sum(CASE WHEN c > {SIM_HOT_BUCKET_CAP} THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_hot_buckets, "
    f"CAST(sum(CASE WHEN c <= {SIM_HOT_BUCKET_CAP} "
    "THEN c * (c - 1) // 2 ELSE 0 END) AS BIGINT) "
    "AS pairs_kept_bound, "
    f"CAST(sum(CASE WHEN c > {SIM_HOT_BUCKET_CAP} "
    "THEN c * (c - 1) // 2 ELSE 0 END) AS BIGINT) "
    "AS pairs_dropped_bound "
    "FROM occ GROUP BY tbl"
)

QUERIES["sim_bucket_occupancy_audit"] = q_sim_bucket_occupancy_audit
ORACLES["sim_bucket_occupancy_audit"] = _OCC_AUDIT_SQL
