"""BM25 inverted-index retrieval — sparse-vector search over the
document corpus (engine extension; complements the dense-vector ANN
family in operators/similarity.py the way lexical search complements
embedding search in a RAG stack).

The distributed shape IS the inverted index: the corpus explodes once
into postings (token, doc_id, tf), document frequencies aggregate to a
VOCAB-sized idf table, and a query joins the posting list on token —
the classic term-at-a-time scatter-gather.  Eight query docs probe at
once here; a serving deployment would broadcast the query terms and
partition postings by token, which is exactly the join this plan
produces (query side tiny → broadcast; postings shuffle keyed on
token only once, at index build).

Scoring is textbook Okapi BM25 (Robertson et al.):
idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
tf_norm = tf·(k1+1)/(tf + k1·(1 - b + b·len/avg_len)), k1=1.2, b=0.75.
Query docs are excluded from their own result lists; the top-K cut
ranks on the ROUNDED score with doc_id tie-break, so both engines cut
the identical row set at the K boundary (the same total-order
discipline as text_phrase_pmi).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table

BM25_K1 = 1.2
BM25_B = 0.75
N_QUERY_DOCS = 8
BM25_TOP_K = 10


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf) over whitespace tokens of ``docs.text``.

    r12: a session-memoized .cache() of this postings table was
    tried and REVERTED — reading the ~750k-row cache once per plan
    branch measured SLOWER in the bench (family sum 4.9 -> 7.1 s)
    than re-running the pipelined explode+partial-agg, which stays
    in whole-stage codegen and feeds the exchanges map-side."""
    return (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("double").alias("tf"))
    )


# DuckDB twin of _postings, the first CTE of both oracles
_POSTINGS_CTE = (
    "WITH postings AS (SELECT doc_id, token, "
    "CAST(count(*) AS DOUBLE) AS tf FROM (SELECT doc_id, "
    "unnest(string_split(text, ' ')) AS token FROM documents) "
    "WHERE token <> '' GROUP BY doc_id, token), "
)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    postings = _postings(docs)
    dlen = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    scalars = dlen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    df_tab = postings.groupBy("token").agg(
        F.count("*").cast("double").alias("df")
    )
    idf = df_tab.crossJoin(F.broadcast(scalars)).select(
        "token",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avg_dl",
    )
    q_terms = (
        postings.filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(F.col("doc_id").alias("q_id"), "token")
    )
    # query side is tiny → broadcast into the posting list (the
    # token-partitioned scatter); idf/avg_dl ride along token-keyed
    scored = (
        postings.join(F.broadcast(q_terms), "token")
        .filter(F.col("doc_id") >= N_QUERY_DOCS)  # not self/peer queries
        .join(dlen, "doc_id")
        .join(idf, "token")
        .select(
            "q_id",
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (BM25_K1 + 1)
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avg_dl"))
                )
            ).alias("s"),
        )
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOP_K)
        .select("q_id", "doc_id", "score", F.col("rk").cast("int").alias("rk"))
    )


ORACLES: dict[str, str] = {
    "text_bm25_topk": _POSTINGS_CTE + (
        "dlen AS (SELECT doc_id, sum(tf) AS dl FROM postings "
        "GROUP BY doc_id), "
        "scal AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, "
        "avg(dl) AS avg_dl FROM dlen), "
        "idf AS (SELECT token, ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) "
        "AS idf, s.avg_dl FROM (SELECT token, CAST(count(*) AS DOUBLE) "
        "AS df FROM postings GROUP BY token) CROSS JOIN scal s), "
        f"q AS (SELECT doc_id AS q_id, token FROM postings "
        f"WHERE doc_id < {N_QUERY_DOCS}), "
        "scored AS (SELECT q.q_id, p.doc_id, "
        f"round(sum(i.idf * p.tf * ({BM25_K1} + 1) / (p.tf + {BM25_K1} * "
        f"(1 - {BM25_B} + {BM25_B} * d.dl / i.avg_dl))), 6) AS score "
        "FROM postings p JOIN q USING (token) "
        "JOIN dlen d ON p.doc_id = d.doc_id "
        "JOIN idf i ON p.token = i.token "
        f"WHERE p.doc_id >= {N_QUERY_DOCS} GROUP BY q.q_id, p.doc_id), "
        "rk AS (SELECT q_id, doc_id, score, CAST(row_number() OVER "
        "(PARTITION BY q_id ORDER BY score DESC, doc_id) AS INTEGER) AS rk "
        "FROM scored) "
        f"SELECT * FROM rk WHERE rk <= {BM25_TOP_K}"
    ),
}

QUERIES = {
    "text_bm25_topk": q_bm25_topk,
}


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal rank fusion of the lexical and
    dense rankers (the RAG-stack staple: BM25 catches exact terms,
    embeddings catch paraphrase; RRF merges without score
    calibration): RRF(d) = Σ_rankers 1/(K + rank_d), full-outer over
    the two top-k lists per query (a doc ranked by only one ranker
    still scores), re-ranked to top-10 on the ROUNDED score with
    doc_id tie-break.  doc_id aligns with vec_id, so the query sets
    coincide; both upstream lists are the memoized oracle-checked
    top-k queries — fusion adds two bounded joins, nothing
    corpus-sized."""
    from .similarity import q_sim_topk_brute

    bm = q_bm25_topk(spark, sf_dir).select(
        "q_id", "doc_id", F.col("rk").alias("rk_lex")
    )
    dense = q_sim_topk_brute(spark, sf_dir).select(
        "q_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rk_dense"),
    )
    fused = bm.join(dense, ["q_id", "doc_id"], "full_outer").select(
        "q_id",
        "doc_id",
        F.round(
            F.when(
                F.col("rk_lex").isNotNull(),
                1.0 / (RRF_K + F.col("rk_lex")),
            ).otherwise(0.0)
            + F.when(
                F.col("rk_dense").isNotNull(),
                1.0 / (RRF_K + F.col("rk_dense")),
            ).otherwise(0.0),
            6,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOP_K)
        .select("q_id", "doc_id", "rrf_score", F.col("rk").cast("int").alias("rk"))
    )


from .similarity import _BRUTE_SQL as _SIM_BRUTE_SQL  # noqa: E402

ORACLES["text_hybrid_topk"] = (
    "WITH bm AS (" + ORACLES["text_bm25_topk"] + "), "
    "dense AS (" + _SIM_BRUTE_SQL + "), "
    "fused AS (SELECT coalesce(bm.q_id, d.q_id) AS q_id, "
    "coalesce(bm.doc_id, d.vec_id) AS doc_id, "
    f"round(coalesce(1.0 / ({RRF_K} + bm.rk), 0) "
    f"+ coalesce(1.0 / ({RRF_K} + d.rank), 0), 6) AS rrf_score "
    "FROM bm FULL OUTER JOIN dense d "
    "ON bm.q_id = d.q_id AND bm.doc_id = d.vec_id), "
    "rk AS (SELECT q_id, doc_id, rrf_score, CAST(row_number() OVER "
    "(PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rk "
    "FROM fused) "
    f"SELECT * FROM rk WHERE rk <= {BM25_TOP_K}"
)

QUERIES["text_hybrid_topk"] = q_hybrid_topk


# --- Dirichlet query-likelihood retrieval --------------------------------
#
# The third classical ranker next to BM25 and dense cosine: the
# language-modelling school (Ponte & Croft; Zhai & Lafferty smoothing).
# score(q,d) = Σ_{t∈Q} ln( (tf_{t,d} + μ·P(t|C)) / (dl_d + μ) ),
# P(t|C) the collection unigram model, μ = QLM_MU.
#
# Why it earns a separate plan: unlike BM25, EVERY query term scores
# against EVERY document (an absent term still contributes the
# smoothed background mass), so the naive join is |Q|·N·|terms|.  The
# standard decomposition restores sparsity:
#   score = qconst_q  −  |Q|·ln(dl_d + μ)  +  Σ_{t: tf>0} ln(1 + tf/(μ·P_t))
# where qconst_q = Σ_{t∈Q} ln(μ·P_t) is a per-QUERY scalar.  Only the
# third term touches the posting list (the same broadcast-probe
# sparse join BM25 uses); the first two are candidate-pruned à la
# WAND/max-score: among UNMATCHED docs the score is monotone
# decreasing in dl, so one global k-smallest-(dl, doc_id)
# TakeOrderedAndProject covers every query's unmatched candidates and
# nothing docs×queries is ever materialized (r6 verdict item 6).

QLM_MU = 2000.0


def q_qlm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    postings = _postings(docs)
    dlen = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # collection unigram model: cf_t / total_tokens
    cf = postings.groupBy("token").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("total_cf"))
    p_c = cf.crossJoin(F.broadcast(total)).select(
        "token", (F.col("cf") / F.col("total_cf")).alias("p_t")
    )
    q_terms = (
        postings.filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(F.col("doc_id").alias("q_id"), "token")
    )
    # per-query scalars: |Q| and Σ ln(μ·P_t)  (vocab-keyed join, tiny)
    q_scal = (
        q_terms.join(p_c, "token")
        .groupBy("q_id")
        .agg(
            F.count("*").cast("double").alias("q_size"),
            F.sum(F.log(F.lit(QLM_MU) * F.col("p_t"))).alias("qconst"),
        )
    )
    # sparse part: matched terms only
    match = (
        postings.join(F.broadcast(q_terms), "token")
        .filter(F.col("doc_id") >= N_QUERY_DOCS)
        .join(p_c, "token")
        .groupBy("q_id", "doc_id")
        .agg(
            F.sum(
                F.log(
                    F.lit(1.0)
                    + F.col("tf") / (F.lit(QLM_MU) * F.col("p_t"))
                )
            ).alias("bonus")
        )
    )
    # Candidate bound (r6 verdict item 6): the old dense arm
    # materialized |docs|×|queries| base rows.  Exact pruning instead:
    # a doc with NO matched term scores qconst − |Q|·ln(dl + μ),
    # monotone DECREASING in dl for every query (q_size > 0), and the
    # final ranking tie-breaks by ascending doc_id — so the only
    # unmatched docs that can reach ANY query's top-k are the k
    # lexicographically-smallest (dl, doc_id) docs, ONE global
    # TakeOrderedAndProject shared by all queries (every matched-term
    # bonus is ln(1 + x) ≥ 0, so matched docs only move UP from their
    # base).  Candidates = matched pairs ∪ |Q|·k small-dl rows —
    # linear in the posting matches, never docs×queries.
    small_k = (
        dlen.filter(F.col("doc_id") >= N_QUERY_DOCS)
        .orderBy(F.asc("dl"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
        .select("doc_id")
    )
    cand = (
        match.select("q_id", "doc_id")
        .unionByName(
            q_scal.select("q_id").crossJoin(F.broadcast(small_k))
        )
        .distinct()
    )
    # Rank on the UNROUNDED score (ADVICE r7): pruning above is exact
    # on raw scores, so ranking must be too — ranking on the rounded
    # value let a pruned unmatched doc round-tie into the full-scan
    # oracle's top-k (needs dl ~ q_size·1e6, theoretical here, but the
    # raw ranking closes it for every corpus).  Only the EMITTED score
    # column rounds, mirrored in the oracle.
    scored = (
        cand.join(dlen, "doc_id")
        .join(F.broadcast(q_scal), "q_id")
        .join(match, ["q_id", "doc_id"], "left")
        .select(
            "q_id",
            "doc_id",
            (
                F.col("qconst")
                - F.col("q_size") * F.log(F.col("dl") + QLM_MU)
                + F.coalesce("bonus", F.lit(0.0))
            ).alias("score_raw"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score_raw"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOP_K)
        .select(
            "q_id",
            "doc_id",
            F.round("score_raw", 6).alias("score"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


ORACLES["text_qlm_topk"] = _POSTINGS_CTE + (
    "dlen AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY doc_id), "
    "cf AS (SELECT token, sum(tf) AS cf FROM postings GROUP BY token), "
    "pc AS (SELECT token, cf / (SELECT sum(cf) FROM cf) AS p_t FROM cf), "
    f"q AS (SELECT doc_id AS q_id, token FROM postings "
    f"WHERE doc_id < {N_QUERY_DOCS}), "
    "qscal AS (SELECT q_id, CAST(count(*) AS DOUBLE) AS q_size, "
    f"sum(ln({QLM_MU} * p_t)) AS qconst "
    "FROM q JOIN pc USING (token) GROUP BY q_id), "
    "base AS (SELECT s.q_id, d.doc_id, "
    f"s.qconst - s.q_size * ln(d.dl + {QLM_MU}) AS base "
    f"FROM dlen d CROSS JOIN qscal s WHERE d.doc_id >= {N_QUERY_DOCS}), "
    "mt AS (SELECT q.q_id, p.doc_id, "
    f"sum(ln(1 + p.tf / ({QLM_MU} * pc.p_t))) AS bonus "
    "FROM postings p JOIN q USING (token) JOIN pc ON p.token = pc.token "
    f"WHERE p.doc_id >= {N_QUERY_DOCS} GROUP BY q.q_id, p.doc_id), "
    "scored AS (SELECT b.q_id, b.doc_id, "
    "b.base + coalesce(mt.bonus, 0) AS score_raw "
    "FROM base b LEFT JOIN mt ON b.q_id = mt.q_id "
    "AND b.doc_id = mt.doc_id), "
    "rk AS (SELECT q_id, doc_id, round(score_raw, 6) AS score, "
    "CAST(row_number() OVER "
    "(PARTITION BY q_id ORDER BY score_raw DESC, doc_id) AS INTEGER) AS rk "
    "FROM scored) "
    f"SELECT * FROM rk WHERE rk <= {BM25_TOP_K}"
)

QUERIES["text_qlm_topk"] = q_qlm_topk
