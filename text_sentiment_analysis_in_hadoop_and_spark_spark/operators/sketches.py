"""Mergeable Datasketches set-algebra and quantile surfaces.

Extends the HLL rollup (streaming/windowed.py,
``events_uniques_sketch_rollup``) with the two other sketch families a
100 TB corpus pipeline leans on:

- **Theta sketches** support set ALGEBRA, not just cardinality:
  intersection / difference / union estimates over compact O(KB)
  binaries.  That turns "how much does corpus A overlap corpus B"
  (cross-language contamination, source novelty, audience overlap)
  from a shingle-level equi-join over the full corpus into an
  aggregate-once-then-combine-sketches problem — each partition emits
  one sketch, set arithmetic happens on the tiny sketch table.
- **KLL quantile sketches** are the mergeable twin of the GK
  percentile query (``events_percentiles_approx``): per-day sketches
  persist at ingest time; weekly/monthly/all-time quantiles are a
  merge over stored sketches instead of a re-scan + sort of the raw
  history.  Unlike GK, KLL binaries union losslessly across days.

All three queries are rows-only by SURVEY §5's split (sketch
estimates are engine-specific; DuckDB's approximation families differ
bit-for-bit), pinned instead by estimate-vs-exact error-bound tests in
``tests/test_sketches.py``.

The reference has no sketch surface — its distinct counts are exact
groupBys (/root/reference/Spark/TFIDF/src/main/scala/TFIDF.scala's
document-frequency pass); these are the scale path for the same
questions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import doc_shingles

# lgNomEntries for theta sketches: 2^12 = 4096 retained hashes →
# ~1.6% relative standard error on unions; intersection error scales
# with the UNION size (Datasketches docs), which the tests bound.
THETA_LGK = 12

# KLL k=200 → ~1.65% one-sided normalized rank error (the library's
# default accuracy class); the test asserts a 3% two-sided bound.
KLL_K = 200

QUANTILES = (0.5, 0.9, 0.99)

DAY_SEC = 86400


def _lang_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One theta sketch of the distinct word-3-gram shingle set per
    language.  The only corpus-sized pass: shingle → partial sketch
    per task → one tiny (lang, sketch) row per language."""
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs.select("doc_id", "text")).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return sh.groupBy("lang").agg(
        F.theta_sketch_agg("shingle", F.lit(THETA_LGK)).alias("sk")
    )


def q_lang_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language shingle overlap via theta set algebra: for every
    unordered language pair, estimated |A|, |B|, |A∩B|, |A∪B| and the
    Jaccard estimate — the "is my zh split contaminated with en
    boilerplate" dashboard.

    Scale shape: the corpus is touched ONCE (the per-lang sketch
    aggregate, partial+final like any groupBy); the pairwise algebra
    runs on a ~5-row sketch table, so adding languages or re-running
    with different pairings never re-scans documents.  Rows-only:
    estimate-vs-exact bounds pinned in tests/test_sketches.py."""
    sks = _lang_sketches(spark, sf_dir)
    a = sks.select(
        F.col("lang").alias("lang_a"), F.col("sk").alias("sk_a")
    )
    b = sks.select(
        F.col("lang").alias("lang_b"), F.col("sk").alias("sk_b")
    )
    # broadcast the (|langs|-row) right side: the non-equi pairing
    # must plan as a tiny BroadcastNestedLoopJoin, never a shuffled
    # CartesianProduct (tests/test_plans.py sweeps for that node)
    pairs = a.join(F.broadcast(b), F.col("lang_a") < F.col("lang_b"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection("sk_a", "sk_b")
    )
    union = F.theta_sketch_estimate(F.theta_union("sk_a", "sk_b"))
    return pairs.select(
        "lang_a",
        "lang_b",
        F.theta_sketch_estimate("sk_a").cast("long").alias("est_a"),
        F.theta_sketch_estimate("sk_b").cast("long").alias("est_b"),
        inter.cast("long").alias("est_intersection"),
        union.cast("long").alias("est_union"),
        F.round(inter / union, 6).alias("jaccard_est"),
    )


def q_source_novelty_theta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source NOVEL content share via theta difference: for each
    ``source``, the estimated count of shingles appearing in that
    source and in NO other source (``theta_difference`` of the
    source's sketch against the union of the rest) — the "which feed
    is actually adding new text vs mirroring the others" audit that
    drives crawl budget.

    Same one-scan shape as the language overlap: per-source sketches
    once, then an all-pairs union of the (tiny) other-source sketch
    rows per source.  Rows-only; bounds in tests/test_sketches.py."""
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs.select("doc_id", "text")).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    sks = sh.groupBy("source").agg(
        F.theta_sketch_agg("shingle", F.lit(THETA_LGK)).alias("sk")
    )
    others = sks.select(
        F.col("source").alias("other"), F.col("sk").alias("sk_other")
    )
    rest = (
        sks.join(F.broadcast(others), F.col("source") != F.col("other"))
        .groupBy("source", "sk")
        .agg(F.theta_union_agg("sk_other", F.lit(THETA_LGK)).alias("sk_rest"))
    )
    est_total = F.theta_sketch_estimate("sk")
    est_unique = F.theta_sketch_estimate(
        F.theta_difference("sk", "sk_rest")
    )
    return rest.select(
        "source",
        est_total.cast("long").alias("est_total"),
        est_unique.cast("long").alias("est_unique"),
        F.round(est_unique / est_total, 6).alias("unique_share"),
    )


def q_value_quantiles_kll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchase-value quantiles as a MERGEABLE KLL rollup: one KLL
    sketch per day (the artifact an ingest job would persist), daily
    p50/p90/p99 read from each day's sketch, and the period total
    (``day_epoch = -1``) from ``kll_merge_agg_double`` over the daily
    sketches — never re-scanning raw events.  The GK twin
    (``events_percentiles_approx``) answers one ad-hoc query cheaply;
    THIS is the shape for a quantile dashboard that must extend
    incrementally day over day at 100 TB.

    Rows-only (sketch quantile positions are library-specific);
    tests/test_sketches.py bounds the normalized rank error of every
    emitted quantile against the exact distribution."""
    from ..streaming.windowed import load_events

    ev = load_events(spark, sf_dir)
    pur = ev.filter(F.col("event_type") == "purchase").select(
        ((F.expr(f"epoch_sec DIV {DAY_SEC}")) * DAY_SEC)
        .cast("long")
        .alias("day_epoch"),
        F.col("value"),
    )
    daily_sk = pur.groupBy("day_epoch").agg(
        F.kll_sketch_agg_double("value", F.lit(KLL_K)).alias("sk")
    )
    qcols = [
        F.round(
            F.kll_sketch_get_quantile_double("sk", F.lit(q)), 6
        ).alias(f"p{int(q * 100)}")
        for q in QUANTILES
    ]
    daily = daily_sk.select("day_epoch", *qcols)
    merged = daily_sk.agg(
        F.kll_merge_agg_double("sk", F.lit(KLL_K)).alias("sk")
    )
    total = merged.select(
        F.lit(-1).cast("long").alias("day_epoch"), *qcols
    )
    return daily.unionByName(total)


QUERIES = {
    "text_lang_overlap_theta": q_lang_overlap_theta,
    "text_source_novelty_theta": q_source_novelty_theta,
    "events_value_quantiles_kll": q_value_quantiles_kll,
}

# all rows-only: engine-specific sketch estimates (SURVEY §5 split)
ORACLES: dict[str, str] = {}


# --- count-min sketch token counter (r6) ---------------------------------
#
# The classic bounded-memory frequency summary (Cormode & Muthu-
# krishnan 2005): d=4 hash rows × w=1024 counters hold APPROXIMATE
# counts for an unbounded vocabulary in 16 KB of state — the shape a
# 100 TB token-frequency pass wants when the exact per-token groupBy's
# shuffle (vocabulary-sized) is the bottleneck.  Estimates are
# min over rows of the hashed cell counts, and are ONE-SIDED:
# n_cms ≥ n_exact always, with overestimate ≤ ε·N (ε = e/w) at
# probability 1-δ (δ = e^-d) — the invariant the test pins row by row.
#
# Unlike the library sketches above (theta/KLL/HLL — engine-specific
# binary states, rows-only by design), THIS sketch is built from the
# repo's portable md5-derived hashes, so the DuckDB oracle rebuilds
# the identical 4×1024 table and the estimates are exactly
# reproducible — a fully oracle-checked sketch.
#
# Scale shape: THIS query's probe side reports exact counts, so the
# per-token rollup is inherent to it — the cells therefore derive
# from that rollup (Σ n per cell ≡ per-occurrence count), hashing
# once per distinct token (r12).  A standalone CMS pass on a corpus
# whose vocabulary outgrows the rollup would instead hash per
# occurrence into the d·w-capped partial agg — the classic shape —
# but paying it HERE doubled the hash work for nothing.

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_PROBE_K = 500  # probe the exact top-K so overestimates are visible


def _cms_salted(r_col, token_col):
    from ..functions.hashing import hex32

    return hex32(
        F.concat(
            F.lit("cms"), r_col.cast("string"), F.lit(":"), token_col
        )
    )


def q_text_cms_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import textstats

    docs = load_table(spark, sf_dir, "documents")
    # r12 (guide §1.2/§2.3): the probe side already pays the exact
    # per-token groupBy (it reports n_exact), so build the CMS cells
    # from the SAME token-counts rollup instead of re-exploding every
    # occurrence 4×: cell_n = Σ n over tokens hashing into the cell ≡
    # the old per-occurrence count, and the 4 salted md5 hashes are
    # now computed once per DISTINCT token, not once per occurrence
    # (~200× fewer md5 evaluations at sf0.1).  The shared subtree also
    # lets Catalyst reuse one token-counts exchange for cells + cand.
    tok_counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    rs = F.array([F.lit(r) for r in range(CMS_DEPTH)])
    cells = (
        tok_counts.select("token", "n", F.explode(rs).alias("r"))
        .groupBy(
            "r",
            (_cms_salted(F.col("r"), F.col("token")) % CMS_WIDTH).alias(
                "c"
            ),
        )
        .agg(F.sum("n").cast("long").alias("cell_n"))
    )
    # identical expression chain to textstats.q_top_tokens (same
    # tokenization: cleaning.tokenize == split(text, ' ')), sharing tok_counts
    cand = (
        tok_counts.orderBy(F.desc("n"), F.asc("token"))
        .limit(textstats.TOP_TOKENS_K)
        .select("token", F.col("n").alias("n_exact"))
    )
    probe = cand.select(
        "token", "n_exact", F.explode(rs).alias("r")
    ).withColumn(
        "c", _cms_salted(F.col("r"), F.col("token")) % CMS_WIDTH
    )
    est = probe.join(F.broadcast(cells), ["r", "c"]).groupBy(
        "token", "n_exact"
    ).agg(F.min("cell_n").cast("long").alias("n_cms"))
    return est.select(
        "token",
        "n_exact",
        "n_cms",
        (F.col("n_cms") - F.col("n_exact")).cast("long").alias(
            "overestimate"
        ),
    )


def _cms_sql() -> str:
    from ..functions.hashing import hex32_sql

    cell_hash = hex32_sql(
        "'cms' || CAST(r AS VARCHAR) || ':' || token"
    )
    return (
        "WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token "
        "FROM documents), "
        f"rws AS (SELECT token, r FROM toks CROSS JOIN "
        f"(SELECT unnest(range({CMS_DEPTH})) AS r) t), "
        f"cells AS (SELECT r, {cell_hash} % {CMS_WIDTH} AS c, "
        "CAST(count(*) AS BIGINT) AS cell_n FROM rws GROUP BY 1, 2), "
        "exact AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact "
        "FROM toks GROUP BY token "
        f"ORDER BY n_exact DESC, token LIMIT {CMS_PROBE_K}), "
        "probe AS (SELECT e.token, e.n_exact, t.r, "
        f"{cell_hash} % {CMS_WIDTH} AS c FROM exact e CROSS JOIN "
        f"(SELECT unnest(range({CMS_DEPTH})) AS r) t), "
        "j AS (SELECT p.token, p.n_exact, cells.cell_n "
        "FROM probe p JOIN cells ON cells.r = p.r AND cells.c = p.c) "
        "SELECT token, n_exact, CAST(min(cell_n) AS BIGINT) AS n_cms, "
        "CAST(min(cell_n) - n_exact AS BIGINT) AS overestimate "
        "FROM j GROUP BY token, n_exact"
    )


QUERIES["text_cms_top_tokens"] = q_text_cms_top_tokens
ORACLES["text_cms_top_tokens"] = _cms_sql()
