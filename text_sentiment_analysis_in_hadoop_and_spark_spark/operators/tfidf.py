"""TF-IDF feature-selection Naive Bayes — the reference's 6-job
Modified_NB chain as one Catalyst DAG.

Reference semantics re-expressed (SURVEY §2.3/§2.5/§2.6, all from
/root/reference/Hadoop/Modified_NB.java):

- A4  per-(word, doc) counts w/ combiner      Modified_NB.java:49-113
- A5  per-doc length → TF = cnt/doc_len       Modified_NB.java:120-175
- A6  document frequency per word             Modified_NB.java:182-235
- M10 TF-IDF with Java *integer division*:
      ``tf * ln(N intdiv df)``                Modified_NB.java:224-233
- W1  per-doc keep top-75% by TF-IDF
      (``floor(n*75/100)``, keep ≥1)          Modified_NB.java:273-298
- W2  doc reassembly ordered by asc TF-IDF    Modified_NB.java:311-318
- W3  per-doc word dedup (implicit: the
      (word, doc) groupBy of A4)              Modified_NB.java:259,270
- J2  the re-keying chain word@doc → doc →
      word → doc becomes window shuffles in
      one DAG, no HDFS materialization        Modified_NB.java:530-652
- then train/score like NB, but counts are per-(doc, word) *presence*
  (each surviving word counts once per doc)   Modified_NB.java:329-378;
  the likelihood, log-sum scorer, argmax and metrics are NB's own
  (operators/nb.py: log_likelihoods, scores_for_docs, predictions;
  operators/metrics.py) — only the features and the prior differ

Fidelity notes:
- N for the IDF is the NUM_OF_TWEETS counter, incremented per input
  line BEFORE the empty-clean check (Modified_NB.java:56) → count of
  all train docs, empties included.
- The corpus stats for smoothing come from the FeatSel counters
  (Modified_NB.java:263,300-308): tweets = docs that reached FeatSel
  (non-empty only), words = number of *kept distinct* words per class.
- Tie order among equal TF-IDF scores is HashMap-iteration-
  nondeterministic in the reference (Modified_NB.java:274-298); we
  deterministically break ties by word (rank: tfidf DESC, word ASC),
  so the kept set is reproducible on both engines.

Scale notes (100 TB posture): the chain is three hash-partitioned
window/agg stages (by (doc, word) → doc → word → doc); AQE sizes the
shuffles, partial aggregation is automatic, nothing collects to the
driver except the 6 counter scalars (the reference's own
counters→conf relay).  The trained model is broadcast like NB's.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import (
    DOCS_CTE,
    TEST_TOKENS_CTE,
    TOKENS_CTE,
    TRAIN_TOKENS_CTE,
    doc_tokens,
    labeled_docs,
    memo,
    train_filter,
    with_ctes,
)
from .metrics import (
    accuracy,
    accuracy_sql,
    confusion,
    confusion_sql,
    weighted_metrics,
    weighted_metrics_sql,
)
from .nb import log_likelihoods, predictions, scores_for_docs, vocab_counts


# --------------------------------------------------------------------------
# building blocks (Spark side)
# --------------------------------------------------------------------------


def train_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W3 — counts per (word, doc) over the train split.  Catalyst's
    hash aggregate does partial+final (the reference wires an explicit
    combiner, Modified_NB.java:560)."""
    docs = labeled_docs(spark, sf_dir)
    tokens = doc_tokens(docs.filter(train_filter()))
    return (
        tokens.groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("label", (F.col("doc_id") % 2).cast("int"))
    )


def tfidf_scored(spark: SparkSession, sf_dir: str, n_tweets: int) -> DataFrame:
    """A5 + A6 + M10 — TF by doc window, TF-IDF with the reference's
    integer-division IDF (Modified_NB.java:230:
    ``Math.log(num_of_tweets / df)`` on ints → ``ln(floor(N/df))``).

    Scale note: document frequency is a ``groupBy("word").count()``
    (map-side partial agg, vocabulary-sized output) broadcast-joined
    back onto the (doc, word) rows — NOT a ``count(*) OVER (PARTITION
    BY word)`` window, which would shuffle and sort the entire corpus
    by word just to attach one number per word.  The df table is
    |vocab| rows regardless of corpus size, so the broadcast stays
    small at any scale."""
    wc = train_wordcount(spark, sf_dir)
    w_doc = Window.partitionBy("doc_id")
    df_tbl = wc.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    return (
        wc.withColumn("doc_len", F.sum("cnt").over(w_doc).cast("long"))
        .join(F.broadcast(df_tbl), "word")
        .withColumn(
            "tfidf",
            (F.col("cnt") / F.col("doc_len"))
            * F.log(F.floor(F.lit(n_tweets) / F.col("df"))),
        )
    )


@memo
def featsel(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """W1 — per doc keep the top ``floor(n*75/100)`` words by TF-IDF
    (at least 1; Modified_NB.java:297-298).  Returns (kept rows with
    rank, n_train_docs).  Cached: model, stats, reassembly and scoring
    all reuse it."""
    docs = labeled_docs(spark, sf_dir)
    n_tweets = docs.filter(train_filter()).count()
    scored = tfidf_scored(spark, sf_dir, n_tweets)
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    w_doc = Window.partitionBy("doc_id")
    keep = F.when(
        F.col("n_words") > 1, F.floor(F.col("n_words") * 75 / 100)
    ).otherwise(F.lit(1))
    kept = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_words", F.count("*").over(w_doc))
        .filter(F.col("rn") <= keep)
        .select("doc_id", "label", "word", "tfidf", "rn")
        .cache()
    )
    return kept, n_tweets


@memo
def featsel_model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict]:
    """Train on selected features: per-word per-class doc-presence
    counts (Modified_NB.java:329-378) + the FeatSel counter scalars
    (Modified_NB.java:263,300-308,615-640), then Laplace-smoothed
    log-likelihoods exactly like NB (same smoothing shape,
    Modified_NB.java:443-448)."""
    kept, _ = featsel(spark, sf_dir)
    stats = (
        kept.agg(
            F.countDistinct("doc_id").cast("long").alias("tweets"),
            F.countDistinct(
                F.when(F.col("label") == 1, F.col("doc_id"))
            ).cast("long").alias("pos_tweets"),
            F.countDistinct(
                F.when(F.col("label") == 0, F.col("doc_id"))
            ).cast("long").alias("neg_tweets"),
            F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
            .cast("long")
            .alias("pos_words"),
            F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
            .cast("long")
            .alias("neg_words"),
            F.countDistinct("word").cast("long").alias("features"),
        )
        .collect()[0]
        .asDict()
    )
    model = log_likelihoods(
        vocab_counts(kept),
        float(stats["pos_words"] + stats["features"]),
        float(stats["neg_words"] + stats["features"]),
    ).cache()
    return model, stats


def featsel_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score ALL test docs against the feature-selected model with NB's
    scorer (Modified_NB.java:451-522); empty-cleaning docs score
    prior-only.  The log-prior is computed driver-side (Python's
    ``math.log``), unlike NB's ``F.log`` — the two differ in the last
    bit on some ratios, so each chain keeps its own."""
    model, stats = featsel_model(spark, sf_dir)
    return scores_for_docs(
        labeled_docs(spark, sf_dir),
        model,
        F.lit(math.log(stats["pos_tweets"] / stats["tweets"])),
        F.lit(math.log(stats["neg_tweets"] / stats["tweets"])),
    )


def featsel_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return predictions(featsel_scores(spark, sf_dir))


# --------------------------------------------------------------------------
# queries() entries
# --------------------------------------------------------------------------


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return train_wordcount(spark, sf_dir).select(
        "doc_id", "label", "word", "cnt"
    )


def q_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = labeled_docs(spark, sf_dir)
    n_tweets = docs.filter(train_filter()).count()
    return tfidf_scored(spark, sf_dir, n_tweets).select(
        "doc_id",
        "word",
        "cnt",
        "doc_len",
        F.round(F.col("cnt") / F.col("doc_len"), 6).alias("tf"),
    )


def q_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        train_wordcount(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("df"))
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = labeled_docs(spark, sf_dir)
    n_tweets = docs.filter(train_filter()).count()
    return tfidf_scored(spark, sf_dir, n_tweets).select(
        "doc_id", "word", F.round("tfidf", 6).alias("tfidf")
    )


def q_df_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 approximate variant — HLL sketch instead of exact count.
    One mergeable pass (combines map-side); the cheap choice at scale
    when ±2% suffices.  Rows-only (sketches aren't oracle-portable);
    tests/test_skew.py bounds its error against the exact A6."""
    docs = labeled_docs(spark, sf_dir)
    tokens = doc_tokens(docs.filter(train_filter()))
    return tokens.groupBy("word").agg(
        F.approx_count_distinct("doc_id", rsd=0.02).alias("df_approx")
    )


def q_featsel(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept, _ = featsel(spark, sf_dir)
    return kept.select(
        "doc_id", "label", "word", F.col("rn").cast("long").alias("rn")
    )


def q_featsel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — reassembled doc text, kept words in ascending TF-IDF order
    (the reference iterates its ascending-sorted map,
    Modified_NB.java:311-318).  Ascending TF-IDF ≡ descending rank."""
    kept, _ = featsel(spark, sf_dir)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct((-F.col("rn")).alias("ord"), F.col("word")))
        ),
        lambda s: s["word"],
    )
    return kept.groupBy("doc_id", "label").agg(
        F.concat_ws(" ", ordered).alias("text")
    )


def q_featsel_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept, _ = featsel(spark, sf_dir)
    return vocab_counts(kept)


def q_featsel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, stats = featsel_model(spark, sf_dir)
    return spark.createDataFrame(
        [tuple(stats[k] for k in sorted(stats))], sorted(stats)
    )


def q_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = featsel_scores(spark, sf_dir)
    return s.select(
        "doc_id",
        "label",
        F.round("pos_score", 6).alias("pos_score"),
        F.round("neg_score", 6).alias("neg_score"),
    )


def q_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return featsel_predictions(spark, sf_dir)


def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return confusion(featsel_predictions(spark, sf_dir))


def q_f1_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_metrics(featsel_predictions(spark, sf_dir))


def q_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return accuracy(featsel_predictions(spark, sf_dir))


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_WC_CTE = (
    "wc AS (SELECT doc_id, CAST(doc_id % 2 AS INTEGER) AS label, word, "
    "CAST(count(*) AS BIGINT) AS cnt FROM train_tokens "
    "GROUP BY doc_id, word)"
)

_NTRAIN_CTE = (
    "ntrain AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs "
    "WHERE doc_id % 8 >= 2)"
)

# tf/df via windows, IDF with DuckDB integer division (//) — exactly
# Java's int-division ln(floor(N/df)).
_SCORED_TFIDF_CTE = (
    "tscore AS (SELECT wc.*, "
    "CAST(sum(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_len, "
    "CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS df, "
    "(CAST(cnt AS DOUBLE) / (sum(cnt) OVER (PARTITION BY doc_id))) * "
    "ln((SELECT n FROM ntrain) // (count(*) OVER (PARTITION BY word))) "
    "AS tfidf FROM wc)"
)

_RANKED_CTE = (
    "ranked AS (SELECT *, "
    "row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) "
    "AS rn, "
    "CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_words "
    "FROM tscore)"
)

_KEPT_CTE = (
    "kept AS (SELECT doc_id, label, word, tfidf, CAST(rn AS BIGINT) AS rn "
    "FROM ranked WHERE rn <= CASE WHEN n_words > 1 "
    "THEN (n_words * 75) // 100 ELSE 1 END)"
)

_FMODEL_CTE = (
    "fmodel AS (SELECT word, "
    "CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos_count, "
    "CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_count "
    "FROM kept GROUP BY word)"
)

_FSTATS_CTE = (
    "fstats AS (SELECT "
    "CAST(count(DISTINCT doc_id) AS BIGINT) AS tweets, "
    "CAST(count(DISTINCT CASE WHEN label = 1 THEN doc_id END) AS BIGINT) "
    "AS pos_tweets, "
    "CAST(count(DISTINCT CASE WHEN label = 0 THEN doc_id END) AS BIGINT) "
    "AS neg_tweets, "
    "CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos_words, "
    "CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_words, "
    "CAST(count(DISTINCT word) AS BIGINT) AS features FROM kept)"
)

_FLP_CTE = (
    "flp AS (SELECT word, "
    "ln((pos_count + 1) / CAST(fstats.pos_words + fstats.features AS DOUBLE)) "
    "AS lpw_pos, "
    "ln((neg_count + 1) / CAST(fstats.neg_words + fstats.features AS DOUBLE)) "
    "AS lpw_neg FROM fmodel, fstats)"
)

_FTESTD_CTE = (
    "ftestd AS (SELECT doc_id, label FROM docs WHERE doc_id % 8 < 2)"
)

_FSCORED_CTE = (
    "fscored AS (SELECT t.doc_id, sum(m.lpw_pos) AS s_pos, "
    "sum(m.lpw_neg) AS s_neg FROM test_tokens t JOIN flp m USING (word) "
    "GROUP BY t.doc_id)"
)

_FSCORES_SELECT = (
    "SELECT d.doc_id, d.label, "
    "ln(CAST(fstats.pos_tweets AS DOUBLE) / fstats.tweets) "
    "+ coalesce(s.s_pos, 0) AS pos_score, "
    "ln(CAST(fstats.neg_tweets AS DOUBLE) / fstats.tweets) "
    "+ coalesce(s.s_neg, 0) AS neg_score "
    "FROM ftestd d LEFT JOIN fscored s USING (doc_id), fstats"
)

_BASE = (DOCS_CTE, TOKENS_CTE, TRAIN_TOKENS_CTE)
_CHAIN = _BASE + (_WC_CTE, _NTRAIN_CTE, _SCORED_TFIDF_CTE, _RANKED_CTE, _KEPT_CTE)
_FULL = _CHAIN + (
    TEST_TOKENS_CTE,
    _FMODEL_CTE,
    _FSTATS_CTE,
    _FLP_CTE,
    _FTESTD_CTE,
    _FSCORED_CTE,
)

_FPREDS_SQL = (
    with_ctes(*_FULL, "fscores AS (" + _FSCORES_SELECT + ")")
    + "SELECT doc_id, label, CAST(CASE WHEN pos_score > neg_score THEN 1 "
    "ELSE 0 END AS INTEGER) AS prediction FROM fscores"
)

ORACLES: dict[str, str] = {
    "tfidf_wordcount": with_ctes(*_BASE, _WC_CTE)
    + "SELECT doc_id, label, word, cnt FROM wc",
    "tfidf_tf": with_ctes(*_BASE, _WC_CTE, _NTRAIN_CTE, _SCORED_TFIDF_CTE)
    + "SELECT doc_id, word, cnt, doc_len, "
    "round(CAST(cnt AS DOUBLE) / doc_len, 6) AS tf FROM tscore",
    "tfidf_df": with_ctes(*_BASE, _WC_CTE)
    + "SELECT word, CAST(count(*) AS BIGINT) AS df FROM wc GROUP BY word",
    "tfidf_scores": with_ctes(*_BASE, _WC_CTE, _NTRAIN_CTE, _SCORED_TFIDF_CTE)
    + "SELECT doc_id, word, round(tfidf, 6) AS tfidf FROM tscore",
    "tfidf_featsel": with_ctes(*_CHAIN)
    + "SELECT doc_id, label, word, rn FROM kept",
    "tfidf_featsel_docs": with_ctes(*_CHAIN)
    + "SELECT doc_id, label, "
    "string_agg(word, ' ' ORDER BY rn DESC) AS text "
    "FROM kept GROUP BY doc_id, label",
    "tfidf_featsel_model": with_ctes(*_CHAIN, _FMODEL_CTE)
    + "SELECT word, pos_count, neg_count FROM fmodel",
    "tfidf_featsel_stats": with_ctes(*_CHAIN, _FSTATS_CTE)
    + "SELECT features, neg_tweets, neg_words, pos_tweets, pos_words, "
    "tweets FROM fstats",
    "tfidf_nb_scores": (
        with_ctes(*_FULL, "fscores AS (" + _FSCORES_SELECT + ")")
        + "SELECT doc_id, label, round(pos_score, 6) AS pos_score, "
        "round(neg_score, 6) AS neg_score FROM fscores"
    ),
    "tfidf_nb_predictions": _FPREDS_SQL,
    "tfidf_nb_confusion": confusion_sql(_FPREDS_SQL),
    "tfidf_nb_accuracy": accuracy_sql(_FPREDS_SQL),
    "tfidf_nb_f1_metrics": weighted_metrics_sql(_FPREDS_SQL),
}

QUERIES = {
    "tfidf_wordcount": q_wordcount,
    "tfidf_tf": q_tf,
    "tfidf_df": q_df,
    "tfidf_df_approx": q_df_approx,
    "tfidf_scores": q_tfidf,
    "tfidf_featsel": q_featsel,
    "tfidf_featsel_docs": q_featsel_docs,
    "tfidf_featsel_model": q_featsel_model,
    "tfidf_featsel_stats": q_featsel_stats,
    "tfidf_nb_scores": q_scores,
    "tfidf_nb_predictions": q_predictions,
    "tfidf_nb_confusion": q_confusion,
    "tfidf_nb_accuracy": q_accuracy,
    "tfidf_nb_f1_metrics": q_f1_metrics,
}


# --- per-document keyword extraction --------------------------------------

TOP_KEYWORDS = 3


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keyword extraction — the document-
    tagging readout built on the M10 score table (reference computes
    the scores for feature selection, Spark/TFIDF/src/main/scala/
    TFIDF.scala; keyword extraction is the other classic consumer).

    Rank is over the ROUNDED score with the word as tie-break, so the
    ordering is bit-stable across engines.  Scale: one doc-partitioned
    row_number window over the already-aggregated score table — same
    shape as W1 feature selection."""
    docs = labeled_docs(spark, sf_dir)
    n_tweets = docs.filter(train_filter()).count()
    scored = tfidf_scored(spark, sf_dir, n_tweets).select(
        "doc_id", "word", F.round("tfidf", 6).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_KEYWORDS)
        .select("doc_id", "rank", "word", "tfidf")
    )


ORACLES["tfidf_keywords"] = (
    with_ctes(
        *_BASE, _WC_CTE, _NTRAIN_CTE, _SCORED_TFIDF_CTE
    )
    + "SELECT doc_id, rank, word, tfidf FROM ("
    "SELECT doc_id, word, round(tfidf, 6) AS tfidf, "
    "row_number() OVER (PARTITION BY doc_id "
    "ORDER BY round(tfidf, 6) DESC, word) AS rank FROM tscore) "
    f"WHERE rank <= {TOP_KEYWORDS}"
)

QUERIES["tfidf_keywords"] = q_tfidf_keywords
