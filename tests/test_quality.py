"""Semantics of the corpus-quality gates (operators/quality.py):
repetition fractions on crafted docs, PII scrub on organic + injected
PII, and the contamination overlap on a planted benchmark member."""

from __future__ import annotations

import hashlib

import pytest

from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
    BENCH_MOD,
    BENCH_RESIDUE,
    CONTAM_K,
    q_contamination,
    q_pii_redact,
    q_repetition,
)


def _write_docs(spark, tmp_path, rows):
    d = tmp_path / "q"
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_repetition_fractions(spark, tmp_path):
    rows = [
        (1, "a a a a"),                    # degenerate repetition
        (2, "x"),                          # single token: all zero
        (3, "one two three four one two"), # mild repetition, no runs
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in q_repetition(spark, sf).collect()}

    assert got[1]["dup_token_frac"] == 0.75
    assert got[1]["adj_repeat_frac"] == 1.0
    # overlapping "a a" occurrences would give 2*3/4 = 1.5 — capped
    assert got[1]["top_bigram_frac"] == 1.0
    assert got[1]["keep"] is False

    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["adj_repeat_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.0
    assert got[2]["keep"] is True

    assert got[3]["dup_token_frac"] == round(1 - 4 / 6, 6)
    assert got[3]["adj_repeat_frac"] == 0.0
    # "one two" appears twice over 6 tokens → 2*2/6
    assert got[3]["top_bigram_frac"] == round(4 / 6, 6)


def test_pii_redaction(spark, tmp_path):
    # doc 7 carries ORGANIC PII on top of the injected contact line
    rows = [
        (7, "mail me at bob@corp.io or ping 192.168.0.1 ok"),
        (8, "plain words only"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in q_pii_redact(spark, sf).collect()}

    # injected line contributes 1 email + 1 ip + 1 phone to every doc
    assert got[8]["n_emails"] == 1
    assert got[8]["n_ips"] == 1
    assert got[8]["n_phones"] == 1
    assert got[7]["n_emails"] == 2
    assert got[7]["n_ips"] == 2

    for doc_id in (7, 8):
        red = got[doc_id]["redacted"]
        assert "<EMAIL>" in red and "<IP>" in red and "<PHONE>" in red
        assert "@" not in red
        assert "+1-555-" not in red
    assert "bob@corp.io" not in got[7]["redacted"]
    assert "192.168.0.1" not in got[7]["redacted"]
    assert got[8]["redacted"].startswith("plain words only contact ")


def _hex32(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


def test_contamination_planted_overlap(spark, tmp_path):
    base = "one two three four five six seven eight"
    # search a pad suffix that lands the doc in the benchmark residue
    # class (membership is a pure content-hash function, so the test
    # plants a member the same way a user cannot: by construction)
    bench_text = next(
        t
        for i in range(10_000)
        if (t := f"{base} pad{i}") and _hex32(t) % BENCH_MOD == BENCH_RESIDUE
    )
    corpus_text = f"{base} tailx taily"
    assert _hex32(corpus_text) % BENCH_MOD != BENCH_RESIDUE
    clean_text = "zz yy xx ww vv uu tt ss"
    assert _hex32(clean_text) % BENCH_MOD != BENCH_RESIDUE

    sf = _write_docs(
        spark, tmp_path, [(1, bench_text), (2, corpus_text), (3, clean_text)]
    )
    got = {r["doc_id"]: r for r in q_contamination(spark, sf).collect()}

    # benchmark members are excluded from the output
    assert 1 not in got
    # corpus doc: 10 tokens → 6 shingles; the 4 shingles fully inside
    # `base` (8 tokens → 8-K+1 = 4) also occur in the benchmark doc
    toks = corpus_text.split()
    assert got[2]["n_grams"] == len(toks) - CONTAM_K + 1 == 6
    assert got[2]["n_hits"] == 4
    assert got[2]["contam_frac"] == round(4 / 6, 6)
    assert got[3]["n_hits"] == 0
    assert got[3]["contam_frac"] == 0.0


def test_lm_score_semantics(spark, tmp_path):
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
        q_lm_score,
    )
    import math

    rows = [
        (1, "the cat sat"),   # bigrams shared with doc 2's prefix
        (2, "the cat ran"),   # diverges on the second bigram
        (3, "zq zq zq zq"),   # fully predictable: P(zq|zq) = 1
        (4, "x"),             # no bigrams
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in q_lm_score(spark, sf).collect()}
    # doc 3: every bigram (zq,zq) has c12 = c1 = 3 → entropy 0
    assert got[3]["n_bigrams"] == 3 and got[3]["cross_entropy"] == 0.0
    # doc 4: no bigrams → coalesced zeros
    assert got[4]["n_bigrams"] == 0 and got[4]["cross_entropy"] == 0.0
    # docs 1/2: "the cat" certain (c=2/2); second bigram splits 1-of-2
    expect = round(-(math.log(1.0) + math.log(0.5)) / 2, 6)
    assert got[1]["cross_entropy"] == expect == got[2]["cross_entropy"]


def test_phrase_pmi_ranks_planted_collocation_first(spark, tmp_path):
    """A pair of tokens that ONLY ever occur together (and meet the
    support floor) must out-PMI every free-floating pair."""
    from pyspark.sql import functions as F

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import (
        common,
        quality,
    )

    rng_words = [f"w{i}" for i in range(20)]
    rows = []
    # 10 docs containing the exclusive collocation "hong kong"
    for d in range(10):
        filler = " ".join(rng_words[d % 20 : d % 20 + 3])
        rows.append((d, f"{filler} hong kong {filler}"))
    # 30 docs of free-floating filler (every pair well-mixed)
    for d in range(10, 40):
        rows.append((d, " ".join(rng_words[(d + i) % 20] for i in range(8))))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    sf = tmp_path / "sf_pmi"
    sf.mkdir()
    docs.coalesce(1).write.parquet(str(sf / "documents.parquet"))
    try:
        top = quality.QUERIES["text_phrase_pmi"](spark, str(sf)).collect()
    finally:
        common.clear_caches(str(sf))
    assert top, "support floor dropped everything"
    assert (top[0]["w1"], top[0]["w2"]) == ("hong", "kong"), top[:3]


def test_contamination_bloom_equals_exact(spark):
    """The bloom pre-filter is a physical strategy only: its result
    must equal the exact broadcast-join form row for row, and the
    probe must appear in the plan as a getbit filter feeding ONE
    broadcast verify join."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
        q_contamination_bloom,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contam_frac"])
        for r in q_contamination(spark, sf).collect()
    }
    bloom_df = q_contamination_bloom(spark, sf)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contam_frac"])
        for r in bloom_df.collect()
    }
    assert got == exact

    plan = bloom_df._jdf.queryExecution().executedPlan().toString()
    assert "getbit" in plan
    # both the bitset side and the verify side stay broadcast — the
    # corpus never shuffles into a join
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_source_divergence_detects_planted_drift(spark, tmp_path):
    """A source whose vocabulary diverges from the corpus must score a
    strictly higher KL than sources drawn from the shared
    distribution; KL is non-negative."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
        q_source_divergence,
    )

    rows = (
        [(i, "alpha beta gamma delta", "en", "web", 23) for i in range(20)]
        + [(100 + i, "alpha beta gamma delta", "en", "books", 23) for i in range(20)]
        + [(200 + i, "zq zq zq zq", "en", "spam", 11) for i in range(20)]
    )
    d = tmp_path / "kl"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        f"{d}/documents.parquet",
    )
    out = {
        r["source"]: r["kl_divergence"]
        for r in q_source_divergence(spark, str(d)).collect()
    }
    assert all(v >= 0 for v in out.values())
    # web/books aren't near zero: the corpus marginal includes spam's
    # tokens, shifting q for everyone — the MONITOR signal is spam
    # scoring well clear of the shared-distribution sources
    assert out["spam"] > 2 * max(out["web"], out["books"])
    assert out["web"] == out["books"]  # identical distributions tie


# --- nb_calibration / text_lexicon_sentiment (r5) --------------------

from pyspark.sql import functions as F


def test_nb_calibration_covers_test_split_and_monotone_tendency(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    rows = {
        r["margin_bucket"]: r
        for r in nb.q_nb_calibration(spark, SF_DIR).collect()
    }
    n_total = sum(r["n"] for r in rows.values())
    n_test = nb.q_nb_scores(spark, SF_DIR).count()
    assert n_total == n_test
    for r in rows.values():
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["mean_abs_margin"] >= 0.0
    order = ["0-1", "1-2", "2-4", "4-8", "8+"]
    # mean margins must respect the bucket fences by construction
    means = [rows[b]["mean_abs_margin"] for b in order if b in rows]
    assert means == sorted(means)


def test_lexicon_sentiment_scores_match_python(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import (
        textstats,
    )

    got = {
        r["doc_id"]: r
        for r in textstats.q_lexicon_sentiment(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(SF_DIR + "/documents.parquet").collect()
    assert len(got) == len(docs)
    covered = 0
    for d in docs:
        toks = d["text"].split(" ")
        score = sum(textstats.LEXICON.get(t, 0) for t in toks)
        n_scored = sum(1 for t in toks if t in textstats.LEXICON)
        r = got[d["doc_id"]]
        assert r["n_tokens"] == len(toks)
        assert r["n_scored"] == n_scored
        assert r["score"] == score
        assert r["polarity"] == (score > 0) - (score < 0)
        covered += n_scored > 0
    assert covered > 0, "lexicon matched nothing — dead fixture"


def test_nb_auc_matches_pairwise_definition(spark):
    """Independent recomputation: AUC as the literal pairwise
    P(margin+ > margin-) + 0.5 P(tie) over collected scores."""
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.nb import (
        q_nb_auc,
        q_nb_scores,
    )

    r = q_nb_auc(spark, SF_DIR).collect()[0]
    rows = q_nb_scores(spark, SF_DIR).collect()
    pos = [x["pos_score"] - x["neg_score"] for x in rows if x["label"] == 1]
    neg = [x["pos_score"] - x["neg_score"] for x in rows if x["label"] == 0]
    assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
    wins = ties = 0
    for p in pos:
        for n in neg:
            if p > n:
                wins += 1
            elif p == n:
                ties += 1
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(r["auc"] - auc) < 1e-6
    assert abs(r["gini"] - (2 * auc - 1)) < 1e-6


def test_learning_curve_nesting_and_final_point(spark):
    """Quarter 4 trains on the FULL train split, so its accuracy must
    equal the standard nb_accuracy; train sizes strictly grow."""
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.nb import (
        q_nb_accuracy,
        q_nb_learning_curve,
    )

    rows = {
        r["train_quarter"]: r
        for r in q_nb_learning_curve(spark, SF_DIR).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    sizes = [rows[q]["n_train"] for q in (1, 2, 3, 4)]
    assert sizes == sorted(sizes) and sizes[0] < sizes[-1]
    n_tests = {rows[q]["n_test"] for q in rows}
    assert len(n_tests) == 1  # fixed test split
    full = q_nb_accuracy(spark, SF_DIR).collect()[0]
    assert rows[4]["accuracy"] == full["accuracy"]
    assert rows[4]["n_test"] == full["n_test"]


def test_kneser_ney_matches_python_recompute(spark):
    """Independent recomputation of the interpolated-KN cross-entropy
    for a handful of docs from raw token lists."""
    import math
    from collections import Counter, defaultdict

    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
        KN_DISCOUNT,
        q_lm_kneser_ney,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import load_table

    got = {
        r["doc_id"]: r for r in q_lm_kneser_ney(spark, SF_DIR).collect()
    }
    texts = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .collect()
    }
    c12 = Counter()
    for tks in texts.values():
        for a, b in zip(tks, tks[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    t1 = Counter()
    cont2 = Counter()
    for (a, b), n in c12.items():
        c1[a] += n
        t1[a] += 1
        cont2[b] += 1
    t_total = len(c12)
    d = KN_DISCOUNT
    for doc_id in sorted(texts)[:8]:
        tks = texts[doc_id]
        bgs = list(zip(tks, tks[1:]))
        if not bgs:
            assert got[doc_id]["n_bigrams"] == 0
            continue
        s = 0.0
        for a, b in bgs:
            p = max(c12[(a, b)] - d, 0.0) / c1[a] + (
                d * t1[a] / c1[a]
            ) * (cont2[b] / t_total)
            s += math.log(p)
        ce = -s / len(bgs)
        assert got[doc_id]["n_bigrams"] == len(bgs)
        assert abs(got[doc_id]["cross_entropy_kn"] - ce) < 1e-5, doc_id


def test_nb_lift_gains_reconciles_and_front_loads(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    rows = sorted(
        nb.q_nb_lift_gains(spark, SF_DIR).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, len(rows) + 1))
    scores = nb.q_nb_scores(spark, SF_DIR).collect()
    n, n_pos = len(scores), sum(r["label"] for r in scores)
    assert sum(r["n"] for r in rows) == n
    assert sum(r["n_pos"] for r in rows) == n_pos
    # ntile sizes differ by at most one
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # gains curve is the running positive share, ending at exactly 1
    cum = 0
    for r in rows:
        cum += r["n_pos"]
        assert abs(r["cum_capture"] - round(cum / n_pos, 6)) <= 1e-9
        base = n_pos / n
        assert abs(r["lift"] - round(r["precision"] / base, 6)) <= 1e-5
    assert abs(rows[-1]["cum_capture"] - 1.0) <= 1e-9
    # serial recomputation of decile 1 from the scored rows themselves
    ordered = sorted(
        scores,
        key=lambda r: (-(r["pos_score"] - r["neg_score"]), r["doc_id"]),
    )
    d1 = ordered[: rows[0]["n"]]
    assert rows[0]["n_pos"] == sum(r["label"] for r in d1)


# An EMPTY documents table must yield a well-formed empty or zero
# result: query → expected row count.  The scalar relay maps the NULL
# sums of an empty training split to 0, and the class priors of an
# empty split are NULL instead of a driver-side division by zero.
_EMPTY_CORPUS_ROWS = {
    "nb_accuracy": 1,
    "nb_confusion": 0,
    "nb_uncertainty_sample": 0,
    "nb_null_calibration": 1,
    "tfidf_nb_accuracy": 1,
    "nb_learning_curve": 4,
    "nb_cv_accuracy": 5,
}


@pytest.mark.parametrize("name", sorted(_EMPTY_CORPUS_ROWS))
def test_empty_corpus_degrades_gracefully(spark, tmp_path, name):
    import os

    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.common import (
        clear_caches,
    )

    d = str(tmp_path / "empty_sf")
    os.makedirs(d)
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(0)
        .write.parquet(os.path.join(d, "documents.parquet"))
    )
    clear_caches()
    try:
        rows = [r.asDict() for r in entrymod.queries()[name](spark, d).collect()]
    finally:
        clear_caches()
    assert len(rows) == _EMPTY_CORPUS_ROWS[name]
    for r in rows:
        assert all(r[c] == 0 for c in ("n_test", "n_correct", "n_train") if c in r)
        assert r.get("accuracy") is None


def test_nb_cv_folds_partition_the_corpus(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    rows = sorted(
        nb.q_nb_cv_accuracy(spark, SF_DIR).collect(),
        key=lambda r: r["fold"],
    )
    assert [r["fold"] for r in rows] == list(range(nb.CV_FOLDS))
    n_docs = spark.read.parquet(SF_DIR + "/documents.parquet").count()
    # test folds tile the corpus exactly once
    assert sum(r["n_test"] for r in rows) == n_docs
    for r in rows:
        # each fold trains on everything outside its own test slice
        assert r["n_train"] == n_docs - r["n_test"]
        assert 0 <= r["n_correct"] <= r["n_test"]
        assert abs(r["accuracy"] - round(r["n_correct"] / r["n_test"], 6)) <= 1e-9


def test_signal_correlation_matches_numpy(spark):
    from conftest import SF_DIR

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
        _SIGCORR_SCALE,
        q_lm_score,
        q_readability,
        q_signal_correlation,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.textstats import (
        q_text_quality,
    )

    rows = {
        (r["signal_a"], r["signal_b"]): r
        for r in q_signal_correlation(spark, SF_DIR).collect()
    }
    assert len(rows) == 3
    q = {r["doc_id"]: r["quality"] for r in q_text_quality(spark, SF_DIR).collect()}
    lm = {r["doc_id"]: r["cross_entropy"] for r in q_lm_score(spark, SF_DIR).collect()}
    fl = {r["doc_id"]: r["flesch_score"] for r in q_readability(spark, SF_DIR).collect()}
    ids = sorted(set(q) & set(lm) & set(fl))
    import numpy as np

    sig = {
        "quality": [round(q[i] * _SIGCORR_SCALE) for i in ids],
        "lm_ce": [round(lm[i] * _SIGCORR_SCALE) for i in ids],
        "flesch": [round(fl[i] * _SIGCORR_SCALE) for i in ids],
    }
    for (a, b), r in rows.items():
        assert r["n_docs"] == len(ids)
        want = float(np.corrcoef(sig[a], sig[b])[0, 1])
        # python round() is banker's; the engines round half-away —
        # agreement is bounded by the milli-unit quantization itself
        assert abs(r["pearson_r"] - want) <= 1e-3, (a, b, want)
        assert -1.0 <= r["pearson_r"] <= 1.0


def test_uncertainty_sample_is_the_k_smallest_margins(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    df = nb.q_nb_uncertainty_sample(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # bounded top-k, no global sort
    rows = sorted(df.collect(), key=lambda r: r["rank"])
    n_test = nb.q_nb_scores(spark, SF_DIR).count()
    assert len(rows) == min(nb.UNCERTAIN_K, n_test)
    # ranks are 1..k and margins non-decreasing
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a["abs_margin"], a["doc_id"]) < (b["abs_margin"], b["doc_id"])
    # nothing outside the sample is more uncertain than the sample max
    scores = nb.q_nb_scores(spark, SF_DIR).collect()
    margins = sorted(
        (round(abs(s["pos_score"] - s["neg_score"]), 6), s["doc_id"])
        for s in scores
    )
    want_ids = [d for _, d in margins[: len(rows)]]
    assert [r["doc_id"] for r in rows] == want_ids


def test_top_features_are_extremes_of_the_model(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    rows = nb.q_nb_top_features(spark, SF_DIR).collect()
    pos = sorted(
        (r for r in rows if r["direction"] == "positive"),
        key=lambda r: r["rank"],
    )
    neg = sorted(
        (r for r in rows if r["direction"] == "negative"),
        key=lambda r: r["rank"],
    )
    model, _ = nb.nb_model(spark, SF_DIR)
    from pyspark.sql import functions as F

    all_scores = sorted(
        (
            (round(r["lpw_pos"] - r["lpw_neg"], 6), r["word"])
            for r in model.collect()
        ),
    )
    k = min(nb.TOP_FEATURES, len(all_scores))
    assert len(pos) == len(neg) == k
    # negative direction = the k smallest log-odds, in order
    assert [(r["log_odds"], r["word"]) for r in neg] == all_scores[:k]
    # positive direction = the k largest, descending
    want_pos = sorted(all_scores, key=lambda t: (-t[0], t[1]))[:k]
    assert [(r["log_odds"], r["word"]) for r in pos] == want_pos


def test_label_issues_are_the_most_confident_disagreements(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    rows = sorted(
        nb.q_nb_label_issues(spark, SF_DIR).collect(),
        key=lambda r: r["rank"],
    )
    assert rows
    scores = nb.q_nb_scores(spark, SF_DIR).collect()
    dis = sorted(
        (
            (-round(abs(s["pos_score"] - s["neg_score"]), 6), s["doc_id"])
            for s in scores
            if int(s["pos_score"] > s["neg_score"]) != s["label"]
        ),
    )
    k = min(nb.LABEL_ISSUES_K, len(dis))
    assert len(rows) == k
    assert [r["doc_id"] for r in rows] == [d for _, d in dis[:k]]
    for r in rows:
        assert r["prediction"] != r["label"]


def test_threshold_sweep_is_monotone_and_reconciles(spark):
    from conftest import SF_DIR

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.quality import (
        SWEEP_THRESHOLDS,
        q_lm_score,
        q_quality_threshold_sweep,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.textstats import (
        q_text_quality,
    )

    rows = sorted(
        q_quality_threshold_sweep(spark, SF_DIR).collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rows] == list(SWEEP_THRESHOLDS)
    # kept volume is non-increasing in the threshold
    for a, b in zip(rows, rows[1:]):
        assert a["n_kept"] >= b["n_kept"]
    # spot-reconcile one interior threshold against the raw signals
    q = {r["doc_id"]: r["quality"] for r in q_text_quality(spark, SF_DIR).collect()}
    lm = {r["doc_id"]: r["cross_entropy"] for r in q_lm_score(spark, SF_DIR).collect()}
    ids = set(q) & set(lm)
    t = SWEEP_THRESHOLDS[4]
    kept = [d for d in ids if q[d] >= t]
    row = rows[4]
    assert row["n_kept"] == len(kept)
    assert abs(row["kept_frac"] - round(len(kept) / len(ids), 6)) <= 1e-9


def test_null_calibration_sits_at_chance(spark):
    from conftest import SF_DIR
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import nb

    r = nb.q_nb_null_calibration(spark, SF_DIR).collect()[0]
    assert r["n_test"] > 0
    assert abs(r["accuracy"] - round(r["n_correct"] / r["n_test"], 6)) <= 1e-9
    # hash-null labels: the chain must NOT beat chance beyond 3 sigma
    # (if this ever fails, the pipeline leaks the label somewhere)
    assert r["within_null_band"], (r["accuracy"], r["band_3sigma"])
    # and the real-label chain must do meaningfully better than the null
    real = nb.q_nb_accuracy(spark, SF_DIR).collect()[0]
    assert real["accuracy"] >= r["accuracy"] - r["band_3sigma"]


def test_lexical_sophistication_matches_serial_ranking(spark):
    import collections
    import math

    from conftest import SF_DIR

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.textstats import (
        LEXRANK_SCALE,
        q_lexical_sophistication,
    )

    rows = {r["doc_id"]: r for r in q_lexical_sophistication(spark, SF_DIR).collect()}
    docs = spark.read.parquet(SF_DIR + "/documents.parquet").collect()
    counts = collections.Counter()
    for d in docs:
        counts.update(d["text"].split(" "))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    rank = {tok: i + 1 for i, (tok, _) in enumerate(ranked)}
    for d in docs[:100]:
        toks = d["text"].split(" ")
        lr = [round(math.log2(rank[t]) * LEXRANK_SCALE) for t in toks]
        r = rows[d["doc_id"]]
        assert r["n_tokens"] == len(toks)
        assert r["rarest_rank"] == max(rank[t] for t in toks)
        want = round(sum(lr) / (len(lr) * LEXRANK_SCALE), 6)
        assert abs(r["mean_log2_rank"] - want) <= 2e-6
