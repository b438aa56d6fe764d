"""Corpus-quality gate operators — the filters a 100 TB training-data
pipeline runs between ingest and training (engine extensions; the
reference stops at regex cleaning, /root/reference/Spark/NB.scala:20-26).

Three families, all oracle-checked:

- **Repetition stats** (`text_repetition`) — the Gopher-rule shape
  (Rae et al. 2021, §A1.1): duplicate-token fraction, adjacent-repeat
  fraction, top-bigram coverage.  Pure higher-order Column functions —
  a shuffle-free narrow map like the rest of `textstats`.  The
  top-bigram mode is O(distinct·n) per doc, the right trade for
  bounded docs (tweets, web pages); book-length docs would switch to
  the explode + groupBy((doc, bigram)) variant which is one extra
  shuffle but linear.
- **PII redaction** (`text_pii_redact`) — email / IPv4 / phone
  scrub via `regexp_replace`, counts via `regexp_count`.  The corpus
  is synthetic word-salad with no organic PII, so the query first
  injects a deterministic doc_id-derived contact line into each doc —
  both engines compute the identical injected text, then redact it —
  making the regex chain genuinely load-bearing in the oracle check
  rather than an identity map.  Patterns are written in the
  Java-regex ∩ RE2 common subset (no lookahead — same constraint as
  functions/cleaning.py) so Spark and DuckDB agree byte-for-byte.
- **Benchmark contamination** (`text_contamination`) — fraction of
  each doc's token 5-grams that appear in a held-out "benchmark" set
  (stand-in: the ~1% of docs selected by a content-hash residue, the
  same deterministic-sampling contract as operators/pipeline.py).
  Scale shape: real benchmark suites are fixed-size (MBs), so the
  distinct benchmark-gram table is **broadcast** and the corpus side
  streams through a narrow hash join — explode, broadcast-join, one
  partial-agg groupBy(doc_id).  No shuffle grows with the benchmark;
  the only corpus-sized shuffle is the per-doc rollup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import tokenize
from ..functions.hashing import hex32, hex32_sql
from ..sources.tables import load_table
from .common import memo

# Gopher-style gate thresholds (engine choice, documented constants).
ADJ_REPEAT_MAX = 0.15   # fraction of adjacent equal-token pairs
TOP_BIGRAM_MAX = 0.18   # fraction of tokens covered by the mode bigram

# PII scrub patterns — Java-regex ∩ RE2 subset (no lookahead/backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9][0-9\- ]{5,}[0-9]"  # intl-prefixed, ≥7 chars

CONTAM_K = 5        # token n-gram width for contamination overlap
BENCH_MOD = 97      # content-hash modulus selecting the benchmark set
BENCH_RESIDUE = 13  # ~1% of docs play the held-out benchmark


@memo
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition statistics + the keep/drop gate flag.

    All three fractions are computed from the token array in one
    projection — no shuffle, no UDF.  The gate compares the ROUNDED
    fractions so Spark and the oracle flag identical docs even at a
    threshold boundary.

    Plan notes (the r4 bench caught this at 168 s/sf0.1): the token
    and bigram arrays go through ``explode(array(...))`` Generate
    barriers so each is materialized ONCE per row — ProjectCollapsing
    would otherwise re-inline the split/transform at every lambda
    reference (the same Catalyst pitfall as dedup.doc_shingles).  The
    mode-bigram count is a sorted-run-length scan (``array_sort`` +
    one ``aggregate`` pass, O(n log n)) instead of the textbook
    O(distinct·n) count-per-distinct-gram nest; max run length in the
    sorted array IS the max multiplicity, so values are unchanged.

    r13: the finished per-doc table memoizes per (session, sf_dir) —
    it is the corpus quality GATE, consumed by the keep-list capstone
    and the gate ablation besides the query itself, each of which
    re-paid the per-row HOF scans (~0.7-1.0 s warm apiece; the
    q_lm_score precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    # barrier 1: materialize the token array
    tokd = docs.select(
        "doc_id",
        F.explode(F.array(tokenize(F.col("text")))).alias("toks"),
    )
    toks = F.col("toks")
    n = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    dup_frac = F.round(1 - n_dis.cast("double") / n, 6)
    # adjacent equal pairs / (n-1); guard n<2 — Spark's sequence(1, 0)
    # steps BACKWARD instead of returning empty, unlike DuckDB range()
    adj = F.when(
        n < 2, F.lit(0.0)
    ).otherwise(
        F.round(
            F.size(
                F.filter(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.element_at(toks, i)
                    == F.element_at(toks, i + 1),
                )
            ).cast("double")
            / (n - 1),
            6,
        )
    )
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        )
    )
    # barrier 2: materialize the SORTED bigram array once per row
    bgd = tokd.select(
        "doc_id",
        "toks",
        F.explode(F.array(F.array_sort(bigrams))).alias("bg"),
    )
    # max multiplicity = max equal-run length in the sorted array:
    # one aggregate pass with (prev, run, best) accumulator state
    def _extend_run(acc, x):
        nrun = F.when(
            acc.prev.isNotNull() & (x == acc.prev), acc.run + 1
        ).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            nrun.alias("run"),
            F.greatest(acc.best, nrun).alias("best"),
        )

    mode_cnt = F.aggregate(
        F.col("bg"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _extend_run,
        lambda acc: acc.best,
    )
    # overlapping occurrences ("a a a a" → 3 copies of "a a" over 4
    # tokens) can push 2·mode/n past 1 — cap at 1.0 (fully covered)
    top_bigram = F.when(n < 2, F.lit(0.0)).otherwise(
        F.least(F.round(F.lit(2) * mode_cnt.cast("double") / n, 6), F.lit(1.0))
    )
    out = bgd.select(
        "doc_id",
        dup_frac.alias("dup_token_frac"),
        adj.alias("adj_repeat_frac"),
        top_bigram.alias("top_bigram_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("adj_repeat_frac") <= ADJ_REPEAT_MAX)
        & (F.col("top_bigram_frac") <= TOP_BIGRAM_MAX),
    ).cache()


def _injected(doc_id: Column, text: Column) -> Column:
    """Deterministic synthetic contact line appended to each doc (see
    module header — makes the scrub regexes load-bearing on a corpus
    with no organic PII)."""
    return F.concat(
        text,
        F.lit(" contact u"),
        doc_id.cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((doc_id % 10000).cast("string"), 4, "0"),
        F.lit(" at 10."),
        (doc_id % 256).cast("string"),
        F.lit(".0."),
        ((doc_id * 7) % 256).cast("string"),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails → IPv4s → phones (that order: the
    email's domain dots must not be half-eaten by the IP pattern, and
    the phone pattern's digit runs must not bite into IPs — each pass
    only sees what prior passes left).  Narrow map, regex engines
    JVM-side, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    inj = _injected(F.col("doc_id"), F.col("text"))
    red = F.regexp_replace(inj, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.regexp_count(inj, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(inj, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(inj, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        red.alias("redacted"),
    )


def _gram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, member, gram) with the ``explode(array(tokens))``
    Generate barrier: without it ProjectCollapsing inlines the token
    ``split`` at every lambda reference inside the K-gram transform
    and re-splits the text once PER GRAM (measured 2.6x slower at
    sf0.1 — the same Catalyst pitfall dedup.doc_shingles documents).
    Both contamination queries derive their bench and corpus gram
    sets from this one shape."""
    member = F.pmod(hex32(F.col("text")), BENCH_MOD) == BENCH_RESIDUE
    tok_df = docs.select(
        "doc_id",
        member.alias("member"),
        F.explode(F.array(tokenize(F.col("text")))).alias("tk"),
    )
    toks = F.col("tk")
    sh = F.when(
        F.size(toks) < CONTAM_K, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - CONTAM_K),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, CONTAM_K)),
        )
    )
    return tok_df.select(
        "doc_id", "member", F.explode(sh).alias("gram")
    )


@memo
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc overlap with the benchmark gram set: n_grams, n_hits,
    contam_frac for every NON-benchmark doc (benchmark members are
    excluded — they would trivially score 1.0).

    r12: the finished per-doc table is memoized per (session, sf_dir)
    — the LM-score/quality-rollup precedent (guide §5: reused AND
    expensive).  Three consumers pay the two gram passes otherwise:
    this query, and the contamination gates inside
    pipe_training_corpus and pipe_keep_attribution."""
    grams = _gram_rows(load_table(spark, sf_dir, "documents"))
    bench_grams = (
        grams.filter(F.col("member"))
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = grams.filter(~F.col("member")).select("doc_id", "gram")
    return (
        corpus.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn(
            "contam_frac",
            F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 6),
        )
        .cache()
    )


@memo
def _bigrams_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, w1, w2) → n adjacent-bigram occurrence table —
    the single corpus scan behind the LM scorer and the PMI phrase
    miner.  Everything bigram-shaped derives from this memo; without
    it Catalyst re-plans the shared subtree per consumer (the naive
    self-join form scanned the corpus 4×)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # explode(array(tokens)) Generate barrier: without it
    # ProjectCollapsing inlines the split at every `tk` reference
    # INSIDE the lambda, re-splitting the text once per bigram
    # (the doc_shingles/_gram_rows pitfall)
    base = docs.select(
        "doc_id",
        F.explode(F.array(tokenize(F.col("text")))).alias("tk"),
    )
    return (
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), "
                    "(w, i) -> struct(w AS w1, tk[i + 1] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("n"))
        .cache()
    )


PMI_MIN_COUNT = 5  # collocation support floor (word2phrase's min_count)
PMI_TOP_K = 200


def q_phrase_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation / phrase mining: corpus-level pointwise mutual
    information per adjacent bigram — the word2phrase step (Mikolov et
    al. 2013) that decides which token pairs merge into phrases before
    tokenizer/vocab builds.  PMI = ln(c12·T / (c1·c2)) over the bigram
    table's own marginals; pairs below the support floor are dropped
    first (rare pairs have unboundedly inflated PMI — the standard
    word2phrase discount motivation).

    Determinism at the K-cut: the emitted order key is the ROUNDED pmi
    (then w1, w2 — a total order, since (w1, w2) is unique), so both
    engines cut the same row set even when unrounded doubles differ in
    the last ulp.

    Scale shape: derives entirely from the memoized bigram memo — one
    (w1, w2) partial-agg groupBy, two vocabulary-sized marginal
    groupBys joined back on their own keys, a 1-row total broadcast,
    and TakeOrderedAndProject for the cut (per-partition heaps, never
    a global sort)."""
    bgc = _bigrams_cached(spark, sf_dir)
    # r12 (guide §5.3): c12 feeds FOUR consumers (the filtered probe
    # side, both marginals, the 1-row total) — without the cut each
    # re-reads the bigram memo through its own (w1, w2) exchange; one
    # localCheckpoint per invocation pays that once (no cross-run
    # reuse — not keyed on the logical plan)
    c12 = (
        bgc.groupBy("w1", "w2")
        .agg(F.sum("n").cast("long").alias("c12"))
        # r13: lazy A/B'd (ADVICE r12) — no win (0.81 → 0.83 warm;
        # parallel-branch consumers race under lazy, the quantized
        # lesson) — stays eager
        .localCheckpoint()
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    c2 = c12.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
    tot = c12.agg(F.sum("c12").cast("long").alias("t"))
    return (
        c12.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            # double-space on BOTH engines, same op order: long×long
            # would overflow past ~2^63 corpus bigrams, and a mixed
            # long/double formula diverges from the oracle once the
            # exact product exceeds 2^53
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("t"))
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
    )


@memo
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-corpus bigram-LM cross-entropy per doc — the relational form
    of the perplexity quality filter (CCNet/Gopher run a KenLM; here
    the corpus is its own LM, which is the bootstrap when no external
    LM exists).  P(w2|w1) = c(w1,w2)/c(w1·) over the whole corpus;
    score = −avg ln P over the doc's bigrams.  LOW = predictable /
    boilerplate, HIGH = novel (or noise) — both tails are the usual
    filter targets.  No smoothing needed: every scored bigram is in
    the counts by construction (c ≥ 1), so the log is finite.

    Scale shape: the corpus is scanned ONCE into a memoized
    (doc_id, w1, w2) → n occurrence-count table (bigram explode +
    partial-agg groupBy); everything else derives from it — the LM
    count table (one (w1, w2) groupBy of the memo), the context totals
    (vocabulary-sized groupBy of the count table), the scoring join
    (back on the same (w1, w2) key), and the per-doc rollup (one
    doc_id shuffle, occurrence-weighted: Σ n·lnP / Σ n).  Without the
    memo Catalyst re-plans the shared bigram subtree per consumer —
    the naive self-join form scanned the corpus 4×.
    """
    # r12: memoize the finished per-doc score table itself (same
    # pattern as the bigram memo one level down) — the LM buckets, the
    # threshold sweep and the quality OLS each re-derived the
    # c12/c1 rollup + double join + doc rollup from the bigram memo
    # per consumer (the sweep twice: once for its total, once for the
    # kept aggregation)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bgc = _bigrams_cached(spark, sf_dir)
    # r13 (guide §2.4, the kneser-ney precedent): the context total is
    # a full-partition window over the SAME c12 rollup instead of a
    # second re-aggregation of the memo, and each occurrence row
    # probes ONE broadcast lnP table instead of two.  Window SUM over
    # the whole w1 partition ≡ the groupBy sum (same long), so lnP is
    # the identical double; oracle parity pins it.
    c12 = bgc.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    lnp_tbl = c12.select(
        "w1",
        "w2",
        F.log(
            F.col("c12") / F.sum("c12").over(Window.partitionBy("w1"))
        ).alias("lnp"),
    )
    per_doc = (
        bgc.join(lnp_tbl, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("n") * F.col("lnp")) / F.sum("n"), 6
            ).alias("cross_entropy"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
        F.coalesce(F.col("cross_entropy"), F.lit(0.0)).alias(
            "cross_entropy"
        ),
    ).cache()


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_TOKS = "string_split(text, ' ')"
_N = f"len({_TOKS})"

_INJ_SQL = (
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.com or +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
    "' at 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR)"
)

_SHINGLES_SQL = (
    f"CASE WHEN len(toks) < {CONTAM_K} THEN [array_to_string(toks, ' ')] "
    f"ELSE list_transform(range(1, len(toks) - {CONTAM_K - 2}), "
    "i -> array_to_string(toks[i:i+" + str(CONTAM_K - 1) + "], ' ')) END"
)

ORACLES: dict[str, str] = {
    "text_repetition": (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, "
        f"{_N} AS n, len(list_distinct({_TOKS})) AS n_dis FROM documents), "
        "s AS (SELECT doc_id, n, "
        "round(1 - CAST(n_dis AS DOUBLE) / n, 6) AS dup_token_frac, "
        "CASE WHEN n < 2 THEN 0.0 ELSE round(CAST(len(list_filter("
        "range(1, n), i -> toks[i] = toks[i+1])) AS DOUBLE) / (n - 1), 6) "
        "END AS adj_repeat_frac, "
        "CASE WHEN n < 2 THEN [] ELSE list_transform(range(1, n), "
        "i -> toks[i] || ' ' || toks[i+1]) END AS bg FROM t), "
        "u AS (SELECT doc_id, dup_token_frac, adj_repeat_frac, "
        "CASE WHEN n < 2 THEN 0.0 ELSE least(round(2 * CAST(list_max("
        "list_transform(list_distinct(bg), g -> len(list_filter(bg, "
        "b -> b = g)))) AS DOUBLE) / n, 6), 1.0) END AS top_bigram_frac FROM s) "
        "SELECT doc_id, dup_token_frac, adj_repeat_frac, top_bigram_frac, "
        f"(adj_repeat_frac <= {ADJ_REPEAT_MAX} AND "
        f"top_bigram_frac <= {TOP_BIGRAM_MAX}) AS keep FROM u"
    ),
    "text_pii_redact": (
        f"WITH inj AS (SELECT doc_id, {_INJ_SQL} AS s FROM documents) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(s, '{EMAIL_RE}')) AS BIGINT) AS n_emails, "
        f"CAST(len(regexp_extract_all(s, '{IPV4_RE}')) AS BIGINT) AS n_ips, "
        f"CAST(len(regexp_extract_all(s, '{PHONE_RE}')) AS BIGINT) AS n_phones, "
        f"regexp_replace(regexp_replace(regexp_replace(s, '{EMAIL_RE}', "
        "'<EMAIL>', 'g'), "
        f"'{IPV4_RE}', '<IP>', 'g'), '{PHONE_RE}', '<PHONE>', 'g') "
        "AS redacted FROM inj"
    ),
    "text_contamination": (
        "WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks, "
        f"{hex32_sql('text')} % {BENCH_MOD} AS res FROM documents), "
        f"sh AS (SELECT doc_id, res, {_SHINGLES_SQL} AS grams FROM tok), "
        "bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh "
        f"WHERE res = {BENCH_RESIDUE}), "
        "corpus AS (SELECT doc_id, unnest(grams) AS gram FROM sh "
        f"WHERE res <> {BENCH_RESIDUE}) "
        "SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams, "
        "CAST(count(b.gram) AS BIGINT) AS n_hits, "
        "round(CAST(count(b.gram) AS DOUBLE) / count(*), 6) AS contam_frac "
        "FROM corpus c LEFT JOIN bench b USING (gram) GROUP BY c.doc_id"
    ),
    "text_phrase_pmi": (
        "WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk "
        "FROM documents), "
        "bg AS (SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2 "
        "FROM (SELECT doc_id, tk, "
        "unnest(range(0, greatest(len(tk) - 1, 0))) AS i FROM base)), "
        "c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 "
        "FROM bg GROUP BY w1, w2), "
        "c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1), "
        "c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2), "
        "t AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM c12) "
        "SELECT w1, w2, c12, "
        "round(ln((CAST(c12 AS DOUBLE) * t.t) / (CAST(c1.c1 AS DOUBLE) * c2.c2)), 6) "
        "AS pmi FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN t "
        f"WHERE c12 >= {PMI_MIN_COUNT} "
        f"ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP_K}"
    ),
    "text_lm_score": (
        "WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk "
        "FROM documents), "
        "bg AS (SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2 "
        "FROM (SELECT doc_id, tk, "
        "unnest(range(0, greatest(len(tk) - 1, 0))) AS i FROM base)), "
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2), "
        "c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1), "
        "per AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
        "round(-avg(ln(CAST(c12.c12 AS DOUBLE) / c1.c1)), 6) "
        "AS cross_entropy "
        "FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) "
        "GROUP BY bg.doc_id) "
        "SELECT d.doc_id, "
        "CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams, "
        "coalesce(p.cross_entropy, 0.0) AS cross_entropy "
        "FROM documents d LEFT JOIN per p USING (doc_id)"
    ),
}

QUERIES = {
    "text_repetition": q_repetition,
    "text_pii_redact": q_pii_redact,
    "text_contamination": q_contamination,
    "text_lm_score": q_lm_score,
    "text_phrase_pmi": q_phrase_pmi,
}


# --- Bloom-filter decontamination pre-filter -----------------------

BLOOM_M = 1 << 17   # bits in the benchmark-gram bloom filter
BLOOM_WORDS = BLOOM_M // 64


def _bloom_positions(gram: Column) -> tuple[Column, Column]:
    """Two independent bit positions per gram (k=2 double hashing):
    JVM-side xxhash64 under two seeds, folded into [0, BLOOM_M)."""
    return (
        F.pmod(F.xxhash64(gram), F.lit(BLOOM_M)),
        F.pmod(F.xxhash64(gram, F.lit(1)), F.lit(BLOOM_M)),
    )


def _bloom_member(gram: Column, bits: Column) -> Column:
    """Membership probe against a bitset carried as array<long>."""
    p1, p2 = _bloom_positions(gram)

    def probe(p: Column) -> Column:
        word = F.element_at(bits, (p / 64).cast("int") + 1)
        return F.getbit(word, F.pmod(p, F.lit(64))) == 1

    return probe(p1) & probe(p2)


def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_contamination`` computed through a **broadcast Bloom
    pre-filter** — the physical strategy that survives when the
    benchmark-gram table outgrows the broadcast-hash-join budget.

    The exact-join form broadcasts every distinct benchmark gram
    (string bytes, ~gram_len × |grams|).  Here the benchmark set is
    folded into a fixed BLOOM_M-bit bitset (16 KiB regardless of gram
    count — the same shape as Spark's own runtime bloom-filter join
    pruning): one pass over the (fixed-size, MB-scale) benchmark
    builds it, the corpus side probes it as a narrow map, and only the
    ~|true hits| + ε·|corpus| false-positive survivors reach the exact
    verify join.  The result is EXACT — the bloom only prunes probes;
    every candidate is re-checked against the real gram set — so the
    oracle is the same SQL as ``text_contamination``.

    At 100 TB: the exact verify side stays broadcast here, but the
    same plan degrades gracefully to a shuffle join of the (already
    bloom-thinned) candidates when the benchmark outgrows broadcast;
    the bitset collect is a bounded model-sized aggregate (S5 shape,
    16 KiB), never O(corpus).
    """
    grams = _gram_rows(load_table(spark, sf_dir, "documents"))
    # r12: a bench_grams localCheckpoint (three consumers re-run the
    # corpus split+explode for the ~2% member slice) was A/B'd and
    # reverted — warm min-of-3 1.51 → 1.61: the materialize+read costs
    # what the saved gram pass saves, and the steady state loses
    bench_grams = grams.filter(F.col("member")).select("gram").distinct()
    p1, p2 = _bloom_positions(F.col("gram"))
    word_rows = (
        bench_grams.select(F.explode(F.array(p1, p2)).alias("p"))
        .distinct()
        .groupBy((F.col("p") / 64).cast("int").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
            ).alias("bits")
        )
        .collect()
    )
    bitset = [0] * BLOOM_WORDS
    for r in word_rows:
        bitset[r["w"]] = r["bits"]
    bits_df = spark.createDataFrame([(bitset,)], "bloom array<long>")

    corpus = (
        grams.filter(~F.col("member"))
        .select("doc_id", "gram")
        .crossJoin(F.broadcast(bits_df))
        .withColumn("cand", _bloom_member(F.col("gram"), F.col("bloom")))
    )
    bench_hit = bench_grams.withColumnRenamed("gram", "bgram").withColumn(
        "hit", F.lit(1)
    )
    return (
        corpus.join(
            F.broadcast(bench_hit),
            F.col("cand") & (F.col("gram") == F.col("bgram")),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn(
            "contam_frac",
            F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 6),
        )
    )


# identical semantics to text_contamination — the bloom is a
# physical pre-filter, so the exact oracle carries over verbatim
ORACLES["text_contamination_bloom"] = ORACLES["text_contamination"]

QUERIES["text_contamination_bloom"] = q_contamination_bloom


# --- per-source divergence from the corpus (r5) ----------------------

KL_SMOOTH = 0.5  # add-λ smoothing keeps log finite for unseen tokens


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ∥ corpus) over unigram distributions — the
    domain-shift monitor a mixture pipeline runs per ingest source:
    a drifting source's divergence moves before downstream evals do.

    Shape: ONE (source, token) groupBy off the token explode; corpus
    marginals derive from the same aggregate (re-aggregated, never a
    second scan), joined back on token; per-source totals broadcast.
    Smoothed with add-λ over the corpus vocab so KL stays finite; all
    log arithmetic in the same operation order both engines."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source", F.explode(tokenize(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count("*").cast("double").alias("c_st"))
    )
    corpus = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    vocab_total = corpus.agg(
        F.count("*").alias("v"), F.sum("c_t").alias("n")
    )
    s_tot = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    joined = (
        st.join(corpus, "token")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(vocab_total))
    )
    p = (F.col("c_st") + KL_SMOOTH) / (
        F.col("n_s") + KL_SMOOTH * F.col("v")
    )
    q = (F.col("c_t") + KL_SMOOTH) / (F.col("n") + KL_SMOOTH * F.col("v"))
    return (
        joined.select("source", (p * F.log(p / q)).alias("term"))
        .groupBy("source")
        .agg(F.round(F.sum("term"), 6).alias("kl_divergence"))
    )


ORACLES["text_source_divergence"] = (
    "WITH st AS (SELECT source, token, CAST(count(*) AS DOUBLE) AS c_st "
    "FROM (SELECT source, unnest(string_split(text, ' ')) AS token "
    "FROM documents) WHERE token <> '' GROUP BY source, token), "
    "corpus AS (SELECT token, sum(c_st) AS c_t FROM st GROUP BY token), "
    "vt AS (SELECT count(*) AS v, sum(c_t) AS n FROM corpus), "
    "stot AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY source), "
    "j AS (SELECT st.source, "
    f"(st.c_st + {KL_SMOOTH}) / (stot.n_s + {KL_SMOOTH} * vt.v) AS p, "
    f"(c.c_t + {KL_SMOOTH}) / (vt.n + {KL_SMOOTH} * vt.v) AS q "
    "FROM st JOIN corpus c USING (token) JOIN stot USING (source) "
    "CROSS JOIN vt) "
    "SELECT source, round(sum(p * ln(p / q)), 6) AS kl_divergence "
    "FROM j GROUP BY source"
)

QUERIES["text_source_divergence"] = q_source_divergence


# --- readability scoring (r5) ----------------------------------------

def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease-shaped readability score per doc: 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), with vowel-run
    counts as the standard syllable proxy and '.'-terminated runs as
    sentences (min 1 — tweets/fragments still score).  All three
    densities are regexp_count/size expressions — a shuffle-free
    narrow map in the Java∩RE2 regex subset, like the PII chain."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(tokenize(F.col("text")), lambda t: t != ""))
    n_sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    n_syll = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[aeiouyAEIOUY]+")), F.lit(1)
    ).cast("long")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sent)
        - F.lit(84.6) * (n_syll / n_words)
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.round(score, 6).alias("flesch_score"),
    )


ORACLES["text_readability"] = (
    "WITH b AS (SELECT doc_id, "
    "len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words, "
    "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent, "
    "greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1) "
    "AS n_syll FROM documents) "
    "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
    "CAST(n_sent AS BIGINT) AS n_sentences, "
    "CAST(n_syll AS BIGINT) AS n_syllables, "
    "round(206.835 - 1.015 * (n_words * 1.0 / n_sent) "
    "- 84.6 * (n_syll * 1.0 / n_words), 6) AS flesch_score FROM b"
)

QUERIES["text_readability"] = q_readability


# --- encoding sanity (r5) --------------------------------------------

def q_encoding_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake/encoding QA per language: fraction of non-ASCII
    characters, replacement-character (U+FFFD) count, and control-char
    count — an English-labeled source suddenly full of high-codepoint
    bytes is a charset bug upstream, and U+FFFD means a decoder
    already ate data.  Three regexp_count densities, one lang rollup;
    patterns in the Java∩RE2 subset."""
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    non_ascii = F.regexp_count(F.col("text"), F.lit(r"[^\x00-\x7F]"))
    replacement = F.regexp_count(F.col("text"), F.lit("�"))
    control = F.regexp_count(F.col("text"), F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]"))
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(
            F.sum(non_ascii) / F.sum(n_chars), 6
        ).alias("frac_non_ascii"),
        F.sum(replacement).cast("long").alias("n_replacement_chars"),
        F.sum(control).cast("long").alias("n_control_chars"),
    )


ORACLES["text_encoding_sanity"] = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "round(sum(len(regexp_extract_all(text, '[^\\x00-\\x7F]'))) "
    "* 1.0 / sum(len(text)), 6) AS frac_non_ascii, "
    "CAST(sum(len(regexp_extract_all(text, '�'))) AS BIGINT) "
    "AS n_replacement_chars, "
    "CAST(sum(len(regexp_extract_all(text, "
    "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))) AS BIGINT) "
    "AS n_control_chars "
    "FROM documents GROUP BY lang"
)

QUERIES["text_encoding_sanity"] = q_encoding_sanity


# --- CCNet-style LM buckets (r5) -------------------------------------

def q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: docs bucketed by in-corpus
    bigram cross-entropy terciles within their LANGUAGE (each lang
    judged against its own fluency distribution, the detail that
    makes the split fair across languages).  Fences are per-lang
    exact percentiles broadcast back onto the memoized LM scores —
    the same fence discipline as winsorize/equi-depth; output is the
    langs×3 census a mixture planner consumes."""
    scores = q_lm_score(spark, sf_dir).select("doc_id", "cross_entropy")
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = scores.join(langs, "doc_id")
    fences = scored.groupBy("lang").agg(
        F.expr("percentile(cross_entropy, array(0.3333, 0.6667))").alias(
            "bs"
        )
    )
    bucket = (
        F.when(F.col("cross_entropy") <= F.element_at("bs", 1), "head")
        .when(F.col("cross_entropy") <= F.element_at("bs", 2), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(fences), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("cross_entropy"), 6).alias("mean_ce"),
        )
    )


ORACLES["text_lm_buckets"] = (
    "WITH lm AS (" + ORACLES["text_lm_score"] + "), "
    "scored AS (SELECT lm.doc_id, lm.cross_entropy, d.lang "
    "FROM lm JOIN documents d USING (doc_id)), "
    "fences AS (SELECT lang, "
    "quantile_cont(cross_entropy, 0.3333) AS b1, "
    "quantile_cont(cross_entropy, 0.6667) AS b2 "
    "FROM scored GROUP BY lang) "
    "SELECT s.lang, CASE WHEN s.cross_entropy <= f.b1 THEN 'head' "
    "WHEN s.cross_entropy <= f.b2 THEN 'middle' ELSE 'tail' END AS bucket, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "round(avg(s.cross_entropy), 6) AS mean_ce "
    "FROM scored s JOIN fences f USING (lang) GROUP BY 1, 2"
)

QUERIES["text_lm_buckets"] = q_lm_buckets


# --- C4-style heuristic filter battery (Raffel et al. 2020) ----------


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning", §2.2) adapted doc-level, with
    PER-RULE attribution: curly brace (code), "lorem ipsum"
    (placeholder), "javascript" (enable-JS boilerplate), minimum word
    count, and terminal punctuation.  Complements the Gopher
    repetition gate (:func:`q_repetition`) — C4 targets boilerplate
    and non-prose, Gopher targets degenerate repetition; production
    pipelines run both.

    Per-rule flags (1 = violation) rather than a bare keep bit: at
    100 TB you tune filters from the ATTRIBUTION distribution (which
    rule fires, how often, how correlated) before committing to a
    drop — re-running the corpus per candidate threshold is the thing
    you cannot afford.  All five rules are single-pass string
    expressions — shuffle-free, whole-stage-codegen'd, evaluated in
    one scan.

    Reference contrast: the reference's only text gate is the empty-
    string filter after cleaning
    (/root/reference/Spark/NB/src/main/scala/NB.scala:55); this is
    the corpus-curation battery the rebuild adds."""
    return c4_flags(load_table(spark, sf_dir, "documents"))


def c4_flags(docs: DataFrame) -> DataFrame:
    """The rule battery as a reusable transform over any (doc_id,
    text) frame — tests drive it with hostile fixtures."""
    low = F.lower(F.col("text"))
    trimmed = F.trim(F.col("text"))
    n_words = F.size(F.split(F.col("text"), " "))
    has_brace = (F.instr(F.col("text"), "{") > 0).cast("int")
    has_lorem = (F.instr(low, "lorem ipsum") > 0).cast("int")
    has_js = (F.instr(low, "javascript") > 0).cast("int")
    too_short = (n_words < 5).cast("int")
    no_term = (
        ~F.substring(trimmed, -1, 1).isin(".", "!", "?", '"', "'")
    ).cast("int")
    flags = {
        "has_brace": has_brace,
        "has_lorem": has_lorem,
        "has_js": has_js,
        "too_short": too_short,
        "no_terminal_punct": no_term,
    }
    keep = F.lit(1)
    for c in flags.values():
        keep = keep * (1 - c)
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in flags.items()],
        keep.cast("int").alias("keep"),
    )


ORACLES["text_c4_filters"] = (
    "SELECT doc_id, "
    "CAST(instr(text, '{') > 0 AS INTEGER) AS has_brace, "
    "CAST(instr(lower(text), 'lorem ipsum') > 0 AS INTEGER) "
    "AS has_lorem, "
    "CAST(instr(lower(text), 'javascript') > 0 AS INTEGER) AS has_js, "
    "CAST(len(string_split(text, ' ')) < 5 AS INTEGER) AS too_short, "
    "CAST(NOT (right(trim(text), 1) IN ('.', '!', '?', '\"', '''')) "
    "AS INTEGER) AS no_terminal_punct, "
    "CAST((instr(text, '{') = 0) AND "
    "(instr(lower(text), 'lorem ipsum') = 0) AND "
    "(instr(lower(text), 'javascript') = 0) AND "
    "(len(string_split(text, ' ')) >= 5) AND "
    "(right(trim(text), 1) IN ('.', '!', '?', '\"', '''')) "
    "AS INTEGER) AS keep "
    "FROM documents"
)

QUERIES["text_c4_filters"] = q_c4_filters


# --- Kneser-Ney smoothed LM scorer (r5) ------------------------------

KN_DISCOUNT = 0.75


def q_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney cross-entropy per doc — the smoothing
    that made n-gram LMs competitive (Kneser & Ney 1995; Chen &
    Goodman 1999) and the stronger twin of the MLE scorer
    (:func:`q_lm_score`): instead of raw frequency, the backoff mass
    goes to words by how many DISTINCT contexts they follow
    ("Francisco" is frequent but only ever follows "San" — KN ranks
    it low as a novel continuation, MLE overrates it):

        P(w2|w1) = max(c12 − d, 0)/c1 + (d·T1/c1)·(C2/T)

    with T1 = distinct continuations of w1, C2 = distinct contexts of
    w2, T = total distinct bigram types, d = 0.75.

    Every quantity is ONE re-aggregation of the memoized bigram memo
    (the same single-scan discipline as the MLE scorer — five derived
    tables, all (w1)-, (w2)- or (w1,w2)-keyed partial aggs, joined
    back on the same keys).  All counts integer; the log is the only
    float, same operation order both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bgc = _bigrams_cached(spark, sf_dir)
    # r12: a c12 localCheckpoint (the phrase_pmi move) was A/B'd here
    # and LOST warm (2.07 → 2.38 min-of-3) — unlike pmi's four small
    # aggregates, the scoring join re-reads c12 fact-sized, so the
    # checkpoint write costs more than the duplicate (w1, w2)
    # exchanges it saves once the bigram memo is warm; cold improved
    # (6.5 → 2.1) but the bench state is warm (memo group-shared).
    # r13 (VERDICT r12 #3, guide §2.4): assemble the smoothed P per
    # DISTINCT bigram first, then score the fact side through ONE
    # join.  The c1/t1 and cont2 marginals are windows over the SAME
    # c12 rollup (the weighted-median full-frame-window precedent), so
    # the (w1, w2) re-aggregation of the memo runs twice (c12 + the
    # 1-row total) instead of four times, and each occurrence row
    # probes one broadcast p-table instead of three tables plus a
    # nested-loop total.  Every marginal is the identical integer
    # (window SUM/COUNT over the full partition ≡ the groupBy it
    # replaces) and p is the same double expression evaluated on the
    # same longs — bit-identical scores; oracle parity pins it.
    c12 = bgc.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    typ = c12.select(
        "w1",
        "w2",
        "c12",
        F.sum("c12").over(w1w).alias("c1"),
        F.count("*").over(w1w).alias("t1"),  # distinct continuations
        F.count("*").over(w2w).alias("cont2"),  # distinct contexts
    )
    # global type total stays a 1-row broadcast (a full-frame window
    # with no partition key would single-task the type table at scale)
    tt = c12.agg(F.count("*").alias("t_total"))
    d = F.lit(KN_DISCOUNT)
    p = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + (d * F.col("t1") / F.col("c1"))
        * (F.col("cont2") / F.col("t_total"))
    )
    p_tbl = typ.join(F.broadcast(tt)).select("w1", "w2", p.alias("p"))
    per_doc = (
        bgc.join(p_tbl, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("n") * F.log("p")) / F.sum("n"), 6
            ).alias("cross_entropy_kn"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
        F.coalesce(F.col("cross_entropy_kn"), F.lit(0.0)).alias(
            "cross_entropy_kn"
        ),
    )


ORACLES["text_lm_kneser_ney"] = (
    "WITH base AS (SELECT doc_id, string_split(text, ' ') AS tk "
    "FROM documents), "
    "bg AS (SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2 FROM "
    "(SELECT doc_id, tk, unnest(range(0, greatest(len(tk) - 1, 0))) "
    "AS i FROM base)), "
    "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2), "
    "c1 AS (SELECT w1, sum(c12) AS c1, count(*) AS t1 FROM c12 "
    "GROUP BY w1), "
    "c2 AS (SELECT w2, count(*) AS cont2 FROM c12 GROUP BY w2), "
    "tt AS (SELECT count(*) AS t_total FROM c12), "
    "per AS (SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
    "round(-avg(ln("
    f"greatest(CAST(c12.c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0) / c1.c1 "
    f"+ ({KN_DISCOUNT} * c1.t1 / c1.c1) "
    "* (CAST(c2.cont2 AS DOUBLE) / tt.t_total))), 6) "
    "AS cross_entropy_kn "
    "FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) "
    "JOIN c2 USING (w2), tt GROUP BY bg.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(p.n_bigrams, 0) AS BIGINT) "
    "AS n_bigrams, coalesce(p.cross_entropy_kn, 0.0) "
    "AS cross_entropy_kn "
    "FROM documents d LEFT JOIN per p USING (doc_id)"
)

QUERIES["text_lm_kneser_ney"] = q_lm_kneser_ney


# --- quality-signal correlation matrix (r5) -------------------------------
#
# Before a pipeline combines its filter signals (quality score, bigram
# LM cross-entropy, Flesch readability) into one keep decision, it
# should know how redundant they are: two signals at |r| ≈ 0.9 are one
# gate wearing two hats (and double-count in any weighted blend),
# while r ≈ 0 signals prune independent corpus slices.  One row per
# signal pair with the Pearson r over the per-doc inner join.
#
# Determinism: each (already 6-rounded) signal is scaled to INTEGER
# milli-units, so all ten moments (n, Σx, Σxy, Σx², …) are exact
# BIGINTs — accumulation order cannot leak — and r appears only in the
# final ratio, rounded once.  The 1e3 scale bounds Σxy by
# n·(ce~1e4)·(flesch~1e5) ≈ n·1e9: exact to corpora of ~10⁹ docs,
# where the swap is the built-in corr() at the cost of oracle
# bit-exactness (documented trade, same as events_rolling_corr).
# Scale shape: two doc_id equi-joins over memoized per-doc frames,
# ONE full aggregate, a 3-row stack.

_SIGCORR_SCALE = 1_000


def q_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import q_text_quality

    q = q_text_quality(spark, sf_dir).select("doc_id", "quality")
    lm = q_lm_score(spark, sf_dir).select("doc_id", "cross_entropy")
    fl = q_readability(spark, sf_dir).select("doc_id", "flesch_score")
    j = q.join(lm, "doc_id").join(fl, "doc_id").select(
        F.round(F.col("quality") * _SIGCORR_SCALE)
        .cast("long")
        .alias("x_quality"),
        F.round(F.col("cross_entropy") * _SIGCORR_SCALE)
        .cast("long")
        .alias("x_lm_ce"),
        F.round(F.col("flesch_score") * _SIGCORR_SCALE)
        .cast("long")
        .alias("x_flesch"),
    )
    names = ("quality", "lm_ce", "flesch")
    aggs = [F.count("*").cast("long").alias("n")]
    for a in names:
        aggs.append(F.sum(f"x_{a}").cast("long").alias(f"s_{a}"))
        aggs.append(
            F.sum(F.col(f"x_{a}") * F.col(f"x_{a}"))
            .cast("long")
            .alias(f"ss_{a}")
        )
    pairs = [("quality", "lm_ce"), ("quality", "flesch"), ("lm_ce", "flesch")]
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(f"x_{a}") * F.col(f"x_{b}"))
            .cast("long")
            .alias(f"sp_{a}_{b}")
        )
    m = j.agg(*aggs)
    stack = "stack({}, {}) AS (signal_a, signal_b, sp, sa, ssa, sb, ssb)".format(
        len(pairs),
        ", ".join(
            f"'{a}', '{b}', sp_{a}_{b}, s_{a}, ss_{a}, s_{b}, ss_{b}"
            for a, b in pairs
        ),
    )
    rows = m.select("n", F.expr(stack))
    num = (F.col("n") * F.col("sp") - F.col("sa") * F.col("sb")).cast(
        "double"
    )
    dx = (F.col("n") * F.col("ssa") - F.col("sa") * F.col("sa")).cast(
        "double"
    )
    dy = (F.col("n") * F.col("ssb") - F.col("sb") * F.col("sb")).cast(
        "double"
    )
    return rows.select(
        "signal_a",
        "signal_b",
        F.col("n").alias("n_docs"),
        F.when(
            (dx > 0) & (dy > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("pearson_r"),
    )


def _signal_correlation_sql() -> str:
    from .textstats import ORACLES as TEXTSTATS_ORACLES

    s = _SIGCORR_SCALE
    arms = []
    for a, b in (
        ("quality", "lm_ce"),
        ("quality", "flesch"),
        ("lm_ce", "flesch"),
    ):
        arms.append(
            f"SELECT '{a}' AS signal_a, '{b}' AS signal_b, "
            f"sp_{a}_{b} AS sp, s_{a} AS sa, ss_{a} AS ssa, "
            f"s_{b} AS sb, ss_{b} AS ssb, n FROM m"
        )
    return (
        "WITH q AS (SELECT doc_id, quality FROM ("
        + TEXTSTATS_ORACLES["text_quality"]
        + ")), lm AS (SELECT doc_id, cross_entropy FROM ("
        + ORACLES["text_lm_score"]
        + ")), fl AS (SELECT doc_id, flesch_score FROM ("
        + ORACLES["text_readability"]
        + ")), "
        "j AS (SELECT "
        f"CAST(round(q.quality * {s}, 0) AS BIGINT) AS x_quality, "
        f"CAST(round(lm.cross_entropy * {s}, 0) AS BIGINT) AS x_lm_ce, "
        f"CAST(round(fl.flesch_score * {s}, 0) AS BIGINT) AS x_flesch "
        "FROM q JOIN lm USING (doc_id) JOIN fl USING (doc_id)), "
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(x_quality) AS BIGINT) AS s_quality, "
        "CAST(sum(x_quality * x_quality) AS BIGINT) AS ss_quality, "
        "CAST(sum(x_lm_ce) AS BIGINT) AS s_lm_ce, "
        "CAST(sum(x_lm_ce * x_lm_ce) AS BIGINT) AS ss_lm_ce, "
        "CAST(sum(x_flesch) AS BIGINT) AS s_flesch, "
        "CAST(sum(x_flesch * x_flesch) AS BIGINT) AS ss_flesch, "
        "CAST(sum(x_quality * x_lm_ce) AS BIGINT) AS sp_quality_lm_ce, "
        "CAST(sum(x_quality * x_flesch) AS BIGINT) AS sp_quality_flesch, "
        "CAST(sum(x_lm_ce * x_flesch) AS BIGINT) AS sp_lm_ce_flesch "
        "FROM j), "
        "u AS (" + " UNION ALL ".join(arms) + ") "
        "SELECT signal_a, signal_b, n AS n_docs, "
        "CASE WHEN n * ssa - sa * sa > 0 AND n * ssb - sb * sb > 0 THEN "
        "round(CAST(n * sp - sa * sb AS DOUBLE) / "
        "(sqrt(CAST(n * ssa - sa * sa AS DOUBLE)) * "
        "sqrt(CAST(n * ssb - sb * sb AS DOUBLE))), 6) END AS pearson_r "
        "FROM u"
    )


ORACLES["text_signal_correlation"] = _signal_correlation_sql()
QUERIES["text_signal_correlation"] = q_signal_correlation


# --- quality-gate threshold sweep (r5) -------------------------------------
#
# How a pipeline owner actually picks CONTAM/QUALITY cutoffs: sweep
# the candidate thresholds in ONE pass and read kept-volume vs
# kept-quality off the curve (the precision/volume frontier), instead
# of re-running the corpus filter per candidate.  For each threshold:
# docs kept, kept fraction, and the mean bigram-LM cross-entropy of
# the KEPT slice (lower = cleaner) — the elbow in that curve is the
# defensible cutoff.
#
# Scale shape: per-doc signals join once (memoized frames), then one
# crossJoin against the 9-row broadcast threshold spine and ONE
# 9-group partial aggregate — the sweep costs one scan no matter how
# many thresholds.  Mean CE aggregates integer milli-units (exact),
# divided once.

SWEEP_THRESHOLDS = tuple(round(t * 0.1, 1) for t in range(1, 10))


def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import q_text_quality

    q = q_text_quality(spark, sf_dir).select("doc_id", "quality")
    lm = q_lm_score(spark, sf_dir).select("doc_id", "cross_entropy")
    j = q.join(lm, "doc_id").select(
        "quality",
        F.round(F.col("cross_entropy") * 1000)
        .cast("long")
        .alias("ce_milli"),
    )
    spine = F.broadcast(
        spark.createDataFrame(
            [(t,) for t in SWEEP_THRESHOLDS], "threshold double"
        )
    )
    tot = j.count()
    kept = (
        j.crossJoin(spine)
        .filter(F.col("quality") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("ce_milli").cast("long").alias("ce_sum"),
        )
    )
    return spine.join(kept, "threshold", "left").select(
        "threshold",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.round(
            F.coalesce("n_kept", F.lit(0)) / F.lit(float(tot)), 6
        ).alias("kept_frac"),
        F.when(
            F.col("n_kept") > 0,
            F.round(
                F.col("ce_sum") / (F.col("n_kept") * F.lit(1000.0)), 6
            ),
        ).alias("mean_ce_kept"),
    )


def _threshold_sweep_sql() -> str:
    from .textstats import ORACLES as TEXTSTATS_ORACLES

    spine = ", ".join(f"(CAST({t} AS DOUBLE))" for t in SWEEP_THRESHOLDS)
    return (
        "WITH q AS (SELECT doc_id, quality FROM ("
        + TEXTSTATS_ORACLES["text_quality"]
        + ")), lm AS (SELECT doc_id, cross_entropy FROM ("
        + ORACLES["text_lm_score"]
        + ")), "
        "j AS (SELECT q.quality, "
        "CAST(round(lm.cross_entropy * 1000, 0) AS BIGINT) AS ce_milli "
        "FROM q JOIN lm USING (doc_id)), "
        "tot AS (SELECT count(*) AS n FROM j), "
        f"spine(threshold) AS (VALUES {spine}), "
        "kept AS (SELECT s.threshold, CAST(count(*) AS BIGINT) AS n_kept, "
        "CAST(sum(j.ce_milli) AS BIGINT) AS ce_sum "
        "FROM j JOIN spine s ON j.quality >= s.threshold "
        "GROUP BY s.threshold) "
        "SELECT s.threshold, "
        "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept, "
        "round(coalesce(k.n_kept, 0) / CAST(t.n AS DOUBLE), 6) "
        "AS kept_frac, "
        "CASE WHEN k.n_kept > 0 THEN "
        "round(k.ce_sum / (k.n_kept * 1000.0), 6) END AS mean_ce_kept "
        "FROM spine s CROSS JOIN tot t "
        "LEFT JOIN kept k ON s.threshold = k.threshold"
    )


ORACLES["pipe_quality_threshold_sweep"] = _threshold_sweep_sql()
QUERIES["pipe_quality_threshold_sweep"] = q_quality_threshold_sweep


# --------------------------------------------------------------------------
# r8: distilled quality regressor — closed-form OLS in ONE aggregate pass
# --------------------------------------------------------------------------

# Quality-classifier distillation without MLlib iteration: regress the
# bigram-LM cross-entropy (the expensive signal — needs the corpus LM)
# on two cheap narrow-map signals (stopword ratio, type-token ratio).
# At 100 TB the trained (β₀, β₁, β₂) lets the first-pass filter
# approximate the LM score for a few Column ops per doc — the same
# motivation as fastText quality classifiers, but the training run is
# ONE partial-aggregating pass producing 10 scalar moments, exactly
# reproducible on any executor count.
#
# Determinism contract (same trick as the r5 Pearson matrix): each
# per-doc signal is quantized to integer MICRO-UNITS first, the
# moments are exact decimal(38,0) integer sums (order-independent),
# and the normal-equation solve is a literal-identical scalar SQL
# fragment both engines execute — so the only IEEE ops happen ONCE,
# on identical inputs, after all distributed math is exact.

OLS_SCALE = 1_000_000  # micro-units; signals ∈ [0, ~12] fit easily

_EN_STOP_OLS = ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that")

# unit-space doubles from the integer moments — identical text both engines
_OLS_UNIT_EXPRS = (
    "CAST(n_docs AS DOUBLE) AS nn",
    "CAST(s1_i AS DOUBLE) / 1e6 AS s1",
    "CAST(s2_i AS DOUBLE) / 1e6 AS s2",
    "CAST(s11_i AS DOUBLE) / 1e12 AS s11",
    "CAST(s12_i AS DOUBLE) / 1e12 AS s12",
    "CAST(s22_i AS DOUBLE) / 1e12 AS s22",
    "CAST(sy_i AS DOUBLE) / 1e6 AS sy",
    "CAST(s1y_i AS DOUBLE) / 1e12 AS s1y",
    "CAST(s2y_i AS DOUBLE) / 1e12 AS s2y",
    "CAST(syy_i AS DOUBLE) / 1e12 AS syy",
)

# Cramer's rule for the symmetric 3×3 normal equations
# [nn s1 s2; s1 s11 s12; s2 s12 s22]·β = [sy, s1y, s2y]
_OLS_DET_EXPRS = (
    "nn", "sy", "s1y", "s2y", "syy",
    "nn*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) "
    "+ s2*(s1*s12 - s11*s2) AS det",
    "sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) "
    "+ s2*(s1y*s12 - s11*s2y) AS det0",
    "nn*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) "
    "+ s2*(s1*s2y - s1y*s2) AS det1",
    "nn*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) "
    "+ sy*(s1*s12 - s11*s2) AS det2",
)
_OLS_BETA_EXPRS = (
    "nn", "sy", "s1y", "s2y", "syy",
    "CASE WHEN det = 0 THEN NULL ELSE det0 / det END AS b0",
    "CASE WHEN det = 0 THEN NULL ELSE det1 / det END AS b1",
    "CASE WHEN det = 0 THEN NULL ELSE det2 / det END AS b2",
)
_OLS_OUT_EXPRS = (
    "CAST(nn AS BIGINT) AS n_docs",
    "round(b0, 6) AS beta0",
    "round(b1, 6) AS beta1",
    "round(b2, 6) AS beta2",
    "CASE WHEN syy - sy*sy/nn = 0 THEN NULL ELSE "
    "round(1 - (syy - (b0*sy + b1*s1y + b2*s2y)) "
    "/ (syy - sy*sy/nn), 6) END AS r_squared",
)


def q_quality_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled quality regressor: cross_entropy ~ β₀ + β₁·stopword_ratio
    + β₂·ttr, solved in closed form from one exact-integer moment pass.

    Scale shape: the y signal reuses the memoized corpus bigram table
    (one corpus scan shared with `text_lm_score`); the x signals are a
    shuffle-free narrow map; the ONLY reduction is a single 10-column
    partial aggregate, and the 3×3 solve runs once on the driver-free
    1-row result.  No iteration, no feature matrix materialization,
    no MLlib — the plan is two scans and one agg at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    x1 = F.size(F.filter(toks, lambda t: t.isin(*_EN_STOP_OLS))) / n
    x2 = F.size(F.array_distinct(toks)) / n
    feats = docs.select(
        "doc_id",
        F.round(x1 * OLS_SCALE, 0).cast("long").alias("x1_i"),
        F.round(x2 * OLS_SCALE, 0).cast("long").alias("x2_i"),
    )
    bgc = _bigrams_cached(spark, sf_dir)
    # r13: one broadcast lnP table (the q_lm_score / kneser-ney
    # p-table shape) — window sum ≡ the groupBy sum, bit-identical y_i
    c12 = bgc.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    lnp_tbl = c12.select(
        "w1",
        "w2",
        F.log(
            F.col("c12") / F.sum("c12").over(Window.partitionBy("w1"))
        ).alias("lnp"),
    )
    xent = (
        bgc.join(lnp_tbl, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(F.col("n") * F.col("lnp")) / F.sum("n") * OLS_SCALE, 0
            )
            .cast("long")
            .alias("y_i")
        )
    )
    dec = "decimal(38,0)"
    rows = feats.join(xent, "doc_id", "left").select(
        "x1_i", "x2_i", F.coalesce(F.col("y_i"), F.lit(0)).alias("y_i")
    )
    moments = rows.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("x1_i").cast(dec)).alias("s1_i"),
        F.sum(F.col("x2_i").cast(dec)).alias("s2_i"),
        F.sum((F.col("x1_i") * F.col("x1_i")).cast(dec)).alias("s11_i"),
        F.sum((F.col("x1_i") * F.col("x2_i")).cast(dec)).alias("s12_i"),
        F.sum((F.col("x2_i") * F.col("x2_i")).cast(dec)).alias("s22_i"),
        F.sum(F.col("y_i").cast(dec)).alias("sy_i"),
        F.sum((F.col("x1_i") * F.col("y_i")).cast(dec)).alias("s1y_i"),
        F.sum((F.col("x2_i") * F.col("y_i")).cast(dec)).alias("s2y_i"),
        F.sum((F.col("y_i") * F.col("y_i")).cast(dec)).alias("syy_i"),
    )
    return (
        moments.selectExpr(*_OLS_UNIT_EXPRS)
        .selectExpr(*_OLS_DET_EXPRS)
        .selectExpr(*_OLS_BETA_EXPRS)
        .selectExpr(*_OLS_OUT_EXPRS)
    )


_OLS_STOP_IN = ", ".join(f"'{w}'" for w in _EN_STOP_OLS)
ORACLES["text_quality_ols"] = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk "
    "FROM documents), "
    "feats AS (SELECT doc_id, "
    "CAST(round(CAST(len(list_filter(tk, t -> t IN "
    f"({_OLS_STOP_IN}))) AS DOUBLE) / len(tk) * {OLS_SCALE}, 0) "
    "AS BIGINT) AS x1_i, "
    "CAST(round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) "
    f"* {OLS_SCALE}, 0) AS BIGINT) AS x2_i FROM toks), "
    "bg AS (SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2 "
    "FROM (SELECT doc_id, tk, "
    "unnest(range(0, greatest(len(tk) - 1, 0))) AS i FROM toks)), "
    "bgc AS (SELECT doc_id, w1, w2, count(*) AS n FROM bg "
    "GROUP BY doc_id, w1, w2), "
    "c12 AS (SELECT w1, w2, sum(n) AS c12 FROM bgc GROUP BY w1, w2), "
    "c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1), "
    "xent AS (SELECT bgc.doc_id, CAST(round(-sum(bgc.n * "
    "ln(CAST(c12.c12 AS DOUBLE) / c1.c1)) / sum(bgc.n) "
    f"* {OLS_SCALE}, 0) AS BIGINT) AS y_i "
    "FROM bgc JOIN c12 USING (w1, w2) JOIN c1 USING (w1) "
    "GROUP BY bgc.doc_id), "
    "rows_ AS (SELECT x1_i, x2_i, coalesce(y_i, 0) AS y_i "
    "FROM feats LEFT JOIN xent USING (doc_id)), "
    "m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "sum(CAST(x1_i AS HUGEINT)) AS s1_i, "
    "sum(CAST(x2_i AS HUGEINT)) AS s2_i, "
    "sum(CAST(x1_i AS HUGEINT) * x1_i) AS s11_i, "
    "sum(CAST(x1_i AS HUGEINT) * x2_i) AS s12_i, "
    "sum(CAST(x2_i AS HUGEINT) * x2_i) AS s22_i, "
    "sum(CAST(y_i AS HUGEINT)) AS sy_i, "
    "sum(CAST(x1_i AS HUGEINT) * y_i) AS s1y_i, "
    "sum(CAST(x2_i AS HUGEINT) * y_i) AS s2y_i, "
    "sum(CAST(y_i AS HUGEINT) * y_i) AS syy_i FROM rows_), "
    f"u AS (SELECT {', '.join(_OLS_UNIT_EXPRS)} FROM m), "
    f"dt AS (SELECT {', '.join(_OLS_DET_EXPRS)} FROM u), "
    f"bt AS (SELECT {', '.join(_OLS_BETA_EXPRS)} FROM dt) "
    f"SELECT {', '.join(_OLS_OUT_EXPRS)} FROM bt"
)

QUERIES["text_quality_ols"] = q_quality_ols
