"""Text-analysis operators over ``documents`` — training-data-pipeline
extension surface (language-ID, quality scoring, token counting,
fingerprinting).  The reference has no text analytics beyond cleaning;
these are engine extensions.

Every operator here is a **narrow map stage**: pure Column expressions
(higher-order list functions, regexes, md5) with no shuffle, no join,
no Python — the shape you want for a first-pass filter over 100 TB,
where these stats gate which documents ever reach the expensive
operators downstream.  Each query has a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import tokenize
from ..functions.hashing import hex32, hex32_sql, md5_fingerprint
from ..sources.tables import load_table
from .common import memo, rebalance_scan

# Tiny public stopword lexicons (top function words per language) for
# the n-gram-free language-ID heuristic.  Order of _LANGS is the
# deterministic tie-break (first wins).
_LEXICON: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "ist"),
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "une", "du", "est"),
    "zh": ("的", "一", "是", "不", "了", "人", "我", "在", "有", "他"),
}
_LANGS = tuple(_LEXICON)

# GPT-2-ish pre-tokenizer shape: letter runs | single digits | single
# non-alphanumeric marks.  Java regex and RE2 agree on this pattern.
BPE_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"

_EN_STOP = _LEXICON["en"]

CHUNK_SIZE = 64    # tokens per chunk (embedding-model context)
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - stride = 16 tokens


def _hits(col: Column, words: tuple[str, ...]) -> Column:
    """Occurrences (with multiplicity) of lexicon words in the text."""
    return F.size(F.filter(tokenize(col), lambda t: t.isin(*words)))


def _hits_sql(expr: str, words: tuple[str, ...]) -> str:
    inlist = ", ".join("'" + w + "'" for w in words)
    return (
        f"len(list_filter(string_split({expr}, ' '), t -> t IN ({inlist})))"
    )


# --------------------------------------------------------------------------
# queries() entries
# --------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token statistics: counts, distinct counts, mean token
    length, type-token ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.round(tok_chars / n, 6).alias("avg_token_len"),
        F.round(F.size(F.array_distinct(toks)) / n, 6).alias("ttr"),
    )


@memo
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality score in [0, 1]: type-token ratio,
    English-stopword ratio, and a length term, weighted 0.5/0.3/0.2
    (the standard shape of heuristic quality filters for training
    corpora — the exact weights are a documented engine choice).

    r12: memoized per (session, sf_dir) like the bigram table — five
    consumers (the quality gate, the threshold sweep, the OLS, two
    dedup keep-list composers) each re-ran the tokenize + stopword
    isin scan; now the first consumer pays it once and the rest read
    the cached (doc_id, quality, …) rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n
    stop_ratio = _hits(F.col("text"), _EN_STOP) / n
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    return docs.select(
        "doc_id",
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(len_term, 6).alias("len_term"),
        F.round(0.5 * ttr + 0.3 * stop_ratio + 0.2 * len_term, 6).alias(
            "quality"
        ),
    ).cache()


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language ID: per-language hit counts, argmax
    with deterministic tie-break (lexicon order), 'und' when no
    lexicon matches.  The true ``lang`` column rides along so
    accuracy is measurable downstream."""
    docs = load_table(spark, sf_dir, "documents")
    hit_cols = {
        lang: _hits(F.col("text"), words) for lang, words in _LEXICON.items()
    }
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    for lang in reversed(_LANGS):
        pred = F.when(
            (hit_cols[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[hit_cols[lang].cast("long").alias(f"hits_{lang}") for lang in _LANGS],
        pred.alias("pred_lang"),
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token count via the BPE pre-tokenizer regex —
    letter runs count 1, each digit 1, each mark 1."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_RE)).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_ws_tokens"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full md5 plus the engine's portable
    32-bit hash (the hex32 ≡ hex32_sql equivalence is exactly what
    this query's oracle check proves)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("fingerprint"),
        hex32(F.col("text")).alias("h32"),
    )


WINNOW_K = 3  # token k-gram width
WINNOW_W = 4  # winnowing window: min-hash of each run of W k-grams


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme: rolling
    k-gram hashes, keep the minimum of every sliding window of W) —
    the local-fingerprinting member of the dedup/fingerprint family:
    two docs sharing a long-enough substring are guaranteed to share
    a selected fingerprint.  Pure higher-order Column functions over
    the token array — no key shuffle, no UDF; the portable hex32 hash
    keeps both engines bit-identical.  The scan is rebalanced first:
    the rolling-hash map is the most CPU-dense query in the suite and
    a one-file bench corpus would otherwise run it on one core."""
    docs = rebalance_scan(spark, load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) < WINNOW_K, F.array(F.concat_ws(" ", toks))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - WINNOW_K),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, WINNOW_K)),
        )
    )
    # Materialization barrier (measured 50× speedup): exploding the
    # 1-element array wraps the hash array in a Generate node, which
    # ProjectCollapsing cannot merge — so `h` below is a bound
    # attribute computed ONCE per row.  Without it Catalyst inlines
    # the whole md5 chain at every window reference and the hashing
    # re-evaluates per sliding window.
    h_df = docs.select(
        "doc_id", F.explode(F.array(F.transform(grams, hex32))).alias("h")
    )
    h = F.col("h")
    # one formula for both the short-doc and the general case:
    # sequence(0, max(size-W, 0)) — a doc with ≤W hashes gets the
    # single window [min(h)] because slice truncates at the array end
    wins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(h) - WINNOW_W, F.lit(0))),
        lambda j: F.array_min(F.slice(h, j + 1, WINNOW_W)),
    )
    return h_df.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("fp")
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_TOKS = "string_split(text, ' ')"
_NTOK = f"len({_TOKS})"
_NDIS = f"len(list_distinct({_TOKS}))"
_TOKCHARS = f"list_sum(list_transform({_TOKS}, t -> CAST(len(t) AS BIGINT)))"

_LANG_HITS = {lang: _hits_sql("text", words) for lang, words in _LEXICON.items()}
_BEST = "greatest(" + ", ".join(_LANG_HITS.values()) + ")"
_PRED = "CASE "
for _lang in _LANGS:
    _PRED += f"WHEN {_LANG_HITS[_lang]} = {_BEST} AND {_BEST} > 0 THEN '{_lang}' "
_PRED += "ELSE 'und' END"

ORACLES: dict[str, str] = {
    "text_top_tokens": (
        "SELECT token, CAST(count(*) AS BIGINT) AS n FROM ("
        "SELECT unnest(string_split(text, ' ')) AS token FROM documents"
        ") GROUP BY token ORDER BY n DESC, token LIMIT 500"
    ),
    # the sketch is exact while maxItemsTracked covers the vocabulary
    # (true for the driver's corpora) — same oracle as the exact query
    "text_top_tokens_approx": (
        "SELECT token, CAST(count(*) AS BIGINT) AS n FROM ("
        "SELECT unnest(string_split(text, ' ')) AS token FROM documents"
        ") GROUP BY token ORDER BY n DESC, token LIMIT 500"
    ),
    "text_chunk_windows": (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk "
        "FROM documents), "
        "st AS (SELECT doc_id, tk, unnest(range(0, greatest(len(tk), 1), "
        f"{CHUNK_STRIDE})) AS s FROM t), "
        "num AS (SELECT doc_id, tk, s, CAST(row_number() OVER "
        "(PARTITION BY doc_id ORDER BY s) - 1 AS BIGINT) AS chunk_idx "
        "FROM st) "
        "SELECT doc_id, chunk_idx, "
        f"array_to_string(tk[s + 1:s + {CHUNK_SIZE}], ' ') AS chunk_text, "
        f"CAST(len(tk[s + 1:s + {CHUNK_SIZE}]) AS BIGINT) "
        "AS n_chunk_tokens FROM num"
    ),
    "text_token_stats": (
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        f"CAST({_NTOK} AS BIGINT) AS n_tokens, "
        f"CAST({_NDIS} AS BIGINT) AS n_distinct, "
        f"round(CAST({_TOKCHARS} AS DOUBLE) / {_NTOK}, 6) AS avg_token_len, "
        f"round(CAST({_NDIS} AS DOUBLE) / {_NTOK}, 6) AS ttr "
        "FROM documents"
    ),
    "text_quality": (
        f"SELECT doc_id, round(CAST({_NDIS} AS DOUBLE) / {_NTOK}, 6) AS ttr, "
        f"round(CAST({_hits_sql('text', _EN_STOP)} AS DOUBLE) / {_NTOK}, 6) "
        "AS stopword_ratio, "
        f"round(least({_NTOK} / 100.0, 1.0), 6) AS len_term, "
        f"round(0.5 * (CAST({_NDIS} AS DOUBLE) / {_NTOK}) "
        f"+ 0.3 * (CAST({_hits_sql('text', _EN_STOP)} AS DOUBLE) / {_NTOK}) "
        f"+ 0.2 * least({_NTOK} / 100.0, 1.0), 6) AS quality "
        "FROM documents"
    ),
    "text_lang_id": (
        "SELECT doc_id, lang AS actual_lang, "
        + ", ".join(
            f"CAST({_LANG_HITS[lang]} AS BIGINT) AS hits_{lang}"
            for lang in _LANGS
        )
        + f", {_PRED} AS pred_lang FROM documents"
    ),
    "text_bpe_token_count": (
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) "
        "AS n_bpe_tokens, "
        f"CAST({_NTOK} AS BIGINT) AS n_ws_tokens FROM documents"
    ),
    "text_fingerprint": (
        "SELECT doc_id, md5(text) AS fingerprint, "
        f"{hex32_sql('text')} AS h32 FROM documents"
    ),
    "text_winnow_fingerprints": (
        "WITH wn1 AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents), "
        f"wn2 AS (SELECT doc_id, CASE WHEN len(toks) < {WINNOW_K} "
        "THEN [array_to_string(toks, ' ')] "
        "ELSE list_transform(range(1, len(toks) - 1), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS grams "
        "FROM wn1), "
        f"wn3 AS (SELECT doc_id, list_transform(grams, g -> {hex32_sql('g')}) "
        "AS h FROM wn2), "
        f"wn4 AS (SELECT doc_id, CASE WHEN len(h) <= {WINNOW_W} "
        "THEN [list_min(h)] "
        f"ELSE list_transform(range(1, len(h) - {WINNOW_W - 2}), "
        f"j -> list_min(h[j:j+{WINNOW_W - 1}])) END AS wins FROM wn3) "
        "SELECT doc_id, CAST(unnest(list_distinct(wins)) AS BIGINT) AS fp "
        "FROM wn4"
    ),
}

TOP_TOKENS_K = 500


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token heavy hitters: the vocabulary/BPE-merge
    precursor every tokenizer build runs first.  One partial-agg
    groupBy on the token (map-side combine collapses each partition to
    its distinct tokens before the shuffle), then a distributed
    top-K — ``orderBy().limit()`` compiles to TakeOrderedAndProject
    (per-partition heaps of K, one K-row driver merge), never a global
    sort.  The (count DESC, token ASC) order is total, so the K-row
    cut is deterministic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(TOP_TOKENS_K)
    )


def q_top_tokens_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of ``text_top_tokens``: one-pass ``approx_top_k``
    (mergeable frequent-items sketch — each partition keeps a bounded
    candidate map, merged once at the driver) instead of the exact
    token groupBy + distributed top-K.  The shuffle carries one
    bounded sketch per partition, not the per-token count table —
    the same exact→approx trade as tfidf_df_approx (HLL) and
    events_percentiles_approx (GK).

    Oracle note: with maxItemsTracked (10⁴) ≥ the corpus's distinct
    tokens the sketch degenerates to exact counts, so on the driver's
    testdata this hash-matches the EXACT oracle; past 10⁴ distinct
    tokens counts become approximate (the sketch's documented
    contract) and only the heavy tail would drift.

    Tie-boundary discipline (ADVICE r4): the sketch is asked for its
    FULL tracked width (10⁴ items, not K) — if it emitted only K, its
    choice among counts tied at the rank-K boundary would not follow
    the (n DESC, token ASC) total order and no re-sort could restore
    tokens it already dropped.  Emitting the whole tracked map makes
    the deterministic re-sort the ONLY thing that decides the K-row
    cut whenever counts are exact (vocab ≤ 10⁴); past 10⁴ distinct
    tokens the boundary is approximate like the counts themselves.
    The widened emit is driver-side-cheap: one 10⁴-entry array on the
    single merged sketch row, not per-partition."""
    docs = load_table(spark, sf_dir, "documents")
    sk = docs.select(F.explode(tokenize(F.col("text"))).alias("token")).agg(
        F.expr("approx_top_k(token, 10000, 10000)").alias("tk")
    )
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("long").alias("n"),
        )
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(TOP_TOKENS_K)
    )


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunker — the doc→chunk explosion every
    embedding/RAG pipeline runs before the encoder.  Chunk starts are
    a per-row ``sequence(0, n-1, stride)``; each chunk slices the
    token array — pure higher-order Columns, a shuffle-free narrow
    map whose output rows ≈ corpus_tokens / stride.  Every doc emits
    at least one chunk (short docs chunk to themselves), so no doc
    silently vanishes before embedding."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    base = docs.select("doc_id", F.explode(F.array(toks)).alias("tk"))
    starts = F.expr(
        f"sequence(0, greatest(size(tk) - 1, 0), {CHUNK_STRIDE})"
    )
    return (
        base.select(
            "doc_id", F.col("tk"), F.posexplode(starts).alias("chunk_idx", "s")
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr(
                f"array_join(slice(tk, s + 1, {CHUNK_SIZE}), ' ')"
            ).alias("chunk_text"),
            F.expr(f"size(slice(tk, s + 1, {CHUNK_SIZE}))")
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


QUERIES = {
    "text_token_stats": q_token_stats,
    "text_top_tokens": q_top_tokens,
    "text_top_tokens_approx": q_top_tokens_approx,
    "text_chunk_windows": q_chunk_windows,
    "text_quality": q_text_quality,
    "text_lang_id": q_lang_id,
    "text_bpe_token_count": q_bpe_token_count,
    "text_fingerprint": q_doc_fingerprint,
    "text_winnow_fingerprints": q_winnow_fingerprints,
}


# --- Zipf slope fit (r5) ---------------------------------------------

ZIPF_TOP = 1000  # fit over the top-K ranked tokens


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the token frequency spectrum: least-squares
    slope of ln(freq) vs ln(rank) for the top-ZIPF_TOP tokens — a
    natural-language corpus sits near −1; word salad, boilerplate
    floods, or template spam bend the slope, so this is a one-number
    corpus-health probe.

    Scale shape: token counts are one partial-agg groupBy; the ranked
    spectrum is cut to ZIPF_TOP via TakeOrderedAndProject BEFORE the
    rank window (the cut-before-window discipline — ranks of an
    ordered prefix are cut-invariant), and the closed-form least
    squares (Σx, Σy, Σxy, Σx²) is a 1-row aggregate of K rows.  Ranks
    tie-break on token so both engines rank identically."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    fit = xy.agg(
        F.count("*").cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("k")
    return fit.select(
        F.col("k").cast("long").alias("n_tokens_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


ORACLES["text_zipf_fit"] = (
    "WITH counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n "
    "FROM (SELECT unnest(string_split(text, ' ')) AS token "
    "FROM documents) WHERE token <> '' GROUP BY token), "
    f"top AS (SELECT n, token FROM counts ORDER BY n DESC, token "
    f"LIMIT {ZIPF_TOP}), "
    "xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token) "
    "AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM top), "
    "s AS (SELECT CAST(count(*) AS DOUBLE) AS k, sum(x) AS sx, "
    "sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy) "
    "SELECT CAST(k AS BIGINT) AS n_tokens_fit, "
    "round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope, "
    "round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6) "
    "AS zipf_intercept FROM s"
)

QUERIES["text_zipf_fit"] = q_zipf_fit


HEAPS_BINS = 10  # corpus-prefix deciles


def q_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct-vocabulary size at
    each tenth of the corpus (doc_id order) — sublinear growth is the
    natural-language signature; a flat curve means boilerplate, a
    linear one means noise/IDs.  The distributed trick: a token's
    first-seen decile is ONE min-aggregate per token (never a running
    distinct over an ordered scan), new-token counts per decile are a
    10-row rollup, and the cumulative curve is a 10-row window."""
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    tok = (
        docs.crossJoin(F.broadcast(ids))
        .select(
            F.least(
                F.floor(
                    F.lit(HEAPS_BINS)
                    * (F.col("doc_id") - F.col("lo"))
                    / (F.col("hi") - F.col("lo") + 1)
                ).cast("int")
                + 1,
                F.lit(HEAPS_BINS),
            ).alias("decile"),
            F.explode(tokenize(F.col("text"))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    first_seen = tok.groupBy("token").agg(F.min("decile").alias("d"))
    new_per = first_seen.groupBy("d").agg(
        F.count("*").cast("long").alias("n_new_tokens")
    )
    mass_per = tok.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        mass_per.join(
            new_per.withColumnRenamed("d", "decile"), "decile", "left"
        )
        .select(
            "decile",
            "n_tokens",
            F.coalesce("n_new_tokens", F.lit(0)).cast("long").alias("n_new_tokens"),
        )
        .withColumn(
            "cum_vocab", F.sum("n_new_tokens").over(w).cast("long")
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
    )


ORACLES["text_heaps_curve"] = (
    "WITH ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi "
    "FROM documents), "
    "tok AS (SELECT least(CAST(floor(10 * (doc_id - i.lo) * 1.0 / "
    "(i.hi - i.lo + 1)) AS INTEGER) + 1, 10) AS decile, token "
    "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token "
    "FROM documents) CROSS JOIN ids i WHERE token <> ''), "
    "fs AS (SELECT token, min(decile) AS d FROM tok GROUP BY token), "
    "np AS (SELECT d AS decile, CAST(count(*) AS BIGINT) AS n_new_tokens "
    "FROM fs GROUP BY d), "
    "mp AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_tokens "
    "FROM tok GROUP BY decile) "
    "SELECT mp.decile, mp.n_tokens, "
    "CAST(coalesce(np.n_new_tokens, 0) AS BIGINT) AS n_new_tokens, "
    "CAST(sum(coalesce(np.n_new_tokens, 0)) OVER "
    "(ORDER BY mp.decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS cum_vocab, "
    "CAST(sum(mp.n_tokens) OVER "
    "(ORDER BY mp.decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS BIGINT) AS cum_tokens "
    "FROM mp LEFT JOIN np USING (decile)"
)

QUERIES["text_heaps_curve"] = q_heaps_curve



BURST_TOP = 50


def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale burstiness of the top tokens: dispersion index
    D = var/mean of per-doc counts — D ≈ 1 is Poisson scatter
    (function words), D ≫ 1 is bursty/topical (content words
    clumping in few docs); a corpus whose common tokens are all
    bursty is template-flooded.  The zero-count docs never
    materialize: with S = Σc, SS = Σc² over docs CONTAINING the
    token and N = corpus size, population var = (SS − S²/N)/N and
    D = (SS − S²/N)/S — all from one (doc, token) count aggregate
    and exact integer sums.  Top-K cut on the (count DESC, token)
    total order BEFORE anything per-token."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    per = (
        docs.select(
            "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    stats = per.groupBy("token").agg(
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        F.count("*").cast("long").alias("df"),
    )
    top = stats.orderBy(F.desc("s"), F.asc("token")).limit(BURST_TOP)
    disp = (F.col("ss") - F.col("s") * F.col("s") / F.lit(n_docs)) / F.col("s")
    return top.select(
        "token",
        F.col("s").alias("n_occurrences"),
        "df",
        F.round(disp, 6).alias("dispersion"),
    )


ORACLES["text_token_burstiness"] = (
    "WITH per AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c "
    "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token "
    "FROM documents) WHERE token <> '' GROUP BY token, doc_id), "
    "stats AS (SELECT token, CAST(sum(c) AS BIGINT) AS s, "
    "CAST(sum(c * c) AS BIGINT) AS ss, CAST(count(*) AS BIGINT) AS df "
    "FROM per GROUP BY token), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents), "
    f"top AS (SELECT * FROM stats ORDER BY s DESC, token LIMIT {BURST_TOP}) "
    "SELECT token, s AS n_occurrences, df, "
    "round((ss - s * s * 1.0 / n.nd) / s, 6) AS dispersion "
    "FROM top CROSS JOIN n"
)

QUERIES["text_token_burstiness"] = q_token_burstiness


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation — the confusion matrix + accuracy of
    the stopword-lexicon classifier against the labeled ``lang``
    column (the same model-eval shape as the NB confusion, applied
    to a heuristic): (actual, predicted, n) cells plus each cell's
    share of its actual-language row, so systematic confusions read
    directly.  One langs²-bounded rollup over the lang-id
    projection."""
    preds = q_lang_id(spark, sf_dir).select("actual_lang", "pred_lang")
    totals = preds.groupBy("actual_lang").agg(
        F.count("*").alias("row_n")
    )
    return (
        preds.groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
        .join(F.broadcast(totals), "actual_lang")
        .select(
            "actual_lang",
            "pred_lang",
            "n",
            F.round(F.col("n") / F.col("row_n"), 6).alias("row_frac"),
        )
    )


ORACLES["text_lang_confusion"] = (
    "WITH p AS (SELECT lang AS actual_lang, "
    + _PRED
    + " AS pred_lang FROM documents), "
    "t AS (SELECT actual_lang, count(*) AS row_n FROM p "
    "GROUP BY actual_lang) "
    "SELECT p.actual_lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n, "
    "round(count(*) * 1.0 / max(t.row_n), 6) AS row_frac "
    "FROM p JOIN t USING (actual_lang) GROUP BY p.actual_lang, p.pred_lang"
)

QUERIES["text_lang_confusion"] = q_lang_confusion


def q_lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary Jaccard — the code-switching /
    mislabeled-source gauge: labeled languages whose vocabularies
    overlap heavily share templates or mislabeled docs.  Distinct
    (lang, token) postings build once; pairwise intersections come
    from ONE token-keyed self-join (tokens shared by ≥2 langs only),
    sizes join back — a langs²-bounded result, never a vocab×vocab
    product."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select("lang", F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = vocab.groupBy("lang").agg(F.count("*").alias("v"))
    a = vocab.withColumnRenamed("lang", "lang_a")
    b = vocab.select(
        F.col("lang").alias("lang_b"), F.col("token").alias("tb")
    )
    inter = (
        a.join(b, (F.col("token") == F.col("tb")) & (F.col("lang_a") < F.col("lang_b")))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("va") + F.col("vb") - F.col("n_shared")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


ORACLES["text_lang_vocab_overlap"] = (
    "WITH vocab AS (SELECT DISTINCT lang, token FROM "
    "(SELECT lang, unnest(string_split(text, ' ')) AS token "
    "FROM documents) WHERE token <> ''), "
    "sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS v FROM vocab "
    "GROUP BY lang), "
    "inter AS (SELECT a.lang AS lang_a, b.lang AS lang_b, "
    "CAST(count(*) AS BIGINT) AS n_shared FROM vocab a "
    "JOIN vocab b ON a.token = b.token AND a.lang < b.lang "
    "GROUP BY 1, 2) "
    "SELECT i.lang_a, i.lang_b, i.n_shared, "
    "round(i.n_shared * 1.0 / (sa.v + sb.v - i.n_shared), 6) "
    "AS vocab_jaccard FROM inter i "
    "JOIN sizes sa ON sa.lang = i.lang_a "
    "JOIN sizes sb ON sb.lang = i.lang_b"
)

QUERIES["text_lang_vocab_overlap"] = q_lang_vocab_overlap


# --- compressibility scoring (r5) ------------------------------------

def compress_ratio_batches(batches):
    """mapInPandas worker: REAL zlib (level 6) over utf-8 text —
    stdlib-only, one Arrow batch at a time."""
    import zlib

    import pandas as pd

    for pdf in batches:
        raw = pdf["text"].str.encode("utf-8")
        comp = raw.map(lambda b: len(zlib.compress(b, 6)))
        n = raw.map(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "n_compressed": comp.astype("int64"),
                "ratio": (comp / n.clip(lower=1)).round(6),
            }
        )


def q_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal — the oldest repetition
    detector there is: zlib ratio ≪ 1 means the doc is its own
    boilerplate (crawler traps, keyword stuffing); near-1 ratios are
    high-entropy text.  REAL zlib via Arrow `mapInPandas` (this is a
    legitimate must-be-Python operator: no Column expression
    compresses), narrow, payloads batch-bounded.  Rows-only: the
    oracle cannot run zlib — pinned by ordering tests (repetitive ≪
    natural < random) and a determinism check."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        compress_ratio_batches,
        schema="doc_id long, n_bytes long, n_compressed long, ratio double",
    )


QUERIES["text_compressibility"] = q_compressibility


COVERAGE_GRID = [10, 50, 100, 500, 1000]


def q_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size planning curve: what fraction of total token
    MASS the top-k tokens cover, at planning grid ranks — the chart
    that sizes a tokenizer vocab or a stopword list (coverage
    saturating by k=100 says a tiny vocab suffices; a flat curve says
    long-tail text).  Counts cut to the max grid rank via
    TakeOrderedAndProject BEFORE the cumulative window (cut-invariant
    prefix again); total mass rides a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("tot"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(
        max(COVERAGE_GRID)
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = top.withColumn("rk", F.row_number().over(w)).withColumn(
        "cum",
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # the final row (rk = vocab size) always reports, so the curve
    # closes at coverage 1.0 even when vocab < max grid rank; the
    # window lands in a column first (window fns can't sit in WHERE)
    grid = ranked.withColumn(
        "max_rk", F.max("rk").over(Window.partitionBy())
    ).filter(
        F.col("rk").isin(COVERAGE_GRID) | (F.col("rk") == F.col("max_rk"))
    )
    return (
        grid.crossJoin(F.broadcast(total))
        .select(
            F.col("rk").cast("int").alias("vocab_size"),
            F.col("cum").cast("long").alias("covered_tokens"),
            F.round(F.col("cum") / F.col("tot"), 6).alias("coverage"),
        )
    )


ORACLES["text_token_coverage"] = (
    "WITH counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n "
    "FROM (SELECT unnest(string_split(text, ' ')) AS token "
    "FROM documents) WHERE token <> '' GROUP BY token), "
    "tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts), "
    f"top AS (SELECT * FROM counts ORDER BY n DESC, token "
    f"LIMIT {max(COVERAGE_GRID)}), "
    "ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) "
    "AS rk, sum(n) OVER (ORDER BY n DESC, token "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM top), "
    "mx AS (SELECT max(rk) AS m FROM ranked) "
    "SELECT CAST(rk AS INTEGER) AS vocab_size, "
    "CAST(cum AS BIGINT) AS covered_tokens, "
    "round(cum * 1.0 / tot.tot, 6) AS coverage "
    "FROM ranked CROSS JOIN tot CROSS JOIN mx "
    "WHERE rk IN (" + ", ".join(str(k) for k in COVERAGE_GRID) + ") "
    "OR rk = mx.m"
)

QUERIES["text_token_coverage"] = q_token_coverage


def q_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-ish tokens per
    whitespace word and characters per token.  The multilingual
    tokenizer-budget chart — a language whose fertility runs far above
    the corpus mean pays proportionally more sequence length for the
    same content, which skews both training mixture mass and serving
    cost.  Shuffle shape: narrow per-doc counts, one langs-bounded
    rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.regexp_count(F.col("text"), F.lit(BPE_RE))
        .cast("long")
        .alias("n_tok"),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.sum("n_tok") / F.sum("n_words"), 6).alias(
            "tokens_per_word"
        ),
        F.round(F.sum("n_chars") / F.sum("n_tok"), 6).alias(
            "chars_per_token"
        ),
    )


ORACLES["text_fertility_by_lang"] = (
    "WITH p AS (SELECT lang, "
    f"CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_tok, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, "
    "CAST(length(text) AS BIGINT) AS n_chars FROM documents) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_tok) AS BIGINT) AS n_tokens, "
    "round(sum(n_tok) / CAST(sum(n_words) AS DOUBLE), 6) "
    "AS tokens_per_word, "
    "round(sum(n_chars) / CAST(sum(n_tok) AS DOUBLE), 6) "
    "AS chars_per_token FROM p GROUP BY lang"
)

QUERIES["text_fertility_by_lang"] = q_fertility_by_lang


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit over the engine's train/test split
    (doc_id % 8, the reference's fixed 75/25 protocol): share of TEST
    token occurrences absent from the TRAIN vocabulary, per language —
    the eval-realism check run before any vocabulary-dependent model
    (an OOV-heavy split under-reports every metric).

    Scale: train vocab is one distinct aggregate (vocab-bounded)
    joined broadcast onto the exploded test tokens; rollup is
    langs-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        (F.col("doc_id") % 8 >= 2).alias("is_train"),
        F.explode(tokenize(F.col("text"))).alias("token"),
    )
    vocab = (
        toks.filter(F.col("is_train"))
        .select("token")
        .distinct()
        .withColumn("known", F.lit(1))
    )
    test = toks.filter(~F.col("is_train")).join(
        F.broadcast(vocab), "token", "left"
    )
    return test.groupBy("lang").agg(
        F.count("*").alias("n_test_tokens"),
        F.sum(F.when(F.col("known").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("known").isNull(), 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("oov_rate"),
    )


ORACLES["text_oov_rate"] = (
    "WITH t AS (SELECT lang, doc_id % 8 >= 2 AS is_train, "
    "unnest(string_split(text, ' ')) AS token FROM documents), "
    "v AS (SELECT DISTINCT token FROM t WHERE is_train), "
    "te AS (SELECT t.lang, v.token AS known FROM t "
    "LEFT JOIN v USING (token) WHERE NOT t.is_train) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_test_tokens, "
    "CAST(sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_oov, "
    "round(sum(CASE WHEN known IS NULL THEN 1 ELSE 0 END) "
    "/ CAST(count(*) AS DOUBLE), 6) AS oov_rate "
    "FROM te GROUP BY lang"
)

QUERIES["text_oov_rate"] = q_oov_rate


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-mixing detector: per-doc Latin vs CJK character counts
    and a mixed-script flag, rolled up per labeled language — the
    code-switching / wrong-lang-label screen a multilingual corpus
    runs next to the stopword language-ID (a 'zh' doc that is 90%
    Latin script is mislabeled or templated).  Two regexp_count
    densities in a shuffle-free narrow map (Java∩RE2 subset), one
    langs-bounded rollup."""
    docs = load_table(spark, sf_dir, "documents")
    latin = F.regexp_count(F.col("text"), F.lit("[a-zA-Z]"))
    cjk = F.regexp_count(F.col("text"), F.lit("[\\x{4e00}-\\x{9fff}]"))
    per_doc = docs.select(
        "lang",
        latin.alias("n_latin"),
        cjk.alias("n_cjk"),
        ((latin > 0) & (cjk > 0)).cast("int").alias("mixed"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_latin").cast("long").alias("n_latin_chars"),
        F.sum("n_cjk").cast("long").alias("n_cjk_chars"),
        F.sum("mixed").cast("long").alias("n_mixed_docs"),
        F.round(F.sum("mixed") / F.count("*"), 6).alias("mixed_share"),
    )


ORACLES["text_script_mix"] = (
    "WITH p AS (SELECT lang, "
    "CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT) AS n_latin, "
    "CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) "
    "AS n_cjk FROM documents) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_latin) AS BIGINT) AS n_latin_chars, "
    "CAST(sum(n_cjk) AS BIGINT) AS n_cjk_chars, "
    "CAST(sum(CASE WHEN n_latin > 0 AND n_cjk > 0 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_mixed_docs, "
    "round(sum(CASE WHEN n_latin > 0 AND n_cjk > 0 THEN 1 ELSE 0 END) "
    "/ CAST(count(*) AS DOUBLE), 6) AS mixed_share "
    "FROM p GROUP BY lang"
)

QUERIES["text_script_mix"] = q_script_mix


# --- lexicon sentiment baseline (r5) ----------------------------------

# polarity lexicon over the corpus's actual (systems-flavored)
# vocabulary — the AFINN shape: word → integer valence
LEXICON: dict[str, int] = {
    "fast": 2,
    "slow": -2,
    "big": 1,
    "small": -1,
    "dup": -2,
}


def q_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based sentiment baseline next to the NB/SVM models — the
    AFINN/VADER shape: per-doc valence = Σ lexicon scores of its
    tokens, polarity = sign, plus lexicon coverage (scored tokens /
    all tokens — a low-coverage doc's polarity is noise and every
    lexicon deployment reports it).  Model-free baselines like this
    are what the trained classifiers must beat to justify their cost.

    Shape: the lexicon joins as a broadcast side input onto the
    exploded token stream (the S4 model-side-input pattern with a
    5-row model), one partial-agg rollup back to docs.  Integer
    valences sum exactly; the single ratio rounds once."""
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        list(LEXICON.items()), "word string, valence int"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    scored = toks.join(F.broadcast(lex), "word", "left")
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.coalesce(F.sum((F.col("valence").isNotNull()).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_scored"),
        F.coalesce(F.sum("valence"), F.lit(0)).cast("long").alias("score"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_scored",
        "score",
        F.signum(F.col("score").cast("double")).cast("int").alias(
            "polarity"
        ),
        F.round(F.col("n_scored") / F.col("n_tokens"), 6).alias(
            "coverage"
        ),
    )


_LEX_CASE = (
    "CASE word "
    + " ".join(
        f"WHEN '{w}' THEN {v}" for w, v in sorted(LEXICON.items())
    )
    + " END"
)

ORACLES["text_lexicon_sentiment"] = (
    "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) "
    "AS word FROM documents), "
    f"sc AS (SELECT doc_id, {_LEX_CASE} AS valence FROM toks) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(coalesce(sum(CASE WHEN valence IS NOT NULL THEN 1 ELSE 0 END), 0) "
    "AS BIGINT) AS n_scored, "
    "CAST(coalesce(sum(valence), 0) AS BIGINT) AS score, "
    "CAST(sign(coalesce(sum(valence), 0)) AS INTEGER) AS polarity, "
    "round(coalesce(sum(CASE WHEN valence IS NOT NULL THEN 1 ELSE 0 END), 0) "
    "* 1.0 / count(*), 6) AS coverage "
    "FROM sc GROUP BY doc_id"
)

QUERIES["text_lexicon_sentiment"] = q_lexicon_sentiment


# --- mapInArrow token count (zero-copy Arrow twin) -------------------


def _arrow_token_batches(batches):
    """Arrow-native per-batch transform: split on space, count list
    lengths — all in pyarrow.compute kernels, no pandas
    materialization and no per-row Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        tk = pc.split_pattern(b.column(b.schema.get_field_index("text")), " ")
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("doc_id")),
                pc.cast(pc.list_value_length(tk), pa.int64()),
            ],
            ["doc_id", "n_tokens"],
        )


def q_arrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count via ``mapInArrow`` — the lowest-overhead
    Python boundary Spark offers: columnar RecordBatches in, columnar
    RecordBatches out, zero-copy on both sides, vectorized
    pyarrow.compute kernels in between (vs mapInPandas paying an
    Arrow→pandas→Arrow conversion per batch).  A narrow map: no
    shuffle, output partitioning = input partitioning.  The JVM twin
    is `size(split(text,' '))` inside text_token_stats — the twin test
    diffs them row-for-row; this registration exists to pin the
    mapInArrow surface itself (binary/tensor batch processing at
    100 TB runs through exactly this API)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(_arrow_token_batches, "doc_id long, n_tokens long")


ORACLES["text_arrow_token_count"] = (
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) "
    "AS n_tokens FROM documents"
)

QUERIES["text_arrow_token_count"] = q_arrow_token_count


# --- chunk-level dedup rate (RAG-prep audit, r5) ---------------------


def q_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-chunk audit for the RAG/embedding pipeline: after
    doc-level dedup, the CHUNK stream still carries duplicates
    (shared boilerplate windows, overlap-stride self-duplication,
    near-identical docs that survived thresholds) — and every
    duplicate chunk is an embedding you pay for twice and a retrieval
    slot wasted on the same passage.  One md5 groupBy over the
    chunker's output: total chunks, distinct chunks, duplicate share,
    and the hottest chunk's multiplicity (the boilerplate smoking
    gun).

    Shape: the chunker is a shuffle-free narrow map; this adds ONE
    fingerprint-keyed partial agg + a scalar rollup — the same
    exact-dedup plan as `dedup_exact`, applied at chunk granularity."""
    ch = q_chunk_windows(spark, sf_dir).select(
        F.md5(F.col("chunk_text")).alias("fp")
    )
    per = ch.groupBy("fp").agg(F.count("*").alias("n"))
    return per.agg(
        F.sum("n").cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_distinct"),
        F.round(
            1.0 - F.count("*") / F.sum("n").cast("double"), 6
        ).alias("dup_share"),
        F.max("n").cast("long").alias("max_multiplicity"),
    )


ORACLES["text_chunk_dedup_rate"] = (
    "WITH ch AS (" + ORACLES["text_chunk_windows"] + "), "
    "per AS (SELECT md5(chunk_text) AS fp, count(*) AS n "
    "FROM ch GROUP BY 1) "
    "SELECT CAST(sum(n) AS BIGINT) AS n_chunks, "
    "CAST(count(*) AS BIGINT) AS n_distinct, "
    "round(1.0 - count(*) / CAST(sum(n) AS DOUBLE), 6) AS dup_share, "
    "CAST(max(n) AS BIGINT) AS max_multiplicity FROM per"
)

QUERIES["text_chunk_dedup_rate"] = q_chunk_dedup_rate


# --- Burrows' Delta stylometric source distance (r5) -----------------

DELTA_TOP_K = 50


def q_source_stylometry_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Burrows' Delta between sources (Burrows 2002; the standard
    authorship-attribution distance): restrict to the corpus's top-K
    most frequent tokens (function words — style, not topic), z-score
    each token's per-source relative frequency across sources, and
    Delta(a,b) = mean |z_a − z_b|.  Near-zero Delta between two
    "independent" feeds is the mirrored-provider tell that URL-level
    provenance misses; complements the KL divergence monitor
    (`text_source_divergence`), which is TOPICAL where Delta is
    STYLISTIC.

    Shape: one (source, token) partial agg; the top-K list, the
    per-source totals, and the K×|sources| z-matrix are all bounded
    aggregates; the pairwise step runs on the tiny z-matrix
    (sources² × K rows).  Constant-frequency tokens (σ=0) are dropped
    identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("token")
    ).groupBy("source", "token").agg(F.count("*").alias("n"))
    topk = (
        st.groupBy("token")
        .agg(F.sum("n").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("token"))
        .limit(DELTA_TOP_K)
        .select("token")
    )
    totals = st.groupBy("source").agg(F.sum("n").alias("src_tot"))
    f = (
        st.join(F.broadcast(topk), "token")
        .join(totals, "source")
        .select(
            "source",
            "token",
            (F.col("n") / F.col("src_tot")).alias("f"),
        )
    )
    # tokens absent from a source contribute f = 0: complete the
    # (source, token) grid via a cross of the two small key sets
    grid = totals.select("source").join(F.broadcast(topk))
    ff = grid.join(f, ["source", "token"], "left").select(
        "source", "token", F.coalesce(F.col("f"), F.lit(0.0)).alias("f")
    )
    mu = ff.groupBy("token").agg(
        F.avg("f").alias("mu"),
        F.stddev_pop("f").alias("sd"),
    )
    z = (
        ff.join(F.broadcast(mu), "token")
        .filter(F.col("sd") > 0)
        .select(
            "source",
            "token",
            ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"),
        )
    )
    za = z.select(
        F.col("source").alias("source_a"), "token", F.col("z").alias("za")
    )
    zb = z.select(
        F.col("source").alias("source_b"),
        F.col("token").alias("token_b"),
        F.col("z").alias("zb"),
    )
    return (
        za.join(
            zb,
            (F.col("token") == F.col("token_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias(
                "delta"
            ),
        )
    )


ORACLES["text_source_stylometry_delta"] = (
    "WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS token "
    "FROM documents), "
    "cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n "
    "FROM st GROUP BY source, token), "
    "topk AS (SELECT token FROM (SELECT token, sum(n) AS tot FROM cnt "
    f"GROUP BY token ORDER BY tot DESC, token ASC LIMIT {DELTA_TOP_K})), "
    "tots AS (SELECT source, CAST(sum(n) AS BIGINT) AS src_tot "
    "FROM cnt GROUP BY source), "
    "grid AS (SELECT s.source, t.token, s.src_tot "
    "FROM tots s CROSS JOIN topk t), "
    "ff AS (SELECT g.source, g.token, "
    "coalesce(CAST(c.n AS DOUBLE), 0.0) / g.src_tot AS f "
    "FROM grid g LEFT JOIN cnt c "
    "ON c.source = g.source AND c.token = g.token), "
    "mu AS (SELECT token, avg(f) AS mu, stddev_pop(f) AS sd "
    "FROM ff GROUP BY token), "
    "z AS (SELECT ff.source, ff.token, (ff.f - mu.mu) / mu.sd AS z "
    "FROM ff JOIN mu USING (token) WHERE mu.sd > 0) "
    "SELECT a.source AS source_a, b.source AS source_b, "
    "CAST(count(*) AS BIGINT) AS n_tokens, "
    "round(avg(abs(a.z - b.z)), 6) AS delta "
    "FROM z a JOIN z b ON a.token = b.token AND a.source < b.source "
    "GROUP BY 1, 2"
)

QUERIES["text_source_stylometry_delta"] = q_source_stylometry_delta


# --- lexical sophistication via frequency rank (r5) --------------------------
#
# The psycholinguistic difficulty signal Flesch can't see: word
# FREQUENCY, not word length, is the strongest predictor of reading
# effort (the word-frequency effect), so score each doc by the mean
# log2 rank of its tokens under the corpus's own frequency ranking
# (rank 1 = most common word; ties broken by token so the ranking is
# a total order).  Rare-word-heavy docs score high — the
# "sophisticated or just jargon/noise" queue that complements
# text_readability and feeds the same signal-correlation audit.
#
# Determinism: ranks are exact integers from one vocabulary-sized
# count + rank window; log2(rank) is a fixed closed form per integer,
# and the per-doc mean aggregates 1e6-scaled INTEGER log-ranks (no
# float accumulation-order leak).  Shape: one vocab groupBy, a
# vocab-sized rank window (single partition over the VOCABULARY —
# bounded by distinct words, not corpus rows, same shape as
# text_top_tokens' ranking), token→rank equi-join, per-doc partial
# agg.

LEXRANK_SCALE = 1_000_000


def q_lexical_sophistication(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    )
    counts = docs.groupBy("token").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranks = counts.select(
        "token",
        F.row_number().over(w).cast("long").alias("rank"),
    ).select(
        "token",
        "rank",
        F.round(F.log2(F.col("rank").cast("double")) * LEXRANK_SCALE)
        .cast("long")
        .alias("lr_scaled"),
    )
    per_doc = docs.join(ranks, "token").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(
            F.sum("lr_scaled")
            / (F.count("*") * F.lit(float(LEXRANK_SCALE))),
            6,
        ).alias("mean_log2_rank"),
        F.max("rank").cast("long").alias("rarest_rank"),
    )
    return per_doc


ORACLES["text_lexical_sophistication"] = (
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) "
    "AS token FROM documents), "
    "c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok "
    "GROUP BY token), "
    "r AS (SELECT token, CAST(row_number() OVER "
    "(ORDER BY n DESC, token) AS BIGINT) AS rank FROM c), "
    "rs AS (SELECT token, rank, "
    f"CAST(round(log2(CAST(rank AS DOUBLE)) * {LEXRANK_SCALE}, 0) "
    "AS BIGINT) AS lr_scaled FROM r) "
    "SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    f"round(sum(rs.lr_scaled) / (count(*) * {float(LEXRANK_SCALE)}), 6) "
    "AS mean_log2_rank, "
    "CAST(max(rs.rank) AS BIGINT) AS rarest_rank "
    "FROM tok t JOIN rs USING (token) GROUP BY t.doc_id"
)
QUERIES["text_lexical_sophistication"] = q_lexical_sophistication


# --- weight-of-evidence / information value (r6) --------------------------
#
# The credit-scoring-era feature screen, still the fastest "is this
# feature predictive of the label?" readout before any model run: for
# each bucket b of a candidate feature, WOE_b = ln(p_b/q_b) with p/q
# the label-conditional bucket shares (0.5-smoothed so empty cells
# stay finite), and IV = Σ_b (p_b − q_b)·WOE_b (rule of thumb:
# < 0.02 useless, > 0.3 strong).  Feature: document length in
# fixed 100-char buckets capped at 10 — FIXED-WIDTH buckets, not
# ntile deciles, because a global ntile is a single-partition window
# sort at corpus scale while `least(9, n_chars DIV 100)` is a narrow
# map.  Label: the documented doc_id % 2 sentiment stand-in
# (sources/csv.py P9 note).  Engineered independent of length, so the
# expected IV here is ≈ 0 — the math, not the signal, is the test.
#
# Scale shape: ONE partial-agg groupBy to ≤10 rows; totals attach via
# a broadcast 1-row aggregate.  ln() applies once per bucket to
# identical smoothed ratios; exposed doubles round to 6.

WOE_BUCKET_CHARS = 100
WOE_MAX_BUCKET = 9


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        F.least(
            F.lit(WOE_MAX_BUCKET),
            F.expr(f"n_chars DIV {WOE_BUCKET_CHARS}"),
        )
        .cast("long")
        .alias("bucket"),
        (F.col("doc_id") % 2).cast("long").alias("pos"),
    )
    per = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("long").alias("t_pos"),
        F.sum(F.col("n") - F.col("n_pos")).cast("long").alias("t_neg"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    j = per.crossJoin(F.broadcast(tot))
    p = (F.col("n_pos") + 0.5) / (
        F.col("t_pos") + 0.5 * F.col("n_buckets")
    )
    q = (F.col("n") - F.col("n_pos") + 0.5) / (
        F.col("t_neg") + 0.5 * F.col("n_buckets")
    )
    woe = F.log(p / q)
    return j.select(
        "bucket",
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.round(woe, 6).alias("woe"),
        F.round((p - q) * woe, 6).alias("iv_term"),
    )


ORACLES["text_woe_iv"] = (
    "WITH b AS (SELECT least("
    f"{WOE_MAX_BUCKET}, n_chars // {WOE_BUCKET_CHARS}) AS bucket, "
    "doc_id % 2 AS pos FROM documents), "
    "per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(pos) AS BIGINT) AS n_pos FROM b GROUP BY bucket), "
    "tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS t_pos, "
    "CAST(sum(n - n_pos) AS BIGINT) AS t_neg, "
    "CAST(count(*) AS BIGINT) AS n_buckets FROM per) "
    "SELECT bucket, n, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg, "
    "round(ln(((n_pos + 0.5) / (t_pos + 0.5 * n_buckets)) / "
    "((n - n_pos + 0.5) / (t_neg + 0.5 * n_buckets))), 6) AS woe, "
    "round(((n_pos + 0.5) / (t_pos + 0.5 * n_buckets) - "
    "(n - n_pos + 0.5) / (t_neg + 0.5 * n_buckets)) * "
    "ln(((n_pos + 0.5) / (t_pos + 0.5 * n_buckets)) / "
    "((n - n_pos + 0.5) / (t_neg + 0.5 * n_buckets))), 6) AS iv_term "
    "FROM per CROSS JOIN tot"
)
QUERIES["text_woe_iv"] = q_woe_iv
