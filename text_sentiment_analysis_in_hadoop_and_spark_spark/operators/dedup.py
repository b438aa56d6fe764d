"""Deduplication operators over the ``documents`` table — the
training-data-pipeline extension surface (beyond the reference; the
reference has no dedup at all, so these are engine extensions built
on the same portable-hash primitives as the rest of the repo).

Four dedup families:

- **exact**: md5 content fingerprint → groupBy fingerprint.  One
  shuffle on a 32-char key; at 100 TB this is the cheapest possible
  full-corpus dedup (hash-partitioned, partial-agg combines).
- **MinHash + LSH**: word-3-gram shingles → 16 universal-hash
  minima → 4 bands of 4 → band-bucket join.  Candidate pairs come
  ONLY from same-bucket docs — never an all-pairs product.  At
  scale the band join is a shuffle on the band hash; pathological
  buckets (boilerplate shingle sets) should be capped with a
  frequency filter before the self-join — see ``candidate_pairs``.
- **SimHash**: 32-bit sign-of-weighted-bit-sums fingerprint; docs
  within small Hamming distance are near-dups.  One groupBy.
- **true Jaccard verify**: exact n-gram Jaccard computed only for
  LSH candidate pairs (the verify stage of the standard
  candidate→verify near-dup pipeline).

Everything is pure Column expressions / joins — no Python UDFs — and
every query has a DuckDB oracle twin (the portable md5-derived hash
in functions/hashing.py exists precisely so both engines agree).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE31,
    hex32,
    hex32_sql,
    md5_fingerprint,
    minhash,
    minhash_sql,
)
from ..sources.tables import load_table
from .common import memo
from .quality import ORACLES as _QUALITY_ORACLES
from .quality import q_repetition

N_PERM = 16        # minhash permutations
BANDS = 4          # LSH bands
ROWS_PER_BAND = 4  # N_PERM / BANDS
SHINGLE_N = 3      # word n-gram shingle width
SIMHASH_BITS = 32
# Band buckets larger than this are dropped before the self-join: a
# boilerplate bucket of m docs emits m(m-1)/2 pairs, so one pathological
# key (license headers, empty-ish templates) turns LSH quadratic.  Docs
# in a dropped bucket are all mutual near-dup *candidates* anyway — any
# real pipeline routes such giant clusters to a dedicated exact-dup
# pass (q_dedup_exact here) rather than pairwise verify.  1000 docs →
# ≤499,500 pairs per surviving bucket, bounded at any corpus size.
HOT_BUCKET_CAP = 1000


# --------------------------------------------------------------------------
# building blocks (Spark side)
# --------------------------------------------------------------------------


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per doc.  Docs shorter than the
    shingle width contribute their whole text as one shingle (so no
    doc silently vanishes from the dedup universe).

    The token array goes through an ``explode(array(...))`` Generate
    barrier first: ProjectCollapsing would otherwise inline the
    ``split`` at every lambda reference and re-split the text per
    shingle (measured 3.7× slower — same Catalyst pitfall as
    textstats.q_winnow_fingerprints)."""
    tok_df = docs.select(
        "doc_id",
        F.explode(F.array(F.split(F.col("text"), " "))).alias("toks"),
    )
    toks = F.col("toks")
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SHINGLE_N),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE_N)),
    )
    sh = F.when(
        F.size(toks) < SHINGLE_N, F.array(F.concat_ws(" ", toks))
    ).otherwise(ngrams)
    return tok_df.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """16 permutation minima per doc — ONE hash aggregate (partial+
    final), shuffle keyed on doc_id only.  The md5-derived base hash
    is materialized ONCE per shingle; the 16 permutations are 2-op
    integer arithmetic on top (recomputing md5 inside each aggregate
    was a measured 5× slowdown)."""
    hashed = shingles.select(
        "doc_id", hex32(F.col("shingle")).alias("h")
    )
    aggs = [
        F.min(minhash(F.col("h"), k)).alias(f"s{k}") for k in range(N_PERM)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def banded_signatures(sigs: DataFrame) -> DataFrame:
    """Band hash = md5 of the band's 4 signature components."""
    bands = [
        F.md5(
            F.concat_ws(
                "_",
                *[
                    F.col(f"s{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        ).alias(f"band{b}")
        for b in range(BANDS)
    ]
    return sigs.select("doc_id", *[f"s{k}" for k in range(N_PERM)], *bands)


def banded_long(banded: DataFrame) -> DataFrame:
    """Unpivot the band columns to (doc_id, bi, bk) — one ``stack``
    Generate, BANDS rows per doc.  A single (bi, bk)-keyed join over
    this long table replaces BANDS separate per-band joins: one
    shuffle, one hot-bucket aggregate, one stage — instead of BANDS
    small jobs whose fixed costs dominate (and whose subtrees multiply
    whenever the consumer references the pair table twice)."""
    stack_args = ", ".join(f"{b}, band{b}" for b in range(BANDS))
    return banded.select(
        "doc_id", F.expr(f"stack({BANDS}, {stack_args}) AS (bi, bk)")
    )


def candidate_pairs(
    banded: DataFrame, cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """Same-bucket pairs (doc_a < doc_b), deduped across bands.

    Scale note: the (bi, bk)-keyed self-join shuffles on the band
    hash; bucket sizes are the skew risk (near-universal boilerplate
    shingles).  Band keys whose bucket count exceeds ``cap`` are
    dropped before the self-join: the per-(band, key) aggregate is
    tiny (partial-agg combined), the hot-key list is tinier still
    (only keys above the cap), so it broadcast-anti-joins against the
    probe side for free.  Excluding the key on ONE side suffices —
    the equi-join can't match a dropped key anyway.  AQE skew-join
    splitting handles the sub-cap skew that remains.
    """
    long = banded_long(banded)
    hot = (
        long.groupBy("bi", "bk")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > cap)
        .select("bi", "bk")
    )
    left = long.select(
        F.col("doc_id").alias("doc_a"), "bi", "bk"
    ).join(F.broadcast(hot), ["bi", "bk"], "left_anti")
    right = long.select(F.col("doc_id").alias("doc_b"), "bi", "bk")
    return (
        left.join(right, ["bi", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# --------------------------------------------------------------------------
# queries() entries
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup clusters: content fingerprint → (n_docs, canonical
    = min doc_id).  Keeping `canonical_doc_id` makes the kept-set
    deterministic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", md5_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself (not just the cluster stats):
    the smallest doc_id of each exact-content cluster survives, with
    its text.  doc_id is unique, so the min-per-fingerprint set
    identifies surviving rows directly — one partial-agg groupBy and
    one doc_id-keyed semi join, both hash-partitioned at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    keep = (
        docs.select(md5_fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


@memo
def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_shingles(docs).cache()


# banded signatures memoized per (session, sf_dir): the sig/pairs/
# verify queries all consume the same signature table
@memo
def _banded_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return banded_signatures(
        minhash_signatures(_shingles_cached(spark, sf_dir))
    ).cache()


def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _banded_cached(spark, sf_dir).select(
        "doc_id", *[f"s{k}" for k in range(N_PERM)]
    )


# bounded method pair tables, memoized like the prefix-truth table
# (r11 — SURVEY's "all inputs memoized bounded pair tables" claim was
# true for the truth side only; method_agreement / lsh_s_curve /
# minhash_error re-ran the band joins and the whole tfidf-cosine
# token pipeline on every call, ~4 s/run at sf0.1).  The span-scrub
# output (consumed by dedup_savings) is memoized the same way: each
# of the five is one @memo function returning its cached frame.
@memo
def _candidates_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized LSH candidate pair table per (session, sf_dir).

    r13 (VERDICT r12 #6 re-bill audit): four consumers re-derived the
    banded self-join per call — q_jaccard_pairs' memo build, the
    minhash estimator, the s-curve detector side, and
    q_containment_pairs, which referenced `pairs` twice in one plan
    and so evaluated the self-join TWICE per run (warm standalone
    probe: 1.2 s per evaluation of a 3.6 s query).  One cached table
    serves all of them; the build bills to the family's first
    toucher inside the dedup group, same as every other memo."""
    return candidate_pairs(_banded_cached(spark, sf_dir)).cache()


@memo
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard = fraction of the 16
    signature components that agree."""
    sigs = _banded_cached(spark, sf_dir)
    pairs = _candidates_cached(spark, sf_dir)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{k}").alias(f"a{k}") for k in range(N_PERM)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{k}").alias(f"b{k}") for k in range(N_PERM)],
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(N_PERM)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(N_PERM)), 6).alias("est_jaccard"),
        )
        .cache()
    )


# test hook: forces every guarded int64-dictionary path (verify
# arrays, okey join key, suffix filter) onto its string fallback, so
# tests can pin that the fallback produces IDENTICAL results — a real
# collision is a ~2^-64 event we can't synthesize.
_FORCE_STRING_FALLBACK = False


# Plain bools (nothing to unpersist), but memoized per (session,
# sf_dir) so a corpus regenerated at the same path in one session
# can't ride a stale True verdict into the int64 fast path it was
# never proven collision-free on (ADVICE r11).  One driver round-trip
# per (session, corpus), shared by every corpus-side array verify
# that wants the int64 dictionary.
@memo
def _corpus_hash_bijective(spark: SparkSession, sf_dir: str) -> bool:
    """True iff xxhash64 is collision-free on THIS corpus' distinct
    shingles — the guard that lets array verifies pack shingles into
    int64 dictionaries (r10 pattern, generalized r11) while staying
    unconditionally exact via the string fallback.  Callers check
    ``_FORCE_STRING_FALLBACK`` first."""
    r = (
        _shingles_cached(spark, sf_dir)
        .agg(
            F.countDistinct("shingle").alias("n_str"),
            F.countDistinct(F.xxhash64("shingle")).alias("n_hash"),
        )
        .collect()[0]
    )
    return bool(r["n_str"] == r["n_hash"])


def verify_jaccard(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame,
    shingles_a: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for an ARBITRARY (doc_a, doc_b) pair
    table — the verify stage, shared by the full-corpus pair query
    and the incremental batch probe.  One shingle-keyed join computes
    intersections for the candidate pairs only; sizes attach via two
    doc_id-keyed joins.

    ``shingles_a`` overrides the (doc_id, shingle) source of the
    ``doc_a`` side; it defaults to the corpus documents table, which
    is always the ``doc_b`` side.  The incremental-ingest probe passes
    its arrival batch's OWN shingles as ``shingles_a`` — an arrival
    whose doc_id is absent from the corpus table would otherwise lose
    every candidate pair in the inner size/intersection joins and be
    admitted even as an exact duplicate (ADVICE r4)."""
    corpus = _shingles_cached(spark, sf_dir)
    corpus_only = shingles_a is None
    # ARRAY verify (r10, same shape as the prefix-filter join): each
    # side's shingle set packs into one sorted array, the pair joins
    # pull both arrays, and array_intersect computes |A∩B| JVM-side —
    # no posting-expansion shuffle.  The size joins stay INNER on
    # purpose: a pair whose doc is absent from its shingle source
    # drops, preserving the ADVICE-r4 semantics the docstring pins.
    #
    # INT64-dictionary arrays (r11, from the prefix join's r10 fix):
    # on the CORPUS-only path (both sides the cached corpus shingles)
    # the arrays pack xxhash64 longs instead of strings — ~3.5× less
    # pair-join payload — guarded by the memoized per-corpus bijection
    # check, string fallback on any collision.  Mixed-source calls
    # (the incremental/streaming probes passing their own arrival
    # shingles) keep strings: their batch side isn't covered by the
    # corpus bijection proof, and adding a per-micro-batch check would
    # put a blocking job in the stream path.
    key_col = (
        F.xxhash64("shingle")
        if corpus_only
        and not _FORCE_STRING_FALLBACK
        and _corpus_hash_bijective(spark, sf_dir)
        else F.col("shingle")
    )

    def arrays(sh: DataFrame) -> DataFrame:
        return sh.groupBy("doc_id").agg(
            F.sort_array(F.collect_set(key_col)).alias("arr")
        )

    arrs_b = arrays(corpus)
    arrs_a = arrs_b if corpus_only else arrays(shingles_a)
    ni = F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
    return (
        pairs.join(
            arrs_a.select(
                F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs_b.select(
                F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                ni
                / (
                    F.size("arr_a").cast("long")
                    + F.size("arr_b").cast("long")
                    - ni
                ),
                6,
            ).alias("jaccard"),
        )
    )


@memo
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify stage: exact shingle-set Jaccard, computed only for the
    LSH candidate pairs (never all-pairs).  Memoized: the cluster and
    corpus-keep queries consume this as their edge source — without
    the memo each consumer re-runs the candidate→verify joins
    (~8 s/sf0.1)."""
    pairs = _candidates_cached(spark, sf_dir)
    return verify_jaccard(spark, sf_dir, pairs).cache()


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric verify: per-direction shingle-set CONTAINMENT for the
    LSH candidate pairs — ``containment_a = |A∩B| / |A|`` (how much of
    doc_a sits inside doc_b) and the mirror.  Jaccard alone misses the
    quoted-document case: a small doc fully contained in a large one
    has |A∩B|/|A∪B| diluted toward 0 by the large doc's size while
    containment_a = 1.0 — the signal partial-dup / quote scrubbing
    needs (same motivation as the span-level family, at doc grain).

    Scale shape: identical to the jaccard verify — candidates only
    (never all-pairs), one shingle-keyed partial-agg join for the
    intersections, two doc_id-keyed size joins."""
    pairs = _candidates_cached(spark, sf_dir)
    sh = _shingles_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    # same ARRAY verify as verify_jaccard (r10) — intersections from
    # array_intersect over per-doc sorted sets, no posting expansion;
    # int64-dictionary arrays on the corpus path (r11, bijection-
    # guarded, string fallback) like every other corpus-side verify
    key_col = (
        F.xxhash64("shingle")
        if not _FORCE_STRING_FALLBACK
        and _corpus_hash_bijective(spark, sf_dir)
        else F.col("shingle")
    )
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(key_col)).alias("arr")
    )
    inter = (
        pairs.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_inter"),
        )
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(ni / F.col("na"), 6).alias("containment_a"),
            F.round(ni / F.col("nb"), 6).alias("containment_b"),
        )
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over unigram token counts: bit i is the sign of
    Σ_tokens (±count) where the sign is bit i of the token's hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    counted = tok.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # materialize the word hash once; the 32 bit tests are cheap
    hashed = counted.select(
        "doc_id", "cnt", hex32(F.col("word")).alias("h")
    )
    bit_sums = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.lit(1 << i)) != 0, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(*bit_sums)
    sim = sum(
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


JACCARD_DUP_MIN = 0.5  # verified-pair threshold for cluster edges


def connected_components(pairs: DataFrame) -> DataFrame:
    """Generic connected components over an undirected pair table
    ``(doc_a, doc_b)`` — returns ``(node, label)`` with label = the
    component-min node id.  Reusable for ANY near-dup pair family
    (text Jaccard here; embedding-cosine pairs from
    operators/similarity.py have the same shape).  See
    :func:`q_dedup_clusters` for the scale contract.

    Each round is min-label propagation; labels only ever drop, so
    the loop always terminates, and it runs until no label drops:
    rounds = the largest component's diameter (+1 to see no change),
    with no cap.

    Lineage discipline (the r4 bench caught this at 27 s/sf0.1):
    every round materializes via ``localCheckpoint`` rather than
    ``cache`` — with cache alone the data is reused but each round's
    LOGICAL plan still embeds its parents' full trees (edges carries
    the whole candidate→verify chain), so Catalyst re-analysis grows
    exponentially with rounds and the driver, not the executors,
    becomes the bottleneck.  Checkpointing truncates the plan to the
    materialized partitions (the same reason MLlib's iterative
    algorithms checkpoint); on a real cluster this would be
    ``checkpoint()`` to reliable storage so a lost executor cannot
    force recomputing round k from round 0.

    r13 (ADVICE r12 / the pagerank-lazy precedent): the checkpoints
    are LAZY — each round's convergence count materializes that
    round's labels as a side effect, so the loop runs ONE job per
    round instead of two (and the edges/labels seeds materialize
    under the first round's jobs).  Lineage is cut identically.
    Interleaved A/B via sim_semdedup (pays this loop per run), warm
    min-of-4: eager 1.91 → lazy 1.74, every lap faster."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    while True:
        prop = labels.join(edges, labels.node == edges.src).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old"), "node"
            )
            .filter(F.col("label") < F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@memo
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged (node, label) over the verified text near-dup pairs,
    memoized per (session, sf_dir)."""
    jac = q_jaccard_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_DUP_MIN
    )
    return connected_components(jac)


@memo
def q_corpus_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end kept corpus — the capstone composition a
    training-data pipeline actually ships: a doc survives iff it

    1. passes the repetition quality gate (operators/quality.py),
    2. is the canonical (min doc_id) copy of its exact-content group,
    3. is the canonical (min doc_id) member of its near-dup cluster.

    Each gate is computed INDEPENDENTLY on the full corpus and the
    keep-sets intersected — order-independent and idempotent, so
    re-running the pipeline on its own output is a no-op and gates
    can be recomputed selectively.  Scale shape: three doc_id-keyed
    left-semi joins, all hash-partitioned on the same key (one
    co-partitioned shuffle family); the quality gate is a narrow map,
    the exact gate one partial-agg groupBy, and the cluster gate
    reuses the memoized CC labels over the candidate subgraph only
    (see :func:`q_dedup_clusters`).

    r13: the finished keep set memoizes per (session, sf_dir) — five
    consumers (the multimodal keep list, both pipeline capstones, the
    profile rollup, the embedding keep join) re-ran the three-gate
    composition per call (the quality.q_lm_score precedent)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    gate = q_repetition(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    exact = q_dedup_keep_first(spark, sf_dir).select("doc_id")
    canon = (
        q_dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    return (
        docs.join(gate, "doc_id", "left_semi")
        .join(exact, "doc_id", "left_semi")
        .join(canon, "doc_id", "left_semi")
        .cache()
    )


SPAN_K = 8       # token-gram width for duplicated-span detection
BATCH_MOD = 10   # incremental probe: doc_id % 10 == 0 is "today's crawl"

# positional K-gram table memoized per (session, sf_dir): inside one
# span query it feeds BOTH the dup-gram aggregate and the semi-join
# probe (uncached, Spark recomputes the tokenize+gram expansion for
# each branch), and the stats/scrub queries share it across calls.
@memo
def _span_gpos_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok_df = docs.select(
        "doc_id",
        F.explode(F.array(F.split(F.col("text"), " "))).alias("toks"),
    )
    toks = F.col("toks")
    n = F.size(toks)
    grams = F.when(
        n < SPAN_K, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - SPAN_K),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i + 1, SPAN_K))
            ),
        )
    )
    return tok_df.select(
        "doc_id", F.posexplode(grams).alias("pos", "g")
    ).cache()


def q_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (exact-substring) duplication stats, the
    document-level summary of Lee et al. 2021-style substring dedup:
    for every SPAN_K-token gram occurring in ≥2 distinct documents,
    mark its occurrence positions, then report per doc how many
    tokens fall under at least one such cross-document duplicated
    span (interval union of the K-wide windows).

    Spark-first shape instead of a suffix array: positional K-grams
    are an O(total tokens) narrow expansion; "appears in ≥2 docs" is
    ONE partial-agg groupBy on the gram fingerprint; marking is a
    left-semi join co-partitioned on the same key (each position row
    matches at most once — no fan-out); the interval union is a
    per-doc window over dup positions only (sorted runs: a position's
    marginal coverage is min(K, next_pos - pos)), bounded by doc
    length — never a global sort.  Gram key is the md5 fingerprint:
    position rows carry 32 chars instead of the K-token text, and
    exact-match semantics are preserved (at 100 TB a 128-bit
    fingerprint's collision odds are negligible; the same trade as
    q_dedup_exact).

    The token array goes through the explode(array(...)) Generate
    barrier (see doc_shingles) so split() runs once per row, not once
    per gram."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    gpos = _span_gpos_cached(spark, sf_dir)
    dup_g = (
        gpos.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    covered = (
        gpos.join(dup_g, "g", "left_semi")
        .withColumn("nxt", F.lead("pos").over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_dup_grams"),
            F.sum(
                F.least(
                    F.lit(SPAN_K),
                    F.coalesce(F.col("nxt") - F.col("pos"), F.lit(SPAN_K)),
                )
            )
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    sized = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return sized.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce(F.col("covered_tokens"), F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        F.round(
            F.coalesce(F.col("covered_tokens"), F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_span_frac"),
    )


@memo
def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup SCRUB — the corpus-transforming output of Lee
    et al. 2021-style substring dedup: every cross-document duplicated
    K-gram span is removed from every doc EXCEPT the gram's canonical
    owner (min doc_id), and each doc's surviving tokens are
    reassembled in order.  An exact re-crawl therefore scrubs to empty
    while its original survives verbatim; a near-dup keeps only its
    novel tokens (plus the sub-K context no dup gram covers).
    Intra-doc repetition is deliberately NOT this operator's job — the
    repetition quality gate (operators/quality.py) owns it.

    Scale shape, stage by stage: canonical owner is one partial-agg
    groupBy on the gram key; non-canonical occurrences come from the
    co-partitioned gram join; their positions are merged into maximal
    intervals with two bounded per-doc windows (prefix-max end +
    running interval id) BEFORE exploding — the scrub set is
    O(covered tokens), never the K× per-position fan-out; the kept
    set is a (doc_id, pos)-keyed anti join; reassembly is a per-doc
    sort of surviving tokens (bounded by doc length).  Everything
    shuffles on doc_id or the gram key — the same two partitioning
    families as q_span_stats, whose cached positional-gram table this
    reuses.  Output memoized (r11): the scrubbed corpus feeds both
    this query and the dedup_savings rollup — same bounded-artifact
    convention as the pair tables."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    gpos = _span_gpos_cached(spark, sf_dir)
    dup_g = (
        gpos.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    can = (
        gpos.join(dup_g, "g", "left_semi")
        .groupBy("g")
        .agg(F.min("doc_id").alias("cdoc"))
    )
    occ = (
        gpos.join(can, "g")
        .filter(F.col("doc_id") != F.col("cdoc"))
        .select("doc_id", "pos")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    ivs = (
        occ.withColumn(
            "prev_end", F.max(F.col("pos") + SPAN_K).over(w_prev)
        )
        .withColumn(
            "new_iv",
            (
                F.col("prev_end").isNull()
                | (F.col("pos") > F.col("prev_end"))
            ).cast("int"),
        )
        .withColumn("iv", F.sum("new_iv").over(w_ord))
        .groupBy("doc_id", "iv")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + SPAN_K).alias("e"),
        )
    )
    scrub_pos = ivs.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("e") - 1)).alias("pos")
    )
    toks_pos = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    kept = toks_pos.join(scrub_pos, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("scrubbed_text"),
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_kept_tokens"), F.lit(0))
        .cast("long")
        .alias("n_kept_tokens"),
        F.coalesce(F.col("scrubbed_text"), F.lit("")).alias("scrubbed_text"),
    ).cache()


def q_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: probe a NEW batch (the last decile of
    doc_ids — an arrival-order split, so a re-crawled exact duplicate
    really does land in the batch while its original sits in the
    index) against the EXISTING corpus index, reporting each batch
    doc's best near-dup match (highest Jaccard, ties to the smallest
    index doc_id).  Batch docs with no match are the admit set.

    This is the daily-ingest shape of MinHash dedup: the banded
    signature table IS the persisted index a real pipeline maintains
    (append-only, partitioned by band key); the probe joins ONLY
    batch band keys against it — per-band equi-joins keyed on the
    band hash, never a corpus×corpus pass — and the verify stage runs
    on the (batch × matched-bucket) candidates only.  Hot index
    buckets above HOT_BUCKET_CAP are dropped from the probe exactly
    as in ``candidate_pairs`` (boilerplate buckets route to the exact
    pass).  The final best-match rank is a per-batch-doc window —
    bounded by that doc's candidate count.  Ordering ranks on the
    ROUNDED jaccard so Spark and the oracle always agree at
    tie boundaries."""
    jac = verify_jaccard(spark, sf_dir, _incremental_pairs(spark, sf_dir))
    w = Window.partitionBy("doc_a").orderBy(
        F.desc("jaccard"), F.asc("doc_b")
    )
    return (
        jac.filter(F.col("jaccard") >= JACCARD_DUP_MIN)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("dup_of"),
            "jaccard",
        )
    )


@memo
def _incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a batch, doc_b index) candidate pairs of q_incremental."""
    long = banded_long(_banded_cached(spark, sf_dir))
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    b_long = long.filter(is_batch)
    i_long = long.filter(~is_batch)
    hot = (
        i_long.groupBy("bi", "bk")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > HOT_BUCKET_CAP)
        .select("bi", "bk")
    )
    left = b_long.select(
        F.col("doc_id").alias("doc_a"), "bi", "bk"
    ).join(F.broadcast(hot), ["bi", "bk"], "left_anti")
    right = i_long.select(F.col("doc_id").alias("doc_b"), "bi", "bk")
    # cache: the verify stage references the pair table twice
    # (intersection build + final left join) — uncached, the whole
    # probe-join subtree would execute twice
    return (
        left.join(right, ["bi", "bk"])
        .select("doc_a", "doc_b")
        .distinct()
        .cache()
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the VERIFIED near-dup pairs — the
    step that turns pairwise `dedup_jaccard_pairs` output into
    dedup clusters (every doc labeled with the min doc_id of its
    component; canonical corpus = ``filter(doc_id == cluster_id)``).

    Scale shape: the iteration runs ONLY on the candidate subgraph
    (docs appearing in a verified pair — a tiny fraction of the
    corpus), never the corpus itself; untouched docs join back as
    singletons in one final left join.  Each round is min-label
    propagation (join labels→edges, groupBy min) — rounds needed =
    component diameter, and near-dup clusters are shallow (dup
    groups, not social graphs).  The per-round convergence check is a
    scalar `count`, the one driver-side relay; it also materializes
    that round's lazy ``localCheckpoint``, so lineage stays one round
    deep (see :func:`connected_components`)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = _cc_labels(spark, sf_dir)
    return docs.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("label", "doc_id").cast("long").alias("cluster_id"),
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_DSH_CTES = (
    "dtoks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)",
    "dsh_all AS (SELECT doc_id, unnest(CASE WHEN len(arr) < 3 "
    "THEN [array_to_string(arr, ' ')] "
    "ELSE list_transform(range(1, len(arr) - 1), "
    "i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]) END) AS shingle "
    "FROM dtoks)",
    "dsh AS (SELECT DISTINCT doc_id, shingle FROM dsh_all)",
)

_DH_CTE = f"dhash AS (SELECT doc_id, {hex32_sql('shingle')} AS h FROM dsh)"

_SIG_CTE = (
    "dsig AS (SELECT doc_id, "
    + ", ".join(
        f"min({minhash_sql('h', k)}) AS s{k}" for k in range(N_PERM)
    )
    + " FROM dhash GROUP BY doc_id)"
)

_BAND_CTE = (
    "dband AS (SELECT *, "
    + ", ".join(
        "md5("
        + " || '_' || ".join(
            f"CAST(s{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + f") AS band{b}"
        for b in range(BANDS)
    )
    + " FROM dsig)"
)

# mirrors candidate_pairs' hot-bucket cap: band keys with more than
# HOT_BUCKET_CAP members are excluded before the self-join
_PAIRS_CTE = (
    "dpairs AS (SELECT DISTINCT doc_a, doc_b FROM ("
    + " UNION ALL ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM dband a "
        f"JOIN dband b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id "
        f"WHERE a.band{b} NOT IN (SELECT band{b} FROM dband "
        f"GROUP BY band{b} HAVING count(*) > {HOT_BUCKET_CAP})"
        for b in range(BANDS)
    )
    + "))"
)

_MINHASH_PRELUDE = _DSH_CTES + (_DH_CTE, _SIG_CTE, _BAND_CTE, _PAIRS_CTE)


def _with(*ctes: str) -> str:
    return "WITH " + ",\n".join(ctes) + "\n"


_EST_MATCHES = " + ".join(
    f"CASE WHEN a.s{k} = b.s{k} THEN 1 ELSE 0 END" for k in range(N_PERM)
)

# exact-Jaccard verify → thresholded edges → recursive-CTE transitive
# closure → min-label per node; shared by the dedup_clusters and
# dedup_corpus_keep oracles
_CLUSTER_CTES = _MINHASH_PRELUDE + (
    "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) "
    "AS n_inter FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
    "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b)",
    "djac AS (SELECT p.doc_a, p.doc_b, "
    "coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS jaccard "
    "FROM dpairs p LEFT JOIN dinter i USING (doc_a, doc_b) "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b)",
    "dedges AS (SELECT doc_a AS src, doc_b AS dst FROM djac "
    f"WHERE jaccard >= {JACCARD_DUP_MIN} "
    "UNION ALL SELECT doc_b, doc_a FROM djac "
    f"WHERE jaccard >= {JACCARD_DUP_MIN})",
    "cc(node, label) AS (SELECT src, src FROM dedges "
    "UNION "
    "SELECT e.dst, cc.label FROM cc JOIN dedges e ON cc.node = e.src)",
    "dlabels AS (SELECT node, min(label) AS label FROM cc GROUP BY node)",
)

_SIMHASH_BITSUM_CTES = (
    "stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
    "FROM documents)",
    "scnt AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt "
    "FROM stok GROUP BY doc_id, word)",
    f"shash AS (SELECT doc_id, cnt, {hex32_sql('word')} AS h FROM scnt)",
    "sbits AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h & {1 << i}) <> 0 THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    + " FROM shash GROUP BY doc_id)",
)

ORACLES: dict[str, str] = {
    "dedup_exact": (
        "SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS n_docs, "
        "min(doc_id) AS canonical_doc_id FROM documents GROUP BY md5(text)"
    ),
    "dedup_keep_first": (
        "WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents "
        "GROUP BY md5(text)) "
        "SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)"
    ),
    "dedup_minhash_sig": _with(*_DSH_CTES, _DH_CTE, _SIG_CTE)
    + "SELECT * FROM dsig",
    "dedup_minhash_pairs": _with(*_MINHASH_PRELUDE)
    + "SELECT p.doc_a, p.doc_b, "
    f"round(({_EST_MATCHES}) / {float(N_PERM)}, 6) AS est_jaccard "
    "FROM dpairs p JOIN dsig a ON p.doc_a = a.doc_id "
    "JOIN dsig b ON p.doc_b = b.doc_id",
    "dedup_jaccard_pairs": _with(
        *_MINHASH_PRELUDE,
        "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
        "FROM dsh GROUP BY doc_id)",
        "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
        "FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
        "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
        "GROUP BY p.doc_a, p.doc_b)",
    )
    + "SELECT p.doc_a, p.doc_b, "
    "round(coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard "
    "FROM dpairs p LEFT JOIN dinter i USING (doc_a, doc_b) "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b",
    "dedup_containment_pairs": _with(
        *_MINHASH_PRELUDE,
        "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
        "FROM dsh GROUP BY doc_id)",
        "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
        "FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
        "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
        "GROUP BY p.doc_a, p.doc_b)",
    )
    + "SELECT p.doc_a, p.doc_b, "
    "round(coalesce(i.n_inter, 0) / sa.n_sh, 6) AS containment_a, "
    "round(coalesce(i.n_inter, 0) / sb.n_sh, 6) AS containment_b "
    "FROM dpairs p LEFT JOIN dinter i USING (doc_a, doc_b) "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b",
    "dedup_simhash": _with(*_SIMHASH_BITSUM_CTES)
    + "SELECT doc_id, CAST("
    + " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    + " AS BIGINT) AS simhash FROM sbits",
    # transitive closure via recursive CTE: cc enumerates every label
    # reachable from each node over the thresholded edge set (UNION
    # dedups, so it terminates); min(label) = component min doc_id —
    # exactly the fixpoint the Spark propagation loop converges to
    "dedup_clusters": "WITH RECURSIVE "
    + ",\n".join(_CLUSTER_CTES)
    + "\nSELECT d.doc_id, CAST(coalesce(m.label, d.doc_id) AS BIGINT) "
    "AS cluster_id FROM documents d LEFT JOIN dlabels m "
    "ON d.doc_id = m.node",
    # q_corpus_keep: the three keep-sets intersected (quality's
    # text_repetition oracle nests as a subquery — its WITH is local)
    "dedup_corpus_keep": "WITH RECURSIVE "
    + ",\n".join(
        _CLUSTER_CTES
        + (
            "rep_keep AS (SELECT doc_id FROM ("
            + _QUALITY_ORACLES["text_repetition"]
            + ") WHERE keep)",
            "exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents "
            "GROUP BY md5(text))",
        )
    )
    + "\nSELECT d.doc_id FROM documents d "
    "JOIN rep_keep USING (doc_id) "
    "JOIN exact_keep USING (doc_id) "
    "LEFT JOIN dlabels m ON d.doc_id = m.node "
    "WHERE coalesce(m.label, d.doc_id) = d.doc_id",
}

# positional K-grams → cross-doc dup grams; shared by the span-stats
# and span-scrub oracles
_SPAN_CTES = (
    "sp_toks AS (SELECT doc_id, string_split(text, ' ') AS arr "
    "FROM documents)",
    "sp_pos AS (SELECT doc_id, arr, "
    f"unnest(range(0, greatest(len(arr) - {SPAN_K - 1}, 0))) AS pos "
    "FROM sp_toks)",
    "sp_gpos AS (SELECT doc_id, pos, "
    f"md5(array_to_string(arr[pos + 1 : pos + {SPAN_K}], ' ')) AS g "
    "FROM sp_pos)",
    "sp_dup AS (SELECT g FROM sp_gpos GROUP BY g "
    "HAVING count(DISTINCT doc_id) >= 2)",
)

# q_span_stats: interval union per doc (coverage of a sorted run of
# K-wide windows)
ORACLES["dedup_span_stats"] = _with(
    *_SPAN_CTES,
    "sp_cov AS (SELECT doc_id, pos, "
    "lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt "
    "FROM sp_gpos WHERE g IN (SELECT g FROM sp_dup))",
    "sp_per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams, "
    f"CAST(sum(least({SPAN_K}, coalesce(nxt - pos, {SPAN_K}))) AS BIGINT) "
    "AS covered_tokens FROM sp_cov GROUP BY doc_id)",
    "sp_sz AS (SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
    "FROM documents)",
) + (
    "SELECT s.doc_id, s.n_tokens, "
    "CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams, "
    "CAST(coalesce(p.covered_tokens, 0) AS BIGINT) AS covered_tokens, "
    "round(CAST(coalesce(p.covered_tokens, 0) AS DOUBLE) / s.n_tokens, 6) "
    "AS dup_span_frac "
    "FROM sp_sz s LEFT JOIN sp_per p USING (doc_id)"
)

# q_span_scrub: canonical doc per dup gram → non-canonical occurrence
# positions → merged intervals (prefix-max window) → exploded scrub
# set → anti-joined token reassembly
ORACLES["dedup_span_scrub"] = _with(
    *_SPAN_CTES,
    "sc_can AS (SELECT g, min(doc_id) AS cdoc FROM sp_gpos "
    "WHERE g IN (SELECT g FROM sp_dup) GROUP BY g)",
    "sc_occ AS (SELECT p.doc_id, p.pos FROM sp_gpos p "
    "JOIN sc_can c ON c.g = p.g AND p.doc_id <> c.cdoc)",
    "sc_marked AS (SELECT doc_id, pos, "
    f"max(pos + {SPAN_K}) OVER (PARTITION BY doc_id ORDER BY pos "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end "
    "FROM sc_occ)",
    "sc_flag AS (SELECT doc_id, pos, CASE WHEN prev_end IS NULL "
    "OR pos > prev_end THEN 1 ELSE 0 END AS new_iv FROM sc_marked)",
    "sc_ivd AS (SELECT doc_id, pos, sum(new_iv) OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS iv FROM sc_flag)",
    "sc_ivs AS (SELECT doc_id, iv, min(pos) AS s, "
    f"max(pos) + {SPAN_K} AS e FROM sc_ivd GROUP BY doc_id, iv)",
    "sc_scrub AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM sc_ivs)",
    "sc_tp0 AS (SELECT doc_id, arr, unnest(range(0, len(arr))) AS pos "
    "FROM sp_toks)",
    "sc_toks AS (SELECT doc_id, pos, arr[pos + 1] AS tok FROM sc_tp0)",
    "sc_kept AS (SELECT t.doc_id, t.pos, t.tok FROM sc_toks t "
    "WHERE NOT EXISTS (SELECT 1 FROM sc_scrub s "
    "WHERE s.doc_id = t.doc_id AND s.pos = t.pos))",
    "sc_agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_tokens, "
    "string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text "
    "FROM sc_kept GROUP BY doc_id)",
) + (
    "SELECT d.doc_id, "
    "CAST(coalesce(a.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens, "
    "coalesce(a.scrubbed_text, '') AS scrubbed_text "
    "FROM documents d LEFT JOIN sc_agg a USING (doc_id)"
)

# q_incremental: batch bands probe index bands (index-side hot-bucket
# cap), verify exact Jaccard on candidates, rank best match per doc
_INC_PAIR_UNION = " UNION ".join(
    f"SELECT b.doc_id AS doc_a, i.doc_id AS doc_b "
    f"FROM dband b JOIN dband i ON b.band{k} = i.band{k} "
    f"WHERE b.doc_id % {BATCH_MOD} = 0 AND i.doc_id % {BATCH_MOD} <> 0 "
    f"AND b.band{k} NOT IN (SELECT band{k} FROM dband "
    f"WHERE doc_id % {BATCH_MOD} <> 0 "
    f"GROUP BY band{k} HAVING count(*) > {HOT_BUCKET_CAP})"
    for k in range(BANDS)
)

ORACLES["dedup_incremental"] = _with(
    *_DSH_CTES,
    _DH_CTE,
    _SIG_CTE,
    _BAND_CTE,
    "inc_pairs AS (" + _INC_PAIR_UNION + ")",
    "inc_sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "inc_inter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) "
    "AS n_inter FROM inc_pairs p JOIN dsh a ON a.doc_id = p.doc_a "
    "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b)",
    "inc_jac AS (SELECT p.doc_a, p.doc_b, "
    "round(coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard "
    "FROM inc_pairs p LEFT JOIN inc_inter i USING (doc_a, doc_b) "
    "JOIN inc_sizes sa ON sa.doc_id = p.doc_a "
    "JOIN inc_sizes sb ON sb.doc_id = p.doc_b)",
) + (
    "SELECT doc_id, dup_of, jaccard FROM ("
    "SELECT doc_a AS doc_id, doc_b AS dup_of, jaccard, "
    "row_number() OVER (PARTITION BY doc_a "
    "ORDER BY jaccard DESC, doc_b) AS rn "
    f"FROM inc_jac WHERE jaccard >= {JACCARD_DUP_MIN}) WHERE rn = 1"
)

QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_keep_first": q_dedup_keep_first,
    "dedup_minhash_sig": q_minhash_sig,
    "dedup_minhash_pairs": q_minhash_pairs,
    "dedup_jaccard_pairs": q_jaccard_pairs,
    "dedup_containment_pairs": q_containment_pairs,
    "dedup_simhash": q_simhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_corpus_keep": q_corpus_keep,
    "dedup_span_stats": q_span_stats,
    "dedup_span_scrub": q_span_scrub,
    "dedup_incremental": q_incremental,
}


# --- SimHash banded near-dup pairs (r5) ------------------------------

HAMMING_MAX = 3                      # near-dup threshold on 32 bits
SIMHASH_BANDS = HAMMING_MAX + 1      # pigeonhole: ≤3 flips can't touch all 4
BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


@memo
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ HAMMING_MAX,
    found WITHOUT an all-pairs product (Manku et al., WWW'07): split
    each 32-bit fingerprint into SIMHASH_BANDS = HAMMING_MAX+1 blocks —
    by pigeonhole, two fingerprints within Hamming 3 agree EXACTLY on
    at least one 8-bit block — equi-join on (band, block value), then
    verify the true distance with one `bit_count(xor)` on the carried
    fingerprints.  Recall is exactly 1.0 (the block agreement is a
    theorem, not a heuristic), unlike MinHash banding's probabilistic
    recall.

    The fingerprint rides along through the band join, so candidates
    verify inline — no second join against the signature table.

    At 100 TB the same plan runs with 64-bit fingerprints and wider
    blocks (2^w bucket values must comfortably exceed corpus/bucket
    targets; Manku's table-permutation variant trades copies for
    shorter probes) plus the index-side hot-bucket cap the MinHash
    family already applies; 8-bit blocks are the 32-bit-hash
    instantiation that the DuckDB oracle can replicate bit-for-bit.
    """
    sims = q_simhash(spark, sf_dir)
    stack_expr = "stack({}, {}) AS (band, val)".format(
        SIMHASH_BANDS,
        ", ".join(
            f"{b}, CAST(shiftright(simhash, {b * BAND_BITS}) "
            f"& {(1 << BAND_BITS) - 1} AS INT)"
            for b in range(SIMHASH_BANDS)
        ),
    )
    bands = sims.select("doc_id", "simhash", F.expr(stack_expr))
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sh_a"),
        "band",
        "val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        "band",
        "val",
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
        .cache()
    )


_SIMHASH_PAIR_CTES = _SIMHASH_BITSUM_CTES + (
    "ssim AS (SELECT doc_id, CAST("
    + " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    + " AS BIGINT) AS simhash FROM sbits)",
    "sband AS (SELECT doc_id, simhash, band, "
    f"(simhash >> (band * {BAND_BITS})) & {(1 << BAND_BITS) - 1} AS val "
    "FROM ssim CROSS JOIN (SELECT unnest(range(0, "
    f"{SIMHASH_BANDS})) AS band))",
    "scand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "a.simhash AS sh_a, b.simhash AS sh_b "
    "FROM sband a JOIN sband b ON a.band = b.band AND a.val = b.val "
    "AND a.doc_id < b.doc_id)",
)

ORACLES["dedup_simhash_pairs"] = (
    _with(*_SIMHASH_PAIR_CTES)
    + "SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) "
    f"AS hamming FROM scand WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_MAX}"
)

QUERIES["dedup_simhash_pairs"] = q_simhash_pairs


# --- exact similarity join via prefix filtering (r5) -----------------

PREFIX_JACCARD_T = 0.5

# Suffix-bound filter (r11): per-doc capped prefix-okey array length.
# Docs here average ~35–52 shingles (median ≤ 52 on every measured
# corpus incl. the sf10 synthetic), so 32 covers most docs' entire
# index prefix; the bound stays LOSSLESS for any cap (a shorter array
# only loosens it).  Payload: 32×8 B per posting row, shipped once per
# posting, never per candidate pair.
SUFFIX_FILTER_CAP = 32


def q_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ t similarity join WITHOUT the
    quadratic product — the prefix-filter technique (Chaudhuri et al. /
    PPJoin): order each doc's shingles by ascending global document
    frequency and keep only the first n − ⌈t·n⌉ + 1 as its *prefix*;
    two docs with Jaccard ≥ t MUST share a prefix shingle (pigeonhole
    on the ≥ t·max(n_a,n_b) shared elements), so the candidate join
    runs only over prefix postings — the rarest shingles, where
    posting lists are shortest — and exact verification of candidates
    loses nothing.  This is the deterministic-recall complement to
    MinHash banding (probabilistic recall) and SimHash banding
    (Hamming metric).

    Plan: df table from ONE re-aggregation of the cached shingle
    postings, joined back shingle-keyed (co-partitioned); per-doc
    prefix via a bounded row_number window; candidates from the
    ASYMMETRIC prefix-posting join (small side probes with the
    2t/(1+t) prefix, large side indexes with the t prefix — Xiao et
    al., PPJoin), with the LENGTH, POSITIONAL, and SUFFIX-BOUND
    filters applied inside the join BEFORE the candidate-distinct
    shuffle (all four lossless — proofs inline below and pinned by
    the brute-force losslessness tests, including the r10
    varied-length clique corpus and the r11 salted replica-group
    corpus); the suffix bound (PPJoin+'s suffix-filter role) prunes
    candidates that share rare prefix tokens but cannot reach the
    required overlap — measured r11: sf10 synthetic candidates fell
    59.1M → 1.78M (1.09× true output, from 36×) with zero lost
    pairs; exact intersection sizes from per-doc sorted shingle
    ARRAYS joined to the candidates (array_intersect JVM-side — no
    posting-expansion shuffle).  At 100 TB the prefix postings are the
    index a similarity-search service materializes —
    frequency-ascending order keeps its hottest lists the shortest,
    and the r10 extended-decade probe (SCALING.md) is the measured
    evidence the candidate stage stays sub-linear on a near-clique
    corpus.
    """
    return _prefix_join(spark, sf_dir)[0]


# memoized (r5): the EXACT truth table feeds three consumers (itself,
# the LSH S-curve, the method-agreement eval) — cached like every
# other pair artifact here.  The entry also holds the prefix posting
# frame persisted on the way, so clear_caches releases it with the
# table.
@memo
def _prefix_join(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    sh = _shingles_cached(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # OKEY (r11): pack (df, hash) into ONE int64 that is MONOTONE in
    # the global prefix order — df-major (prefix tokens stay the
    # rarest, which is what keeps posting lists short), 39 hash bits
    # as the tie-break.  A single order-comparable long lets (a) the
    # posting join key be an int64 instead of a string and (b) the
    # suffix-bound filter below compare order positions from plain
    # long arrays.  df saturates at 2^24−1: a token that common is
    # past every prefix anyway, and the saturated order is still a
    # valid total order (the prefix filter is lossless under ANY
    # global total order).  Exactness is GUARDED like the r10 verify
    # dictionary: one aggregate over the distinct-shingle table proves
    # okey is a bijection on THIS corpus; on any collision the plan
    # falls back to string join keys and no suffix filter.
    okey_expr = F.shiftleft(
        F.least(F.col("df"), F.lit((1 << 24) - 1)), 39
    ) + F.xxhash64("shingle").bitwiseAND(F.lit((1 << 39) - 1))
    chk = df_tab.agg(
        F.count("*").alias("n_str"),
        F.countDistinct(F.xxhash64("shingle")).alias("n_hash"),
        F.countDistinct(okey_expr).alias("n_okey"),
    ).collect()[0]
    use_okey = (
        bool(chk["n_str"] == chk["n_okey"]) and not _FORCE_STRING_FALLBACK
    )
    # seed the shared per-corpus bijection memo — other array verifies
    # (verify_jaccard, containment) skip their own round-trip
    if not _FORCE_STRING_FALLBACK:
        _corpus_hash_bijective.memo[
            (spark.sparkContext.applicationId, sf_dir)
        ] = bool(chk["n_str"] == chk["n_hash"])
    w = Window.partitionBy("doc_id").orderBy(
        F.asc("okey"), F.asc("shingle")
    )
    wdoc = Window.partitionBy("doc_id")
    # `pos` is each shingle's rank in the doc's GLOBAL sort order
    # (okey asc ≡ df asc with a deterministic hash tie-break) — kept
    # past the prefix cut because the positional filter below needs it
    ranked = (
        sh.join(df_tab, "shingle")
        .withColumn("okey", okey_expr)
        .join(sizes, "doc_id")
        .withColumn("pos", F.row_number().over(w))
    )
    if use_okey:
        # SUFFIX-BOUND arrays (r11, the PPJoin+ suffix-filter role):
        # each posting row carries its doc's first min(n, CAP) okeys —
        # a downward-closed PREFIX of the whole doc in the global
        # order, attached via the SAME doc_id window partition the
        # ranking already shuffles on.  COST (measured, BENCH_NOTES
        # r11 stage breakdown): the unbounded collect_list frame
        # projects the CAP-long array onto EVERY pre-filter posting
        # row — ~4.6 GB transient at the sf10 synthetic.  Building the
        # array once per doc from the `pos <= CAP` slice and joining it
        # to the prefix rows instead LOST the interleaved sf10 A/B
        # (BENCH_NOTES r12, min-of-3 53.4 s vs 46.6 s): AQE never
        # reuses the window exchange across the two consumers, so the
        # whole posting subtree re-evaluates for the array branch.
        ranked = ranked.withColumn(
            "okarr",
            F.slice(
                F.sort_array(F.collect_list("okey").over(wdoc)),
                1,
                SUFFIX_FILTER_CAP,
            ),
        )
    prefix_cut = (
        F.col("pos")
        <= F.col("n_sh") - F.ceil(F.lit(PREFIX_JACCARD_T) * F.col("n_sh")) + 1
    )
    ranked = ranked.filter(prefix_cut).select(
        "doc_id",
        (F.col("okey") if use_okey else F.col("shingle")).alias("jkey"),
        "pos",
        "n_sh",
        *(["okarr"] if use_okey else []),
    )
    # The prefix frame feeds BOTH sides of the candidate self-join
    # (probe a + index b), and without materialization Spark
    # evaluates the whole posting subtree — shingle⋈df join,
    # doc_id window sort, okarr projection — TWICE (the r11 plan:
    # 2× Window over 17.4M rows at the sf10 synthetic; AQE's
    # ReusedExchange does not fire across the self-join branches
    # because the broadcast/probe shapes differ).  Persisting the
    # ~n/2-row prefix frame runs it ONCE: interleaved same-JVM A/B
    # at sf10 (BENCH_NOTES r12), min-of-3 51.7 → 46.6 s, persist
    # ≤ no-persist on every lap — the dual window evaluation costs
    # ~10% end-to-end, bounded by the verify/candidate stages that
    # dominate the chain.
    # serialized level, not the deserialized default: the okarr
    # arrays deserialize to 2-3× their packed size, and this frame
    # only exists to be scanned twice — packed longs keep the
    # ~2.6 GB sf10 footprint from crowding an 8 GB local heap
    ranked = postings = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    t = float(PREFIX_JACCARD_T)
    # ASYMMETRIC prefixes (Xiao et al., PPJoin): `ranked` holds the
    # INDEX prefix (n − ⌈t·n⌉ + 1 — valid because a true pair's
    # overlap I ≥ t·max(n_a,n_b)).  The SMALLER side of a pair only
    # needs the shorter PROBE prefix, n − ⌈2t/(1+t)·n⌉ + 1: with
    # n_s ≤ n_l, I ≥ t/(1+t)·(n_s+n_l) ≥ 2t/(1+t)·n_s, and the
    # first common token in global order sits within rank n − I + 1
    # of BOTH docs — so probing small-side probe-prefix against
    # large-side index-prefix is lossless while posting ~n/3 instead
    # of ~n/2 tokens per probe doc at t = 0.5.  The −1e-9 INSIDE the
    # ceil keeps the prefix LONG when 2t/(1+t) is not exactly
    # representable (a too-long prefix only adds candidates; one too
    # short silently loses true pairs).
    probe = ranked.filter(
        F.col("pos")
        <= F.col("n_sh")
        - F.ceil(
            F.lit(2.0 * t / (1.0 + t)) * F.col("n_sh") - F.lit(1e-9)
        )
        + 1
    )
    a = probe.select(
        F.col("doc_id").alias("doc_s"),
        "jkey",
        F.col("pos").alias("pos_s"),
        F.col("n_sh").alias("n_s"),
        *([F.col("okarr").alias("okarr_s")] if use_okey else []),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_l"),
        "jkey",
        F.col("pos").alias("pos_l"),
        F.col("n_sh").alias("n_l"),
        *([F.col("okarr").alias("okarr_l")] if use_okey else []),
    )
    # Required overlap for J ≥ t: |A∩B| ≥ t/(1+t)·(n_s+n_l).
    alpha = F.lit(t / (1.0 + t)) * (F.col("n_s") + F.col("n_l"))
    # Both filters run INSIDE the prefix-posting join, before the
    # candidate-distinct shuffle (r10 — the r9 decade probe showed the
    # post-distinct placement going super-linear on a near-clique
    # corpus: 15.3M distinct candidates for 161k true pairs at the
    # synthetic sf1).  Both are LOSSLESS:
    # - LENGTH (PPJoin): J ≤ min/max, so min(n_a,n_b) ≥ t·max(n_a,n_b)
    #   for any true pair.
    # - POSITIONAL (PPJoin): both docs sort tokens by the same global
    #   order, so a shared token at ranks (pos_a, pos_b) splits the
    #   intersection into elements before it — ≤ min(pos_a−1, pos_b−1)
    #   — and the token plus elements after it — ≤ 1 + min(n_a−pos_a,
    #   n_b−pos_b).  Every shared occurrence upper-bounds the SAME
    #   |A∩B|, and for a true pair every bound ≥ α, so a pair is
    #   pruned only when ALL its occurrences fail — never a true one.
    # 1e-9 slack keeps both bounds LOOSE at the boundary: with a
    # threshold not exactly representable in binary (0.7, 0.9), the
    # rhs can land a hair ABOVE the true rational bound and wrongly
    # prune an exactly-at-threshold pair — a loose filter only
    # forwards a few extra pairs to the exact verify, a tight one
    # silently loses true results (t = 0.5 is exact today; the slack
    # makes the bounds safe under any future threshold).
    small_first = (F.col("n_s") < F.col("n_l")) | (
        (F.col("n_s") == F.col("n_l"))
        & (F.col("doc_s") < F.col("doc_l"))
    )
    id_order = F.col("doc_s") < F.col("doc_l")
    if use_okey:
        # SUFFIX-BOUND filter (r11, the PPJoin+ suffix-filter role —
        # r10 verdict #5): a LOSSLESS upper bound on |A∩B| from the two
        # capped prefix-okey arrays, evaluated INSIDE the posting join
        # like the length/positional filters (before the candidate-
        # distinct shuffle, and the arrays ship once per POSTING row,
        # never per pair).  Let θ = min(max(arr_s), max(arr_l)).  The
        # arrays are downward-closed prefixes of the SAME global total
        # order, so every shared token ≤ θ lies in BOTH arrays and is
        # counted exactly by array_intersect (intersect elements are
        # all ≤ θ automatically); every shared token > θ is bounded by
        # EACH side's count of tokens > θ, i.e. n − |{x ≤ θ}| (the ≤ θ
        # tokens of each doc all sit inside its array, so the count is
        # exact, not an estimate).  bound = |arr_s ∩ arr_l| +
        # min(n_s − le_s, n_l − le_l) ≥ |A∩B| — pruning bound < α can
        # never drop a true pair.  This is what kills the r10-measured
        # cross-replica candidates that share rare prefix tokens but
        # have low true overlap (BENCH_NOTES r10: candidates sat at a
        # constant ~9× true output; the min-bound positional variant
        # pruned zero of them).
        # one-sided le (r11 profile: halves the per-occurrence lambda
        # work — 6.6→3.9 s on the sf1 candidate stage): θ is one of
        # the two maxima, so the side owning the smaller max gets its
        # ≤-θ count for FREE (every element qualifies) and only the
        # other side pays the filter scan
        max_s = F.element_at("okarr_s", -1)
        max_l = F.element_at("okarr_l", -1)
        theta = F.least(max_s, max_l)
        le_s = F.when(max_s <= max_l, F.size("okarr_s")).otherwise(
            F.size(F.filter("okarr_s", lambda x: x <= theta))
        )
        le_l = F.when(max_l <= max_s, F.size("okarr_l")).otherwise(
            F.size(F.filter("okarr_l", lambda x: x <= theta))
        )
        suffix_bound = F.size(
            F.array_intersect("okarr_s", "okarr_l")
        ) + F.least(F.col("n_s") - le_s, F.col("n_l") - le_l)
        suffix_keep = suffix_bound >= alpha - F.lit(1e-9)
    else:
        suffix_keep = F.lit(True)
    cands = (
        a.join(b, "jkey")
        # size-ordered pairing: each unordered pair is generated
        # exactly once, as (smaller doc via probe prefix, larger doc
        # via index prefix) — the orientation the asymmetric-prefix
        # theorem needs
        .filter(small_first)
        .filter(
            F.col("n_s") >= F.lit(t) * F.col("n_l") - F.lit(1e-9)
        )
        .filter(
            F.least(F.col("pos_s") - 1, F.col("pos_l") - 1)
            + 1
            + F.least(
                F.col("n_s") - F.col("pos_s"),
                F.col("n_l") - F.col("pos_l"),
            )
            >= alpha - F.lit(1e-9)
        )
        .filter(suffix_keep)
        # re-normalize to id order for the verify stage and the output
        .select(
            F.least("doc_s", "doc_l").alias("doc_a"),
            F.greatest("doc_s", "doc_l").alias("doc_b"),
            F.when(id_order, F.col("n_s")).otherwise(F.col("n_l")).alias(
                "n_a"
            ),
            F.when(id_order, F.col("n_l")).otherwise(F.col("n_s")).alias(
                "n_b"
            ),
        )
        .distinct()
    )
    # ARRAY verify (r10): the old verify expanded every candidate by
    # its postings (Σ n_a rows — ~200M at the synthetic sf1 for 6.6M
    # candidates) through TWO wide shuffles and a pair groupBy.  Each
    # doc's shingle SET packs into one sorted array instead (bounded:
    # SHINGLE-count per doc, the same bound `n_sh` measures), so the
    # verify is two doc-keyed joins of |cands| rows and a JVM
    # array_intersect per pair — no posting-expansion shuffle at all.
    # Set semantics are exact: `sh` is distinct per (doc, shingle) by
    # construction (n_sh IS the set size the Jaccard uses).
    #
    # INT64-DICTIONARY arrays (r10 decade2): the verify's cost is the
    # pair-stream exchange carrying the array payloads (at the
    # synthetic sf10, 59M candidates × ~1KB string arrays ≈ 59 GB of
    # shuffle — the measured super-linearity; join-strategy hints
    # don't help because EVERY equi-join ships the payload).  Hashing
    # shingles to xxhash64 longs cuts the payload ~3.5× and makes the
    # per-pair intersect long-typed.  Exactness is GUARDED, not
    # assumed: one tiny aggregate proves the hash is a bijection on
    # THIS corpus (distinct shingles == distinct hashes — the S5
    # scalar-side-input pattern, one driver round-trip per session);
    # on any collision (≈2^-64-scale event) the verify falls back to
    # the string arrays, so results are unconditionally exact.
    # (r11: the bijection evidence comes from the single `chk`
    # aggregate computed above with the okey check — one driver
    # round-trip covers both dictionaries.)
    shingle_key = (
        F.xxhash64("shingle")
        if chk["n_str"] == chk["n_hash"] and not _FORCE_STRING_FALLBACK
        else F.col("shingle")
    )
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(shingle_key)).alias("arr")
    )
    inter = (
        cands.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long")
            .alias("n_inter"),
        )
    )
    truth = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= PREFIX_JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
        .cache()
    )
    return truth, postings


# oracle: ANY complete candidate generator works (the prefix filter is
# lossless); pairs sharing ≥1 shingle is the obvious complete superset
ORACLES["dedup_prefix_jaccard_join"] = _with(
    *_DSH_CTES,
    "psizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "pcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM dsh a JOIN dsh b ON a.shingle = b.shingle "
    "AND a.doc_id < b.doc_id)",
    "pinter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
    "FROM pcand c JOIN dsh a ON a.doc_id = c.doc_a "
    "JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle "
    "GROUP BY c.doc_a, c.doc_b)",
) + (
    "SELECT p.doc_a, p.doc_b, "
    "round(p.n_inter * 1.0 / (sa.n_sh + sb.n_sh - p.n_inter), 6) AS jaccard "
    "FROM pinter p JOIN psizes sa ON sa.doc_id = p.doc_a "
    "JOIN psizes sb ON sb.doc_id = p.doc_b "
    f"WHERE p.n_inter * 1.0 / (sa.n_sh + sb.n_sh - p.n_inter) "
    f">= {PREFIX_JACCARD_T}"
)

QUERIES["dedup_prefix_jaccard_join"] = q_prefix_jaccard_join


def q_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: MinHash-estimated vs exact Jaccard on the
    banded candidate pairs — mean/max absolute error and the count of
    threshold DISAGREEMENTS (est and exact landing on opposite sides
    of the dup cutoff).  The "measure, don't guess" artifact for
    N_PERM tuning: if max_abs_err or the flip count grows, the
    permutation budget is too small for the corpus' similarity
    distribution.  Both inputs come from the memoized pair caches —
    this is one pair-keyed join + a 1-row rollup."""
    est = q_minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "est_jaccard"
    )
    exact = q_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    err = F.abs(F.col("est_jaccard") - F.col("jaccard"))
    flip = (F.col("est_jaccard") >= JACCARD_DUP_MIN) != (
        F.col("jaccard") >= JACCARD_DUP_MIN
    )
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg(err), 6).alias("mean_abs_err"),
            F.round(F.max(err), 6).alias("max_abs_err"),
            F.sum(flip.cast("long")).cast("long").alias("n_threshold_flips"),
        )
    )


ORACLES["dedup_minhash_error"] = _with(
    *_MINHASH_PRELUDE,
    "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
    "FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
    "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b)",
    "mj AS (SELECT p.doc_a, p.doc_b, "
    f"round(({_EST_MATCHES}) / {float(N_PERM)}, 6) AS est_jaccard, "
    "round(coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard "
    "FROM dpairs p JOIN dsig a ON p.doc_a = a.doc_id "
    "JOIN dsig b ON p.doc_b = b.doc_id "
    "LEFT JOIN dinter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b)",
) + (
    "SELECT CAST(count(*) AS BIGINT) AS n_pairs, "
    "round(avg(abs(est_jaccard - jaccard)), 6) AS mean_abs_err, "
    "round(max(abs(est_jaccard - jaccard)), 6) AS max_abs_err, "
    f"CAST(sum(CASE WHEN (est_jaccard >= {JACCARD_DUP_MIN}) <> "
    f"(jaccard >= {JACCARD_DUP_MIN}) THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_threshold_flips FROM mj"
)

QUERIES["dedup_minhash_error"] = q_minhash_error


def q_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-family size distribution — the dedup-analytics rollup: how
    many clusters of each size the near-dup graph contains (size 1 =
    unique docs; a heavy tail here means template/boilerplate floods).
    Reuses the memoized CC labels; two bounded aggregations (cluster →
    size, size → count) and a dedup-rate summary column."""
    labels = q_dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


ORACLES["dedup_cluster_size_dist"] = (
    ORACLES["dedup_clusters"].replace(
        "SELECT d.doc_id, CAST(coalesce(m.label, d.doc_id) AS BIGINT) "
        "AS cluster_id FROM documents d LEFT JOIN dlabels m "
        "ON d.doc_id = m.node",
        "SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, "
        "CAST(cluster_size * count(*) AS BIGINT) AS n_docs FROM ("
        "SELECT CAST(count(*) AS BIGINT) AS cluster_size FROM ("
        "SELECT d.doc_id, coalesce(m.label, d.doc_id) AS cluster_id "
        "FROM documents d LEFT JOIN dlabels m ON d.doc_id = m.node) "
        "GROUP BY cluster_id) GROUP BY cluster_size",
    )
)

QUERIES["dedup_cluster_size_dist"] = q_cluster_size_dist


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty score in ingestion (doc_id) order: the fraction
    of a doc's shingles whose FIRST appearance in the corpus is this
    doc — near 1 for original content, near 0 for recombinations of
    seen text.  The running "have I seen this gram before" state
    collapses into one min-aggregate per shingle (first_seen =
    min(doc_id)) joined back shingle-keyed — no ordered scan, no
    accumulating state; the same trick as the Heaps curve, at doc
    grain.  Reuses the memoized shingle postings."""
    sh = _shingles_cached(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_seen"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("first_seen") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6),
        )
    )


ORACLES["dedup_ngram_novelty"] = _with(
    *_DSH_CTES,
    "fs AS (SELECT shingle, min(doc_id) AS first_seen FROM dsh "
    "GROUP BY shingle)",
) + (
    "SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, "
    "CAST(sum(CASE WHEN f.first_seen = d.doc_id THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_novel, "
    "round(sum(CASE WHEN f.first_seen = d.doc_id THEN 1 ELSE 0 END) "
    "* 1.0 / count(*), 6) AS novelty "
    "FROM dsh d JOIN fs f USING (shingle) GROUP BY d.doc_id"
)

QUERIES["dedup_ngram_novelty"] = q_ngram_novelty


SENS_GRID = [30, 40, 50, 60, 70, 80, 90]  # thresholds in percent


def q_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-threshold tuning curve: how many verified pairs (and how
    much doc mass) each candidate Jaccard threshold would keep — the
    chart an operator reads before moving JACCARD_DUP_MIN, computed
    in ONE pass over the memoized exact-jaccard pair table (a CASE
    sum per grid point, never a re-scan per threshold)."""
    jac = q_jaccard_pairs(spark, sf_dir)
    aggs = []
    for t in SENS_GRID:
        thr = t / 100.0
        aggs.append(
            F.sum((F.col("jaccard") >= thr).cast("long"))
            .cast("long")
            .alias(f"pairs_ge_{t}")
        )
    wide = jac.agg(*aggs)
    # unpivot to (threshold, n_pairs) — stack keeps it one row-narrow op
    stack_expr = "stack({}, {}) AS (threshold_pct, n_pairs)".format(
        len(SENS_GRID),
        ", ".join(f"{t}, pairs_ge_{t}" for t in SENS_GRID),
    )
    return wide.select(F.expr(stack_expr)).select(
        F.col("threshold_pct").cast("int").alias("threshold_pct"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
    )


ORACLES["dedup_threshold_sensitivity"] = _with(
    *_MINHASH_PRELUDE,
    "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
    "FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
    "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b)",
    "jac AS (SELECT round(coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard "
    "FROM dpairs p LEFT JOIN dinter i USING (doc_a, doc_b) "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b)",
) + (
    "SELECT CAST(t.threshold_pct AS INTEGER) AS threshold_pct, "
    "CAST((SELECT count(*) FROM jac WHERE jaccard >= t.threshold_pct / 100.0) "
    "AS BIGINT) AS n_pairs "
    "FROM (SELECT unnest(["
    + ", ".join(str(t) for t in SENS_GRID)
    + "]) AS threshold_pct) t"
)

QUERIES["dedup_threshold_sensitivity"] = q_threshold_sensitivity


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executive dedup summary — what each family of the pipeline
    actually saves, in one row: corpus doc/token mass, docs and
    tokens removed by exact dedup, further docs removed by near-dup
    clustering (cluster non-canonicals that exact dedup missed), and
    span-scrub token savings on top — each derived from the SAME
    memoized outputs the pipeline gates on, so the report can't
    disagree with behavior."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("nt")
    )
    total = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    exact_keep = q_dedup_keep_first(spark, sf_dir).select("doc_id")
    exact_kept = docs.join(exact_keep, "doc_id").agg(
        F.count("*").cast("long").alias("exact_kept_docs"),
        F.sum("nt").cast("long").alias("exact_kept_tokens"),
    )
    # near-dup: canonical = doc_id == cluster_id, beyond exact keeps
    clusters = q_dedup_clusters(spark, sf_dir)
    near_kept = (
        docs.join(exact_keep, "doc_id")
        .join(clusters, "doc_id")
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("near_kept_docs"),
            F.sum("nt").cast("long").alias("near_kept_tokens"),
        )
    )
    scrub = q_span_scrub(spark, sf_dir).select(
        F.size(F.split(F.col("scrubbed_text"), " ")).alias("st")
    ).agg(F.sum("st").cast("long").alias("scrubbed_tokens"))
    return (
        total.crossJoin(F.broadcast(exact_kept))
        .crossJoin(F.broadcast(near_kept))
        .crossJoin(F.broadcast(scrub))
        .select(
            "n_docs",
            "n_tokens",
            (F.col("n_docs") - F.col("exact_kept_docs"))
            .cast("long")
            .alias("exact_removed_docs"),
            (F.col("exact_kept_docs") - F.col("near_kept_docs"))
            .cast("long")
            .alias("near_dup_removed_docs"),
            F.round(
                F.col("near_kept_tokens") / F.col("n_tokens"), 6
            ).alias("token_keep_frac"),
            "scrubbed_tokens",
        )
    )


ORACLES["dedup_savings"] = (
    "WITH RECURSIVE "
    + ",\n".join(
        _CLUSTER_CTES
        + (
            "docs_nt AS (SELECT doc_id, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS nt "
            "FROM documents)",
            "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(nt) AS BIGINT) AS n_tokens FROM docs_nt)",
            "ek AS (SELECT min(doc_id) AS doc_id FROM documents "
            "GROUP BY md5(text))",
            "eks AS (SELECT CAST(count(*) AS BIGINT) AS c, "
            "CAST(sum(nt) AS BIGINT) AS s FROM docs_nt "
            "JOIN ek USING (doc_id))",
            "lab AS (SELECT d.doc_id, coalesce(m.label, d.doc_id) "
            "AS cluster_id FROM documents d LEFT JOIN dlabels m "
            "ON d.doc_id = m.node)",
            "nk AS (SELECT CAST(count(*) AS BIGINT) AS c, "
            "CAST(sum(nt) AS BIGINT) AS s FROM docs_nt "
            "JOIN ek USING (doc_id) JOIN lab USING (doc_id) "
            "WHERE doc_id = cluster_id)",
            "scr AS (SELECT CAST(sum(len(string_split(scrubbed_text, ' '))) "
            "AS BIGINT) AS scrubbed_tokens FROM ("
            + ORACLES["dedup_span_scrub"]
            + "))",
        )
    )
    + "\nSELECT t.n_docs, t.n_tokens, "
    "CAST(t.n_docs - e.c AS BIGINT) AS exact_removed_docs, "
    "CAST(e.c - n.c AS BIGINT) AS near_dup_removed_docs, "
    "round(n.s * 1.0 / t.n_tokens, 6) AS token_keep_frac, "
    "s2.scrubbed_tokens "
    "FROM tot t CROSS JOIN eks e CROSS JOIN nk n CROSS JOIN scr s2"
)

QUERIES["dedup_savings"] = q_dedup_savings


def q_template_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural template detection — docs sharing the exact SHAPE
    (the sequence of word lengths) even when every word differs: the
    boilerplate class content dedup can't see (mad-lib spam, form
    letters, generated listings all reuse a skeleton with swapped
    fillers).  Fingerprint = md5 of the word-length sequence — a
    narrow map — then one partial-agg groupBy keeps only shapes
    shared by ≥2 docs, reporting family size and how many DISTINCT
    texts each family holds (content dedup would catch a family only
    when that number is 1)."""
    docs = load_table(spark, sf_dir, "documents")
    shape = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.split(F.col("text"), " "), lambda w: F.length(w)
            ),
        )
    )
    return (
        docs.select(shape.alias("shape_fp"), "text", "doc_id")
        .groupBy("shape_fp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("text").cast("long").alias("n_distinct_texts"),
            F.min("doc_id").cast("long").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


ORACLES["dedup_template_families"] = (
    "WITH s AS (SELECT doc_id, text, "
    "md5(array_to_string(list_transform(string_split(text, ' '), "
    "w -> CAST(len(w) AS VARCHAR)), ',')) AS shape_fp FROM documents) "
    "SELECT shape_fp, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts, "
    "CAST(min(doc_id) AS BIGINT) AS canonical_doc_id "
    "FROM s GROUP BY shape_fp HAVING count(*) > 1"
)

QUERIES["dedup_template_families"] = q_template_families


def q_crosslang_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs that STRADDLE language labels — each one is
    either a mislabeled document or copied/templated content leaking
    across language splits (the cross-lingual contamination a
    per-language dedup pass never sees, because it partitions by lang
    first).  One lang join onto the memoized verified-pair table;
    shingle-based, so it catches same-script copies — the honest
    scope, stated."""
    pairs = q_jaccard_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_DUP_MIN
    )
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    la = langs.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")
    )
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("doc_a", "doc_b", "lang_a", "lang_b", "jaccard")
    )


ORACLES["dedup_crosslang_pairs"] = _with(
    *_MINHASH_PRELUDE,
    "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
    "FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
    "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b)",
    "vj AS (SELECT p.doc_a, p.doc_b, "
    "round(coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard "
    "FROM dpairs p LEFT JOIN dinter i USING (doc_a, doc_b) "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b)",
) + (
    "SELECT v.doc_a, v.doc_b, da.lang AS lang_a, db.lang AS lang_b, "
    "v.jaccard FROM vj v "
    "JOIN documents da ON da.doc_id = v.doc_a "
    "JOIN documents db ON db.doc_id = v.doc_b "
    f"WHERE v.jaccard >= {JACCARD_DUP_MIN} AND da.lang <> db.lang"
)

QUERIES["dedup_crosslang_pairs"] = q_crosslang_pairs


def q_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE leakage matrix: verified near-dup pair counts and
    mean similarity per unordered (source, source) cell — the "how
    much of crawl A is recycled in crawl B" readout that decides
    whether two snapshots can both enter a training mix (the
    cross-language twin above catches translations; this catches
    re-crawls and mirrors within one language).

    Scale: consumes the memoized verified-pair cache (candidates only,
    never all-pairs); two doc_id-keyed dimension joins; the rollup
    groups on a (sources²)-bounded key — tiny state."""
    pairs = q_jaccard_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_DUP_MIN
    )
    docs = load_table(spark, sf_dir, "documents")
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("mean_jaccard"),
        )
    )


ORACLES["dedup_source_leakage"] = _with(
    *_MINHASH_PRELUDE,
    "dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "dinter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS n_inter "
    "FROM dpairs p JOIN dsh a ON a.doc_id = p.doc_a "
    "JOIN dsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
    "GROUP BY p.doc_a, p.doc_b)",
    "vj AS (SELECT p.doc_a, p.doc_b, "
    "round(coalesce(i.n_inter, 0) / "
    "(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard "
    "FROM dpairs p LEFT JOIN dinter i USING (doc_a, doc_b) "
    "JOIN dsizes sa ON sa.doc_id = p.doc_a "
    "JOIN dsizes sb ON sb.doc_id = p.doc_b)",
) + (
    "SELECT least(da.source, db.source) AS source_lo, "
    "greatest(da.source, db.source) AS source_hi, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "round(avg(v.jaccard), 6) AS mean_jaccard FROM vj v "
    "JOIN documents da ON da.doc_id = v.doc_a "
    "JOIN documents db ON db.doc_id = v.doc_b "
    f"WHERE v.jaccard >= {JACCARD_DUP_MIN} GROUP BY 1, 2"
)

QUERIES["dedup_source_leakage"] = q_source_leakage


def q_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram: how many distinct
    shingles appear in exactly-1, 2, 3-10, 11-100, >100 docs — the
    boilerplate-density gauge that TUNES this family (the hot-bucket
    cap, the banding budget, and the prefix-filter df ordering all
    key off exactly this distribution; 'measure, don't guess' applied
    to the dedup operators themselves).  Two bounded aggregations
    over the memoized shingle postings."""
    sh = _shingles_cached(spark, sf_dir)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    band = (
        F.when(F.col("df") == 1, "1")
        .when(F.col("df") == 2, "2")
        .when(F.col("df") <= 10, "3-10")
        .when(F.col("df") <= 100, "11-100")
        .otherwise(">100")
    )
    return df.groupBy(band.alias("df_band")).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("df").cast("long").alias("n_postings"),
        F.max("df").cast("long").alias("max_df"),
    )


ORACLES["dedup_shingle_df_profile"] = _with(*_DSH_CTES) + (
    "SELECT CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2' "
    "WHEN df <= 10 THEN '3-10' WHEN df <= 100 THEN '11-100' "
    "ELSE '>100' END AS df_band, "
    "CAST(count(*) AS BIGINT) AS n_shingles, "
    "CAST(sum(df) AS BIGINT) AS n_postings, "
    "CAST(max(df) AS BIGINT) AS max_df FROM ("
    "SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle) "
    "GROUP BY 1"
)

QUERIES["dedup_shingle_df_profile"] = q_shingle_df_profile


def q_dup_rate_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does duplication skew by document length?  Exact-dup rate per
    length quartile (short-doc boilerplate floods vs long-doc
    re-crawls call for different scrub strategies — this tells you
    which corpus you have).  Quartile fences are one broadcast
    percentile aggregate; dup flags come from the same md5 canonical
    the exact-dedup family gates on."""
    docs = load_table(spark, sf_dir, "documents")
    canon = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("canonical")
    )
    flagged = (
        docs.select("doc_id", "n_chars", F.md5("text").alias("fp"))
        .join(canon, "fp")
        .select(
            "n_chars",
            (F.col("doc_id") != F.col("canonical")).cast("int").alias(
                "is_dup"
            ),
        )
    )
    qs = docs.agg(
        F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))").alias("qs")
    ).select(
        F.col("qs")[0].alias("q1"),
        F.col("qs")[1].alias("q2"),
        F.col("qs")[2].alias("q3"),
    )
    staged = flagged.crossJoin(F.broadcast(qs)).select(
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("q1")).cast("int")
            + (F.col("n_chars") > F.col("q2")).cast("int")
            + (F.col("n_chars") > F.col("q3")).cast("int")
        ).alias("length_quartile"),
        "is_dup",
    )
    return staged.groupBy("length_quartile").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.round(F.sum("is_dup") / F.count("*"), 6).alias("dup_rate"),
    )


ORACLES["dedup_rate_by_length"] = (
    "WITH canon AS (SELECT md5(text) AS fp, min(doc_id) AS canonical "
    "FROM documents GROUP BY 1), "
    "f AS (SELECT d.n_chars, "
    "CAST(d.doc_id <> c.canonical AS INTEGER) AS is_dup "
    "FROM documents d JOIN canon c ON md5(d.text) = c.fp), "
    "qs AS (SELECT quantile_cont(n_chars, 0.25) AS q1, "
    "quantile_cont(n_chars, 0.5) AS q2, "
    "quantile_cont(n_chars, 0.75) AS q3 FROM documents), "
    "s AS (SELECT 1 + CAST(n_chars > q1 AS INTEGER) "
    "+ CAST(n_chars > q2 AS INTEGER) + CAST(n_chars > q3 AS INTEGER) "
    "AS length_quartile, is_dup FROM f, qs) "
    "SELECT length_quartile, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(is_dup) AS BIGINT) AS n_dups, "
    "round(sum(is_dup) / CAST(count(*) AS DOUBLE), 6) AS dup_rate "
    "FROM s GROUP BY 1"
)

QUERIES["dedup_rate_by_length"] = q_dup_rate_by_length


# --- sparse TF-IDF cosine over the banded candidates (r5) ------------


@memo
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted cosine for the banded candidate pairs — the
    sparse-vector similarity join of classical IR, as the WEIGHTED
    companion to the set-based Jaccard verify: shared RARE tokens
    (high idf) should bind a pair more than shared stopwords, so
    boilerplate-heavy near-misses score lower here than their raw
    shingle overlap suggests.  Weights are the idiomatic smooth form
    ``tf · ln((1+N)/(1+df))`` (the FIDELITY int-division idf of
    operators/tfidf.py zeroes most weights by design — fine for
    reproducing the reference, useless as a similarity kernel).

    Scale shape: the classic posting-list plan — one (doc, token)
    count aggregate, df and norms as re-aggregations of it, and the
    dot product as a token-keyed join RESTRICTED to the memoized
    banded candidates (never all-pairs).  Every join keys on doc or
    token; norms broadcast-join onto the bounded pair set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    n_docs = docs.groupBy().agg(F.count("*").alias("n_docs"))
    df_tab = tf.groupBy("token").agg(F.count("*").alias("df"))
    w = (
        tf.join(df_tab, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.log((1 + F.col("n_docs")) / (1 + F.col("df")))
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    pairs = q_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    wa = w.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("w").alias("w_a")
    )
    wb = w.select(
        F.col("doc_id").alias("wb_doc"),
        F.col("token").alias("token_b"),
        F.col("w").alias("w_b"),
    )
    dots = (
        pairs.join(wa, "doc_a")
        .join(
            wb,
            (F.col("doc_b") == F.col("wb_doc"))
            & (F.col("token") == F.col("token_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b")
    )
    return (
        pairs.join(dots, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("dot"), F.lit(0.0))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cosine"),
        )
        .cache()
    )


ORACLES["dedup_tfidf_cosine_pairs"] = _with(
    *_MINHASH_PRELUDE,
    "ttok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token "
    "FROM documents)",
    "ttf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf "
    "FROM ttok GROUP BY doc_id, token)",
    "tnd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)",
    "tdf AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM ttf "
    "GROUP BY token)",
    "tw AS (SELECT f.doc_id, f.token, "
    "f.tf * ln((1 + n.n_docs) / CAST(1 + d.df AS DOUBLE)) AS w "
    "FROM ttf f JOIN tdf d USING (token), tnd n)",
    "tnorm AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM tw "
    "GROUP BY doc_id)",
    "tdot AS (SELECT p.doc_a, p.doc_b, sum(a.w * b.w) AS dot "
    "FROM dpairs p JOIN tw a ON a.doc_id = p.doc_a "
    "JOIN tw b ON b.doc_id = p.doc_b AND b.token = a.token "
    "GROUP BY p.doc_a, p.doc_b)",
) + (
    "SELECT p.doc_a, p.doc_b, "
    "round(coalesce(t.dot, 0.0) / (na.norm * nb.norm), 6) AS cosine "
    "FROM dpairs p LEFT JOIN tdot t USING (doc_a, doc_b) "
    "JOIN tnorm na ON na.doc_id = p.doc_a "
    "JOIN tnorm nb ON nb.doc_id = p.doc_b"
)

QUERIES["dedup_tfidf_cosine_pairs"] = q_tfidf_cosine_pairs


# --- quality-aware representative selection (r5) ---------------------


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the HIGHEST-QUALITY member of each near-dup cluster — the
    production refinement of min-id keep-first: duplicates usually
    differ (truncation, boilerplate injection, encoding damage), and
    keeping the lexicographically-first one silently prefers whatever
    crawl happened to land first.  Representative = argmax by the
    composite quality score (textstats.q_quality), ties to the
    smaller doc_id so the choice is total-ordered and engine-exact.

    Shape: clusters and scores are both existing memoized/narrow
    artifacts; selection is ONE max_by aggregate per cluster keyed on
    the cluster label (no window, no self-join).  Singleton docs keep
    themselves — the output is a full (doc_id → kept_doc_id) dedup
    map, idempotent by construction."""
    from .textstats import q_text_quality

    clusters = q_dedup_clusters(spark, sf_dir)  # (doc_id, cluster_id)
    score = q_text_quality(spark, sf_dir).select("doc_id", "quality")
    joined = clusters.join(score, "doc_id")
    best = joined.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("quality"), -F.col("doc_id")),
        ).alias("kept_doc_id"),
        F.count("*").cast("long").alias("n_members"),
        F.round(F.max("quality"), 6).alias("best_quality"),
    )
    return joined.join(best, "cluster_id").select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "kept_doc_id",
        (F.col("doc_id") == F.col("kept_doc_id")).cast("int").alias("keep"),
        "n_members",
        "best_quality",
    )


def _keep_best_sql() -> str:
    from .textstats import ORACLES as _TS

    cluster_sql = ORACLES["dedup_clusters"]  # WITH RECURSIVE ... SELECT
    quality_sql = _TS["text_quality"]
    return (
        "WITH cl AS (" + cluster_sql + "), "
        "qs AS (" + quality_sql + "), "
        "j AS (SELECT cl.doc_id, cl.cluster_id, qs.quality "
        "FROM cl JOIN qs USING (doc_id)), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id "
        "ORDER BY quality DESC, doc_id ASC) AS rn FROM j), "
        "best AS (SELECT r.cluster_id, "
        "CAST(r.doc_id AS BIGINT) AS kept_doc_id, g.n_members, "
        "g.best_quality FROM (SELECT * FROM rk WHERE rn = 1) r "
        "JOIN (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members, "
        "round(max(quality), 6) AS best_quality FROM j "
        "GROUP BY cluster_id) g USING (cluster_id)) "
        "SELECT j.doc_id, CAST(j.cluster_id AS BIGINT) AS cluster_id, "
        "b.kept_doc_id, "
        "CAST(j.doc_id = b.kept_doc_id AS INTEGER) AS keep, "
        "b.n_members, b.best_quality "
        "FROM j JOIN best b USING (cluster_id)"
    )


ORACLES["dedup_keep_best"] = _keep_best_sql()
QUERIES["dedup_keep_best"] = q_dedup_keep_best


# --- LSH S-curve: measured banding recall vs theory (r5) --------------
#
# The tuning evidence behind the (BANDS, ROWS_PER_BAND) choice: LSH
# theory says a pair with Jaccard s survives banding with probability
# 1 − (1 − s^r)^b; this query MEASURES that curve on the actual corpus
# by comparing the banded candidate set against the EXACT ≥ 0.5 truth
# from the prefix-filter join (dedup_prefix_jaccard_join — lossless,
# so it is usable as ground truth where the probabilistic index is
# not).  Per 0.05-wide Jaccard bucket: true pairs, banding-detected
# pairs, the measured detection rate, and the theoretical rate at the
# bucket midpoint.  A measured rate far under theory near the cluster
# threshold (JACCARD_DUP_MIN) is the evidence that forces more bands;
# rates ≈ theory confirm the hash family behaves.
#
# Scale shape: both inputs are the memoized bounded pair tables
# (prefix postings / banded candidates — never all-pairs); the join
# is pair-keyed, the rollup is a ≤11-row bucket aggregate.  Bucket
# indices floor ROUNDED j·20 so an exactly-representable 0.70 cannot
# land under 14 via float droop, in either engine.


def q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = q_prefix_jaccard_join(spark, sf_dir)
    det = (
        _candidates_cached(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("hit", F.lit(1))
    )
    flagged = truth.join(det, ["doc_a", "doc_b"], "left").select(
        F.least(
            F.floor(F.round(F.col("jaccard") * 20, 6)), F.lit(20)
        )
        .cast("long")
        .alias("bk"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    agg = flagged.groupBy("bk").agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.sum("hit").cast("long").alias("n_detected"),
    )
    mid = F.when(F.col("bk") < 20, (F.col("bk") + 0.5) / 20.0).otherwise(
        F.lit(1.0)
    )
    theory = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(mid, F.lit(float(ROWS_PER_BAND))),
        F.lit(float(BANDS)),
    )
    return agg.select(
        (F.col("bk") / 20.0).alias("bucket_lo"),
        "n_true_pairs",
        "n_detected",
        F.round(F.col("n_detected") / F.col("n_true_pairs"), 6).alias(
            "detect_rate"
        ),
        F.round(theory, 6).alias("theory_rate"),
    )


ORACLES["dedup_lsh_s_curve"] = _with(
    *_MINHASH_PRELUDE,
    "scsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh "
    "FROM dsh GROUP BY doc_id)",
    "sccand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM dsh a JOIN dsh b ON a.shingle = b.shingle "
    "AND a.doc_id < b.doc_id)",
    "scinter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) "
    "AS n_inter FROM sccand c JOIN dsh a ON a.doc_id = c.doc_a "
    "JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle "
    "GROUP BY c.doc_a, c.doc_b)",
    "sctruth AS (SELECT i.doc_a, i.doc_b, "
    "round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) "
    "AS jaccard FROM scinter i "
    "JOIN scsizes sa ON sa.doc_id = i.doc_a "
    "JOIN scsizes sb ON sb.doc_id = i.doc_b "
    "WHERE round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) "
    f">= {PREFIX_JACCARD_T})",
    "scflag AS (SELECT CAST(least(floor(round(t.jaccard * 20, 6)), 20) "
    "AS BIGINT) AS bk, "
    "CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit "
    "FROM sctruth t LEFT JOIN dpairs p USING (doc_a, doc_b))",
    "scagg AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_true_pairs, "
    "CAST(sum(hit) AS BIGINT) AS n_detected FROM scflag GROUP BY bk)",
) + (
    "SELECT bk / 20.0 AS bucket_lo, n_true_pairs, n_detected, "
    "round(n_detected * 1.0 / n_true_pairs, 6) AS detect_rate, "
    "round(1.0 - pow(1.0 - pow(CASE WHEN bk < 20 THEN (bk + 0.5) / 20.0 "
    f"ELSE 1.0 END, {ROWS_PER_BAND}), {BANDS}), 6) AS theory_rate "
    "FROM scagg"
)

QUERIES["dedup_lsh_s_curve"] = q_lsh_s_curve


# --- near-dup method agreement (r5) -------------------------------------
#
# The side-by-side eval the S-curve can't give: each detector family
# (MinHash banding, SimHash pigeonhole, TF-IDF cosine) emits a PAIR
# SET, and what a pipeline owner actually tunes on is set-level
# precision/recall against the exact ≥ 0.5-Jaccard truth (the
# lossless prefix-filter join).  One row per method: pair counts,
# overlap, precision, recall, and set-Jaccard — the table that says
# "SimHash at Hamming ≤ 3 is a recall net with 4% precision; MinHash
# at 8×4 is 97/94" concretely, per corpus.
#
# Scale shape: every input is a memoized BOUNDED pair table (banded /
# pigeonhole / prefix-filter joins — never all-pairs); each arm is a
# pair-keyed join reduced to a 1-row count, unioned to 3 rows.


def _pair_set(df: DataFrame) -> DataFrame:
    return df.select("doc_a", "doc_b")


def q_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = _pair_set(q_prefix_jaccard_join(spark, sf_dir))
    methods = (
        ("minhash", _pair_set(q_minhash_pairs(spark, sf_dir))),
        ("simhash", _pair_set(q_simhash_pairs(spark, sf_dir))),
        ("tfidf_cosine", _pair_set(q_tfidf_cosine_pairs(spark, sf_dir))),
    )
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    arms = []
    for name, got in methods:
        # ONE pass per method table: left-join the (memoized) truth and
        # fold n_method + n_both into the same aggregate, so uncached
        # pair pipelines are never executed twice (bench r5: the
        # two-use form re-ran the SimHash band join per arm)
        counts = (
            got.join(
                truth.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
            )
            .agg(
                F.count("*").cast("long").alias("n_method"),
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("long")
                .alias("n_both"),
            )
        )
        arm = (
            F.broadcast(n_truth)
            .crossJoin(counts)
            .select(
                F.lit(name).alias("method"),
                "n_truth",
                "n_method",
                "n_both",
                # Zero-guarded divisions (r5 advice): a detector that
                # emits zero pairs must yield NULL on BOTH engines —
                # unguarded, Spark gives NULL but DuckDB's IEEE float
                # division gives NaN, breaking oracle parity on the
                # degenerate corpus.
                F.when(
                    F.col("n_method") > 0,
                    F.round(
                        F.col("n_both")
                        / F.col("n_method").cast("double"),
                        6,
                    ),
                ).alias("precision"),
                F.when(
                    F.col("n_truth") > 0,
                    F.round(
                        F.col("n_both")
                        / F.col("n_truth").cast("double"),
                        6,
                    ),
                ).alias("recall"),
                F.when(
                    F.col("n_truth") + F.col("n_method") - F.col("n_both")
                    > 0,
                    F.round(
                        F.col("n_both")
                        / (
                            F.col("n_truth")
                            + F.col("n_method")
                            - F.col("n_both")
                        ).cast("double"),
                        6,
                    ),
                ).alias("set_jaccard"),
            )
        )
        arms.append(arm)
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def _method_agreement_sql() -> str:
    arms = []
    for name, oracle_name in (
        ("minhash", "dedup_minhash_pairs"),
        ("simhash", "dedup_simhash_pairs"),
        ("tfidf_cosine", "dedup_tfidf_cosine_pairs"),
    ):
        arms.append(
            f"SELECT '{name}' AS method, "
            "(SELECT count(*) FROM truth)::BIGINT AS n_truth, "
            f"(SELECT count(*) FROM m_{name})::BIGINT AS n_method, "
            f"(SELECT count(*) FROM truth t JOIN m_{name} m "
            "USING (doc_a, doc_b))::BIGINT AS n_both"
        )
    return (
        "WITH truth AS (SELECT doc_a, doc_b FROM ("
        + ORACLES["dedup_prefix_jaccard_join"]
        + ")), "
        "m_minhash AS (SELECT doc_a, doc_b FROM ("
        + ORACLES["dedup_minhash_pairs"]
        + ")), "
        "m_simhash AS (SELECT doc_a, doc_b FROM ("
        + ORACLES["dedup_simhash_pairs"]
        + ")), "
        "m_tfidf_cosine AS (SELECT doc_a, doc_b FROM ("
        + ORACLES["dedup_tfidf_cosine_pairs"]
        + ")), "
        "u AS (" + " UNION ALL ".join(arms) + ") "
        "SELECT method, n_truth, n_method, n_both, "
        "CASE WHEN n_method > 0 THEN "
        "round(n_both / CAST(n_method AS DOUBLE), 6) END AS precision, "
        "CASE WHEN n_truth > 0 THEN "
        "round(n_both / CAST(n_truth AS DOUBLE), 6) END AS recall, "
        "CASE WHEN n_truth + n_method - n_both > 0 THEN "
        "round(n_both / CAST(n_truth + n_method - n_both AS DOUBLE), 6) "
        "END AS set_jaccard FROM u"
    )


ORACLES["dedup_method_agreement"] = _method_agreement_sql()
QUERIES["dedup_method_agreement"] = q_method_agreement


# --- train/test split n-gram overlap (r5) ---------------------------------
#
# The memorization-risk eval (the GPT-2 paper's 8-gram test-set
# overlap analysis, at this corpus's 3-gram width): what fraction of
# each TEST doc's shingles already occur anywhere in the TRAIN split?
# High-overlap test docs inflate eval scores for free — this readout
# is why pipe_split_leakage_safe splits by CLUSTER, and it measures
# the residual risk that plain modulo splitting leaves behind.
# Per test doc: shingle count, seen-in-train count, overlap fraction,
# and a ≥ 0.5 memorization flag.
#
# Scale shape: the memoized shingle table splits by the doc_id
# modulus (two narrow filters); membership is ONE shingle-keyed
# equi-join of test shingles against the DISTINCT train shingle set
# (both partial-agg reduced before the join); rollup per test doc.
# Boundary discipline: the flag compares the 6-rounded fraction.

SPLIT_OVERLAP_MEMORIZED = 0.5


def q_split_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_cached(spark, sf_dir)
    train_sh = (
        sh.filter(F.col("doc_id") % 8 >= 2).select("shingle").distinct()
    )
    test_sh = sh.filter(F.col("doc_id") % 8 < 2)
    seen = test_sh.join(
        train_sh.withColumn("seen", F.lit(1)), "shingle", "left"
    )
    per_doc = seen.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.coalesce("seen", F.lit(0))).cast("long").alias("n_seen"),
    )
    frac = F.round(
        F.col("n_seen") / F.col("n_shingles").cast("double"), 6
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_seen",
        frac.alias("overlap_frac"),
        (frac >= SPLIT_OVERLAP_MEMORIZED).alias("memorization_risk"),
    )


ORACLES["text_split_overlap"] = _with(
    *_DSH_CTES,
    "trs AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 8 >= 2)",
    "tes AS (SELECT doc_id, shingle FROM dsh WHERE doc_id % 8 < 2)",
    "per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shingles, "
    "CAST(sum(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_seen FROM tes t LEFT JOIN trs r "
    "ON t.shingle = r.shingle GROUP BY t.doc_id)",
) + (
    "SELECT doc_id, n_shingles, n_seen, "
    "round(n_seen / CAST(n_shingles AS DOUBLE), 6) AS overlap_frac, "
    "round(n_seen / CAST(n_shingles AS DOUBLE), 6) >= "
    f"{SPLIT_OVERLAP_MEMORIZED} AS memorization_risk FROM per"
)

QUERIES["text_split_overlap"] = q_split_overlap


# --- cluster topic labels via c-TF-IDF (r5) --------------------------------
#
# What ARE the dup families?  BERTopic's class-based TF-IDF
# (Grootendorst 2022) treats each multi-doc cluster as one
# pseudo-document: score(w, c) = tf_c(w) · ln(1 + C / df(w)) with
# df counted over CLUSTERS (not docs), then the top TOPIC_TERMS words
# label the family.  The human-readable layer over dedup_clusters —
# "cluster 26 is the shipping-confirmation template" instead of a
# bare id.
#
# Scale shape: tokens join the cluster map on doc_id (co-partitioned
# with every other doc-keyed artifact), the tf table is (clusters ×
# vocab)-bounded by partial agg, df/C are vocab- and 1-sized
# aggregates, and the rank window partitions BY CLUSTER.  Ranking
# compares the 6-ROUNDED score with a word tiebreak, so top-3 is a
# total order in both engines.

TOPIC_TERMS = 3


def q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = q_dedup_clusters(spark, sf_dir)
    multi = (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    t = tok.join(clusters, "doc_id").join(
        F.broadcast(multi), "cluster_id"
    )
    tf = t.groupBy("cluster_id", "word").agg(
        F.count("*").cast("long").alias("tf"),
        F.max("n_docs").cast("long").alias("n_docs"),
    )
    dfw = tf.groupBy("word").agg(
        F.countDistinct("cluster_id").cast("long").alias("dfc")
    )
    nc = multi.agg(F.count("*").cast("long").alias("n_clusters"))
    sc = (
        tf.join(dfw, "word")
        .crossJoin(F.broadcast(nc))
        .select(
            "cluster_id",
            "n_docs",
            "word",
            F.round(
                F.col("tf")
                * F.log(
                    F.lit(1.0)
                    + F.col("n_clusters") / F.col("dfc").cast("double")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("word")
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPIC_TERMS)
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "n_docs",
            F.col("rank").cast("int").alias("rank"),
            "word",
            "score",
        )
    )


def _cluster_topics_sql() -> str:
    return (
        "WITH cl AS (" + ORACLES["dedup_clusters"] + "), "
        "multi AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs "
        "FROM cl GROUP BY cluster_id HAVING count(*) >= 2), "
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
        "FROM documents), "
        "t AS (SELECT c.cluster_id, m.n_docs, k.word FROM tok k "
        "JOIN cl c USING (doc_id) JOIN multi m USING (cluster_id)), "
        "tf AS (SELECT cluster_id, word, CAST(count(*) AS BIGINT) AS tf, "
        "CAST(max(n_docs) AS BIGINT) AS n_docs FROM t "
        "GROUP BY cluster_id, word), "
        "dfw AS (SELECT word, CAST(count(DISTINCT cluster_id) AS BIGINT) "
        "AS dfc FROM tf GROUP BY word), "
        "nc AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters FROM multi), "
        "sc AS (SELECT f.cluster_id, f.n_docs, f.word, "
        "round(f.tf * ln(1.0 + nc.n_clusters / CAST(d.dfc AS DOUBLE)), 6) "
        "AS score FROM tf f JOIN dfw d USING (word) CROSS JOIN nc), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id "
        "ORDER BY score DESC, word ASC) AS rn FROM sc) "
        "SELECT CAST(cluster_id AS BIGINT) AS cluster_id, n_docs, "
        "CAST(rn AS INTEGER) AS rank, word, score FROM rk "
        f"WHERE rn <= {TOPIC_TERMS}"
    )


ORACLES["dedup_cluster_topics"] = _cluster_topics_sql()
QUERIES["dedup_cluster_topics"] = q_cluster_topics


# --- quality by duplication size (r5) ---------------------------------------
#
# The finding every web-corpus paper reports in its own way: is
# duplicated content systematically lower-quality than unique
# content?  Joins the cluster map with the per-doc quality score and
# rolls up by duplication class (singleton / small family 2-3 /
# boilerplate family 4+): doc counts, integer-scaled mean quality,
# and mean length.  If the large-family mean sits far below the
# singleton mean, near-dup filtering doubles as quality filtering —
# and the keep-best selector (dedup_keep_best) earns its extra
# argmax; if not, dedup and quality gates prune independent slices
# (same question text_signal_correlation answers for gate PAIRS).
#
# Shape: doc_id-keyed join of two memoized artifacts, 3-group
# partial agg; milli-unit integer means (no float accumulation).


def q_quality_by_dupsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import q_text_quality

    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members")
    )
    q = q_text_quality(spark, sf_dir).select("doc_id", "quality")
    chars = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    cls = F.when(F.col("n_members") == 1, "singleton").when(
        F.col("n_members") <= 3, "family_2_3"
    ).otherwise("family_4_plus")
    j = (
        clusters.join(F.broadcast(sizes), "cluster_id")
        .join(q, "doc_id")
        .join(chars, "doc_id")
        .select(
            cls.alias("dup_class"),
            F.round(F.col("quality") * 1000).cast("long").alias("q_milli"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )
    return j.groupBy("dup_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.sum("q_milli") / (F.count("*") * F.lit(1000.0)), 6)
        .alias("mean_quality"),
        F.round(
            F.sum("n_chars") / F.count("*").cast("double"), 6
        ).alias("mean_chars"),
    )


def _quality_by_dupsize_sql() -> str:
    from .textstats import ORACLES as _TS

    return (
        "WITH cl AS (" + ORACLES["dedup_clusters"] + "), "
        "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members "
        "FROM cl GROUP BY cluster_id), "
        "qs AS (SELECT doc_id, quality FROM (" + _TS["text_quality"] + ")), "
        "j AS (SELECT CASE WHEN sz.n_members = 1 THEN 'singleton' "
        "WHEN sz.n_members <= 3 THEN 'family_2_3' "
        "ELSE 'family_4_plus' END AS dup_class, "
        "CAST(round(qs.quality * 1000, 0) AS BIGINT) AS q_milli, "
        "CAST(d.n_chars AS BIGINT) AS n_chars "
        "FROM cl JOIN sz USING (cluster_id) "
        "JOIN qs USING (doc_id) JOIN documents d USING (doc_id)) "
        "SELECT dup_class, CAST(count(*) AS BIGINT) AS n_docs, "
        "round(sum(q_milli) / (count(*) * 1000.0), 6) AS mean_quality, "
        "round(sum(n_chars) / CAST(count(*) AS DOUBLE), 6) AS mean_chars "
        "FROM j GROUP BY dup_class"
    )


ORACLES["dedup_quality_by_dupsize"] = _quality_by_dupsize_sql()
QUERIES["dedup_quality_by_dupsize"] = q_quality_by_dupsize


# --- keep-gate ablation (r6) ----------------------------------------------
#
# The data-governance readout on top of dedup_corpus_keep: the corpus
# partitioned by the FULL 2³ combination of the three independent
# keep-gates (quality ∧ exact-canonical ∧ neardup-canonical), so the
# marginal and JOINT costs of each gate are visible — "near-dedup
# mostly removes docs quality already rejects" vs "the gates bite
# disjoint sets" changes which stage is worth its compute at corpus
# scale, and dedup_savings (exact only) can't see the overlap.
#
# Scale shape: each gate is the SAME memoized artifact corpus_keep
# uses (narrow quality map, one exact groupBy, CC labels over the
# candidate subgraph); flags attach via doc_id-keyed left joins in
# one co-partitioned family, and the rollup is 8 rows.

def q_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .quality import q_repetition

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    quality = q_repetition(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("pass_quality")
    )
    exact = (
        q_dedup_keep_first(spark, sf_dir)
        .select("doc_id")
        .withColumn("pe", F.lit(True))
    )
    clusters = q_dedup_clusters(spark, sf_dir)
    flags = (
        docs.join(quality, "doc_id")
        .join(exact, "doc_id", "left")
        .join(clusters, "doc_id")
        .select(
            "pass_quality",
            F.coalesce("pe", F.lit(False)).alias("pass_exact"),
            (F.col("doc_id") == F.col("cluster_id")).alias(
                "pass_canon"
            ),
        )
    )
    total = docs.count()  # 1-number side input (S5 shape)
    return flags.groupBy(
        "pass_quality", "pass_exact", "pass_canon"
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.count("*") / F.lit(float(total)), 6).alias(
            "frac_corpus"
        ),
    )


def _gate_ablation_sql() -> str:
    return (
        "WITH RECURSIVE "
        + ",\n".join(
            _CLUSTER_CTES
            + (
                "rep AS (SELECT doc_id, keep FROM ("
                + _QUALITY_ORACLES["text_repetition"]
                + "))",
                "exact_keep AS (SELECT min(doc_id) AS doc_id "
                "FROM documents GROUP BY md5(text))",
                "tot AS (SELECT count(*) AS n FROM documents)",
            )
        )
        + "\nSELECT rep.keep AS pass_quality, "
        "(e.doc_id IS NOT NULL) AS pass_exact, "
        "(coalesce(m.label, d.doc_id) = d.doc_id) AS pass_canon, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "round(count(*) / CAST(tot.n AS DOUBLE), 6) AS frac_corpus "
        "FROM documents d "
        "JOIN rep ON d.doc_id = rep.doc_id "
        "LEFT JOIN exact_keep e ON d.doc_id = e.doc_id "
        "LEFT JOIN dlabels m ON d.doc_id = m.node "
        "CROSS JOIN tot "
        "GROUP BY 1, 2, 3, tot.n"
    )


ORACLES["dedup_gate_ablation"] = _gate_ablation_sql()
QUERIES["dedup_gate_ablation"] = q_gate_ablation
