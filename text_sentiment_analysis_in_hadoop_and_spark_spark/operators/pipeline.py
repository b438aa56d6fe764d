"""Training-data pipeline operators: deterministic sampling and
sequence packing (engine extensions; the reference has neither).

Both are the reproducibility-first variants a 100 TB corpus needs:

- **Hash sampling** replaces RNG sampling: membership is a pure
  function of content, so the sample is identical across runs,
  engines, partitionings and retries, exact duplicates land on the
  same side of the cut (no train/eval leakage between copies), and
  rates compose (a 1/100 sample is a subset of the 1/10 sample when
  rates are nested powers).
- **Sequence packing** groups documents toward a fixed token budget
  (the "pack short docs into one context window" step of LLM
  training).  A single global greedy pack is inherently sequential,
  so the scalable form shards docs into hash buckets and packs each
  bucket independently — the windows are bucket-partitioned (bounded,
  parallel), never global.  Two variants, split by semantics
  (ADVICE r3):

  - ``pipe_pack_sequences`` — concatenate-then-chunk: a doc's bin is
    the budget quotient of the tokens packed before it, so a doc
    straddling a budget boundary stays whole and its bin OVERFLOWS by
    up to one doc (callers that hard-slice at the budget must split
    docs downstream).  Pure window cumsum — oracle-checkable SQL.
  - ``pipe_pack_nextfit`` — true next-fit: a doc that does not fit
    opens a new bin, so every bin total is ≤ PACK_BUDGET unless the
    bin is a single oversized doc.  The running remaining-capacity
    recurrence is not prefix-sum expressible, so each bucket packs in
    an Arrow-batched ``applyInPandas`` (sequential within a bucket,
    parallel across buckets; state = two ints per bucket).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hex32, hex32_sql
from ..sources.tables import load_table
from .common import memo

SAMPLE_MOD = 10        # keep hash % 10 == 0  →  ~10% sample
PACK_BUDGET = 512      # token budget per packed sequence
PACK_BUCKETS = 32      # independent packing streams (≈ cluster cores)


def q_sample_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample by content hash — narrow map, the
    filter reaches the scan, zero RNG state to manage."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        hex32(F.col("text")) % SAMPLE_MOD == 0
    ).select("doc_id")


def _sized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % PACK_BUCKETS).cast("long").alias("bucket"),
    )


BALANCE_DENOM = 1_000_000  # hash-rate denominator for balanced sampling


def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic downsampling: each class keeps
    ~min_class_count docs by thinning every class c at rate
    n_min/n_c through the content-hash filter.

    Scale shape: the per-class counts are a tiny aggregate (one row
    per class) broadcast back onto the corpus, so membership is ONE
    narrow filter — no per-class sort or rank (exact-count balancing
    would need an order-by-hash per class, which shuffles the whole
    corpus into as few partitions as there are classes).  The keep
    test is pure integer math — ``(hash % D) · n_c < n_min · D`` ⇔
    hash-uniform rate n_min/n_c — so Spark and the DuckDB oracle
    agree bit-for-bit, retries are stable, and exact duplicates land
    on the same side of the cut like every hash-sampling operator
    here."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 2).cast("int").alias("label"),
        "text",
    )
    return balanced_sample(docs)


def balanced_sample(docs: DataFrame) -> DataFrame:
    """The operator over any (doc_id, label, text) frame — see
    :func:`q_sample_balanced` for the contract; the thinning path on a
    genuinely skewed class mix is pinned by tests/test_pipeline.py."""
    counts = docs.groupBy("label").agg(F.count("*").alias("n_c"))
    n_min = counts.agg(F.min("n_c").alias("n_min"))
    rates = counts.crossJoin(n_min)  # classes × 1 — broadcast-sized
    return (
        docs.join(F.broadcast(rates), "label")
        .filter(
            F.pmod(hex32(F.col("text")), BALANCE_DENOM) * F.col("n_c")
            < F.col("n_min") * BALANCE_DENOM
        )
        .select("doc_id", "label")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-then-chunk packing (see module header for the
    overflow contract vs ``pipe_pack_nextfit``): per hash bucket, docs
    (in doc_id order) accumulate whitespace-token counts; a doc's bin
    is the budget quotient of the tokens packed BEFORE it.  Output is
    the packing manifest (doc → bucket, bin) a sequence-builder job
    would join back to the text."""
    docs = _sized_docs(spark, sf_dir)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return docs.select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET)
        .cast("long")
        .alias("bin"),
    )


N_SHARDS = 64  # training-export shard fan-out


def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard manifest for a training-data export:
    content-hash shard assignment (exact duplicates co-locate; retries
    and engines agree) with per-shard doc/token/char totals — the
    index a downstream trainer uses to plan even reads.

    Scale shape: shard assignment is the same narrow hash map the
    bucketed writer uses (sources/bucketing.py); the rollup is one
    groupBy on an N_SHARDS-value key — partial aggregation reduces
    each input partition to ≤ N_SHARDS rows before the shuffle, so
    the exchange is O(partitions · shards) regardless of corpus
    size.  The actual export is ``df.write.partitionBy("shard")
    .parquet(path)`` on the same assignment column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.pmod(hex32(F.col("text")), N_SHARDS).alias("shard"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
            F.length("text").cast("long").alias("nc"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
    )


PROFILE_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column corpus profile — row counts, null counts, EXACT
    distinct counts, and min/max (rendered to string so heterogeneous
    column types share one schema; min/max are taken in the column's
    native type BEFORE casting, so numerics order numerically).  The
    first look a data engineer takes at a new drop, and the
    column-level contract a pipeline asserts before training.

    Scale shape: one narrow single-column aggregate per profiled
    column, unioned — each scans ONLY its own column (columnar
    pruning makes five 1-column passes ≈ one full-width pass) and
    each is partial-agg combined.  The alternative — one pass with
    five count(DISTINCT)s — plans an Expand (×5 row blowup before
    the shuffle), strictly worse at corpus scale.  Exact distinct is
    the honest per-column shuffle; swap in approx_count_distinct
    (HLL, mergeable, one pass for ALL columns) when ±2% suffices —
    the same exact/approx pairing as tfidf_df_approx."""
    docs = load_table(spark, sf_dir, "documents")
    parts = []
    for name in PROFILE_COLUMNS:
        v = F.col(name)
        parts.append(
            docs.select(v.alias("v")).agg(
                F.lit(name).alias("col_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                F.countDistinct("v").cast("long").alias("n_distinct"),
                F.min("v").cast("string").alias("min_repr"),
                F.max("v").cast("string").alias("max_repr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pack_bucket_nextfit(pdf: pd.DataFrame) -> pd.DataFrame:
    """Next-fit over one bucket, docs in doc_id order: close the open
    bin when the next doc would overflow it.  An oversized doc
    (n_tokens > budget) gets a bin of its own."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins = []
    cur_bin, cur_tokens = 0, 0
    for t in pdf["n_tokens"]:
        if cur_tokens > 0 and cur_tokens + t > PACK_BUDGET:
            cur_bin += 1
            cur_tokens = 0
        bins.append(cur_bin)
        cur_tokens += t
    pdf["bin"] = pd.Series(bins, dtype="int64")
    return pdf


def _pack_bucket_ffd(pdf: pd.DataFrame) -> pd.DataFrame:
    """First-fit-decreasing over one bucket: docs sorted by
    (n_tokens DESC, doc_id) each enter the FIRST bin with room —
    the classic 11/9·OPT+1 guarantee vs next-fit's 2·OPT, worth the
    O(n log n) sort + per-doc bin probe at this (per-bucket,
    bounded) scale.  Oversized docs still get solo bins.  Output is
    keyed deterministic: bins are numbered in creation order under
    the deterministic doc order."""
    pdf = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    loads: list[int] = []
    assigned = []
    for t in pdf["n_tokens"]:
        placed = None
        for i, ld in enumerate(loads):
            if ld + t <= PACK_BUDGET:
                placed = i
                break
        if placed is None:
            loads.append(0)
            placed = len(loads) - 1
        loads[placed] += t
        assigned.append(placed)
    pdf["bin"] = pd.Series(assigned, dtype="int64")
    return pdf


def q_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing — the quality upgrade over the
    next-fit twin (same bucket-parallel applyInPandas shape, same
    no-overflow contract, strictly fewer-or-equal bins on every
    bucket — asserted in tests).  Rows-only: FFD's first-fit probe
    over evolving bin loads is a data-dependent loop no SQL recursion
    expresses tractably; pinned by the dominance + no-overflow +
    serial-reference tests."""
    docs = _sized_docs(spark, sf_dir)
    return docs.groupBy("bucket").applyInPandas(
        _pack_bucket_ffd,
        schema="doc_id long, n_tokens long, bucket long, bin long",
    )


def q_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True next-fit packing (no bin exceeds PACK_BUDGET unless it is
    one oversized doc).  The per-bucket recurrence runs in an
    Arrow-batched ``applyInPandas`` — one shuffle on bucket, then each
    bucket packs sequentially with O(1) state; buckets pack in
    parallel, so the wall-clock is N/PACK_BUCKETS doc steps exactly
    like the window variant.  Oracle-checked since r5: the recurrence
    IS SQL-expressible as an iterative recursive CTE stepping one row
    per bucket per iteration (depth = max docs/bucket); the
    no-overflow invariant is additionally pinned by
    tests/test_pipeline.py."""
    docs = _sized_docs(spark, sf_dir)
    return docs.groupBy("bucket").applyInPandas(
        _pack_bucket_nextfit,
        schema="doc_id long, n_tokens long, bucket long, bin long",
    )


MIX_DENOM = 1_000_000  # hash-rate denominator for mixture thinning
MIX_BUDGET_FRAC = 2    # global budget = corpus_size / MIX_BUDGET_FRAC


def _mix_weight(src_idx: Column) -> Column:
    """Deterministic non-uniform source weight 1..3 (stands in for the
    tuned domain weights a DoReMi-style pipeline would supply)."""
    return (src_idx % 3 + 1).cast("long")


def _mixture_kept_docs(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """(doc_id, source) rows surviving the mixture thinning — the
    doc-level filter shared by the summary query and the
    training-corpus capstone."""
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            F.pmod(hex32(F.col("text")), MIX_DENOM)
            * F.col("n_avail")
            * F.col("w_total")
            * MIX_BUDGET_FRAC
            < F.col("n_total") * F.col("w") * MIX_DENOM
        )
        .select("doc_id", "source")
    )


def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling summary: thin each source toward a
    weighted share of a global token^W doc budget (the Pile/DoReMi
    corpus-mixing step).  Source s with weight w_s targets
    ``budget · w_s / Σw`` docs; its keep rate is min(1, target/n_s),
    applied as the content-hash filter every sampling operator here
    uses — deterministic, duplicate-consistent, engine-portable.

    The keep test is EXACT integer math:
    ``hash(text) % D · n_s · Σw < budget · w_s · D`` ⇔ rate
    target/n_s — no float boundary, so Spark and DuckDB agree on
    every doc.  Scale shape: per-source counts and Σw are a
    sources-sized aggregate broadcast back onto the corpus; membership
    is one narrow filter; the summary is a sources-keyed rollup.
    Undersubscribed sources (n_s < target) keep everything — the
    shortfall is reported (realized vs target fraction), not silently
    redistributed; re-normalizing across rounds is the caller's
    policy knob."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    src_idx = F.substring("source", 4, 10).cast("long")
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_avail")
    )
    totals = counts.agg(
        F.sum("n_avail").cast("long").alias("n_total"),
        F.sum(_mix_weight(F.substring("source", 4, 10).cast("long")))
        .cast("long")
        .alias("w_total"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_avail",
        "n_total",
        "w_total",
        _mix_weight(F.substring("source", 4, 10).cast("long")).alias("w"),
    )
    kept = (
        _mixture_kept_docs(docs, rates)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "w",
            "n_avail",
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("n_total")
                    * F.col("w")
                    / (
                        F.col("w_total")
                        * MIX_BUDGET_FRAC
                        * F.col("n_avail")
                    ).cast("double"),
                ),
                6,
            ).alias("target_frac"),
            F.round(
                F.coalesce(F.col("n_kept"), F.lit(0))
                / F.col("n_avail").cast("double"),
                6,
            ).alias("realized_frac"),
        )
    )


ORACLES: dict[str, str] = {
    "pipe_sample_decile": (
        f"SELECT doc_id FROM documents WHERE {hex32_sql('text')} % {SAMPLE_MOD} = 0"
    ),
    "pipe_sample_balanced": (
        "WITH labeled AS (SELECT doc_id, CAST(doc_id % 2 AS INTEGER) AS label, "
        "text FROM documents), "
        "counts AS (SELECT label, count(*) AS n_c FROM labeled GROUP BY label), "
        "m AS (SELECT min(n_c) AS n_min FROM counts) "
        "SELECT d.doc_id, d.label FROM labeled d JOIN counts c USING (label), m "
        f"WHERE ({hex32_sql('d.text')} % {BALANCE_DENOM}) * c.n_c "
        f"< m.n_min * {BALANCE_DENOM}"
    ),
    "pipe_export_manifest": (
        f"SELECT {hex32_sql('text')} % {N_SHARDS} AS shard, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, "
        "CAST(sum(length(text)) AS BIGINT) AS n_chars "
        "FROM documents GROUP BY shard"
    ),
    "pipe_pack_nextfit": (
        "WITH RECURSIVE sized AS ("
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) "
        "AS n_tokens, "
        f"CAST(doc_id % {PACK_BUCKETS} AS BIGINT) AS bucket FROM documents), "
        "ordered AS (SELECT *, row_number() OVER "
        "(PARTITION BY bucket ORDER BY doc_id) AS rn FROM sized), "
        "steps AS ("
        "SELECT bucket, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin, "
        "n_tokens AS fill FROM ordered WHERE rn = 1 "
        "UNION ALL "
        "SELECT o.bucket, o.rn, o.doc_id, o.n_tokens, "
        f"CASE WHEN s.fill + o.n_tokens > {PACK_BUDGET} "
        "THEN s.bin + 1 ELSE s.bin END, "
        f"CASE WHEN s.fill + o.n_tokens > {PACK_BUDGET} "
        "THEN o.n_tokens ELSE s.fill + o.n_tokens END "
        "FROM steps s JOIN ordered o "
        "ON o.bucket = s.bucket AND o.rn = s.rn + 1) "
        "SELECT doc_id, n_tokens, bucket, bin FROM steps"
    ),
    "pipe_pack_sequences": (
        "WITH sized AS (SELECT doc_id, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
        f"CAST(doc_id % {PACK_BUCKETS} AS BIGINT) AS bucket FROM documents) "
        "SELECT doc_id, bucket, n_tokens, "
        "CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
        f"/ {PACK_BUDGET}) AS BIGINT) AS bin FROM sized"
    ),
    "pipe_profile": " UNION ALL ".join(
        f"SELECT '{name}' AS col_name, "
        "CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_nulls, "
        f"CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct, "
        f"CAST(min({name}) AS VARCHAR) AS min_repr, "
        f"CAST(max({name}) AS VARCHAR) AS max_repr "
        "FROM documents"
        for name in PROFILE_COLUMNS
    ),
}

QUERIES = {
    "pipe_sample_decile": q_sample_decile,
    "pipe_sample_balanced": q_sample_balanced,
    "pipe_export_manifest": q_export_manifest,
    "pipe_pack_sequences": q_pack_sequences,
    "pipe_pack_nextfit": q_pack_nextfit,
    "pipe_profile": q_profile,
}


def _training_corpus_sql() -> str:
    """Composed oracle: the keep-list recursive CTE, the contamination
    query, and the mixture filter nest as self-contained derived
    tables (the same composition pattern as dedup_corpus_keep_mm)."""
    from .dedup import ORACLES as _dedup_oracles
    from .quality import ORACLES as _quality_oracles

    keep = _dedup_oracles["dedup_corpus_keep"]
    contam = _quality_oracles["text_contamination"]
    mix = (
        "WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_avail, "
        "CAST(CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS BIGINT) AS w "
        "FROM documents GROUP BY source), "
        "t AS (SELECT CAST(sum(n_avail) AS BIGINT) AS n_total, "
        "CAST(sum(w) AS BIGINT) AS w_total FROM cnt) "
        "SELECT dd.doc_id FROM documents dd JOIN cnt USING (source) "
        "CROSS JOIN t "
        f"WHERE ({hex32_sql('dd.text')} % {MIX_DENOM}) * cnt.n_avail "
        f"* t.w_total * {MIX_BUDGET_FRAC} < t.n_total * cnt.w * {MIX_DENOM}"
    )
    return (
        "SELECT d.doc_id, d.source, "
        "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents d "
        f"JOIN ({keep}) k ON d.doc_id = k.doc_id "
        f"JOIN (SELECT doc_id FROM ({contam}) "
        f"WHERE contam_frac <= {CONTAM_MAX}) c ON d.doc_id = c.doc_id "
        f"JOIN ({mix}) m ON d.doc_id = m.doc_id"
    )


ORACLES["pipe_mixture"] = (
    "WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_avail, "
    "CAST(CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS BIGINT) AS w "
    "FROM documents GROUP BY source), "
    "t AS (SELECT CAST(sum(n_avail) AS BIGINT) AS n_total, "
    "CAST(sum(w) AS BIGINT) AS w_total FROM c), "
    "k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept "
    "FROM documents d JOIN c USING (source) CROSS JOIN t "
    f"WHERE ({hex32_sql('d.text')} % {MIX_DENOM}) * c.n_avail "
    f"* t.w_total * {MIX_BUDGET_FRAC} < t.n_total * c.w * {MIX_DENOM} "
    "GROUP BY d.source) "
    "SELECT c.source, c.w, c.n_avail, "
    "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept, "
    "round(least(1.0, t.n_total * c.w / "
    f"CAST(t.w_total * {MIX_BUDGET_FRAC} * c.n_avail AS DOUBLE)), 6) "
    "AS target_frac, "
    "round(coalesce(k.n_kept, 0) / CAST(c.n_avail AS DOUBLE), 6) "
    "AS realized_frac "
    "FROM c CROSS JOIN t LEFT JOIN k ON c.source = k.source"
)

CONTAM_MAX = 0.2  # training-corpus gate: max benchmark 5-gram overlap


def _mixture_rates(docs: DataFrame) -> DataFrame:
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_avail")
    )
    totals = counts.agg(
        F.sum("n_avail").cast("long").alias("n_total"),
        F.sum(_mix_weight(F.substring("source", 4, 10).cast("long")))
        .cast("long")
        .alias("w_total"),
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_avail",
        "n_total",
        "w_total",
        _mix_weight(F.substring("source", 4, 10).cast("long")).alias("w"),
    )


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pretraining-prep capstone: one query emitting the final
    training-corpus manifest.  A doc ships iff it

    1. survives the dedup/quality keep-list (repetition gate ∧
       exact-content canonical ∧ near-dup-cluster canonical —
       operators/dedup.py:q_corpus_keep),
    2. is clean of benchmark contamination (5-gram overlap ≤ 0.2;
       benchmark members themselves are excluded — they are the
       held-out set), and
    3. survives the domain-mixture thinning toward the global budget.

    Every gate is computed independently on the full corpus and
    intersected via doc_id-keyed left-semi joins — the same
    order-independent, idempotent composition contract as
    q_corpus_keep, now across all three pipeline stages.  All heavy
    inputs (cleaned docs, shingle/signature/jaccard tables, CC labels)
    come from the memoized family caches, so this costs three semi
    joins + the contamination pass on top of work already done."""
    from .dedup import q_corpus_keep
    from .quality import q_contamination

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    keep = q_corpus_keep(spark, sf_dir).select("doc_id")
    clean = (
        q_contamination(spark, sf_dir)
        .filter(F.col("contam_frac") <= CONTAM_MAX)
        .select("doc_id")
    )
    mixed = _mixture_kept_docs(docs, _mixture_rates(docs)).select("doc_id")
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
        .join(keep, "doc_id", "left_semi")
        .join(clean, "doc_id", "left_semi")
        .join(mixed, "doc_id", "left_semi")
    )


ORACLES["pipe_training_corpus"] = _training_corpus_sql()


# --------------------------------------------------------------------------
# r5 additions: leakage-safe splitting, quality-weighted sampling,
# deterministic global shuffle (training-order export)
# --------------------------------------------------------------------------

SPLIT_DENOM = 10  # leakage-safe split fan: 8/1/1 train/val/test


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assigned per NEAR-DUP CLUSTER, not per doc:
    the split key hashes the cluster label, so two near-duplicate
    documents can never straddle train and eval — the standard
    eval-contamination leak a doc-keyed split silently allows (a dup
    of a training doc landing in val inflates metrics exactly like
    benchmark contamination).

    Scale shape: one doc_id-keyed join of the corpus against the
    memoized cluster labels (built on the candidate subgraph only —
    see q_dedup_clusters), then a narrow hash map; no new shuffle
    beyond the label join.  Idempotent and stable: membership is a
    pure function of cluster_id."""
    from .dedup import q_dedup_clusters

    clusters = q_dedup_clusters(spark, sf_dir)
    h = F.pmod(hex32(F.col("cluster_id").cast("string")), SPLIT_DENOM)
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(h < SPLIT_DENOM - 2, F.lit("train"))
        .when(h < SPLIT_DENOM - 1, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def q_sample_ttr_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted acceptance sampling with EXACT integer math:
    accept a doc iff ``hex32(text) % n_tokens < n_distinct_tokens`` —
    keep probability equals the doc's type-token ratio, so lexically
    diverse documents are preferentially retained (the
    quality-proportional downsampling step of corpus curation) while
    boilerplate is thinned, deterministically and reproducibly.

    Integer-only comparison by design: a float threshold
    (``hash/DENOM < quality``) would make membership depend on
    engine-specific double rounding at the boundary; integers make
    the keep set bit-identical on any engine (same discipline as
    pipe_sample_balanced / pipe_mixture).  Narrow map, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    nd = F.size(F.array_distinct(toks)).cast("long")
    return (
        docs.select(
            "doc_id",
            n.alias("n_tokens"),
            nd.alias("n_distinct"),
            F.pmod(hex32(F.col("text")), n).alias("h"),
        )
        .filter(F.col("h") < F.col("n_distinct"))
        .select("doc_id", "n_tokens", "n_distinct")
    )


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every doc gets
    (shard, pos) — shard by content hash (same map as the export
    manifest), position by within-shard hash order.  Reading shards
    round-robin replays one fixed, seedable pseudo-random permutation
    of the corpus — reproducible across engines and re-runs, which a
    ``rand()``-keyed sort is not.

    Scale shape: the window partitions by shard — N_SHARDS
    independent sorts of corpus/N_SHARDS rows each (range-partition
    friendly), never a single global sort; ties (identical text)
    break on doc_id so the order is total."""
    docs = load_table(spark, sf_dir, "documents")
    h = hex32(F.col("text"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select(
            "doc_id",
            F.pmod(h, N_SHARDS).cast("long").alias("shard"),
            h.alias("h"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def _split_leakage_sql() -> str:
    from .dedup import _CLUSTER_CTES

    hexpr = hex32_sql("CAST(cluster_id AS VARCHAR)")
    return (
        "WITH RECURSIVE "
        + ",\n".join(_CLUSTER_CTES)
        + ", dclusters AS (SELECT d.doc_id, "
        "CAST(coalesce(m.label, d.doc_id) AS BIGINT) AS cluster_id "
        "FROM documents d LEFT JOIN dlabels m ON d.doc_id = m.node) "
        "SELECT doc_id, cluster_id, CASE "
        f"WHEN ({hexpr}) % {SPLIT_DENOM} < {SPLIT_DENOM - 2} THEN 'train' "
        f"WHEN ({hexpr}) % {SPLIT_DENOM} < {SPLIT_DENOM - 1} THEN 'val' "
        "ELSE 'test' END AS split FROM dclusters"
    )


ORACLES["pipe_split_leakage_safe"] = _split_leakage_sql()
ORACLES["pipe_sample_ttr_weighted"] = (
    "SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) "
    "AS n_distinct FROM documents "
    f"WHERE ({hex32_sql('text')}) % len(string_split(text, ' ')) "
    "< len(list_distinct(string_split(text, ' ')))"
)
ORACLES["pipe_global_shuffle"] = (
    f"SELECT doc_id, CAST(h % {N_SHARDS} AS BIGINT) AS shard, "
    "CAST(row_number() OVER ("
    f"PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id) AS BIGINT) AS pos "
    f"FROM (SELECT doc_id, {hex32_sql('text')} AS h FROM documents)"
)

QUERIES["pipe_mixture"] = q_mixture
QUERIES["pipe_training_corpus"] = q_training_corpus
QUERIES["pipe_split_leakage_safe"] = q_split_leakage_safe
QUERIES["pipe_sample_ttr_weighted"] = q_sample_ttr_weighted
QUERIES["pipe_global_shuffle"] = q_global_shuffle


# --- Efraimidis–Spirakis weighted sample (r5) ------------------------

WEIGHTED_K = 100


def q_sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k items, one
    pass: the Efraimidis–Spirakis A-ES scheme — key_i = u_i^(1/w_i)
    with u_i uniform, keep the k largest keys.  The distributed shape
    is a single TakeOrderedAndProject (per-partition top-k, merged at
    the driver): no global sort, no rejection loop, no second pass —
    THE way to draw a weighted sample from a 100 TB corpus.

    u_i derives from the content hash (hex32/2^32 — deterministic, so
    both engines draw the identical sample; a production run would
    salt the hash with a seed).  Weights are n_chars: longer docs
    proportionally likelier, the usual length-weighted curation draw.
    ln(key) = ln(u)/w ranks identically to key and avoids pow()
    underflow at tiny u, so both engines order on the exact same
    double."""
    docs = load_table(spark, sf_dir, "documents")
    u = (hex32(F.col("text")) + 1).cast("double") / F.lit(float(1 << 32))
    logkey = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            "n_chars",
            F.round(logkey, 6).alias("log_key"),
        )
        .orderBy(F.desc("log_key"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
    )


ORACLES["pipe_sample_weighted_k"] = (
    "SELECT doc_id, n_chars, "
    f"round(ln(CAST({hex32_sql('text')} + 1 AS DOUBLE) / {float(1 << 32)}) "
    "/ n_chars, 6) AS log_key "
    "FROM documents ORDER BY log_key DESC, doc_id "
    f"LIMIT {WEIGHTED_K}"
)

QUERIES["pipe_sample_weighted_k"] = q_sample_weighted_k


# --- incremental aggregate maintenance (r5) --------------------------

INCR_AGG_MOD = 10  # the "new arrivals" decile (same split as dedup_incremental)


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic view maintenance — update per-lang corpus statistics
    when a new decile arrives WITHOUT rescanning the base corpus: the
    base table materializes PARTIAL aggregates (count, sum, sum-of-
    squares — each algebraic, so mergeable), the delta batch computes
    the same partials over arrivals only, and the refreshed view is
    one tiny union + re-aggregation of partials.  mean/stddev derive
    from the merged sums, never from re-reading rows.

    This is the warehouse incremental-refresh contract: per refresh,
    work is O(delta) + O(groups), not O(base).  The oracle recomputes
    the same statistics from the FULL corpus in one pass — if the
    merge algebra is wrong (e.g. averaging averages), the hash check
    fails."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.pmod(hex32(F.col("text")), INCR_AGG_MOD) == 0

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("s"),
            F.sum(F.col("n_chars") * F.col("n_chars"))
            .cast("long")
            .alias("ss"),
        )

    base = partials(docs.filter(~is_delta))
    delta = partials(docs.filter(is_delta))
    merged = (
        base.unionByName(delta)
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("s").cast("long").alias("sum_chars"),
            F.sum("ss").cast("long").alias("ss_chars"),
        )
    )
    mean = F.col("sum_chars") / F.col("n_docs")
    var = (F.col("ss_chars") / F.col("n_docs")) - mean * mean
    return merged.select(
        "lang",
        "n_docs",
        "sum_chars",
        F.round(mean, 6).alias("mean_chars"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_chars"),
    )


ORACLES["pipe_incremental_agg"] = (
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
    "round(sum(n_chars) * 1.0 / count(*), 6) AS mean_chars, "
    "round(sqrt(greatest((sum(n_chars * n_chars) * 1.0 / count(*)) - "
    "(sum(n_chars) * 1.0 / count(*)) * (sum(n_chars) * 1.0 / count(*)), "
    "0.0)), 6) AS std_chars "
    "FROM documents GROUP BY lang"
)

QUERIES["pipe_incremental_agg"] = q_incremental_agg


def q_shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance health check over the export manifest: token-mass
    skew (max/mean ratio), coefficient of variation, and the
    min/max/mean shard sizes — the number a capacity planner watches
    before a training run (a hot shard is a straggler executor).  One
    re-aggregation of the shards-sized manifest; the manifest itself
    comes from the memoized export rollup."""
    manifest = q_export_manifest(spark, sf_dir).select(
        "shard", F.col("n_tokens").cast("double").alias("t")
    )
    return manifest.agg(
        F.count("*").cast("long").alias("n_shards"),
        F.min("t").cast("long").alias("min_tokens"),
        F.max("t").cast("long").alias("max_tokens"),
        F.round(F.avg("t"), 6).alias("mean_tokens"),
        F.round(F.max("t") / F.avg("t"), 6).alias("max_over_mean"),
        F.round(F.stddev_pop("t") / F.avg("t"), 6).alias("cv"),
    )


ORACLES["pipe_shard_skew_report"] = (
    "WITH m AS ("
    + ORACLES["pipe_export_manifest"]
    + ") SELECT CAST(count(*) AS BIGINT) AS n_shards, "
    "CAST(min(n_tokens) AS BIGINT) AS min_tokens, "
    "CAST(max(n_tokens) AS BIGINT) AS max_tokens, "
    "round(avg(n_tokens), 6) AS mean_tokens, "
    "round(max(n_tokens) * 1.0 / avg(n_tokens), 6) AS max_over_mean, "
    "round(stddev_pop(n_tokens) / avg(n_tokens), 6) AS cv FROM m"
)

QUERIES["pipe_shard_skew_report"] = q_shard_skew_report


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card — one row per (lang, source) cell with the
    numbers a data statement reports: doc count, token mass, mean doc
    length, quality-gate pass rate, and exact-duplicate rate.  This is
    the release artifact a corpus ships with (Gebru et al.'s
    datasheets shape), assembled from the SAME operators the pipeline
    gates on — the quality column comes from the repetition gate, the
    dup column from the exact-dedup canonical set — so the card can
    never drift from the pipeline's actual behavior.

    Shape: one corpus scan for the base stats; the keep flags join
    doc_id-keyed from the memoized gate outputs; everything rolls up
    to a |langs|·|sources|-bounded result."""
    from .dedup import q_dedup_keep_first
    from .quality import q_repetition

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    keep = q_repetition(spark, sf_dir).select("doc_id", "keep")
    canon = q_dedup_keep_first(spark, sf_dir).select("doc_id").withColumn(
        "is_canon", F.lit(1)
    )
    return (
        base.join(keep, "doc_id")
        .join(canon, "doc_id", "left")
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
            F.round(F.avg(F.col("keep").cast("double")), 6).alias(
                "quality_pass_rate"
            ),
            F.round(
                1 - F.sum(F.coalesce("is_canon", F.lit(0))) / F.count("*"), 6
            ).alias("exact_dup_rate"),
        )
    )


from .quality import ORACLES as _QUALITY_ORACLES  # noqa: E402

ORACLES["pipe_data_card"] = (
    "WITH rep AS (SELECT doc_id, keep FROM ("
    + _QUALITY_ORACLES["text_repetition"]
    + ")), "
    "canon AS (SELECT min(doc_id) AS doc_id FROM documents "
    "GROUP BY md5(text)), "
    "base AS (SELECT d.doc_id, d.lang, d.source, "
    "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, "
    "r.keep, CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_canon "
    "FROM documents d JOIN rep r USING (doc_id) "
    "LEFT JOIN canon c ON d.doc_id = c.doc_id) "
    "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, "
    "round(avg(n_tokens), 6) AS mean_tokens, "
    "round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) "
    "AS quality_pass_rate, "
    "round(1 - sum(is_canon) * 1.0 / count(*), 6) AS exact_dup_rate "
    "FROM base GROUP BY lang, source"
)

QUERIES["pipe_data_card"] = q_data_card


SNAP_MOD = 11   # docs new in the current snapshot (absent from prev)
TOMB_MOD = 7    # docs deleted since prev (absent from current)
TOMB_RES = 3


def q_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — what changed between two corpus versions, per
    export shard: docs/tokens added and removed, plus a net row.  The
    'previous' snapshot is the deterministic hash-complement subset
    (residue-11 docs play the fresh additions; a handful of synthetic
    tombstones play removals), so the diff logic — two anti-joins on
    the shard-keyed manifests — is oracle-checkable without a second
    stored copy.  In production the two sides are yesterday's and
    today's manifest tables; the plan is the same pair of
    shard-co-partitioned anti-joins + a bounded rollup either way."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    shard = F.pmod(hex32(F.col("text")), N_SHARDS).alias("shard")
    base = docs.select("doc_id", "n_tokens", shard)
    # current drops the tombstoned residue; previous lacked the fresh one
    cur = base.filter(F.pmod(F.col("doc_id"), TOMB_MOD) != TOMB_RES)
    prev = base.filter(F.pmod(F.col("doc_id"), SNAP_MOD) != 0)
    added = cur.join(prev.select("doc_id"), "doc_id", "left_anti")
    removed = prev.join(cur.select("doc_id"), "doc_id", "left_anti")
    a = added.groupBy("shard").agg(
        F.count("*").cast("long").alias("docs_added"),
        F.sum("n_tokens").cast("long").alias("tokens_added"),
    )
    r = removed.groupBy("shard").agg(
        F.count("*").cast("long").alias("docs_removed"),
        F.sum("n_tokens").cast("long").alias("tokens_removed"),
    )
    shards = base.select("shard").distinct()
    return (
        shards.join(a, "shard", "left")
        .join(r, "shard", "left")
        .select(
            "shard",
            F.coalesce("docs_added", F.lit(0)).cast("long").alias("docs_added"),
            F.coalesce("tokens_added", F.lit(0))
            .cast("long")
            .alias("tokens_added"),
            F.coalesce("docs_removed", F.lit(0))
            .cast("long")
            .alias("docs_removed"),
            F.coalesce("tokens_removed", F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
        )
    )


ORACLES["pipe_manifest_diff"] = (
    "WITH base AS (SELECT doc_id, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    f"{hex32_sql('text')} % {N_SHARDS} AS shard FROM documents), "
    f"cur AS (SELECT * FROM base WHERE doc_id % {TOMB_MOD} <> {TOMB_RES}), "
    f"prev AS (SELECT * FROM base WHERE doc_id % {SNAP_MOD} <> 0), "
    "a AS (SELECT shard, CAST(count(*) AS BIGINT) AS docs_added, "
    "CAST(sum(n_tokens) AS BIGINT) AS tokens_added FROM cur "
    "WHERE doc_id NOT IN (SELECT doc_id FROM prev) GROUP BY shard), "
    "r AS (SELECT shard, CAST(count(*) AS BIGINT) AS docs_removed, "
    "CAST(sum(n_tokens) AS BIGINT) AS tokens_removed FROM prev "
    "WHERE doc_id NOT IN (SELECT doc_id FROM cur) GROUP BY shard) "
    "SELECT s.shard, "
    "CAST(coalesce(a.docs_added, 0) AS BIGINT) AS docs_added, "
    "CAST(coalesce(a.tokens_added, 0) AS BIGINT) AS tokens_added, "
    "CAST(coalesce(r.docs_removed, 0) AS BIGINT) AS docs_removed, "
    "CAST(coalesce(r.tokens_removed, 0) AS BIGINT) AS tokens_removed "
    "FROM (SELECT DISTINCT shard FROM base) s "
    "LEFT JOIN a USING (shard) LEFT JOIN r USING (shard)"
)

QUERIES["pipe_manifest_diff"] = q_manifest_diff
QUERIES["pipe_pack_ffd"] = q_pack_ffd


WF_BUDGET_FRAC = 2  # global token budget = corpus tokens / 2


def q_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling budget allocation — the fair-share optimizer a
    mixture planner runs: give every source min(demand, T) tokens
    where the water level T is chosen so allocations exactly exhaust
    the global budget (small sources fully satisfied, large ones
    capped at the common level — the max-min-fairness solution).

    Solved EXACTLY with window functions, no iteration: sources sort
    by demand ascending; for the k-th boundary the candidate level is
    T_k = (B − prefix_{k−1})/(n−k+1), and the unique k where
    d_{k−1} ≤ T_k ≤ d_k is the solution (if the budget covers total
    demand, everyone gets their demand).  The windows run over the
    SOURCES-sized aggregate (dozens of rows — the one place a
    single-partition window is exactly right), and the selected level
    broadcasts back.  T is a ratio of exact integers, so both engines
    derive the identical double."""
    docs = load_table(spark, sf_dir, "documents")
    demands = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("demand")
    )
    tot = demands.agg(
        F.sum("demand").cast("long").alias("td"),
        F.count("*").cast("long").alias("n"),
    )
    w = Window.orderBy(F.asc("demand"), F.asc("source"))
    ranked = (
        demands.crossJoin(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prefix",
            F.sum("demand").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    budget = F.expr(f"td DIV {WF_BUDGET_FRAC}")
    t_cand = (budget - (F.col("prefix") - F.col("demand"))) / (
        F.col("n") - F.col("rn") + 1
    )
    prev_d = F.lag("demand", 1, 0).over(w)
    level_row = (
        ranked.withColumn("t", t_cand)
        .withColumn("prev_d", prev_d)
        .filter((F.col("t") <= F.col("demand")) & (F.col("t") >= F.col("prev_d")))
        .orderBy("rn")
        .limit(1)
        .select(F.col("t").alias("level"))
    )
    # budget ≥ total demand → no valid boundary → level = +inf cap
    has_level = level_row.count() > 0
    if has_level:
        out = ranked.crossJoin(F.broadcast(level_row))
    else:
        out = ranked.withColumn("level", F.lit(float("inf")))
    return out.select(
        "source",
        "demand",
        F.round(F.least(F.col("demand").cast("double"), F.col("level")), 6)
        .alias("allocation"),
        F.round(
            F.least(F.col("demand").cast("double"), F.col("level"))
            / F.col("demand"),
            6,
        ).alias("fill_frac"),
    )


ORACLES["pipe_water_filling"] = (
    "WITH demands AS (SELECT source, "
    "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS demand "
    "FROM documents GROUP BY source), "
    "tot AS (SELECT CAST(sum(demand) AS BIGINT) AS td, "
    "CAST(count(*) AS BIGINT) AS n FROM demands), "
    "ranked AS (SELECT d.*, t.td, t.n, "
    "row_number() OVER w AS rn, "
    "sum(demand) OVER (ORDER BY demand, source "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix, "
    "lag(demand, 1, 0) OVER w AS prev_d "
    "FROM demands d CROSS JOIN tot t "
    "WINDOW w AS (ORDER BY demand, source)), "
    f"lvl AS (SELECT ((td // {WF_BUDGET_FRAC}) - (prefix - demand)) * 1.0 "
    "/ (n - rn + 1) AS level FROM ranked "
    f"WHERE ((td // {WF_BUDGET_FRAC}) - (prefix - demand)) * 1.0 "
    "/ (n - rn + 1) <= demand "
    f"AND ((td // {WF_BUDGET_FRAC}) - (prefix - demand)) * 1.0 "
    "/ (n - rn + 1) >= prev_d "
    "ORDER BY rn LIMIT 1) "
    "SELECT r.source, r.demand, "
    "round(least(CAST(r.demand AS DOUBLE), "
    "coalesce(l.level, 1e308)), 6) AS allocation, "
    "round(least(CAST(r.demand AS DOUBLE), coalesce(l.level, 1e308)) "
    "/ r.demand, 6) AS fill_frac "
    "FROM ranked r LEFT JOIN lvl l ON TRUE"
)

QUERIES["pipe_water_filling"] = q_water_filling


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: quartile-bucket documents by length (the
    simplest difficulty proxy) into 4 training stages and summarize
    each stage — the easy→hard ordering curriculum-learning schedules
    feed the trainer.

    Scale shape: the quartile boundaries are ONE exact-percentile
    aggregate broadcast back (S5 scalar side input); staging is then a
    narrow comparison map and the rollup has 4 groups.  No global
    ntile() window (which would move the whole corpus to one
    partition) — that is the trap this query exists to demonstrate
    avoiding."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    qs = docs.agg(
        F.expr(
            "percentile(n_chars, array(0.25, 0.5, 0.75))"
        ).alias("qs")
    ).select(
        F.col("qs")[0].alias("q1"),
        F.col("qs")[1].alias("q2"),
        F.col("qs")[2].alias("q3"),
    )
    staged = docs.crossJoin(F.broadcast(qs)).select(
        "doc_id",
        "n_chars",
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("q1")).cast("int")
            + (F.col("n_chars") > F.col("q2")).cast("int")
            + (F.col("n_chars") > F.col("q3")).cast("int")
        ).alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


ORACLES["pipe_curriculum"] = (
    "WITH qs AS (SELECT quantile_cont(n_chars, 0.25) AS q1, "
    "quantile_cont(n_chars, 0.5) AS q2, "
    "quantile_cont(n_chars, 0.75) AS q3 FROM documents), "
    "staged AS (SELECT doc_id, n_chars, "
    "1 + CAST(n_chars > q1 AS INTEGER) + CAST(n_chars > q2 AS INTEGER) "
    "+ CAST(n_chars > q3 AS INTEGER) AS stage FROM documents, qs) "
    "SELECT stage, CAST(count(*) AS BIGINT) AS n_docs, "
    "min(n_chars) AS min_chars, max(n_chars) AS max_chars, "
    "round(avg(n_chars), 6) AS avg_chars FROM staged GROUP BY stage"
)

QUERIES["pipe_curriculum"] = q_curriculum


KFOLDS = 5


def q_kfold_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation manifest: content-hash fold assignment
    (engine/retry-stable, duplicate-consistent — byte-identical docs
    always land in the same fold, so no fold ever evaluates on
    another's duplicates) plus the per-fold census a CV harness
    verifies before training: doc count, char mass, label balance.
    One narrow hash map + a K-bounded rollup."""
    docs = load_table(spark, sf_dir, "documents")
    folds = docs.select(
        (hex32(F.col("text")) % KFOLDS).cast("int").alias("fold"),
        "n_chars",
        (F.col("doc_id") % 2).alias("label"),
    )
    return folds.groupBy("fold").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.avg("label"), 6).alias("label1_share"),
    )


ORACLES["pipe_kfold_manifest"] = (
    f"WITH f AS (SELECT CAST({hex32_sql('text')} % {KFOLDS} AS INTEGER) "
    "AS fold, n_chars, doc_id % 2 AS label FROM documents) "
    "SELECT fold, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
    "round(avg(label), 6) AS label1_share FROM f GROUP BY fold"
)

QUERIES["pipe_kfold_manifest"] = q_kfold_manifest


TARGET_SPLIT_MB = 128


def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle/scan sizing advisor: per table, estimated uncompressed
    payload mass and the partition count a 128 MB split target implies
    — the number an operator should feed `repartition`/`
    spark.sql.shuffle.partitions` instead of guessing (the "measure,
    don't guess" rule applied to layout).  Estimates come from ONE
    narrow aggregate per table (documents/events measure their
    variable-width columns; fixed-width tables use row counts ×
    schema width)."""
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    d = docs.agg(
        F.count("*").alias("n"),
        (F.sum(F.length("text")) + F.sum(F.length("lang"))
         + F.sum(F.length("source")) + F.count("*") * 16).alias("bytes"),
    ).select(F.lit("documents").alias("table"), "n", "bytes")
    e = ev.agg(
        F.count("*").alias("n"),
        (F.sum(F.length("props")) + F.sum(F.length("event_type"))
         + F.count("*") * 36).alias("bytes"),
    ).select(F.lit("events").alias("table"), "n", "bytes")
    l = li.agg(
        F.count("*").alias("n"),
        (F.count("*") * 92).alias("bytes"),
    ).select(F.lit("lineitem").alias("table"), "n", "bytes")
    out = d.unionByName(e).unionByName(l)
    return out.select(
        "table",
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("bytes") / 1048576.0, 6).alias("est_mb"),
        F.greatest(
            F.lit(1),
            F.ceil(F.col("bytes") / (TARGET_SPLIT_MB * 1048576.0)),
        )
        .cast("long")
        .alias("recommended_partitions"),
    )


ORACLES["pipe_partition_advisor"] = (
    "SELECT 'documents' AS table, CAST(count(*) AS BIGINT) AS n_rows, "
    "round((sum(length(text)) + sum(length(lang)) + sum(length(source)) "
    "+ count(*) * 16) / 1048576.0, 6) AS est_mb, "
    "CAST(greatest(1, ceil((sum(length(text)) + sum(length(lang)) "
    "+ sum(length(source)) + count(*) * 16) "
    f"/ ({TARGET_SPLIT_MB} * 1048576.0))) AS BIGINT) "
    "AS recommended_partitions FROM documents "
    "UNION ALL "
    "SELECT 'events', CAST(count(*) AS BIGINT), "
    "round((sum(length(props)) + sum(length(event_type)) "
    "+ count(*) * 36) / 1048576.0, 6), "
    "CAST(greatest(1, ceil((sum(length(props)) + sum(length(event_type)) "
    f"+ count(*) * 36) / ({TARGET_SPLIT_MB} * 1048576.0))) AS BIGINT) "
    "FROM events "
    "UNION ALL "
    "SELECT 'lineitem', CAST(count(*) AS BIGINT), "
    "round(count(*) * 92 / 1048576.0, 6), "
    "CAST(greatest(1, ceil(count(*) * 92 "
    f"/ ({TARGET_SPLIT_MB} * 1048576.0))) AS BIGINT) FROM lineitem"
)

QUERIES["pipe_partition_advisor"] = q_partition_advisor


INTERLEAVE_HEAD = 100


def q_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-interleaved training order: docs rank
    within their source by content hash (reproducible), and global
    position = rank · n_sources + source_index — a round-robin weave
    so no contiguous training window is single-source (the
    order-level counterpart of pipe_mixture's mass-level resampling;
    gradient noise stays decorrelated from source boundaries).

    Exposes the first ``INTERLEAVE_HEAD`` positions (the schedule
    head a trainer would consume first).  Scale: per-source rank
    windows partition BY SOURCE (bounded independent partitions), the
    source index is a sources-sized broadcast, and the head cut is a
    TakeOrderedAndProject — no global sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", hex32(F.col("text")).alias("h")
    )
    sources = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (F.dense_rank().over(Window.orderBy("source")) - 1).alias(
                "src_idx"
            ),
        )
    )
    n_src = F.lit(sources.count())
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = docs.withColumn("rk", F.row_number().over(w) - 1)
    return (
        ranked.join(F.broadcast(sources), "source")
        .select(
            "doc_id",
            "source",
            (F.col("rk") * n_src + F.col("src_idx"))
            .cast("long")
            .alias("position"),
        )
        .orderBy("position")
        .limit(INTERLEAVE_HEAD)
    )


ORACLES["pipe_interleave_schedule"] = (
    f"WITH d AS (SELECT doc_id, source, {hex32_sql('text')} AS h "
    "FROM documents), "
    "s AS (SELECT source, dense_rank() OVER (ORDER BY source) - 1 "
    "AS src_idx FROM (SELECT DISTINCT source FROM documents)), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM s), "
    "r AS (SELECT doc_id, source, "
    "row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 "
    "AS rk FROM d) "
    "SELECT r.doc_id, r.source, "
    "CAST(r.rk * n.n_src + s.src_idx AS BIGINT) AS position "
    "FROM r JOIN s USING (source) CROSS JOIN n "
    f"ORDER BY position LIMIT {INTERLEAVE_HEAD}"
)

QUERIES["pipe_interleave_schedule"] = q_interleave_schedule


# --- per-epoch global shuffle via two-phase ranking (r5) -------------

N_EPOCHS = 2        # epochs materialized in the schedule
SHUF_BUCKETS = 256  # phase-1 range buckets (first md5 byte)


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL training-order positions, one independent permutation
    per epoch — the complement of ``pipe_global_shuffle`` (whose
    positions are per-shard): here every (epoch, doc) gets a single
    dense 1..N rank over the whole corpus, keyed by
    ``md5(epoch:doc_id)`` so each epoch replays a different but fully
    reproducible order (seeded-shuffle-per-epoch, the data-loader
    contract for multi-epoch training).

    The rank is computed WITHOUT a global window (a partition-less
    ``row_number`` is a one-task bottleneck — the anti-pattern the
    plan test pins away).  Two-phase distributed ranking instead, the
    classic zipWithIndex decomposition:

    1. bucket each row by its first md5 byte (256 range buckets —
       the hash is uniform, so buckets are balanced by construction);
       ``row_number`` within (epoch, bucket) is an ordinary
       partitioned window, shuffle-bounded at corpus/256 rows per
       group;
    2. a 2×256-row bucket-count aggregate turns into exclusive
       prefix-sum offsets (tiny window over 256 rows), broadcast back,
       and ``pos = offset + local rank``.

    Because md5 hex orders identically to its first-byte bucket, the
    concatenation of bucket-local orders IS the global md5 order — the
    oracle recomputes it as one flat ``row_number`` and the hashes
    must agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(N_EPOCHS - 1))).alias(
                "epoch"
            ),
        )
        .withColumn(
            "key",
            F.md5(
                F.concat(
                    F.col("epoch").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
        .withColumn(
            "bucket", F.conv(F.substring("key", 1, 2), 16, 10).cast("int")
        )
    )
    wb = Window.partitionBy("epoch", "bucket").orderBy("key", "doc_id")
    local = keyed.withColumn("rk", F.row_number().over(wb).cast("long"))
    counts = keyed.groupBy("epoch", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    wo = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "epoch",
        "bucket",
        F.coalesce(F.sum("cnt").over(wo), F.lit(0))
        .cast("long")
        .alias("off"),
    )
    return (
        local.join(F.broadcast(offsets), ["epoch", "bucket"])
        .select(
            "epoch",
            "doc_id",
            (F.col("off") + F.col("rk")).cast("long").alias("pos"),
        )
    )


ORACLES["pipe_epoch_shuffle"] = (
    "WITH e AS (SELECT doc_id, CAST(ep.epoch AS INTEGER) AS epoch "
    "FROM documents CROSS JOIN (SELECT unnest(generate_series(0, "
    f"{N_EPOCHS - 1})) AS epoch) ep), "
    "k AS (SELECT epoch, doc_id, "
    "md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) "
    "AS key FROM e) "
    "SELECT epoch, doc_id, CAST(row_number() OVER ("
    "PARTITION BY epoch ORDER BY key, doc_id) AS BIGINT) AS pos FROM k"
)

QUERIES["pipe_epoch_shuffle"] = q_epoch_shuffle


# --- token-budget planner (r5) ---------------------------------------


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-run planning table for a weighted pretraining mix: per
    source, its token mass, mixture weight (same 1..3 weight map as
    ``pipe_mixture``), the token target its weighted share of the
    GLOBAL token budget implies (budget = total corpus tokens, so the
    plan is a pure reallocation), and the number of epochs over the
    source needed to fill that target (>1 ⇒ the source must be
    oversampled/repeated — the decision this table exists to surface
    BEFORE a run, since repeating a small high-weight source too many
    times is the classic mixture failure).

    Exactness: targets use integer arithmetic (Σtokens·w) DIV Σw —
    no float shares, so both engines plan identical budgets; the only
    double is the final epochs ratio, rounded once.  Scale shape: one
    corpus scan partial-aggregated to |sources| rows, a 1-row totals
    broadcast, arithmetic on the tiny rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn(
        "w", _mix_weight(F.substring("source", 4, 10).cast("long"))
    )
    totals = per_src.agg(
        F.sum("n_tokens").cast("long").alias("t_total"),
        F.sum("w").cast("long").alias("w_total"),
    )
    target = F.expr("t_total * w DIV w_total").cast("long")
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "w",
            "n_docs",
            "n_tokens",
            target.alias("target_tokens"),
            F.round(target / F.col("n_tokens"), 6).alias("epochs"),
            (target > F.col("n_tokens")).cast("int").alias("oversampled"),
        )
    )


ORACLES["pipe_token_budget"] = (
    "WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, "
    "CAST(CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS BIGINT) AS w "
    "FROM documents GROUP BY source), "
    "t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total, "
    "CAST(sum(w) AS BIGINT) AS w_total FROM s) "
    "SELECT s.source, s.w, s.n_docs, s.n_tokens, "
    "CAST(t.t_total * s.w // t.w_total AS BIGINT) AS target_tokens, "
    "round((t.t_total * s.w // t.w_total) / CAST(s.n_tokens AS DOUBLE), 6) "
    "AS epochs, "
    "CAST(t.t_total * s.w // t.w_total > s.n_tokens AS INTEGER) "
    "AS oversampled "
    "FROM s CROSS JOIN t"
)

QUERIES["pipe_token_budget"] = q_token_budget


# --- Neyman-allocation stratified sample (r5) ------------------------

NEYMAN_N = 100  # total annotation budget across strata


def q_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal stratified sampling for an annotation/eval budget:
    allocate NEYMAN_N draws across sources proportionally to
    N_h·σ_h (Neyman allocation — high-variance strata get more
    budget, uniform boilerplate strata get less; minimizes the
    variance of the estimated corpus mean under a fixed budget), then
    draw each stratum's quota deterministically by content-hash rank.

    Engine-portability of the float boundary: σ_h comes from exact
    integer sums (so both engines derive the identical double), the
    allocation FRACTION is rounded to 6 decimals FIRST, and the quota
    is ``floor(NEYMAN_N · rounded_frac)`` — both engines floor the
    same IEEE product of the same two values, so quotas agree
    everywhere (the same pre-round-then-derive discipline as the
    parity sort keys).  Scale shape: stats are one partial-agg rollup
    broadcast back; the draw is a per-source rank window bounded by
    the stratum, cut at the quota."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_avail"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss"),
    )
    sigma = F.round(
        F.sqrt(
            F.greatest(
                F.col("ss") / F.col("n_avail")
                - (F.col("s") / F.col("n_avail"))
                * (F.col("s") / F.col("n_avail")),
                F.lit(0.0),
            )
        ),
        6,
    )
    weighted = stats.select(
        "source", "n_avail", (F.col("n_avail") * sigma).alias("mass")
    )
    totals = weighted.agg(
        F.round(F.sum("mass"), 6).alias("mass_total")
    )
    alloc = weighted.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_avail",
        F.round(F.col("mass") / F.col("mass_total"), 6).alias(
            "alloc_frac"
        ),
    )
    quota = F.floor(F.lit(NEYMAN_N) * F.col("alloc_frac")).cast("long")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("text")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "text")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .join(F.broadcast(alloc), "source")
        .filter(F.col("rk") <= quota)
        .select("doc_id", "source", "rk", "alloc_frac")
    )


ORACLES["pipe_neyman_sample"] = (
    "WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_avail, "
    "CAST(sum(n_chars) AS BIGINT) AS s, "
    "CAST(sum(n_chars * n_chars) AS BIGINT) AS ss "
    "FROM documents GROUP BY source), "
    "wgt AS (SELECT source, n_avail, n_avail * round(sqrt(greatest("
    "ss * 1.0 / n_avail - (s * 1.0 / n_avail) * (s * 1.0 / n_avail), "
    "0.0)), 6) AS mass FROM st), "
    "t AS (SELECT round(sum(mass), 6) AS mass_total FROM wgt), "
    "alloc AS (SELECT source, round(mass / mass_total, 6) AS alloc_frac "
    "FROM wgt CROSS JOIN t), "
    "ranked AS (SELECT doc_id, source, CAST(row_number() OVER ("
    "PARTITION BY source ORDER BY md5(text), doc_id) AS BIGINT) AS rk "
    "FROM documents) "
    "SELECT r.doc_id, r.source, r.rk, a.alloc_frac "
    "FROM ranked r JOIN alloc a USING (source) "
    f"WHERE r.rk <= CAST(floor({NEYMAN_N} * a.alloc_frac) AS BIGINT)"
)

QUERIES["pipe_neyman_sample"] = q_neyman_sample


# --- per-gate keep attribution (r5) ----------------------------------


def q_keep_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "why was my document removed" table — the debugging
    counterpart of the ``pipe_training_corpus`` capstone: every corpus
    doc with its pass/fail flag for EACH independent gate
    (dedup/quality keep-list, benchmark contamination, mixture
    thinning) and a verdict naming the first failing gate in pipeline
    order.  The capstone answers "what ships"; this answers "what got
    cut, by which stage" — the first question every corpus triage
    session asks, and the distribution a gate-tuning loop watches
    (one gate suddenly eating 40% of a source is a bug signal).

    Same memoized gate inputs as the capstone; the composition flips
    from left-semi joins (intersection) to flag-carrying left joins
    (full attribution) — still doc_id-keyed, still O(corpus) with
    three co-partitioned probes."""
    from .dedup import q_corpus_keep
    from .quality import q_contamination

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    keep = q_corpus_keep(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("pk")
    )
    clean = (
        q_contamination(spark, sf_dir)
        .filter(F.col("contam_frac") <= CONTAM_MAX)
        .select("doc_id", F.lit(1).alias("pc"))
    )
    mixed = _mixture_kept_docs(docs, _mixture_rates(docs)).select(
        "doc_id", F.lit(1).alias("pm")
    )
    flagged = (
        docs.select("doc_id", "source")
        .join(keep, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .join(mixed, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("pk", F.lit(0)).cast("int").alias("pass_keep"),
            F.coalesce("pc", F.lit(0)).cast("int").alias("pass_contam"),
            F.coalesce("pm", F.lit(0)).cast("int").alias("pass_mixture"),
        )
    )
    verdict = (
        F.when(F.col("pass_keep") == 0, F.lit("dedup_quality"))
        .when(F.col("pass_contam") == 0, F.lit("contamination"))
        .when(F.col("pass_mixture") == 0, F.lit("mixture"))
        .otherwise(F.lit("kept"))
    )
    return flagged.withColumn("verdict", verdict)


def _keep_attribution_sql() -> str:
    from .dedup import ORACLES as _dedup_oracles
    from .quality import ORACLES as _quality_oracles

    keep = _dedup_oracles["dedup_corpus_keep"]
    contam = _quality_oracles["text_contamination"]
    mix = (
        "WITH cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_avail, "
        "CAST(CAST(substr(source, 4) AS BIGINT) % 3 + 1 AS BIGINT) AS w "
        "FROM documents GROUP BY source), "
        "t AS (SELECT CAST(sum(n_avail) AS BIGINT) AS n_total, "
        "CAST(sum(w) AS BIGINT) AS w_total FROM cnt) "
        "SELECT dd.doc_id FROM documents dd JOIN cnt USING (source) "
        "CROSS JOIN t "
        f"WHERE ({hex32_sql('dd.text')} % {MIX_DENOM}) * cnt.n_avail "
        f"* t.w_total * {MIX_BUDGET_FRAC} < t.n_total * cnt.w * {MIX_DENOM}"
    )
    return (
        "SELECT d.doc_id, d.source, "
        "CAST(k.doc_id IS NOT NULL AS INTEGER) AS pass_keep, "
        "CAST(c.doc_id IS NOT NULL AS INTEGER) AS pass_contam, "
        "CAST(m.doc_id IS NOT NULL AS INTEGER) AS pass_mixture, "
        "CASE WHEN k.doc_id IS NULL THEN 'dedup_quality' "
        "WHEN c.doc_id IS NULL THEN 'contamination' "
        "WHEN m.doc_id IS NULL THEN 'mixture' ELSE 'kept' END AS verdict "
        "FROM documents d "
        f"LEFT JOIN ({keep}) k ON d.doc_id = k.doc_id "
        f"LEFT JOIN (SELECT doc_id FROM ({contam}) "
        f"WHERE contam_frac <= {CONTAM_MAX}) c ON d.doc_id = c.doc_id "
        f"LEFT JOIN ({mix}) m ON d.doc_id = m.doc_id"
    )


ORACLES["pipe_keep_attribution"] = _keep_attribution_sql()
QUERIES["pipe_keep_attribution"] = q_keep_attribution


# --- DSIR importance weights (data selection, Xie et al. 2023) -------

DSIR_BUCKETS = 4096       # hashed bigram feature space
DSIR_TARGET_LANG = "en"   # target-distribution proxy: the en subcorpus


@memo
def _dsir_bigram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bucket) per bigram INSTANCE — hashed-bigram
    features of every document, memoized and storage-cached because
    the weight computation takes four passes over it (raw counts,
    target counts, totals, per-doc sum).  The bucket hash is the
    engine-portable hex32, so the DuckDB oracle replays it exactly."""
    # Generate barrier (see quality._bigrams_cached): keeps the
    # token split per-doc instead of per-bigram inside the lambda
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(F.array(F.split("text", " "))).alias("tk"),
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(tk[i-1], ' ', tk[i]))"
                )
            ).alias("bg"),
        )
        .withColumn(
            "bucket", F.pmod(hex32(F.col("bg")), F.lit(DSIR_BUCKETS))
        )
        .drop("bg")
        .persist()
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance log-weight (Data Selection via
    Importance Resampling, Xie et al. 2023): score every raw document
    by how much more likely its hashed-bigram features are under the
    TARGET distribution (here the `en` subcorpus as proxy) than under
    the RAW distribution — ``sum_b log(p_target(b) / p_raw(b))`` with
    add-one smoothing over DSIR_BUCKETS buckets.  Selecting/sampling
    by this weight tilts a 100 TB crawl toward the target domain
    without training a classifier.

    Scale shape: the feature space is FIXED (4096 buckets), so both
    distribution estimates are bucket-sized aggregates (broadcastable
    by AQE), the totals are one scalar row, and the per-doc sum is one
    partial-agg groupBy over the bigram instances — no pairwise
    anything, no Python.  The bigram explode is the only corpus-sized
    intermediate and is shared across all four passes via the memo."""
    bg = _dsir_bigram_buckets(spark, sf_dir)
    raw = bg.groupBy("bucket").agg(F.count("*").alias("c_r"))
    tgt = (
        bg.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("c_t"))
    )
    tot = bg.agg(
        F.count("*").alias("T_r"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("T_t"),
    )
    probs = (
        raw.join(tgt, "bucket", "left")
        .na.fill({"c_t": 0})
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("c_t") + 1.0) / (F.col("T_t") + DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("c_r") + 1.0) / (F.col("T_r") + DSIR_BUCKETS)
                )
            ).alias("lw"),
        )
    )
    doc_w = (
        bg.join(probs, "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lw").alias("s"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(doc_w, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(F.coalesce("s", F.lit(0.0)), 6).alias("log_weight"),
    )


def _dsir_sql() -> str:
    h = hex32_sql("bg")
    return f"""
WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents),
bg AS (SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS bg
       FROM tk, unnest(range(1, greatest(len(t), 1))) AS u(i)),
bk AS (SELECT doc_id, lang, {h} % {DSIR_BUCKETS} AS bucket FROM bg),
raw AS (SELECT bucket, count(*) AS c_r FROM bk GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS c_t FROM bk
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket),
tot AS (SELECT count(*) AS T_r,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                 AS T_t FROM bk),
probs AS (SELECT bucket,
          ln((coalesce(c_t, 0) + 1.0) / (T_t + {DSIR_BUCKETS}))
          - ln((c_r + 1.0) / (T_r + {DSIR_BUCKETS})) AS lw
          FROM raw LEFT JOIN tgt USING (bucket), tot),
dw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              sum(lw) AS s
       FROM bk JOIN probs USING (bucket) GROUP BY doc_id)
SELECT d.doc_id, coalesce(dw.n_bigrams, 0) AS n_bigrams,
       round(coalesce(dw.s, 0.0), 6) AS log_weight
FROM (SELECT doc_id FROM documents) d LEFT JOIN dw USING (doc_id)
"""


ORACLES["pipe_dsir_weights"] = _dsir_sql()
QUERIES["pipe_dsir_weights"] = q_dsir_weights


# --- contrastive negative sampling (near-dup-safe) -------------------

CONTRASTIVE_K = 4


def q_contrastive_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic negative pairs for contrastive training
    (SimCLR/CLIP-style): K candidate negatives per anchor via the
    portable hash, with the near-dup anti-join that makes them SAFE —
    a "negative" that is actually a near-duplicate of its anchor is a
    false negative that actively degrades the embedding space, so
    candidates colliding with the verified near-dup pair set (either
    orientation) or the anchor itself are dropped (slots shrink
    rather than re-probe: re-probing would make slot j's identity
    depend on the dup graph, breaking oracle determinism).

    Scale shape: candidate generation is a narrow map (hash mod N —
    no shuffle, no RNG state); the anchor-count scalar and the
    verified dup pairs (memoized, corpus-sublinear by construction)
    broadcast; the only data-sized operation is the existence
    semi-join on neg_id.  At 100 TB: N anchors × K candidates with no
    candidate materialization wider than one row each."""
    from .dedup import JACCARD_DUP_MIN, q_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n1 = docs.groupBy().agg(F.count("*").alias("n_docs"))
    cands = (
        docs.join(F.broadcast(n1))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.lit(CONTRASTIVE_K))
            ).alias("j"),
            "n_docs",
        )
        .withColumn(
            "neg_id",
            hex32(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("j").cast("string"),
                )
            )
            % F.col("n_docs"),
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    dup = (
        q_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_DUP_MIN)
        .select("doc_a", "doc_b")
    )
    sym = dup.union(
        dup.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    return (
        cands.join(
            F.broadcast(sym),
            (F.col("doc_id") == F.col("doc_a"))
            & (F.col("neg_id") == F.col("doc_b")),
            "left_anti",
        )
        .join(
            docs.select(F.col("doc_id").alias("neg_id")),
            "neg_id",
            "left_semi",
        )
        .select("doc_id", F.col("j").cast("long").alias("j"), "neg_id")
    )


def _contrastive_sql() -> str:
    from .dedup import JACCARD_DUP_MIN, ORACLES as _DEDUP_ORACLES

    h = hex32_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
    return (
        "WITH jp AS (" + _DEDUP_ORACLES["dedup_jaccard_pairs"] + "), "
        f"dup AS (SELECT doc_a, doc_b FROM jp WHERE jaccard >= {JACCARD_DUP_MIN} "
        f"UNION ALL SELECT doc_b, doc_a FROM jp WHERE jaccard >= {JACCARD_DUP_MIN}), "
        "n AS (SELECT count(*) AS n_docs FROM documents), "
        "cand AS (SELECT doc_id, j, "
        + h
        + " % n_docs AS neg_id "
        "FROM (SELECT doc_id FROM documents), "
        "(SELECT unnest(generate_series(1, "
        f"{CONTRASTIVE_K})) AS j), n) "
        "SELECT c.doc_id, CAST(c.j AS BIGINT) AS j, c.neg_id FROM cand c "
        "WHERE c.neg_id <> c.doc_id "
        "AND c.neg_id IN (SELECT doc_id FROM documents) "
        "AND NOT EXISTS (SELECT 1 FROM dup d "
        "WHERE d.doc_a = c.doc_id AND d.doc_b = c.neg_id)"
    )


ORACLES["pipe_contrastive_negatives"] = _contrastive_sql()
QUERIES["pipe_contrastive_negatives"] = q_contrastive_negatives


# --- rendezvous (HRW) sharding — stable placement under resharding ---

RENDEZVOUS_SHARDS = 8


def _rendezvous_shard(doc_id_col: Column, n_shards: int) -> Column:
    """argmax over shards of the portable hash(doc, shard) — computed
    as one narrow ``array_max`` over an inline struct array (highest
    hash wins, ties break to the larger shard id): no explode, no
    shuffle, no state."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    hex32(
                        F.concat(
                            doc_id_col.cast("string"),
                            F.lit(":"),
                            F.lit(str(s)),
                        )
                    ).alias("h"),
                    F.lit(s).alias("s"),
                )
                for s in range(n_shards)
            ]
        )
    ).getField("s")


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment for every
    document — the placement scheme whose defining property is
    MINIMAL MOVEMENT: going from S to S+1 shards relocates only
    ~1/(S+1) of keys (each key moves only if the NEW shard wins its
    rendezvous), where naive ``hash % S`` reshuffles almost
    everything.  That is the difference between an incremental
    rebalance and a full corpus rewrite when a 100 TB layout adds
    capacity; tests/test_pipeline.py pins the movement bound
    empirically.

    Plan: a pure narrow map (S inline hashes + argmax per row) —
    embarrassingly parallel, no shuffle; the assignment is a FUNCTION
    of the key alone, so any executor (or any other system sharing
    the hash) computes the same placement with no directory
    service."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        _rendezvous_shard(F.col("doc_id"), RENDEZVOUS_SHARDS)
        .cast("long")
        .alias("shard"),
    )


def _rendezvous_sql(n_shards: int) -> str:
    h = hex32_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)")
    return (
        "WITH cand AS (SELECT doc_id, s, "
        + h
        + " AS h FROM (SELECT doc_id FROM documents), "
        f"(SELECT unnest(range(0, {n_shards})) AS s)), "
        "rk AS (SELECT doc_id, s, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn FROM cand) "
        "SELECT doc_id, CAST(s AS BIGINT) AS shard FROM rk WHERE rn = 1"
    )


ORACLES["pipe_rendezvous_shards"] = _rendezvous_sql(
    RENDEZVOUS_SHARDS
)
QUERIES["pipe_rendezvous_shards"] = q_rendezvous_shards


# --- temperature-scaled mixture (r5) -----------------------------------
#
# The mT5/XLM-R corpus-mixing rule: sample source s with probability
# p_s ∝ n_s^ALPHA, ALPHA < 1, so low-resource sources are UPSAMPLED
# relative to their natural share (at ALPHA=1 this is pipe_mixture's
# natural-proportion thinning with uniform weights; at ALPHA=0 every
# source gets an equal share).  ALPHA is fixed at 0.5 deliberately:
# n^0.5 is IEEE-754 sqrt — correctly rounded, hence bit-identical in
# Spark and DuckDB — where an arbitrary pow(n, a) carries no such
# guarantee.  The sqrt is then floored into fixed-point integers
# (SQRT_SCALE), so the cross-source normalizer Σ s_i is an EXACT
# integer sum (float Σ would be accumulation-order-dependent across
# engines).  The per-source keep threshold floor(D·min(1, B·s_s /
# (S·n_s))) divides doubles in one fixed expression shape — every op
# correctly rounded with identical operands → identical threshold —
# and membership is the usual content-hash test, deterministic and
# duplicate-consistent.
#
# Scale shape: per-source counts are a sources-sized aggregate
# broadcast back; the doc filter is one narrow map; the summary is a
# sources-keyed rollup.  Keep-only thinning cannot realize an
# upsample (> 1 target rate is clamped to keeping everything); the
# summary exposes target vs realized so the caller sees exactly
# where the clamp bit — replication for true upsampling is
# pipe_interleave_schedule's job.

TEMP_SQRT_SCALE = 1_000  # fixed-point digits for the sqrt weights
TEMP_BUDGET_FRAC = 2     # global budget = corpus_size / 2


def _temp_rates(docs: DataFrame) -> DataFrame:
    counts = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_avail")
    )
    scaled = counts.select(
        "source",
        "n_avail",
        F.floor(F.sqrt(F.col("n_avail").cast("double")) * TEMP_SQRT_SCALE)
        .cast("long")
        .alias("s_scaled"),
    )
    totals = scaled.agg(
        F.sum("n_avail").cast("long").alias("n_total"),
        F.sum("s_scaled").cast("long").alias("s_total"),
    )
    return scaled.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_avail",
        "s_scaled",
        F.floor(
            F.lit(float(MIX_DENOM))
            * F.least(
                F.lit(1.0),
                (
                    F.col("n_total").cast("double")
                    * F.col("s_scaled").cast("double")
                )
                / (
                    F.lit(float(TEMP_BUDGET_FRAC))
                    * F.col("s_total").cast("double")
                    * F.col("n_avail").cast("double")
                ),
            )
        )
        .cast("long")
        .alias("thresh"),
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    rates = _temp_rates(docs)
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(F.pmod(hex32(F.col("text")), MIX_DENOM) < F.col("thresh"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_avail",
            "s_scaled",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.round(F.col("thresh") / float(MIX_DENOM), 6).alias(
                "target_frac"
            ),
            F.round(
                F.coalesce("n_kept", F.lit(0))
                / F.col("n_avail").cast("double"),
                6,
            ).alias("realized_frac"),
        )
    )


def _temperature_mixture_sql() -> str:
    h = hex32_sql("d.text")
    return (
        "WITH counts AS (SELECT source, CAST(count(*) AS BIGINT) "
        "AS n_avail FROM documents GROUP BY source), "
        "scaled AS (SELECT source, n_avail, "
        f"CAST(floor(sqrt(CAST(n_avail AS DOUBLE)) * {TEMP_SQRT_SCALE}) "
        "AS BIGINT) AS s_scaled FROM counts), "
        "totals AS (SELECT CAST(sum(n_avail) AS BIGINT) AS n_total, "
        "CAST(sum(s_scaled) AS BIGINT) AS s_total FROM scaled), "
        "rates AS (SELECT source, n_avail, s_scaled, "
        f"CAST(floor({float(MIX_DENOM)} * least(1.0, "
        "(CAST(n_total AS DOUBLE) * CAST(s_scaled AS DOUBLE)) / "
        f"({float(TEMP_BUDGET_FRAC)} * CAST(s_total AS DOUBLE) * "
        "CAST(n_avail AS DOUBLE)))) AS BIGINT) AS thresh "
        "FROM scaled CROSS JOIN totals), "
        "kept AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept "
        "FROM documents d JOIN rates r ON d.source = r.source "
        f"WHERE {h} % {MIX_DENOM} < r.thresh GROUP BY d.source) "
        "SELECT r.source, r.n_avail, r.s_scaled, "
        "CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept, "
        f"round(r.thresh / {float(MIX_DENOM)}, 6) AS target_frac, "
        "round(coalesce(k.n_kept, 0) / CAST(r.n_avail AS DOUBLE), 6) "
        "AS realized_frac "
        "FROM rates r LEFT JOIN kept k ON r.source = k.source"
    )


ORACLES["pipe_temperature_mixture"] = _temperature_mixture_sql()
QUERIES["pipe_temperature_mixture"] = q_temperature_mixture


# --- length-bucketed inference batching (r5) ----------------------------
#
# The SERVING-side counterpart of the training packers: batch
# inference pads every sequence in a batch to the longest member, so
# the scheduler first buckets requests by length (power-of-two caps —
# the shape vLLM/TGI-style servers and XLA compilation caches want)
# and sizes each batch to a fixed token budget.  This query emits the
# batching plan per bucket — docs, batch size (BATCH_TOKENS ÷ cap),
# batch count, padding waste (Σ cap − len), and how many docs the top
# cap truncates — the padding-efficiency readout that decides whether
# the fence ladder needs another rung.
#
# Scale shape: the cap is a branch-free CASE ladder over INTEGER
# fences (a float log2 would put boundary lengths on different sides
# per engine), so the whole query is one narrow map + one ≤7-group
# partial aggregate.  All outputs are integer math except the final
# two ratios, rounded once.

BATCH_TOKENS = 4096
LEN_FENCES = (16, 32, 64, 128, 256, 512)


def _len_cap(n: Column) -> Column:
    out = F.lit(LEN_FENCES[-1])
    for fence in reversed(LEN_FENCES):
        out = F.when(n <= fence, F.lit(fence)).otherwise(out)
    return out.cast("long")


def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _sized_docs(spark, sf_dir).select("doc_id", "n_tokens")
    cap = _len_cap(F.col("n_tokens"))
    eff = F.least(F.col("n_tokens"), cap)
    per_bucket = docs.select(
        cap.alias("bucket_cap"),
        eff.alias("eff_len"),
        (F.col("n_tokens") > cap).cast("long").alias("truncated"),
    ).groupBy("bucket_cap").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("bucket_cap") - F.col("eff_len"))
        .cast("long")
        .alias("pad_tokens"),
        F.sum("truncated").cast("long").alias("n_truncated"),
    )
    batch_size = F.greatest(
        F.lit(1).cast("long"),
        (F.lit(BATCH_TOKENS) / F.col("bucket_cap")).cast("long"),
    )
    return per_bucket.select(
        "bucket_cap",
        "n_docs",
        batch_size.alias("batch_size"),
        F.ceil(F.col("n_docs") / batch_size.cast("double"))
        .cast("long")
        .alias("n_batches"),
        "pad_tokens",
        F.round(
            F.col("pad_tokens")
            / (F.col("n_docs") * F.col("bucket_cap")).cast("double"),
            6,
        ).alias("pad_frac"),
        "n_truncated",
    )


def _length_batching_sql() -> str:
    cap = f"CAST({LEN_FENCES[-1]} AS BIGINT)"
    for fence in reversed(LEN_FENCES):
        cap = f"CASE WHEN n <= {fence} THEN CAST({fence} AS BIGINT) ELSE {cap} END"
    return (
        "WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) "
        "AS n FROM documents), "
        f"c AS (SELECT ({cap}) AS bucket_cap, "
        f"least(n, ({cap})) AS eff_len, "
        f"CASE WHEN n > ({cap}) THEN 1 ELSE 0 END AS truncated FROM d), "
        "g AS (SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(bucket_cap - eff_len) AS BIGINT) AS pad_tokens, "
        "CAST(sum(truncated) AS BIGINT) AS n_truncated "
        "FROM c GROUP BY bucket_cap) "
        "SELECT bucket_cap, n_docs, "
        f"greatest(CAST(1 AS BIGINT), CAST({BATCH_TOKENS} // bucket_cap "
        "AS BIGINT)) AS batch_size, "
        "CAST(ceil(n_docs / CAST(greatest(CAST(1 AS BIGINT), "
        f"CAST({BATCH_TOKENS} // bucket_cap AS BIGINT)) AS DOUBLE)) "
        "AS BIGINT) AS n_batches, pad_tokens, "
        "round(pad_tokens / CAST(n_docs * bucket_cap AS DOUBLE), 6) "
        "AS pad_frac, n_truncated FROM g"
    )


ORACLES["pipe_length_batching"] = _length_batching_sql()
QUERIES["pipe_length_batching"] = q_length_batching


# --- order-invariant corpus fingerprint (r5) ----------------------------
#
# The dataset-versioning primitive: "is the corpus my colleague
# trained on byte-identical to mine?" answered without moving data —
# an ORDER-INVARIANT content fingerprint per source and for the whole
# corpus: bit_xor of the per-doc (doc_id, text) hashes, doc count, and
# the min/max hash as cheap extra collision armor.  XOR is the right
# fold: commutative/associative (partition order can't matter),
# overflow-free (unlike a wrapping integer SUM, which Spark's ANSI
# mode rejects), and any single changed/added/dropped doc flips it.
# Keying the hash on doc_id || text (not text alone) makes the
# fingerprint sensitive to exact-duplicate multiplicity, which XOR
# alone would cancel in pairs.
#
# Scale shape: one narrow hash map + GROUPING SETS partial aggregate
# — sources-sized output, no data-sized shuffle.


def q_corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        hex32(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text"))
        ).alias("h"),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.bit_xor("h").cast("long").alias("xor_hash"),
            F.min("h").cast("long").alias("min_hash"),
            F.max("h").cast("long").alias("max_hash"),
        )
        .unionByName(
            docs.agg(
                F.lit("__ALL__").alias("source"),
                F.count("*").cast("long").alias("n_docs"),
                F.bit_xor("h").cast("long").alias("xor_hash"),
                F.min("h").cast("long").alias("min_hash"),
                F.max("h").cast("long").alias("max_hash"),
            )
        )
    )


def _corpus_fingerprint_sql() -> str:
    h = hex32_sql("CAST(doc_id AS VARCHAR) || ':' || text")
    return (
        f"WITH d AS (SELECT source, {h} AS h FROM documents), "
        "per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(bit_xor(h) AS BIGINT) AS xor_hash, "
        "CAST(min(h) AS BIGINT) AS min_hash, "
        "CAST(max(h) AS BIGINT) AS max_hash FROM d GROUP BY source), "
        "allr AS (SELECT '__ALL__' AS source, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(bit_xor(h) AS BIGINT) AS xor_hash, "
        "CAST(min(h) AS BIGINT) AS min_hash, "
        "CAST(max(h) AS BIGINT) AS max_hash FROM d) "
        "SELECT * FROM per UNION ALL SELECT * FROM allr"
    )


ORACLES["pipe_corpus_fingerprint"] = _corpus_fingerprint_sql()
QUERIES["pipe_corpus_fingerprint"] = q_corpus_fingerprint


# --- packing-efficiency scoreboard (r5) -------------------------------------
#
# The capstone readout over the three packers: bins used, mean fill,
# and overhead versus the information-theoretic floor
# ceil(total_tokens / budget) — the one table that justifies paying
# FFD's sort over next-fit's O(1) state (or not) for THIS corpus.
# Rows-only by SURVEY §5: two of the inputs are the data-dependent
# applyInPandas packers; the scoreboard inherits their status and is
# pinned by dominance/floor tests instead.
#
# Scale shape: three bin-keyed partial aggregates over the packer
# outputs plus 1-row floors — nothing beyond what the packers
# themselves already shuffle.


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packers = (
        ("chunked", q_pack_sequences(spark, sf_dir)),
        ("nextfit", q_pack_nextfit(spark, sf_dir)),
        ("ffd", q_pack_ffd(spark, sf_dir)),
    )
    arms = []
    for name, df in packers:
        bins = df.groupBy("bucket", "bin").agg(
            F.sum("n_tokens").cast("long").alias("fill")
        )
        arms.append(
            bins.agg(
                F.lit(name).alias("packer"),
                F.count("*").cast("long").alias("n_bins"),
                F.sum("fill").cast("long").alias("total_tokens"),
                F.round(
                    F.sum("fill")
                    / (F.count("*") * F.lit(float(PACK_BUDGET))),
                    6,
                ).alias("mean_fill_frac"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    lb = (
        F.ceil(F.col("total_tokens") / F.lit(float(PACK_BUDGET)))
        .cast("long")
        .alias("floor_bins")
    )
    return out.select(
        "packer",
        "n_bins",
        "total_tokens",
        "mean_fill_frac",
        lb,
        F.round(
            F.col("n_bins")
            / F.ceil(
                F.col("total_tokens") / F.lit(float(PACK_BUDGET))
            ).cast("double")
            - 1.0,
            6,
        ).alias("overhead_frac"),
    )


QUERIES["pipe_packing_efficiency"] = q_packing_efficiency


# --- leakage-safe target encoding (r6) ------------------------------------
#
# The mean-encoding feature every tabular-ML pipeline wants for
# high-cardinality categoricals, built the only safe way: OUT-OF-FOLD
# — each fold's encoding of a category is the target mean computed
# from the OTHER folds, so a row never sees its own label (the same
# leakage contract as pipe_split_leakage_safe and the PIT features).
# Category: the customer's nation; target: order value; folds:
# o_orderkey % 5 (deterministic, hash-stable).
#
# Scale shape: encodings need only the (category × fold) sum/count
# table — one partial-agg groupBy to |nations|·K rows; the leave-
# fold-out subtraction (enc = (S_cat − S_cat,f)/(n_cat − n_cat,f))
# is pure arithmetic on that tiny table, with per-category totals
# attached by a same-key window over it (no second shuffle of the
# facts, no per-fold re-aggregation — the naive K-pass form scans the
# facts K times).  The fact table shuffles ONCE.  Zero-guarded: a
# category living entirely in one fold falls back to the global
# out-of-fold mean.  Exact integer cents; round 6 at the edge.

TE_FOLDS = 5


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderkey") % TE_FOLDS).cast("int").alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dim = F.broadcast(
        cust.join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        ).select("c_custkey", "n_name")
    )
    per = (
        orders.join(dim, orders.o_custkey == F.col("c_custkey"))
        .groupBy("n_name", "fold")
        .agg(
            F.count("*").cast("long").alias("n_nf"),
            F.sum("cents").alias("s_nf"),
        )
    )
    wcat = Window.partitionBy("n_name")
    wall = Window.partitionBy()
    oof_n = F.sum("n_nf").over(wcat) - F.col("n_nf")
    oof_s = F.sum("s_nf").over(wcat) - F.col("s_nf")
    gn = F.sum("n_nf").over(wall) - F.col("n_nf")
    gs = F.sum("s_nf").over(wall) - F.col("s_nf")
    enc = F.when(
        oof_n > 0, oof_s.cast("double") / oof_n / 100.0
    ).otherwise(gs.cast("double") / gn / 100.0)
    return per.select(
        "n_name",
        "fold",
        "n_nf",
        F.round(enc, 6).alias("encoding"),
    )


ORACLES["pipe_target_encoding"] = (
    "WITH o AS (SELECT o_custkey, "
    f"CAST(o_orderkey % {TE_FOLDS} AS INTEGER) AS fold, "
    "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents "
    "FROM orders), "
    "d AS (SELECT c_custkey, n_name FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey), "
    "per AS (SELECT n_name, fold, CAST(count(*) AS BIGINT) AS n_nf, "
    "sum(cents) AS s_nf FROM o JOIN d ON o_custkey = c_custkey "
    "GROUP BY n_name, fold), "
    "w AS (SELECT n_name, fold, n_nf, "
    "sum(n_nf) OVER (PARTITION BY n_name) - n_nf AS oof_n, "
    "sum(s_nf) OVER (PARTITION BY n_name) - s_nf AS oof_s, "
    "sum(n_nf) OVER () - n_nf AS g_n, "
    "sum(s_nf) OVER () - s_nf AS g_s FROM per) "
    "SELECT n_name, fold, n_nf, "
    "round(CASE WHEN oof_n > 0 THEN CAST(oof_s AS DOUBLE) / oof_n "
    "ELSE CAST(g_s AS DOUBLE) / g_n END / 100.0, 6) AS encoding "
    "FROM w"
)
QUERIES["pipe_target_encoding"] = q_target_encoding


# --- corpus health one-liner (r6 capstone) --------------------------------
#
# The single-row dashboard a data curator checks before a training
# run — corpus size, exact-unique and fully-kept fractions (the
# dedup+quality capstone gates), token volume, and the language-mix
# Shannon entropy (a collapsed mix is the classic silent failure of a
# filtered crawl).  Everything reuses the memoized family caches;
# five 1-row aggregates broadcast-joined — the S5 scalar shape
# end-to-end, no data-sized join anywhere.

def q_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import q_corpus_keep, q_dedup_keep_first

    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("total_tokens"),
    )
    uniq = q_dedup_keep_first(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_exact_unique")
    )
    kept = q_corpus_keep(spark, sf_dir).agg(
        F.count("*").cast("long").alias("n_kept")
    )
    lang_counts = docs.groupBy("lang").agg(
        F.count("*").cast("double").alias("n")
    )
    lang_tot = lang_counts.agg(F.sum("n").alias("t"))
    share = F.col("n") / F.col("t")
    lang_h = lang_counts.crossJoin(F.broadcast(lang_tot)).agg(
        F.round(-F.sum(share * F.log2(share)), 6).alias(
            "lang_entropy_bits"
        )
    )
    one = (
        base.crossJoin(F.broadcast(uniq))
        .crossJoin(F.broadcast(kept))
        .crossJoin(F.broadcast(lang_h))
    )
    return one.select(
        "n_docs",
        "total_tokens",
        "n_exact_unique",
        "n_kept",
        F.round(
            F.col("n_exact_unique") / F.col("n_docs").cast("double"), 6
        ).alias("exact_unique_frac"),
        F.round(
            F.col("n_kept") / F.col("n_docs").cast("double"), 6
        ).alias("kept_frac"),
        "lang_entropy_bits",
    )


def _corpus_health_sql() -> str:
    from .dedup import ORACLES as _DEDUP_ORACLES

    return (
        "WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) "
        "AS total_tokens FROM documents), "
        "uniq AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_unique "
        "FROM (SELECT min(doc_id) FROM documents GROUP BY md5(text))), "
        "kept AS (SELECT CAST(count(*) AS BIGINT) AS n_kept FROM ("
        + _DEDUP_ORACLES["dedup_corpus_keep"]
        + ")), "
        "lh AS (SELECT round(-sum((n / t) * log2(n / t)), 6) "
        "AS lang_entropy_bits FROM (SELECT lang, "
        "CAST(count(*) AS DOUBLE) AS n, "
        "sum(count(*)) OVER () AS t FROM documents GROUP BY lang)) "
        "SELECT n_docs, total_tokens, n_exact_unique, n_kept, "
        "round(n_exact_unique / CAST(n_docs AS DOUBLE), 6) "
        "AS exact_unique_frac, "
        "round(n_kept / CAST(n_docs AS DOUBLE), 6) AS kept_frac, "
        "lang_entropy_bits "
        "FROM base CROSS JOIN uniq CROSS JOIN kept CROSS JOIN lh"
    )


ORACLES["pipe_corpus_health"] = _corpus_health_sql()
QUERIES["pipe_corpus_health"] = q_corpus_health


# --------------------------------------------------------------------------
# r8: observed metrics — quality counters piggybacked on the main pass
# --------------------------------------------------------------------------

# `DataFrame.observe` attaches named aggregates to a plan node and
# reports them as a SIDE EFFECT of whatever action runs the plan — at
# 100 TB this is how a pipeline collects corpus-health counters
# without paying a second full scan: the keep-gate write is the
# action, the metrics ride along.  Two observation points (pre-gate
# and post-gate) measure the gate itself.  The query's "action" is a
# `noop`-format write (Spark's built-in v2 sink that scans everything
# and stores nothing), then the observed values come back as one row —
# which the DuckDB oracle recomputes as plain aggregates, proving the
# observe path reports EXACT values, not samples.

OBS_MIN_TOKENS = 5  # gate: docs shorter than this carry no signal


def q_observed_gate_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    n_tok = F.size(F.split(F.col("text"), " "))
    pre = Observation("pre_gate")
    post = Observation("post_gate")
    flow = (
        docs.observe(
            pre,
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("n_chars")).alias("chars_total"),
        )
        .filter(n_tok >= OBS_MIN_TOKENS)
        .observe(
            post,
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(n_tok.cast("long")).alias("tokens_kept"),
            F.sum(F.col("n_chars")).alias("chars_kept"),
        )
    )
    flow.write.format("noop").mode("overwrite").save()
    m = {**pre.get, **post.get}
    out = spark.createDataFrame(
        [
            (
                int(m["n_total"]),
                int(m["chars_total"]),
                int(m["n_kept"]),
                int(m["tokens_kept"]),
                int(m["chars_kept"]),
            )
        ],
        "n_total bigint, chars_total bigint, n_kept bigint, "
        "tokens_kept bigint, chars_kept bigint",
    )
    # the ratio is derived ON the 1-row result with the same literal
    # expression the oracle uses, so the IEEE division happens once,
    # identically, in both engines
    return out.selectExpr(
        "n_total",
        "chars_total",
        "n_kept",
        "tokens_kept",
        "chars_kept",
        "round(CAST(n_kept AS DOUBLE) / n_total, 6) AS keep_rate",
    )


ORACLES["pipe_observed_gate_metrics"] = (
    "WITH t AS (SELECT n_chars, "
    "len(string_split(text, ' ')) AS n_tok FROM documents), "
    "pre AS (SELECT CAST(count(*) AS BIGINT) AS n_total, "
    "CAST(sum(n_chars) AS BIGINT) AS chars_total FROM t), "
    "post AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, "
    "CAST(sum(n_tok) AS BIGINT) AS tokens_kept, "
    "CAST(sum(n_chars) AS BIGINT) AS chars_kept FROM t "
    f"WHERE n_tok >= {OBS_MIN_TOKENS}) "
    "SELECT n_total, chars_total, n_kept, tokens_kept, chars_kept, "
    "round(CAST(n_kept AS DOUBLE) / n_total, 6) AS keep_rate "
    "FROM pre CROSS JOIN post"
)

QUERIES["pipe_observed_gate_metrics"] = q_observed_gate_metrics
