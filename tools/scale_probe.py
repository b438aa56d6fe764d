"""Measured scaling curves for headline operators — SCALING.md.

The local bench proves correctness-at-speed at ONE scale factor; this
probe measures how each headline operator's wall time moves across
scale factors and fits the per-operator scaling exponent

    t ∝ (corpus size)^alpha        alpha = log10(t_big / t_small)

over the last two points of a section (each step is a 10× size ratio,
so log10 of the time ratio IS the fitted exponent).  alpha ≈ 1 is
linear scaling; alpha clearly above 1 flags a super-linear shuffle/pair
blowup that would bite long before 100 TB.

Every point is min-of-2 COLD: ``clear_caches()`` and then bench.py's
measurement core, whose rerun releases the memo entries the first run
built, so both runs pay every memoized build (a warm minimum would time
cache reads, whose flatness says nothing about data scaling).

Each mode measures and (re)writes one SCALING.md section; the other
sections keep their text and order:

    python tools/scale_probe.py            # base: 16 operators, sf0.001-sf0.1
    python tools/scale_probe.py --quick    # base without sf0.1 (fast sanity)
    python tools/scale_probe.py --decade   # sf0.1 → synthetic sf1
    python tools/scale_probe.py --decade2  # synthetic sf1 → sf10
    python tools/scale_probe.py --decade3  # synthetic sf10 → sf100 (one cold point)

``--max-alpha X`` gates any mode: when a fitted exponent exceeds X the
section is annotated ``GATE FAILED`` and the probe exits 1.  The
quadratic-risk operators (`er_fuzzy_pairs`, `dedup_prefix_jaccard_join`)
have block-size/prefix pruning, but a corpus-shape change could
silently push them super-linear; the gate makes that fail loudly.
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import force, measure, warm_up  # noqa: E402
from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common  # noqa: E402
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR,
)

SCALING = os.path.join(REPO, "SCALING.md")
TESTDATA = os.path.dirname(DEFAULT_SF_DIR)
SF01 = os.path.join(TESTDATA, "sf0.1")
SF1_DIR = os.path.join(REPO, ".sf1_synth")
SF10_DIR = os.path.join(REPO, ".sf10_synth")
SF100_DIR = os.path.join(REPO, ".sf100_synth")


def _built(*parquet_dirs: str) -> bool:
    # gate on the writer's _SUCCESS marker, not the bare directory: a
    # build killed mid-write (the ENOSPC failure mode) leaves a partial
    # directory that must not be reused
    return all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in parquet_dirs)


def build_sf1(spark) -> str:
    """Synthesize an sf1-equivalent corpus: 10 variants per sf0.1 doc
    (50k rows), each variant keeping a DIFFERENT deterministic prefix
    fraction of the text (0.30–0.93, plus one full-length copy) with a
    per-copy suffix token so no variant is byte-identical; and 10
    variants per sf0.1 embedding (20k vectors).

    Copies of one doc share long prefixes (real near-dup structure for
    the prefix/LSH candidate stages) but land in different length
    buckets, so the blocking and the PPJoin length filter do real work.
    Deterministic (no RNG): frac keys on (doc_id + k) % 10.  Built once,
    reused (delete the dir to rebuild)."""
    from pyspark.sql import functions as F

    out = os.path.join(SF1_DIR, "documents.parquet")
    emb_out = os.path.join(SF1_DIR, "embeddings.parquet")
    if _built(out, emb_out):
        return SF1_DIR
    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    variants = spark.range(10).select(F.col("id").cast("int").alias("k"))
    frac = 0.30 + 0.07 * ((F.col("doc_id") + F.col("k")) % 10)
    cut = F.when(F.col("k") == 0, F.length("text")).otherwise(
        F.greatest(F.lit(40), F.round(F.length("text") * frac).cast("int"))
    )
    inflated = (
        docs.crossJoin(variants)
        .select(
            (F.col("doc_id") * 10 + F.col("k")).alias("doc_id"),
            F.concat(
                F.substring(F.col("text"), 1, cut),
                F.lit(" zv"),
                F.col("k").cast("string"),
            ).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    inflated.repartition(8, "doc_id").write.mode("overwrite").parquet(out)
    # k=0 is an exact duplicate, k>0 adds a deterministic per-dim
    # perturbation of growing magnitude (sin of a vec/dim/k hash — no
    # RNG), so families span exact-dup → near-dup → loosely-similar,
    # the shape the LSH bucket self-joins and the SIM_HOT_BUCKET_CAP
    # have to survive
    emb = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + F.lit(0.005)
        * F.col("k").cast("float")
        * F.sin(F.col("vec_id") * 31 + F.col("k") * 7 + i),
    )
    (
        emb.crossJoin(variants)
        .select(
            (F.col("vec_id") * 10 + F.col("k")).alias("vec_id"),
            F.when(F.col("k") == 0, F.col("embedding"))
            .otherwise(pert)
            .cast("array<float>")
            .alias("embedding"),
            "label",
        )
        .repartition(8, "vec_id")
        .write.mode("overwrite")
        .parquet(emb_out)
    )
    return SF1_DIR


def build_replicas(spark, groups: int, out_dir: str, parts: int) -> str:
    """Documents-only corpus of ``groups`` REPLICA GROUPS × 10
    prefix-fraction variants per sf0.1 doc (10 groups: sf10, 500k docs;
    100 groups: sf100, 5M docs).  Replica groups diverge by replacing
    every 7th token with a group-salted token, so cross-group Jaccard
    falls far below threshold and near-dup FAMILY SIZE stays ~10 while
    the corpus grows — the honest shape (a real corpus 10× bigger has
    ~10× more near-dup families, not 10× bigger ones; constant family
    size keeps TRUE output linear so the fit measures the algorithm,
    not an output-size artifact).  Deterministic."""
    from pyspark.sql import functions as F

    out = os.path.join(out_dir, "documents.parquet")
    if _built(out):
        return out_dir
    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    copies = spark.range(groups * 10).select(
        (F.col("id") % groups).cast("int").alias("g"),
        (F.col("id") / groups).cast("int").alias("k"),
    )
    toks = F.split(F.col("text"), " ")
    salted = F.array_join(
        F.transform(
            toks,
            lambda x, i: F.when(
                (i + F.col("g")) % 7 == 0,
                F.concat(
                    F.lit("r"),
                    F.col("g").cast("string"),
                    F.lit("t"),
                    (i % 13).cast("string"),
                ),
            ).otherwise(x),
        ),
        " ",
    )
    frac = 0.30 + 0.07 * ((F.col("doc_id") + F.col("k")) % 10)
    cut = F.when(F.col("k") == 0, F.length(salted)).otherwise(
        F.greatest(F.lit(40), F.round(F.length(salted) * frac).cast("int"))
    )
    inflated = (
        docs.crossJoin(copies)
        .select(
            (
                F.col("doc_id") * (groups * 10) + F.col("g") * 10 + F.col("k")
            ).alias("doc_id"),
            F.concat(
                F.substring(salted, 1, cut),
                F.lit(" zv"),
                F.col("k").cast("string"),
            ).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    inflated.repartition(parts, "doc_id").write.mode("overwrite").parquet(out)
    return out_dir


class Section(NamedTuple):
    """One SCALING.md section: its heading (the part before " — " finds
    it in the file), prose, probed operators and measured points
    ``(label, sf_dir or builder, runs)``; alpha fits the last two."""

    heading: str
    prose: tuple[str, ...]
    probes: tuple[str, ...]
    points: tuple[tuple, ...]
    conf: dict = {}


def _sf10(spark) -> str:
    return build_replicas(spark, 10, SF10_DIR, 32)


def _sf100(spark) -> str:
    return build_replicas(spark, 100, SF100_DIR, 64)


SECTIONS = {
    "base": Section(
        "# SCALING — measured wall-time curves across the 100× SF span",
        (
            "Generated by `python tools/scale_probe.py` (min-of-2 of COLD",
            "runs per point — caches cleared before every run, so each",
            "point pays the operator's full cost including memoized build",
            "steps).  `alpha` is the fitted exponent of t ∝ size^alpha",
            "over the sf0.01 → sf0.1 decade — the sf0.001 column is shown",
            "for the fixed-cost floor but not fitted (at that size task",
            "scheduling dominates).  alpha ≈ 1 = linear in corpus size;",
            "alpha well below 1 = still fixed-cost-dominated at sf0.1;",
            "alpha clearly above 1 would flag a pair/shuffle blowup that",
            "100 TB would amplify catastrophically.",
        ),
        # one per family whose scale posture matters: NB, TF-IDF,
        # relational agg/join, sessionization, dedup banding and
        # prefix join, ANN, LM scoring, retrieval, the multimodal Arrow
        # boundary, the keep-list capstone and the quadratic-risk
        # candidate generators
        (
            "nb_confusion",
            "tfidf_scores",
            "rel_pricing_summary",
            "rel_waiting_suppliers",
            "events_sessions",
            "dedup_minhash_pairs",
            "dedup_prefix_jaccard_join",
            "sim_topk_lsh",
            "text_lm_score",
            "text_bm25_topk",
            "mm_pair_manifest",
            "pipe_training_corpus",
            "er_fuzzy_pairs",
            "dedup_simhash_pairs",
            "text_contamination_bloom",
            "sim_topk_ivf",
        ),
        tuple(
            (sf, os.path.join(TESTDATA, sf), 2)
            for sf in ("sf0.001", "sf0.01", "sf0.1")
        ),
    ),
    "decade": Section(
        "## Extended decade — synthetic sf1 (r9 verdict #5)",
        (
            "10× inflation of sf0.1 documents AND embeddings (50k docs",
            "/ 20k vectors; varied per-copy lengths, shared prefixes,",
            "exact-dup + perturbed embedding variants = real near-dup",
            "clique structure; see tools/scale_probe.py build_sf1) —",
            "the decade where candidate growth starts to dominate,",
            "probed for EVERY quadratic-risk candidate-generation",
            "family.  Same min-of-2 cold protocol.",
        ),
        (
            "er_fuzzy_pairs",
            "dedup_prefix_jaccard_join",
            "dedup_minhash_pairs",
            "dedup_simhash_pairs",
            "text_bm25_topk",
            "sim_topk_lsh",
            "dedup_embedding_pairs",
            "mm_pair_manifest",
            "pipe_training_corpus",
        ),
        (("sf0.1", SF01, 2), ("sf1_synth", build_sf1, 2)),
    ),
    "decade2": Section(
        "## Second extended decade — synthetic sf10 (r10)",
        (
            "500k docs: 10 replica groups × 10 variants per sf0.1 doc,",
            "groups diverged by salting every 7th token so near-dup",
            "FAMILY SIZE stays ~10 while the corpus grows 100× (true",
            "output scales linearly — the fit measures the algorithm,",
            "not an output-size artifact).  With the first decade this",
            "gives THREE measured decades (sf0.01 → sf10, a 1000×",
            "span) for the flagship dedup chains.",
        ),
        (
            "dedup_prefix_jaccard_join",
            "dedup_minhash_pairs",
            "dedup_jaccard_pairs",
            "dedup_containment_pairs",
        ),
        (("sf1_synth", build_sf1, 2), ("sf10_synth", _sf10, 2)),
    ),
    # a 5M-doc shuffle: zstd shuffle/spill compression (~2× smaller
    # than lz4) is what fits the local disk (lz4 hit ENOSPC)
    "decade3": Section(
        "## Third extended decade — synthetic sf100 (r12)",
        (
            "5M docs: 100 replica groups × 10 variants per sf0.1 doc",
            "(build_replicas — the sf10 construction scaled 10×;",
            "family size stays ~10, true output linear).  Single cold",
            "point per the r11 verdict; the sf10 base point is",
            "min-of-2 cold in the same session.  With the earlier",
            "decades this gives FOUR measured decades (sf0.01 → sf100,",
            "a 10,000× span) for the flagship chain.",
        ),
        ("dedup_prefix_jaccard_join",),
        (("sf10_synth", _sf10, 2), ("sf100_synth", _sf100, 1)),
        {"spark.io.compression.codec": "zstd"},
    ),
}


def _short(label: str) -> str:
    return label.removeprefix("sf").removesuffix("_synth")


def render(
    sec: Section, times: dict[str, dict[str, float]], max_alpha: float | None
) -> tuple[str, dict[str, float], dict[str, float]]:
    """The section's markdown, its fitted alphas and the alphas over
    ``max_alpha`` (the gate; a failure is annotated in the text)."""
    labels = [p[0] for p in sec.points]
    small, big = labels[-2:]
    lines = [
        sec.heading,
        "",
        *sec.prose,
        "",
        "| operator | "
        + " | ".join(f"t({lb})" for lb in labels)
        + f" | alpha({_short(small)}→{_short(big)}) |",
        "|---" * (len(labels) + 2) + "|",
    ]
    alphas: dict[str, float] = {}
    for name in sec.probes:
        t = times[name]
        a = ""
        if small in t and big in t and t[small] > 0:
            alphas[name] = math.log10(t[big] / t[small])
            a = f"{alphas[name]:.2f}"
        lines.append(
            "| " + " | ".join([name, *(str(t.get(lb, "")) for lb in labels), a])
            + " |"
        )
    lines.append("")
    over = {
        n: round(a, 2)
        for n, a in alphas.items()
        if max_alpha is not None and a > max_alpha
    }
    if over:
        lines += [f"GATE FAILED: alpha > --max-alpha {max_alpha}: {over}", ""]
    return "\n".join(lines), alphas, over


def _chunks(body: str) -> list[str]:
    """SCALING.md split at its ``#``/``##`` headings, each chunk without
    the blank line that separates it from the next."""
    starts = [m.start() for m in re.finditer(r"^#{1,2} ", body, re.M)]
    if body.strip() and (not starts or starts[0]):
        starts.insert(0, 0)
    ends = starts[1:] + [len(body)]
    return [body[a:b].rstrip("\n") for a, b in zip(starts, ends)]


def write_section(path: str, heading: str, text: str) -> None:
    """Replace the section of ``path`` whose heading starts like
    ``heading`` (up to " — ") with ``text``; every other section keeps
    its text and order.  A section not yet in the file goes before the
    first section that ``SECTIONS`` lists after it."""
    body = ""
    if os.path.exists(path):
        with open(path) as fh:
            body = fh.read()
    order = [s.heading.split(" — ")[0] + " " for s in SECTIONS.values()]

    def rank(text: str) -> int:
        return next((i for i, m in enumerate(order) if text.startswith(m)), -1)

    chunks = _chunks(body)
    ranks = [rank(c) for c in chunks]
    mine = rank(heading)
    if mine in ranks:
        chunks[ranks.index(mine)] = text.rstrip("\n")
    else:
        at = next((i for i, r in enumerate(ranks) if r > mine), len(chunks))
        chunks.insert(at, text.rstrip("\n"))
    with open(path, "w") as fh:
        fh.write("\n\n".join(chunks) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument(
        "--quick", action="store_true", help="base curve without the sf0.1 point"
    )
    for key in ("decade", "decade2", "decade3"):
        mode.add_argument(
            f"--{key}",
            dest="mode",
            action="store_const",
            const=key,
            help=SECTIONS[key].heading.lstrip("# "),
        )
    ap.add_argument("--max-alpha", type=float, help="exit 1 above this alpha")
    args = ap.parse_args(argv)
    sec = SECTIONS[args.mode or "base"]
    points = sec.points[:-1] if args.quick else sec.points

    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

    spark = get_spark("scale_probe", extra_conf=dict(sec.conf))
    warm_up(spark, SF01)
    queries = entrymod.queries()

    times: dict[str, dict[str, float]] = {n: {} for n in sec.probes}
    for label, where, runs in points:
        sf_dir = where(spark) if callable(where) else where
        for name in sec.probes:
            common.clear_caches()
            run_s, _ = measure(lambda: force(queries[name](spark, sf_dir)), runs)
            times[name][label] = round(min(run_s), 3)
            print(f"  {label} {name}: {min(run_s):.2f}s", file=sys.stderr)
    common.clear_caches()

    text, alphas, over = render(sec, times, args.max_alpha)
    write_section(SCALING, sec.heading, text)
    print(f"wrote {sec.heading.split(' — ')[0]!r} in {SCALING}", file=sys.stderr)
    if over:
        print(f"FAIL: alpha exceeds {args.max_alpha}: {over}", file=sys.stderr)
        return 1
    if args.max_alpha is not None and alphas:
        print(
            f"alpha gate OK: max {max(alphas.values()):.2f} <= {args.max_alpha}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
