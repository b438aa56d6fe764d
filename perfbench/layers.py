"""The traced run: per-layer metrics of one workload.

The session runs with the Spark event log on.  After the checked first
pass, half of ``--seconds`` runs the pass's layer calls (``steps``)
traced: each call the benchmark makes into an engine layer is a span
(``spans.Tracer``), and the spans of one pass are the children of a
``pass`` span.  The other half runs the same calls without spans, so
that ``trace.overhead_frac`` compares like with like.  The log is folded
onto the spans once the session has stopped.

Layer times are reported as shares of the traced pass (``*_frac``): a
workload that never calls a layer reports 0 for it, and the share says
directly how much of ``pass_s`` the layer can move.
"""

from __future__ import annotations

import os
import statistics
import time

from harness import Bench, checked_first_pass, force, log, timed_passes
from spans import EventLog, Tracer, fold_event_log, union_length

# name -> (unit, better), in BENCHMARK.json order.  Each group names the
# end-to-end metric it should move, and on which workload.
PER_LAYER = {
    # -> setup_s, both workloads
    "session.start_s": ("s", "lower"),
    # -> pass_s, both: wall time with a stage reading parquet files or
    # footers running; a single-file scan runs as few tasks as it has splits
    "sources.scan_s": ("s", "lower"),
    "sources.scan_tasks": ("count", "higher"),
    # -> pass_s and cpu_s on sentiment_pipeline
    "cleaning.clean_frac": ("frac", "lower"),
    # -> pass_s and storage_peak_mb; one build and many scans on
    # sentiment_pipeline, many builds and few scans on dedup_retrieval
    "common.memo_builds": ("count", "lower"),
    "common.memo_scans": ("count", "higher"),
    "common.memo_build_s": ("s", "lower"),
    "common.cached_mb": ("MB", "lower"),
    "common.clear_s": ("s", "lower"),
    # -> pass_s on sentiment_pipeline
    "nb.train_frac": ("frac", "lower"),
    "nb.score_frac": ("frac", "lower"),
    "tfidf.featsel_frac": ("frac", "lower"),
    "tfidf.score_frac": ("frac", "lower"),
    # -> pass_s and cpu_s on sentiment_pipeline
    "ml.featurize_frac": ("frac", "lower"),
    "ml.svm_fit_frac": ("frac", "lower"),
    "ml.svm_jobs": ("count", "lower"),
    "ml.transform_frac": ("frac", "lower"),
    "metrics.eval_frac": ("frac", "lower"),
    # -> pass_s on dedup_retrieval
    "dedup.minhash_frac": ("frac", "lower"),
    "dedup.verify_frac": ("frac", "lower"),
    "dedup.cc_frac": ("frac", "lower"),
    "dedup.cc_jobs": ("count", "lower"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_pairs": ("count", "higher"),
    "dedup.verify_yield": ("ratio", "higher"),
    "retrieval.bm25_frac": ("frac", "lower"),
    # -> pass_s on dedup_retrieval, per query (median): from the call to
    # its first job, and from there to the end
    "relational.plan_s": ("s", "lower"),
    "relational.exec_s": ("s", "lower"),
    # the engine underneath, per traced pass: scheduling -> pass_s on both,
    # shuffle -> pass_s and storage_peak_mb on dedup_retrieval, executor
    # time -> cpu_s on sentiment_pipeline
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
    "trace.unattributed_frac": ("frac", "lower"),
}

# spans whose time is split further by the jobs inside them
_ML_FIT = "ml.svm_fit"
_RELATIONAL = "relational.query"
_FEATURIZE_STAGE = "IDF"   # IDF.fit's aggregate; HashingTF fits nothing


def steps(b: Bench) -> list[tuple[str, object]]:
    """The traced pass of a workload: (span name, call) in order.  The
    programs of the untraced pass, split at the public layer functions
    they are built from, so each memo is built inside its own span."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common, ml, nb, tfidf

    sp, sf, q = b.spark, b.sf_dir, b.queries

    def program(name):
        return lambda: force(q[name](sp, sf))

    if b.name == "sentiment_pipeline":
        return [
            ("cleaning.clean", lambda: force(common.labeled_docs(sp, sf))),
            ("nb.train", lambda: force(nb.nb_model(sp, sf)[0])),
            ("nb.score", program("nb_confusion")),
            ("nb.score", program("nb_accuracy")),
            ("tfidf.featsel", lambda: force(tfidf.featsel_model(sp, sf)[0])),
            ("tfidf.score", program("tfidf_nb_confusion")),
            # ml_predictions fits eagerly and returns the cached, not yet
            # computed, predictions of the test split
            (_ML_FIT, lambda: ml.ml_predictions(sp, sf, "svm", 0)),
            ("ml.transform", lambda: force(ml.ml_predictions(sp, sf, "svm", 0))),
            ("metrics.eval", program("ml_svm_metrics")),
        ]
    return [
        ("dedup.minhash", program("dedup_minhash_pairs")),
        ("dedup.verify", program("dedup_jaccard_pairs")),
        ("dedup.cc", program("dedup_clusters")),
        ("retrieval.bm25", program("text_bm25_topk")),
    ] + [(_RELATIONAL, program(n)) for n in b.wl.programs if n.startswith("rel_")]


def plain_pass(b: Bench) -> dict:
    """The calls of a traced pass, without spans."""
    b.clear()
    t0 = time.perf_counter()
    for name, call in steps(b):
        b.call(name, call)
    wall = time.perf_counter() - t0
    log(f"untraced pass {wall:.2f}s")
    return {"wall": wall}


def _memo_entries(b: Bench) -> int:
    return sum(len(d) for d in b.common._CACHE_REGISTRY)


def traced_pass(b: Bench, tracer: Tracer) -> dict:
    b.clear()
    with tracer.span("pass") as root:
        for name, call in steps(b):
            before = _memo_entries(b)
            with tracer.span(name) as sp:
                b.call(name, call)
            sp.counts["memo_builds"] = _memo_entries(b) - before
    cached_mb = b.memo_storage_mb()
    # the eviction the next pass would start with, timed while there is
    # something to evict
    t0 = time.perf_counter()
    b.common.clear_caches()
    return {"root": root, "clear_s": time.perf_counter() - t0, "cached_mb": cached_mb}


def _dedup_counts(b: Bench) -> dict:
    if b.name != "dedup_retrieval":
        return {"dedup.candidate_pairs": 0, "dedup.verified_pairs": 0, "dedup.verify_yield": 0.0}
    from pyspark.sql import functions as F
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.dedup import JACCARD_DUP_MIN

    cand = b.queries["dedup_minhash_pairs"](b.spark, b.sf_dir).count()
    ver = (
        b.queries["dedup_jaccard_pairs"](b.spark, b.sf_dir)
        .filter(F.col("jaccard") >= JACCARD_DUP_MIN)
        .count()
    )
    return {
        "dedup.candidate_pairs": cand,
        "dedup.verified_pairs": ver,
        "dedup.verify_yield": ver / cand if cand else 0.0,
    }


def fold(tracer: Tracer, ev: EventLog, passes: list[dict]) -> dict:
    roots = [p["root"] for p in passes]
    n = len(roots)
    wall = sum(r.wall for r in roots)
    leaves = [s for s in tracer.spans if s.name != "pass"]

    def named(name):
        return [s for s in leaves if s.name == name]

    def frac(name):
        return sum(tracer.self_time(s) for s in named(name)) / wall

    def jobs(spans):
        return ev.jobs_in({s.id for s in spans})

    def job_s(js):
        return sum(j.end - j.start for j in js)

    all_jobs = jobs(leaves)
    stages = ev.stages_of(all_jobs)
    scans = [st for st in stages if st.scan]
    fit = named(_ML_FIT)
    fit_jobs = jobs(fit)
    featurize = [j for j in fit_jobs if any(_FEATURIZE_STAGE in s for s in j.stage_names)]
    gaps = []
    for r in roots:
        spans = [
            (max(st.start, r.start), min(st.end, r.end))
            for st in stages
            if st.end > r.start and st.start < r.end
        ]
        gaps.append(r.wall - union_length(spans))
    # per relational query: (call -> first job, first job -> end)
    plan_s, exec_s = [], []
    for s in named(_RELATIONAL):
        first = min((j.start for j in jobs([s])), default=s.end)
        plan_s.append(first - s.start)
        exec_s.append(s.end - first)
    memo_scans = sum(
        plan.count("InMemoryTableScan")
        for t, plan in ev.sql
        if any(r.start <= t <= r.end for r in roots)
    )
    return {
        "sources.scan_s": union_length([(st.start, st.end) for st in scans]) / n,
        "sources.scan_tasks": sum(st.tasks for st in scans) / n,
        "cleaning.clean_frac": frac("cleaning.clean"),
        "common.memo_builds": sum(s.counts.get("memo_builds", 0) for s in leaves) / n,
        "common.memo_scans": memo_scans / n,
        "common.memo_build_s": sum(s.wall for s in leaves if s.counts.get("memo_builds")) / n,
        "common.cached_mb": statistics.median(p["cached_mb"] for p in passes),
        "common.clear_s": statistics.median(p["clear_s"] for p in passes),
        "nb.train_frac": frac("nb.train"),
        "nb.score_frac": frac("nb.score"),
        "tfidf.featsel_frac": frac("tfidf.featsel"),
        "tfidf.score_frac": frac("tfidf.score"),
        "ml.featurize_frac": job_s(featurize) / wall,
        "ml.svm_fit_frac": frac(_ML_FIT) - job_s(featurize) / wall,
        "ml.svm_jobs": (len(fit_jobs) - len(featurize)) / n,
        "ml.transform_frac": frac("ml.transform"),
        "metrics.eval_frac": frac("metrics.eval"),
        "dedup.minhash_frac": frac("dedup.minhash"),
        "dedup.verify_frac": frac("dedup.verify"),
        "dedup.cc_frac": frac("dedup.cc"),
        "dedup.cc_jobs": len(jobs(named("dedup.cc"))) / n,
        "retrieval.bm25_frac": frac("retrieval.bm25"),
        "relational.plan_s": statistics.median(plan_s) if plan_s else 0.0,
        "relational.exec_s": statistics.median(exec_s) if exec_s else 0.0,
        "spark.jobs": len(all_jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(st.tasks for st in stages) / n,
        "spark.driver_gap_s": statistics.median(gaps),
        "spark.executor_run_s": sum(st.run_s for st in stages) / n,
        "spark.executor_cpu_s": sum(st.cpu_s for st in stages) / n,
        "spark.gc_s": sum(st.gc_s for st in stages) / n,
        "spark.shuffle_read_mb": sum(st.shuffle_read_mb for st in stages) / n,
        "spark.shuffle_write_mb": sum(st.shuffle_write_mb for st in stages) / n,
        "trace.pass_s": statistics.median(r.wall for r in roots),
        "trace.unattributed_frac": sum(tracer.self_time(r) for r in roots) / wall,
    }


def run_traced(b: Bench, seconds: float) -> tuple[dict, dict]:
    log_dir = os.path.join(b.workdir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    # one session, launched with its JVM; the event log is on for the
    # untraced passes too, so trace.overhead_frac is the cost of the spans
    start_s, _ = b.start({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir,
    })
    checked_first_pass(b)
    values = _dedup_counts(b)   # read off the first pass's memos
    tracer = Tracer(b.spark.sparkContext)

    def one():
        p = traced_pass(b, tracer)
        p["wall"] = p["root"].wall
        log(f"traced pass {p['wall']:.2f}s")
        return p

    # traced first: the JVM is still warming up, so a later pass is a
    # little faster, and this order can only overstate the overhead
    passes = timed_passes(seconds / 2, one, 1)
    untraced = timed_passes(seconds / 2, lambda: plain_pass(b), 1)
    b.stop()
    (log_file,) = os.listdir(log_dir)
    values.update(fold(tracer, fold_event_log(os.path.join(log_dir, log_file)), passes))
    values["session.start_s"] = start_s
    values["trace.overhead_frac"] = (
        values["trace.pass_s"] / statistics.median(p["wall"] for p in untraced) - 1.0
    )
    return values, {k: unit for k, (unit, _) in PER_LAYER.items()}
