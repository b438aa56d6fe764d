"""The benchmark's engine harness: workloads, session set-up, timed
passes, the memo honesty guard and the output checks.  See ``run.py``
for what a run does."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A set-up, JVM launch included, takes 14-20 s on a 4-vCPU VM; one per run
# keeps the runs of a benchmark check inside their time budget.
SETUPS = 1
# The JVM is still getting faster over the first few warm passes, so the
# number of timed passes is fixed by --seconds (one per PASS_BUDGET_S of
# the window: a warm pass takes 6-9 s on a 4-vCPU VM) rather than by how
# many fit: a run on a slower host then times the same passes, not fewer
# and less warm ones.
PASS_BUDGET_S = 8.0
MIN_TIMED_PASSES = 2
# LinearSVC reaches 0.64-0.72 on the 2k-doc corpus (30 seeds); a pipeline
# that stops learning drops to ~0.5
ML_ACCURACY_FLOOR = 0.58
# When a tweet repeats a word, TF-IDF feature selection meets near-ties
# (cnt*ln(x) against ln(x**cnt)) at the keep boundary, which the engine
# and its DuckDB oracle break differently; a handful of test docs then
# change class (up to 1.2% of them over 30 seeds at 2k docs).  These
# programs may move up to this share of their rows between cells of the
# confusion matrix, and no more.
NEAR_TIE_PROGRAMS = ("tfidf_nb_confusion",)
NEAR_TIE_MOVED_MAX = 0.025


@dataclass(frozen=True)
class Workload:
    n_docs: int
    dup_frac: float
    programs: tuple[str, ...]
    # rows of the generated TPC-H-shaped orders table; 0 writes no star schema
    n_orders: int = 0


# Why these workloads: ``sentiment_pipeline`` is the paper's job (one
# cleaned-docs memo read by every classifier, almost no shuffle join);
# ``dedup_retrieval`` is the LLM-data side, whose work scales with how
# much the docs share (near-duplicates) and which builds many memos that
# few consumers read; its short relational queries over a small star
# schema are bound by planning and scheduling rather than data.  An
# optimisation of one should leave the other flat.
WORKLOADS = {
    "sentiment_pipeline": Workload(
        n_docs=2_000,
        dup_frac=0.0,
        programs=(
            "nb_confusion",        # Hadoop/NB.java
            "nb_accuracy",
            "tfidf_nb_confusion",  # Hadoop/Modified_NB.java
            "ml_svm_metrics",      # Spark SVM app
        ),
    ),
    "dedup_retrieval": Workload(
        n_docs=2_000,
        dup_frac=0.3,
        programs=(
            "dedup_minhash_pairs",
            "dedup_jaccard_pairs",
            "dedup_clusters",
            "text_bm25_topk",
            "rel_pricing_summary",     # operators.relational
            "rel_shipping_priority",   # operators.relational2
        ),
        n_orders=2_000,
    ),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A stderr line, stamped with the seconds since the run began."""
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def shutdown_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit, so
    that the next session launches a new one."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- process accounting ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and its live descendants (the JVM and
    its Python workers), including children they have reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += t
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot.  Steal is time
    a virtual CPU was ready to run but the host ran something else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def min_label_components(ids: list[int], pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(doc_id, smallest doc_id of its connected component)."""
    root = {i: i for i in ids}

    def find(x: int) -> int:
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return [(i, find(i)) for i in ids]


# --- the benchmark --------------------------------------------------------


class Bench:
    def __init__(self, name: str, seed: int, workdir: str):
        self.name = name
        self.wl = WORKLOADS[name]
        self.workdir = workdir
        self.sf_dir = os.path.join(workdir, "sf")
        self.attempted = 0
        self.failed = 0
        self.guard_ok = True
        self.spark = None
        self.ml_rows: dict[str, list] = {}
        import gen

        self.inputs = gen.write_inputs(
            self.sf_dir, seed, self.wl.n_docs, self.wl.dup_frac, self.wl.n_orders
        )
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry
        from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common
        from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

        self.entry = entry
        self.common = common
        self.get_spark = get_spark
        self.queries = entry.queries()
        self.n = nproc()

    # -- session ----------------------------------------------------------

    def start(self, extra: dict | None = None) -> tuple[float, float]:
        """(get_spark seconds, get_spark + warm-up seconds).  No JVM runs
        before it (a new process, or after ``stop()``), so ``get_spark``
        launches one too."""
        conf = {
            "spark.local.dir": os.path.join(self.workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **(extra or {}),
        }
        t0 = time.perf_counter()
        self.spark = self.get_spark(
            "perfbench", master=f"local[{self.n}]", shuffle_partitions=self.n, extra_conf=conf
        )
        t1 = time.perf_counter()
        self.warm_up()
        return t1 - t0, time.perf_counter() - t0

    def warm_up(self) -> None:
        from pyspark.sql import functions as F

        spark = self.spark
        spark.range(1000).count()
        one = spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")).limit(1)
        force(one)
        agg = one.groupBy("lang").agg(F.sum("n_chars").alias("c"), F.count("*").alias("n"))
        force(agg.join(F.broadcast(agg.select("lang")), "lang"))

        def ping(it):
            yield from it

        force(spark.range(1).repartition(1).mapInPandas(ping, "id long"))

    def stop(self) -> None:
        """Stop the session and its JVM."""
        if self.spark is not None:
            # memos of a stopped context cannot be unpersisted later
            self.common.clear_caches()
            self.spark.stop()
            self.spark = None
        shutdown_gateway()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def memo_storage_mb(self) -> float:
        """Executor storage held by cached DataFrames (the memos).  Blocks
        of localCheckpoint RDDs are left out: when those are freed
        depends on JVM garbage collection, not on the engine."""
        cached = self.spark._jsparkSession.sharedState().cacheManager().cachedData()
        ids = set()
        for i in range(cached.size()):
            buffers = cached.apply(i).cachedRepresentation().cacheBuilder()
            if buffers.isCachedColumnBuffersLoaded():
                ids.add(buffers.cachedColumnBuffers().id())
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos if i.id() in ids) / (1024.0 * 1024.0)

    # -- passes -----------------------------------------------------------

    def clear(self) -> None:
        """Evict every memo, then check that nothing memoized survived."""
        self.common.clear_caches()
        left = sum(len(d) for d in self.common._CACHE_REGISTRY)
        # cached DataFrames live in the session's CacheManager; blocks of
        # dropped localCheckpoint RDDs may linger in storage until the
        # JVM collects them, but no later plan can read them
        cached = not self.spark._jsparkSession.sharedState().cacheManager().isEmpty()
        if left or cached:
            log(f"memo guard: {left} registered memos survived clear_caches(), cached data: {cached}")
            self.guard_ok = False

    def call(self, name: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 - a failed program is counted, the run goes on
            self.failed += 1
            log(f"{name} raised:\n{traceback.format_exc()}")
            return False

    def run_pass(self) -> dict:
        """One untraced pass: every program, forced to noop."""
        self.clear()
        pid = self.jvm_pid()
        cpu0 = tree_cpu_s(pid)
        t0 = time.perf_counter()
        ok, times = {}, {}
        for name in self.wl.programs:
            fn = self.queries[name]
            t = time.perf_counter()
            ok[name] = self.call(name, lambda fn=fn: force(fn(self.spark, self.sf_dir)))
            times[name] = time.perf_counter() - t
            log(f"  {name} {times[name]:.2f}s")
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(pid) - cpu0
        # memos are only added during a pass, so storage peaks at its end
        return {
            "wall": wall,
            "times": times,
            "cpu": cpu,
            "storage_mb": self.memo_storage_mb(),
            "ok": ok,
        }

    # -- output checks (never inside a timed window) -----------------------

    def oracle_rows(self) -> dict:
        import duckdb

        # one thread: the oracles run beside the first pass, on its cores
        con = duckdb.connect(config={"threads": 1})
        for f in sorted(os.listdir(self.sf_dir)):
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                f"SELECT * FROM '{os.path.join(self.sf_dir, f)}'"
            )
        oracles = self.entry.oracle_sql()
        out = {}
        for name in self.wl.programs:
            if name in oracles and name != "dedup_clusters":
                rel = con.sql(oracles[name])
                out[name] = (list(rel.columns), rel.fetchall())
        if "dedup_clusters" in self.wl.programs:
            # the recursive-CTE oracle takes ~11 s (5k docs, 4 cores); the same
            # min-doc_id components come from union-find over the verified
            # pairs of the dedup_jaccard_pairs oracle
            from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.dedup import JACCARD_DUP_MIN

            pairs = con.sql(
                "WITH p AS (" + oracles["dedup_jaccard_pairs"] + ") "
                f"SELECT doc_a, doc_b FROM p WHERE jaccard >= {JACCARD_DUP_MIN}"
            ).fetchall()
            ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
            out["dedup_clusters"] = (["doc_id", "cluster_id"], min_label_components(ids, pairs))
        con.close()
        return out

    def check(self, ok: dict, oracles: dict | None) -> None:
        """Compare outputs with their oracles (when given) and hold the
        rows-only ``ml_*`` programs to an accuracy floor and to the
        result of the first checked pass."""
        from tools.parity import compare

        for name, ran in ok.items():
            if not ran or not (name.startswith("ml_") or (oracles and name in oracles)):
                continue
            df = self.queries[name](self.spark, self.sf_dir)
            errs: list[str] = []
            if name.startswith("ml_"):
                rows = [tuple(r) for r in df.collect()]
                acc = rows[0][0] if rows else 0.0
                if acc < ML_ACCURACY_FLOOR:
                    errs.append(f"accuracy {acc} below {ML_ACCURACY_FLOOR}")
                first = self.ml_rows.setdefault(name, rows)
                if rows != first:
                    errs.append(f"result changed between passes: {first} -> {rows}")
            else:
                cols, rows = oracles[name]
                errs = compare(name, df, rows, cols)
            if errs and name in NEAR_TIE_PROGRAMS:
                moved = moved_share(rows, df.collect())
                if moved <= NEAR_TIE_MOVED_MAX:
                    log(f"{name}: {moved:.2%} of rows moved cell (near-tie tolerance)")
                    errs = []
            if errs:
                self.failed += 1
                log(f"{name} failed its check: {errs[:3]}")


def moved_share(oracle_rows: list, rows: list) -> float:
    """Share of a (label, prediction, n) confusion matrix's rows that sit
    in another cell than in the oracle's; 1.0 if the labels' totals
    differ, since no row can change its label."""
    want = {(r[0], r[1]): r[2] for r in oracle_rows}
    got = {(r[0], r[1]): r[2] for r in rows}
    for label in {k[0] for k in want.keys() | got.keys()}:
        if sum(n for k, n in want.items() if k[0] == label) != sum(
            n for k, n in got.items() if k[0] == label
        ):
            return 1.0
    total = sum(want.values()) or 1
    return sum(abs(want.get(k, 0) - got.get(k, 0)) for k in want.keys() | got.keys()) / 2 / total


def checked_first_pass(b: Bench) -> None:
    """The untimed first pass of a session (it pays for JIT and codegen
    warm-up); its outputs are checked against the oracles, which DuckDB
    computes on another thread meanwhile."""
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(b.oracle_rows)
        first = b.run_pass()
        oracles = oracles.result()
    log(f"first pass {first['wall']:.2f}s")
    b.check(first["ok"], oracles)
    log("first pass checked")


def timed_passes(seconds: float, run_one, min_passes: int) -> list[dict]:
    """Run passes for ``seconds``, stopping before one that would overrun
    the window (judged by the last pass), but run at least ``min_passes``."""
    out: list[dict] = []
    t_end = time.perf_counter() + seconds
    while len(out) < min_passes or time.perf_counter() + out[-1]["wall"] <= t_end:
        out.append(run_one())
    return out


def fastest_pass(passes: list[dict]) -> float:
    """Each program's fastest time over the passes, summed.  On a shared
    machine, contention from other processes and the JIT compiler still at
    work only ever add wall time, and they often hit one program of a
    pass rather than the whole pass.  Every pass clears the memos first, so a
    program pays for the same memo builds in every pass and none of these
    times is a dict lookup."""
    return sum(min(p["times"][name] for p in passes) for name in passes[0]["times"])


def run_untraced(b: Bench, seconds: float) -> dict:
    setups = []
    for _ in range(SETUPS):
        b.stop()   # each set-up launches its own JVM
        setups.append(b.start()[1])
    log(f"setups {[round(s, 2) for s in setups]}")
    checked_first_pass(b)

    def one() -> dict:
        p = b.run_pass()
        b.check(p["ok"], None)
        log(f"pass {p['wall']:.2f}s cpu {p['cpu']:.2f}s storage {p['storage_mb']:.2f}MB")
        return p

    passes = [one() for _ in range(max(MIN_TIMED_PASSES, round(seconds / PASS_BUDGET_S)))]
    b.stop()
    log("stopped")
    return {
        "setup_s": statistics.median(setups),
        "pass_s": fastest_pass(passes),
        "cpu_s": statistics.median(p["cpu"] for p in passes),
        "storage_peak_mb": statistics.median(p["storage_mb"] for p in passes),
    }
