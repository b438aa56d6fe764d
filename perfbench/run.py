"""Gated benchmark of the text-analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one closed-loop client.  The engine is driven only from
outside: a session from ``session.get_spark(master="local[<nproc>]",
shuffle_partitions=<nproc>)``, the registered ``__spark_entry__`` query
callables (and, in the traced run, the public layer functions they are
built from), every result forced to the ``noop`` sink.  Inputs are
generated from ``--seed`` into a scratch directory inside the checkout
(``gen.py``); the engine sees only those files.

A run:

1. sets the session up ``SETUPS`` times, each in a newly launched JVM
   (``get_spark`` plus a fixed warm-up: codegen, a 1-row parquet scan,
   an aggregate with a broadcast join and a 1-row ``mapInPandas`` ping)
   and reports the median as ``setup_s``;
2. runs one untimed pass, whose outputs are compared with their DuckDB
   oracles (``tools/parity.py``'s comparator);
3. runs one timed pass per ``PASS_BUDGET_S`` of ``--seconds`` (at least
   ``MIN_TIMED_PASSES``) and reports each program's fastest time over
   them, summed, and the median CPU time and storage of a pass.
   ``common.clear_caches()`` runs before every pass, so each pass pays
   for its own memo builds, and the memo honesty guard then checks that
   executor storage and every registered memo dict are empty.

With ``--trace 1`` one session, with the Spark event log on, splits the
timed passes: half traced, each layer call wrapped in a span
(``spans.py``), then the same calls untraced.  The log is folded into the per-layer
metrics listed in ``BENCHMARK.json``.

The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
A line before it records the run (nproc, load, versions, input sizes).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

from harness import ROOT, WORKLOADS, Bench, cpu_ticks, log, run_untraced, shutdown_gateway

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# the engine defaults to an 8g driver heap; these inputs need a fraction
# of it, and the machine's memory is shared
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "storage_peak_mb": "MB"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no engine checkout at {ROOT}: __spark_entry__.py is missing")
        return 2

    workdir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    # temporary files of Python and of every JVM (the launcher's too) stay
    # in the checkout; no JVM writes hsperfdata to /tmp
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    b = None
    try:
        b = Bench(args.workload, args.seed, workdir)
        if args.trace:
            import layers

            values, units = layers.run_traced(b, args.seconds)
        else:
            values = run_untraced(b, args.seconds)
            units = END_TO_END_UNITS
        import pyspark

        stolen, total = (end - start for end, start in zip(cpu_ticks(), ticks_start))
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": b.n,
            "load_start": [round(x, 2) for x in load_start],
            "load_end": [round(x, 2) for x in os.getloadavg()],
            # a run on a host that ran other work on these CPUs: wall times
            # stretch with it (on a 4-vCPU VM, 15% steal made passes 50-75%
            # slower)
            "steal_frac": round(stolen / max(1, total), 4),
            "pyspark": pyspark.__version__,
            "inputs": b.inputs,
            "memo_guard": b.guard_ok,
        }
        print(json.dumps({"run": record}), flush=True)
        result = {
            "correct": b.failed == 0 and b.guard_ok,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if b is not None:
            b.stop()
        shutdown_gateway()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


if __name__ == "__main__":
    raise SystemExit(main())
