"""Command-line front door — the engine's spark-submit equivalent.

The reference runs as hand-launched jobs (``hadoop jar … NB in out``,
``spark-submit … NB.jar`` — /root/reference/README.md); the
DataFrame engine's equivalent is one CLI over the whole declared
query registry:

    python -m text_sentiment_analysis_in_hadoop_and_spark_spark list [--prefix nb_]
    python -m text_sentiment_analysis_in_hadoop_and_spark_spark run nb_confusion \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--output out.parquet]
    python -m text_sentiment_analysis_in_hadoop_and_spark_spark explain nb_scores
    python -m text_sentiment_analysis_in_hadoop_and_spark_spark oracle nb_scores
    python -m text_sentiment_analysis_in_hadoop_and_spark_spark parity nb_scores \
        [--sf-dir /root/testdata/sf0.001]
    python -m text_sentiment_analysis_in_hadoop_and_spark_spark classify tweets.csv out_dir

``run`` executes distributed end-to-end and only collects the shown
rows (or writes parquet and collects nothing); ``explain`` prints the
formatted physical plan — the review artifact this repo's plan tests
assert on; ``oracle`` prints the DuckDB parity SQL so any reader can
re-verify a result outside Spark; ``parity`` actually RUNS that
re-verification (Spark vs DuckDB, order-insensitive value compare) for
the named queries — the correctness gate as a user-facing command.
``classify`` is the reference's own program (Hadoop/NB.java:273-341):
a Sentiment140-layout CSV → naive parse → clean → train 75% → predict
25% → ``id@text \\t POSITIVE|NEGATIVE`` text dir → console report.
"""

from __future__ import annotations

import argparse
import os
import sys

# Defaults are overridable so the CLI works outside this checkout:
# TSA_SF_DIR points at the parquet tables (same convention as
# bench.py's SPARK_GRAFT_SF_DIR, which wins if set), TSA_REPO_ROOT at
# the repo checkout holding tools/parity.py.
_DEFAULT_SF_DIR = (
    os.environ.get("SPARK_GRAFT_SF_DIR")
    or os.environ.get("TSA_SF_DIR")
    or "/root/testdata/sf0.01"
)
_DEFAULT_PARITY_SF_DIR = (
    os.environ.get("SPARK_GRAFT_SF_DIR")
    or os.environ.get("TSA_SF_DIR")
    or "/root/testdata/sf0.001"
)


def _registry():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql(), entry.rows_only()


def _classify(csv_path: str, out_dir: str) -> int:
    from .operators import nb
    from .operators.report import classification_report
    from .session import get_spark
    from .sources.csv import frontdoor_docs, read_csv_fidelity
    from .sources.sinks import write_text

    spark = get_spark(app_name="tsa_cli_classify")
    # parsed + cleaned once: training, the output rows and the report
    # all read it
    docs = frontdoor_docs(read_csv_fidelity(spark, csv_path)).cache()
    preds = nb.predictions_for_docs(docs)
    write_text(nb.output_rows(preds, docs), out_dir)
    classification_report(preds)
    docs.unpersist()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="text_sentiment_analysis_in_hadoop_and_spark_spark",
        description="Run the engine's declared queries from the shell.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list declared queries")
    p_list.add_argument("--prefix", default="", help="name prefix filter")

    p_par = sub.add_parser(
        "parity", help="run the Spark vs DuckDB oracle comparison"
    )
    p_par.add_argument("query", nargs="+")
    p_par.add_argument("--sf-dir", default=_DEFAULT_PARITY_SF_DIR)

    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default=_DEFAULT_SF_DIR)
        if name == "run":
            sp.add_argument("--limit", type=int, default=20)
            sp.add_argument(
                "--output", default=None, help="write full result as parquet"
            )

    p_or = sub.add_parser("oracle", help="print the DuckDB parity SQL")
    p_or.add_argument("query")

    p_cl = sub.add_parser(
        "classify", help="train and classify a Sentiment140-layout CSV"
    )
    p_cl.add_argument("csv")
    p_cl.add_argument("out_dir")

    args = p.parse_args(argv)

    if args.cmd == "classify":
        return _classify(args.csv, args.out_dir)

    if args.cmd == "parity":
        import subprocess

        # Resolve the checkout holding tools/parity.py: explicit env
        # override first, then the package's parent (the in-repo
        # layout), then cwd — with a clear error instead of a silent
        # failure when the package is installed elsewhere (r5 advice).
        candidates = [
            os.environ.get("TSA_REPO_ROOT"),
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            os.getcwd(),
        ]
        parity = next(
            (
                os.path.join(c, "tools", "parity.py")
                for c in candidates
                if c and os.path.isfile(os.path.join(c, "tools", "parity.py"))
            ),
            None,
        )
        if parity is None:
            print(
                "tools/parity.py not found — set TSA_REPO_ROOT to the "
                "repo checkout (searched: "
                + ", ".join(c for c in candidates if c)
                + ")",
                file=sys.stderr,
            )
            return 2
        return subprocess.call(
            [sys.executable, parity, args.sf_dir, *args.query]
        )

    queries, oracles, rows_only = _registry()

    if args.cmd == "list":
        for n in queries:
            if n.startswith(args.prefix):
                tag = "rows-only" if n in rows_only else "oracle"
                print(f"{n}\t{tag}")
        return 0

    if args.cmd == "oracle":
        sql = oracles.get(args.query)
        if sql is None:
            kind = (
                "rows-only by design (see rows_only())"
                if args.query in rows_only
                else "unknown query"
            )
            print(f"-- no oracle: {kind}", file=sys.stderr)
            return 1
        print(sql)
        return 0

    fn = queries.get(args.query)
    if fn is None:
        print(f"unknown query: {args.query}", file=sys.stderr)
        near = [n for n in queries if args.query.split("_")[0] in n][:8]
        if near:
            print("did you mean: " + ", ".join(near), file=sys.stderr)
        return 1

    from .session import get_spark

    spark = get_spark(app_name=f"tsa_cli_{args.cmd}_{args.query}")
    df = fn(spark, args.sf_dir)
    if args.cmd == "explain":
        # Public API (prints the formatted plan itself) — the private
        # _jvm.PythonSQLUtils path breaks under Spark Connect and
        # across PySpark releases (r5 advice).
        df.explain(mode="formatted")
        return 0
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        for row in df.limit(args.limit).collect():
            print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
