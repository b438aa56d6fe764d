"""The CLI front door (__main__.py): registry listing, oracle dump,
error paths — and a run over the live session."""

from __future__ import annotations

from text_sentiment_analysis_in_hadoop_and_spark_spark.__main__ import main


def test_cli_list_filters_and_tags(capsys):
    assert main(["list", "--prefix", "nb_"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert all(line.split("\t")[0].startswith("nb_") for line in out)
    assert any("\toracle" in line for line in out)


def test_cli_oracle_prints_sql_and_flags_rows_only(capsys):
    assert main(["oracle", "events_ohlc"]) == 0
    assert "first_value" in capsys.readouterr().out
    assert main(["oracle", "sim_topk_ivf"]) == 1  # rows-only by design
    assert "rows-only" in capsys.readouterr().err


def test_cli_unknown_query_suggests(capsys):
    assert main(["run", "nb_nope"]) == 1
    err = capsys.readouterr().err
    assert "unknown query" in err and "nb_" in err


def test_cli_run_executes_on_the_live_session(spark, capsys):
    from conftest import SF_DIR

    assert main(["run", "nb_accuracy", "--sf-dir", SF_DIR]) == 0
    assert "Row(" in capsys.readouterr().out


def test_cli_parity_subcommand_runs_the_gate():
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "text_sentiment_analysis_in_hadoop_and_spark_spark",
            "parity",
            "rel_pricing_summary",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0
    assert "1/1 queries match" in out.stdout


def test_cli_classify_runs_the_reference_program(spark, tmp_path, capsys):
    """``classify`` is the reference's whole program (Hadoop/NB.java:
    273-341): CSV → parse → clean → NB → text dir → console report."""
    from conftest import write_tweets_csv
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.nb import (
        output_for_docs,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.csv import (
        frontdoor_docs,
        read_csv_fidelity,
    )

    csv, out = tmp_path / "tweets.csv", str(tmp_path / "out")
    write_tweets_csv(csv)
    assert main(["classify", str(csv), out]) == 0
    written = spark.read.option("sep", "\t").schema(
        "key STRING, sentiment STRING"
    ).csv(out)
    expect = output_for_docs(frontdoor_docs(read_csv_fidelity(spark, str(csv))))
    assert sorted(written.collect()) == sorted(expect.collect())
    # the 4 test docs classify by parity: 2 true positives, 2 true negatives
    report = capsys.readouterr().out
    assert "CONFUSION MATRIX\n2\t0\n0\t2\n" in report
    assert "ACCURACY: 1.0" in report
