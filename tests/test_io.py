"""CSV fidelity ingestion (S3) and sinks (S6/S7)."""

from __future__ import annotations

import __spark_entry__ as entrymod
from pyspark.sql import Row
from tools.parity import compare

from conftest import SF_DIR, write_tweets_csv


def _read_text(spark, path, schema):
    """Read back a tab-separated write_text directory."""
    return spark.read.option("sep", "\t").schema(schema).csv(path)


def test_csv_fidelity_restitch(spark):
    """Commas inside the text column are destroyed by the re-stitch —
    the reference's exact (lossy) behavior, NB.scala:19-32."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.csv import (
        fidelity_parse,
    )
    from pyspark.sql import functions as F

    lines = spark.createDataFrame(
        [
            ("1,0,src,hello world",),
            ("2,1,src,good, morning, friends",),
            ("3,0,src,plain",),
        ],
        ["value"],
    )
    rows = {r["item_id"]: r for r in lines.select(*fidelity_parse(F.col("value"))).collect()}
    assert rows["1"]["text"] == "hello world"
    # commas are LOST, fields concatenated without separator
    assert rows["2"]["text"] == "good morning friends"
    assert rows["3"]["text"] == "plain"


def test_csv_fidelity_oracle_parity(spark, duck):
    df = entrymod.queries()["csv_fidelity_parse"](spark, SF_DIR)
    res = duck.execute(entrymod.oracle_sql()["csv_fidelity_parse"])
    errs = compare(
        "csv_fidelity_parse", df, res.fetchall(), [d[0] for d in res.description]
    )
    assert not errs, errs


def test_text_sink_roundtrip_and_overwrite(spark, tmp_path):
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.sinks import (
        write_text,
    )

    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [Row(doc_id=1, verdict="POSITIVE"), Row(doc_id=2, verdict="NEGATIVE")]
    )
    write_text(df, out)
    # S7: overwrite must replace, not append or fail
    write_text(df, out)
    back = _read_text(spark, out, "doc_id INT, verdict STRING")
    assert sorted((r["doc_id"], r["verdict"]) for r in back.collect()) == [
        (1, "POSITIVE"),
        (2, "NEGATIVE"),
    ]


def test_nb_output_rows_roundtrip(spark, tmp_path):
    """The reference's final output rows (NB.java:257,266,302):
    ``id@cleaned_text`` TAB ``POSITIVE|NEGATIVE`` — write through the
    text sink and read back byte-identically."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.sinks import (
        write_text,
    )

    df = entrymod.queries()["nb_output"](spark, SF_DIR)
    rows = {r["key"]: r["sentiment"] for r in df.collect()}
    assert rows, "nb_output produced no rows"
    assert set(rows.values()) <= {"POSITIVE", "NEGATIVE"}
    assert all("@" in k for k in rows)

    out = str(tmp_path / "nb_out")
    write_text(df, out)
    back = _read_text(spark, out, "key STRING, sentiment STRING")
    assert {r["key"]: r["sentiment"] for r in back.collect()} == rows


def test_frontdoor_csv_file_to_text_sink(spark, tmp_path):
    """End-to-end front door (r3 verdict item 4): a raw tweets.csv on
    disk → fidelity parse → clean → train → predict → text sink dir,
    matching the reference's whole program (Hadoop/NB.java:273-341).
    doc_ids cover both label parities and both split residues."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.nb import (
        output_for_docs,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.csv import (
        frontdoor_docs,
        read_csv_fidelity,
    )
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.sinks import (
        write_text,
    )

    p = tmp_path / "tweets.csv"
    write_tweets_csv(p)
    out_rows = output_for_docs(frontdoor_docs(read_csv_fidelity(spark, str(p))))
    rows = {r["key"]: r["sentiment"] for r in out_rows.collect()}
    # test split = doc_id % 8 in {0, 1} → ids 0,1,8,9
    assert len(rows) == 4
    assert set(rows.values()) <= {"POSITIVE", "NEGATIVE"}
    assert all("@" in k for k in rows)
    # train vocabulary is perfectly separable → test docs classify by parity
    for key, sentiment in rows.items():
        doc_id = int(key.split("@", 1)[0])
        assert sentiment == ("POSITIVE" if doc_id % 2 else "NEGATIVE")

    out = str(tmp_path / "frontdoor_out")
    write_text(out_rows, out)
    back = _read_text(spark, out, "key STRING, sentiment STRING")
    assert {r["key"]: r["sentiment"] for r in back.collect()} == rows


def test_frontdoor_oracle_parity(spark, duck):
    df = entrymod.queries()["csv_nb_frontdoor"](spark, SF_DIR)
    res = duck.execute(entrymod.oracle_sql()["csv_nb_frontdoor"])
    errs = compare(
        "csv_nb_frontdoor", df, res.fetchall(), [d[0] for d in res.description]
    )
    assert not errs, errs


def test_parquet_sink_partitioning(spark, tmp_path):
    import os

    out = str(tmp_path / "pq")
    df = spark.createDataFrame(
        [Row(k="a", v=1), Row(k="b", v=2), Row(k="a", v=3)]
    )
    df.write.mode("overwrite").partitionBy("k").parquet(out)
    assert sorted(
        d for d in os.listdir(out) if d.startswith("k=")
    ) == ["k=a", "k=b"]
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_jsonl_corrupt_lines_are_tagged_not_dropped(spark):
    """PERMISSIVE parse: a broken line surfaces its raw bytes in
    _corrupt_record with NULL typed fields — never silently dropped,
    never poisoning valid rows."""
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.jsonl import (
        parse_jsonl,
    )

    lines = spark.createDataFrame(
        [
            ('{"doc_id": 1, "lang": "en", "n_chars": 5, "text": "hello"}',),
            ('{"doc_id": 2, "lang',),     # truncated mid-key
            ("not json at all",),
        ],
        "line STRING",
    )
    rows = parse_jsonl(lines).collect()
    assert len(rows) == 3
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["doc_id"] == 1
    assert len(bad) == 2
    assert all(r["doc_id"] is None for r in bad)
    assert bad[0]["_corrupt_record"].startswith('{"doc_id"') or bad[
        1
    ]["_corrupt_record"].startswith('{"doc_id"')


def test_sql_front_door_shares_the_optimizer(spark):
    """spark.sql over registered views and the DataFrame API are ONE
    engine: the literal-SQL Q1 produces the same rows as the
    DataFrame pricing summary's core columns, and its physical plan
    is the same shape (pushed filter + partial agg)."""
    import __spark_entry__ as entrymod
    from conftest import SF_DIR

    sql_rows = {
        (r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["count_order"])
        for r in entrymod.queries()["sql_pricing_summary"](
            spark, SF_DIR
        ).collect()
    }
    df_rows = {
        (r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["count_order"])
        for r in entrymod.queries()["rel_pricing_summary"](
            spark, SF_DIR
        ).collect()
    }
    assert sql_rows == df_rows

    plan = (
        entrymod.queries()["sql_pricing_summary"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan
    assert "partial_" in plan


# --- jsonl nested array<struct> round trip (r5) ----------------------

def test_jsonl_nested_roundtrip_preserves_every_item(spark):
    from conftest import SF_DIR
    from pyspark.sql import functions as F
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import (
        jsonl,
    )

    out = jsonl.q_jsonl_nested_flatten(spark, SF_DIR)
    li = spark.read.parquet(SF_DIR + "/lineitem.parquet")
    totals = out.agg(
        F.sum("n_items").alias("items"), F.sum("pk_checksum").alias("ck")
    ).collect()[0]
    expect = li.agg(
        F.count("*").alias("items"), F.sum("l_partkey").alias("ck")
    ).collect()[0]
    assert (totals["items"], totals["ck"]) == (
        expect["items"],
        expect["ck"],
    ), "items lost or duplicated through the nested round trip"


def test_jsonl_nested_parse_is_typed_not_inferred(spark):
    """The parse must go through the EXPLICIT array<struct> schema —
    a missing field comes back NULL-typed, never a schema error."""
    from pyspark.sql import functions as F
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.jsonl import (
        _NESTED_SCHEMA,
    )

    df = spark.createDataFrame(
        [('{"o": 7, "items": [{"pk": 1, "qty": 2.0}]}',)], "line string"
    ).select(F.from_json("line", _NESTED_SCHEMA).alias("j")).select("j.*")
    row = df.select(
        "o", F.explode("items").alias("it")
    ).select("o", "it.pk", "it.qty", "it.price").collect()[0]
    assert (row["o"], row["pk"], row["qty"], row["price"]) == (
        7,
        1,
        2.0,
        None,
    )


def test_sql_pipe_syntax_matches_classic_formulation(spark):
    """Spark 4's |> pipe dialect must produce exactly the classic
    query's rows — one parser feature, same optimizer underneath."""
    from conftest import SF_DIR

    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import sqlapi

    piped = sorted(
        map(tuple, sqlapi.q_sql_pipe_segments(spark, SF_DIR).collect())
    )
    classic = sorted(
        map(tuple, spark.sql(sqlapi.ORACLES["sql_pipe_segments"]).collect())
    )
    assert piped == classic and piped


def test_collated_grouping_folds_case_variants(spark):
    """A synthetic case-variant input must collapse under the
    UTF8_LCASE grouping exactly as under manual lower()."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os

    d = tempfile.mkdtemp(prefix="coll_")
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(6), pa.int64()),
            "o_custkey": pa.array([1] * 6, pa.int64()),
            "o_orderstatus": pa.array(["O"] * 6),
            "o_totalprice": pa.array([1.0] * 6),
            "o_orderdate": pa.array([0] * 6, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                ["1-URGENT", "1-urgent", "1-Urgent", "2-HIGH", "2-high", "3-LOW"]
            ),
        }
    )
    pq.write_table(tbl, os.path.join(d, "orders.parquet"))
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "documents", "embeddings"):
        from conftest import SF_DIR
        import shutil

        src = os.path.join(SF_DIR, f"{t}.parquet")
        shutil.copy(src, os.path.join(d, f"{t}.parquet"))
    from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import sqlapi

    rows = {
        r["priority"]: r["n_orders"]
        for r in sqlapi.q_sql_collated_priority(spark, d).collect()
    }
    assert rows == {"1-urgent": 3, "2-high": 2, "3-low": 1}


def test_identifier_indirection_matches_resolved_query(spark):
    from conftest import SF_DIR

    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import sqlfn

    via_ident = sorted(
        map(tuple, sqlfn.q_sql_identifier_rollup(spark, SF_DIR).collect())
    )
    resolved = sorted(
        map(
            tuple,
            spark.sql(sqlfn.ORACLES["sql_identifier_rollup"]).collect(),
        )
    )
    assert via_ident == resolved and via_ident
