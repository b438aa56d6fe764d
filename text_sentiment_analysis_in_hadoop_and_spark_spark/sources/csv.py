"""CSV ingestion in fidelity mode: the reference's naive splitter.

The reference parses the Sentiment140 CSV layout
``ItemID, Sentiment, SentimentSource, SentimentText`` with a naive
``split(",")`` plus a re-stitch: if a line has more than 4 fields, the
extra fields (commas inside the tweet text) are appended back onto
column 3 WITHOUT the comma characters —
/root/reference/Spark/NB/src/main/scala/NB.scala:19-32
(``columns(3) += columns(i)``), duplicated in all four Scala apps and
in /root/reference/Hadoop/NB.java:52-61.  Quotes are NOT handled; they
survive into the text and die later in the punctuation regex.

``fidelity_parse`` reproduces that exactly as a pure Column expression
(S3).  A user migrating off the reference who accepts the (intended)
semantic difference switches to Spark's own CSV reader with quote
handling (``spark.read.option("escape", '"').csv``).

Difference vs Java kept in mind: Java's ``split(",")`` drops trailing
empty fields; Spark's keeps them.  Sentiment140 text is never empty,
and the engine only reads fields 0-3 plus the re-stitched tail, so the
distinction is unobservable for the reference layout; documented here
for honesty.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

def fidelity_parse(line: Column) -> list[Column]:
    """S3 — naive comma split + comma-destroying re-stitch, as four
    Column expressions over a raw line."""
    arr = F.split(line, ",")
    n = F.size(arr)
    text = F.when(
        n > 4, F.concat_ws("", F.slice(arr, 4, n - 3))
    ).otherwise(F.element_at(arr, 4))
    return [
        F.element_at(arr, 1).alias("item_id"),
        F.element_at(arr, 2).alias("sentiment"),
        F.element_at(arr, 3).alias("source"),
        text.alias("text"),
    ]


def read_csv_fidelity(spark: SparkSession, path: str) -> DataFrame:
    """Read a Sentiment140-layout CSV the way the reference does."""
    lines = spark.read.text(path)
    return lines.select(*fidelity_parse(F.col("value")))


# --------------------------------------------------------------------------
# queries() entry: synthesize CSV-shaped lines from `documents`, then
# fidelity-parse them — oracle-checkable without any extra input file.
# The synthesized text embeds a comma (first space becomes ","), so the
# >4-field re-stitch path is actually exercised.
# --------------------------------------------------------------------------


def _synth_line(df: DataFrame) -> Column:
    noisy_text = F.regexp_replace(F.col("text"), r"^(\w+) ", r"$1,")
    return F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        (F.col("doc_id") % 2).cast("string"),
        F.lit("Sentiment140"),
        noisy_text,
    )


def q_csv_fidelity_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(_synth_line(docs).alias("line"))
    return lines.select(*fidelity_parse(F.col("line")))


def frontdoor_docs(parsed: DataFrame) -> DataFrame:
    """Parsed Sentiment140 columns → the engine's cleaned-docs shape
    (doc_id, label, text).  Label comes from the CSV's sentiment column
    — the reference's P9 label decode (Hadoop/NB.java:63-64), not the
    synthetic doc_id%2 derivation the parquet path is forced into."""
    from ..functions.cleaning import clean_text

    return parsed.select(
        F.col("item_id").cast("bigint").alias("doc_id"),
        F.col("sentiment").cast("int").alias("label"),
        clean_text(F.col("text")).alias("text"),
    )


# Parsed+cleaned front-door docs are read by four passes inside one
# query (stats collect, vocab agg, test tokens, output text join) —
# the 7-regex clean chain dominates, so memoize like labeled_docs.
# (imported here, not at the top: operators.common pulls in the
# cleaning/table machinery this source module otherwise never needs)
from ..operators.common import memo, rebalance_scan  # noqa: E402


@memo
def _frontdoor_docs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import load_table

    docs = rebalance_scan(spark, load_table(spark, sf_dir, "documents"))
    lines = docs.select(_synth_line(docs).alias("line"))
    parsed = lines.select(*fidelity_parse(F.col("line")))
    return frontdoor_docs(parsed).cache()


def q_csv_nb_frontdoor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable twin of the ``classify`` command's chain: the CSV
    lines are synthesized from `documents` (embedded comma exercises the
    re-stitch), then the identical parse→clean→train→predict→format
    chain runs.  End-to-end this covers S1+S3+P2..P11+A1..A3+J1+M8+M9+S6
    in a single DAG — the whole reference program."""
    from ..operators.nb import output_for_docs

    return output_for_docs(_frontdoor_docs_cached(spark, sf_dir))


_SYNTH_LINES_CTE = (
    "lines AS (SELECT doc_id::VARCHAR || ',' || (doc_id % 2)::VARCHAR "
    "|| ',Sentiment140,' || regexp_replace(text, '^(\\w+) ', '\\1,') AS line "
    "FROM documents)"
)

_PARSE_SELECT = (
    "SELECT arr[1] AS item_id, arr[2] AS sentiment, arr[3] AS source, "
    "CASE WHEN len(arr) > 4 "
    "THEN array_to_string(list_slice(arr, 4, len(arr)), '') "
    "ELSE arr[4] END AS text "
    "FROM (SELECT string_split(line, ',') AS arr FROM lines)"
)

_CSV_ORACLE = f"WITH {_SYNTH_LINES_CTE} {_PARSE_SELECT}"


def _frontdoor_oracle() -> str:
    from ..functions.cleaning import clean_text_sql
    from ..operators.nb import output_oracle_sql

    docs_cte = (
        f"docs AS (WITH {_SYNTH_LINES_CTE}, parsed AS ({_PARSE_SELECT}) "
        "SELECT CAST(item_id AS BIGINT) AS doc_id, "
        "CAST(sentiment AS INTEGER) AS label, "
        f"{clean_text_sql('text')} AS text FROM parsed)"
    )
    return output_oracle_sql(docs_cte)


def bench_prepare_frontdoor_warm(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the synthesized-CSV → fidelity-parse → 7-regex clean
    front-door cache so the bench bills the build as its OWN entry
    (``csv_frontdoor_warm``) instead of whichever family query touches
    it first.  r10's nb_cv refactor relocated exactly this cost onto
    ``csv_nb_frontdoor`` (1.52→4.76 s committed) while the standalone
    warm probe stayed at the r9 level (1.4–1.5 s) — a billing artifact,
    not a plan regression (r10 verdict #4 adjudication, BENCH_NOTES
    r11).  No-op when the cache is already warm."""
    _frontdoor_docs_cached(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


BENCH_PREPARE = {"csv_frontdoor_warm": bench_prepare_frontdoor_warm}


ORACLES: dict[str, str] = {
    "csv_fidelity_parse": _CSV_ORACLE,
    "csv_nb_frontdoor": _frontdoor_oracle(),
}

QUERIES = {
    "csv_fidelity_parse": q_csv_fidelity_parse,
    "csv_nb_frontdoor": q_csv_nb_frontdoor,
}
