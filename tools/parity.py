"""Local Spark↔DuckDB oracle parity checker (mimics the driver's t2).

Usage:  python tools/parity.py [sf_dir] [query_name ...]

For each declared query, runs the Spark DataFrame and the DuckDB
oracle SQL over the same parquet tables and compares row count, column
names, and (order-insensitively) values.  Floats compare with a 1e-9
absolute tolerance — queries are expected to round exposed doubles so
the driver's value-hash matches exactly.

NULL-semantics boundaries (audited r9, tests/test_null_parity.py):
conditional AGGREGATES pin the oracle's CASE-ELSE NULL behavior with
explicit when/otherwise (the rel_q12 class — every divergent site was
swept and fixed in r9, proven on NULL-injected tables).  WINDOW
ordering keys are a documented assumption instead: Spark defaults ASC
NULLS FIRST where DuckDB defaults NULLS LAST, so any OVER(ORDER BY)
over a NULL key would diverge — both sides are written against the
warehouse-standard contract that event timestamps and ordering keys
are NOT NULL (a production ingest quarantines unparseable timestamps
before sessionization; the synthetic tables honor it).  A query
ordering a window over a genuinely nullable key must spell NULLS
FIRST/LAST explicitly on BOTH engines.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from text_sentiment_analysis_in_hadoop_and_spark_spark.sources.tables import (  # noqa: E402
    TABLE_NAMES,
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _sort_key(t, ndigits=6):
    """Row sort key with floats rounded to ``ndigits`` decimals:
    sub-round noise can't reorder rows differently per engine and
    misalign the pairwise zip (ADVICE r1) — queries expose doubles
    rounded to 6."""
    ks = []
    for v in t:
        if isinstance(v, float):
            v = "NaN" if math.isnan(v) else round(v, ndigits)
        ks.append(str(v))
    return tuple(ks)


def canon(rows, cols, ndigits=6):
    """Order-insensitive canonical form: sort columns by name, then
    rows (by the rounded key — but the ORIGINAL values are kept for
    the 1e-9 comparison, so sub-round divergence still fails;
    ADVICE r2)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    out.sort(key=lambda t: _sort_key(t, ndigits))
    return [cols[i] for i in idx], out


# --- typed comparison (r10 verdict #2) -------------------------------
#
# The driver's value-hash is TYPED: an integer-equal DuckDB HUGEINT
# (what `sum(BIGINT)` returns) hashes differently from Spark's BIGINT,
# so a value-tolerant compare alone lets the class ship (it did, twice,
# in r10: events_changepoint / sql_script_median_search).  Canonicalize
# both engines' DECLARED column types to a shared token and fail on any
# mismatch — before values are even fetched.

# driver-proven-equivalent pairs (spark_token, duck_token): add only
# with a citation to a green CORRECTNESS row that pins the pair.
_ALLOWED_TYPE_PAIRS: set[tuple[str, str]] = {
    # int32 vs BIGINT hash identically in the driver: proven by
    # rel_revenue_grouping_sets + rel_yearly_growth (CORRECTNESS_r05,
    # 'year' i32 vs i64) and text_heaps_curve (r08, 'decile') — the
    # width canonicalizes; only the 64↔128 (HUGEINT) step diverges.
    ("i32", "i64"),
}


def _canon_spark_type(s: str) -> str:
    """Spark DataType.simpleString() → canonical token."""
    s = s.strip().lower()
    if s.startswith("array<") and s.endswith(">"):
        return f"list<{_canon_spark_type(s[6:-1])}>"
    if s.startswith("string collate"):
        # collation is comparison metadata, not a value representation —
        # driver-proven by sql_collated_priority (CORRECTNESS_r09)
        return "str"
    if s.startswith("decimal"):
        return "dec" + s[7:].replace(" ", "")
    return {
        "bigint": "i64", "int": "i32", "smallint": "i16",
        "tinyint": "i8", "double": "f64", "float": "f32",
        "string": "str", "boolean": "bool", "date": "date",
        # Spark 'timestamp' is TIMESTAMP WITH LOCAL TIME ZONE (an
        # instant); 'timestamp_ntz' is the naive wall-clock type.
        # Distinct tokens (ADVICE r11) so a tz-aware vs naive
        # divergence — the declared-type escape class this gate was
        # built for — can't pass silently; proven-equivalent pairs go
        # through _ALLOWED_TYPE_PAIRS with a CORRECTNESS citation.
        "timestamp": "tstz", "timestamp_ntz": "ts", "binary": "bytes",
    }.get(s, s)


def _canon_duck_type(s: str) -> str:
    """str(duckdb LogicalType) → canonical token."""
    s = s.strip().upper()
    if s.endswith("[]"):
        return f"list<{_canon_duck_type(s[:-2])}>"
    if s.startswith("DECIMAL"):
        return "dec" + s[7:].replace(" ", "").lower()
    return {
        "BIGINT": "i64", "INTEGER": "i32", "SMALLINT": "i16",
        "TINYINT": "i8", "HUGEINT": "i128", "UBIGINT": "u64",
        "UINTEGER": "u32", "DOUBLE": "f64", "FLOAT": "f32",
        "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
        "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "tstz",
        "BLOB": "bytes",
    }.get(s, s.lower())


def type_errors(spark_df, duck_rel) -> list[str]:
    """Compare declared column types (sorted by column name) between the
    Spark plan and the DuckDB relation — both are available WITHOUT
    executing either side.  Returns human-readable mismatch strings."""
    s_map = {
        f.name.lower(): _canon_spark_type(f.dataType.simpleString())
        for f in spark_df.schema.fields
    }
    o_map = {
        c.lower(): _canon_duck_type(str(t))
        for c, t in zip(duck_rel.columns, duck_rel.types)
    }
    errs = []
    # duplicate output names (legal in a SELECT on either engine)
    # collapse in the lowercased maps and would escape both the
    # column-set and type checks (ADVICE r11) — report them instead
    if len(s_map) != len(spark_df.schema.fields):
        errs.append(
            "duplicate column names in Spark output: "
            f"{sorted(f.name.lower() for f in spark_df.schema.fields)}"
        )
    if len(o_map) != len(duck_rel.columns):
        errs.append(
            "duplicate column names in oracle output: "
            f"{sorted(c.lower() for c in duck_rel.columns)}"
        )
    # column-SET divergence is an error here too (r11 self-review):
    # in --typecheck mode nothing downstream compares schemas, so an
    # intersection-only loop would print a green check for an oracle
    # that misnames, drops, or adds a column
    only_s = sorted(set(s_map) - set(o_map))
    only_o = sorted(set(o_map) - set(s_map))
    if only_s or only_o:
        errs.append(
            f"column set mismatch: spark-only={only_s} "
            f"oracle-only={only_o}"
        )
    for col in sorted(set(s_map) & set(o_map)):
        st, ot = s_map[col], o_map[col]
        if st != ot and (st, ot) not in _ALLOWED_TYPE_PAIRS:
            errs.append(
                f"type mismatch on '{col}': spark={st} oracle={ot} "
                "(driver hash is typed — CAST the oracle side)"
            )
    return errs


def _zip_errors(srows, orows) -> list[str]:
    errs = []
    bad = 0
    for a, b in zip(srows, orows):
        for x, y in zip(a, b):
            ok = (
                x == y
                or (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and (
                        x == y
                        or abs(x - y) <= 1e-9
                        or (math.isnan(x) and math.isnan(y))
                    )
                )
            )
            if not ok:
                bad += 1
                if bad <= 3:
                    errs.append(f"value mismatch: spark={a} oracle={b}")
                break
    if bad:
        errs.append(f"{bad}/{len(srows)} mismatched rows")
    return errs


def compare(name, spark_df, oracle_rows, oracle_cols) -> list[str]:
    s_cols = [c.lower() for c in spark_df.columns]
    rows = [tuple(r) for r in spark_df.collect()]
    o_cols = [c.lower() for c in oracle_cols]
    sc, srows = canon(rows, s_cols)
    oc, orows = canon([tuple(r) for r in oracle_rows], o_cols)
    if sc != oc:
        return [f"schema mismatch: spark={sc} oracle={oc}"]
    if len(srows) != len(orows):
        return [f"row count: spark={len(srows)} oracle={len(orows)}"]
    errs = _zip_errors(srows, orows)
    if errs:
        # ADVICE r3: two values within the 1e-9 tolerance can straddle a
        # 6-decimal rounding boundary, sort into different positions,
        # and misalign the zip.  Before declaring failure, re-sort both
        # sides on a coarser 5-decimal key and re-compare.
        _, srows5 = canon(rows, s_cols, ndigits=5)
        _, orows5 = canon([tuple(r) for r in oracle_rows], o_cols, ndigits=5)
        if not _zip_errors(srows5, orows5):
            return []
    return errs


def main() -> int:
    args = [
        a for a in sys.argv[1:] if a not in ("--window", "--typecheck")
    ]
    window_only = "--window" in sys.argv[1:]
    typecheck_only = "--typecheck" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    import __spark_entry__ as entrymod
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

    spark = get_spark("parity_check")
    con = duck_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if window_only:
        # pre-flight exactly the driver's correctness gate: the first
        # 50 queries() entries (the rotation window).  Print the
        # derived window so a checkout whose CORRECTNESS_r*.json or
        # plans/ set differs from the committed one is VISIBLE (the
        # import-time _PROMOTED derivation reads both)
        window = list(queries)[:50]
        print("derived driver window (first 50, registration order):")
        for n in window:
            print(f"  {n}")
        only |= set(window)
    # The rows-only manifest must match reality exactly: every declared
    # query either has an oracle or is documented as intentionally
    # oracle-free (r4 verdict item 7).
    declared_rows_only = entrymod.rows_only()
    actual_rows_only = set(queries) - set(oracles)
    if actual_rows_only != set(declared_rows_only):
        print(
            "✗ rows_only() manifest out of sync: "
            f"undeclared={sorted(actual_rows_only - declared_rows_only)} "
            f"stale={sorted(set(declared_rows_only) - actual_rows_only)}"
        )
        return 1
    failed = []
    ran = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        ran += 1
        sql = oracles.get(name)
        try:
            df = fn(spark, sf_dir)
            if sql is None:
                if not typecheck_only:
                    n = df.count()
                    print(
                        f"  {name}: rows-only ({n} rows) — "
                        "intentionally no oracle (rows_only() manifest)"
                    )
                continue
            rel = con.sql(sql)
            errs = type_errors(df, rel)
            if typecheck_only:
                # declared-type sweep only: no VALUES are fetched or
                # compared (DuckDB only binds).  NOT free, though —
                # building some Spark plans runs real jobs (bounded
                # side-input collects: corpus stats, bijection checks,
                # CV folds), so the full sweep takes minutes at
                # sf0.001, still far cheaper than value parity.
                pass
            elif not errs:
                o_cols = list(rel.columns)
                o_rows = rel.fetchall()
                errs = compare(name, df, o_rows, o_cols)
        except Exception as e:  # noqa: BLE001
            errs = [f"exception: {type(e).__name__}: {e}"]
        if errs:
            failed.append(name)
            print(f"✗ {name}")
            for e in errs[:5]:
                print(f"    {e}")
        else:
            print(f"✓ {name}")
    print(f"\n{ran - len(failed)}/{ran} queries match")
    # release memoized .cache()'d DataFrames before exit (r3 verdict
    # item 6) so a wrapper looping over several sf_dirs stays flat
    from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import common

    common.clear_caches()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
