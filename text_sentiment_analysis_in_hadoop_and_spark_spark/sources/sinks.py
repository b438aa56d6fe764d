"""Output sinks (S6/S7) — the reference writes tab-separated text
dirs via ``TextOutputFormat`` (/root/reference/Hadoop/NB.java:302,327)
and deletes pre-existing output dirs before each run
(/root/reference/Hadoop/NB.java:283-287;
Hadoop/Modified_NB.java:541-553).

Here both are one declarative write: ``mode("overwrite")`` IS the
delete-then-write (S7), and the sep option reproduces the
``key \\t value`` text layout (S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_text(
    df: DataFrame, path: str, sep: str = "\t", mode: str = "overwrite"
) -> None:
    """S6+S7 — tab-separated text sink with overwrite semantics."""
    df.write.mode(mode).option("sep", sep).option("header", "false").csv(path)
