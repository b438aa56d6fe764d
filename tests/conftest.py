from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


def write_tweets_csv(path, n: int = 16) -> None:
    """A Sentiment140-layout CSV (ItemID,Sentiment,Source,Text): ids
    cover both label parities and both split residues, and the two
    classes use disjoint words."""
    path.write_text(
        "".join(
            f"{i},{i % 2},Sentiment140,tweet number {i} says "
            + ("great happy fun" if i % 2 else "awful sad bad")
            + "\n"
            for i in range(n)
        )
    )


@pytest.fixture(scope="session")
def spark():
    from text_sentiment_analysis_in_hadoop_and_spark_spark.session import get_spark

    return get_spark("tsa_tests", master="local[4]", shuffle_partitions=8)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from tools.parity import duck_connection

    con = duck_connection(SF_DIR)
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: bench-scale checks at sf0.1 (deselect with -m 'not slow')",
    )
