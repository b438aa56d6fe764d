"""Connected-components dedup clustering (operators/dedup.py):
verified near-dup pairs resolve into clusters labeled by component-min
doc_id; docs with no verified pair stay singletons, and min-label
propagation runs to convergence however deep the component is.
Transitive closure on a real multi-hop component is pinned by the
recursive-CTE oracle parity at sf0.01 (a 3-member cluster exists
there)."""

from __future__ import annotations

from pyspark.sql import functions as F

from text_sentiment_analysis_in_hadoop_and_spark_spark.operators.dedup import (
    JACCARD_DUP_MIN,
    connected_components,
    q_dedup_clusters,
    q_jaccard_pairs,
)


def test_chain_merges_and_singletons_stay(spark, tmp_path):
    # doc 1 = base; doc 2 = one token swapped; doc 3 = one more swap on
    # top of doc 2; doc 4 = disjoint vocabulary.  This configuration is
    # deterministic: all three pairwise LSH candidacies land, jaccards
    # are ~0.9/0.9/0.81, all above the edge threshold.
    words = [f"w{i:02d}" for i in range(60)]
    a = " ".join(words)
    bl = list(words)
    bl[5] = "xchg1"
    b = " ".join(bl)
    cl = list(bl)
    cl[40] = "xchg2"
    c = " ".join(cl)
    d = " ".join(f"zz{i}" for i in range(30))

    base = tmp_path / "cc"
    spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id BIGINT, text STRING"
    ).coalesce(1).write.parquet(str(base / "documents.parquet"))
    sf = str(base)

    edges = q_jaccard_pairs(spark, sf).filter(
        F.col("jaccard") >= JACCARD_DUP_MIN
    )
    assert edges.count() == 3  # the premise: 1-2, 2-3, 1-3 all verified

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in q_dedup_clusters(spark, sf).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_propagation_converges_on_a_chain_deeper_than_25_hops(spark):
    """A 40-node path has diameter 39: min-label propagation needs 39
    rounds to carry label 0 to the far end.  The loop runs until no
    label drops, so every node must come back labelled 0 — a loop
    capped at 25 rounds returns label 7 for node 32."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a LONG, doc_b LONG"
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(n)}
