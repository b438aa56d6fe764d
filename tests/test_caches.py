"""Cache eviction (ADVICE r2): memoized .cache()'d plans must be
releasable per sf_dir so long-lived sessions don't leak storage — and
every memo goes through the one ``common.memo`` primitive, whose key,
store and eviction contract is pinned here."""

from __future__ import annotations

import ast
import os

import pytest
from conftest import SF_DIR

from text_sentiment_analysis_in_hadoop_and_spark_spark.operators import (
    common,
    dedup,
    ml,
    nb,
    similarity,
    tfidf,
)
from text_sentiment_analysis_in_hadoop_and_spark_spark.sources import (
    evolution,
    fixedwidth,
    orc,
    xmlsrc,
)

PACKAGE = os.path.dirname(os.path.dirname(os.path.abspath(common.__file__)))


def _entries() -> int:
    return sum(len(d) for d in common._CACHE_REGISTRY)


def test_clear_caches_evicts_and_unpersists(spark):
    nb.nb_model(spark, SF_DIR)  # populates docs + model caches
    key = (spark.sparkContext.applicationId, SF_DIR)
    assert key in common.labeled_docs.memo
    assert key in nb.nb_model.memo
    cached_docs = common.labeled_docs.memo[key]

    common.clear_caches(sf_dir="/some/other/dir")  # no-op for SF_DIR
    assert key in common.labeled_docs.memo

    common.clear_caches(sf_dir=SF_DIR)
    assert key not in common.labeled_docs.memo
    assert key not in nb.nb_model.memo
    assert not cached_docs.storageLevel.useMemory  # unpersisted

    # engine still works after eviction (repopulates)
    assert nb.nb_model(spark, SF_DIR)[1]["tweets"] > 0
    common.clear_caches()  # wholesale clear also succeeds
    assert not common.labeled_docs.memo


def test_memo_applies_defaults_to_the_key(spark):
    a = ml.ml_predictions(spark, SF_DIR, "nb", 0)
    b = ml.ml_predictions(spark, SF_DIR, "nb", 0, leak_free=False)
    assert a is b
    app = spark.sparkContext.applicationId
    keys = [k for k in ml.ml_predictions.memo if k[:3] == (app, SF_DIR, "nb")]
    assert keys == [(app, SF_DIR, "nb", 0, False)]


def test_ivf_assignments_is_one_memo_entry(spark):
    a = similarity.ivf_assignments(spark, SF_DIR)
    b = similarity.ivf_assignments(spark, SF_DIR)
    assert a is b
    app = spark.sparkContext.applicationId
    keys = [k for k in similarity.ivf_assignments.memo if k[:2] == (app, SF_DIR)]
    assert keys == [(app, SF_DIR)]


def test_memo_stores_false_but_not_none(spark, monkeypatch):
    # countDistinct skips the NULL shingle, xxhash64(NULL) is the seed:
    # the hash count exceeds the string count, so the check says False
    reads = []

    def shingles(spark_, sf_dir):
        reads.append(sf_dir)
        return spark_.createDataFrame([("a",), (None,)], "shingle STRING")

    monkeypatch.setattr(dedup, "_shingles_cached", shingles)
    sf = "/memo-contract/bijective"
    key = (spark.sparkContext.applicationId, sf)
    try:
        assert dedup._corpus_hash_bijective(spark, sf) is False
        assert dedup._corpus_hash_bijective(spark, sf) is False
        assert reads == [sf]  # built once: the False verdict was stored
        assert dedup._corpus_hash_bijective.memo[key] is False
    finally:
        common.clear_caches(sf)

    builds = []

    @common.memo
    def nothing(spark_, sf_dir):
        builds.append(sf_dir)

    assert nothing(spark, sf) is None
    assert nothing(spark, sf) is None
    assert builds == [sf, sf]
    assert not nothing.memo


def test_sf_filter_keeps_longer_keys_of_other_datasets(spark):
    ml.ml_predictions(spark, SF_DIR, "nb", 0)
    key = (spark.sparkContext.applicationId, SF_DIR, "nb", 0, False)
    entry = ml.ml_predictions.memo[key]
    common.clear_caches(sf_dir="/other")
    assert ml.ml_predictions.memo[key] is entry


def test_each_new_build_adds_exactly_one_entry(spark):
    common.clear_caches(SF_DIR)
    n = _entries()
    common.labeled_docs(spark, SF_DIR)
    assert _entries() == n + 1
    common.labeled_docs(spark, SF_DIR)  # hit
    assert _entries() == n + 1
    nb.nb_model(spark, SF_DIR)  # docs are a hit, the model is new
    assert _entries() == n + 2
    tfidf.featsel_model(spark, SF_DIR)  # builds featsel, then the model
    assert _entries() == n + 4
    ml.ml_predictions(spark, SF_DIR, "nb", 5)
    assert _entries() == n + 5
    common.clear_caches(SF_DIR)
    assert _entries() == n


@pytest.mark.parametrize(
    "path_of, memo_fn, query",
    [
        (xmlsrc.xml_table_path, xmlsrc._xml_dir, xmlsrc.q_xml_roundtrip_stats),
        (orc.orc_table_path, orc._orc_dir, orc.q_orc_roundtrip_stats),
        (
            evolution.evolution_path,
            evolution._evolution_dir,
            evolution.q_evolution_census,
        ),
        (
            fixedwidth.fixedwidth_path,
            fixedwidth._fixedwidth_dir,
            fixedwidth.q_fixedwidth_census,
        ),
    ],
)
def test_materialized_sources_are_removed_on_eviction(
    spark, path_of, memo_fn, query
):
    key = (spark.sparkContext.applicationId, SF_DIR)
    path = path_of(spark, SF_DIR)
    assert isinstance(path, str) and os.path.isdir(path)
    rows = sorted(tuple(r) for r in query(spark, SF_DIR).collect())

    common.clear_caches(SF_DIR)
    assert key not in memo_fn.memo
    assert not os.path.exists(os.path.dirname(path))

    again = sorted(tuple(r) for r in query(spark, SF_DIR).collect())
    assert again == rows and rows
    assert key in memo_fn.memo
    assert os.path.isdir(path_of(spark, SF_DIR))
    common.clear_caches(SF_DIR)


# Module-level private flags that pick one of several plans kept A/B
# losers alive next to the plan that runs; none may come back.
_ALLOWED_SWITCHES = {
    "_FORCE_STRING_FALLBACK",  # test hook: runs the hash-collision fallback
}


def _is_plan_switch(name: str, value: ast.expr | None) -> bool:
    return (
        name.startswith("_")
        and name.isupper()
        and name not in _ALLOWED_SWITCHES
        and isinstance(value, ast.Constant)
        and (
            isinstance(value.value, bool)
            or (isinstance(value.value, str) and value.value.isidentifier())
        )
    )


def _guard_findings(tree: ast.Module, memos: bool) -> list[str]:
    """Plan switches anywhere; with ``memos``, hand-written memos too."""
    found = []
    for node in ast.walk(tree) if memos else []:
        if isinstance(node, ast.ImportFrom) and any(
            a.name == "register_cache" for a in node.names
        ):
            found.append(f"line {node.lineno}: imports register_cache")
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name.endswith("register_cache"):
                found.append(f"line {node.lineno}: calls {name}")
    for node in tree.body:
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign)
            else []
        )
        for t in targets:
            if not isinstance(t, ast.Name):
                continue
            if memos and t.id.endswith(("_CACHE", "_DIRS")):
                found.append(f"line {node.lineno}: module-level {t.id}")
            if _is_plan_switch(t.id, node.value):
                found.append(f"line {node.lineno}: plan switch {t.id}")
    return found


def test_no_hand_written_memos_outside_common():
    # memo dicts may live only in common.py; plan switches nowhere
    offenders = {}
    common_path = os.path.abspath(common.__file__)
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py"):
                continue
            with open(path, encoding="utf-8") as fh:
                found = _guard_findings(
                    ast.parse(fh.read()), memos=path != common_path
                )
            if found:
                offenders[os.path.relpath(path, PACKAGE)] = found
    assert not offenders, offenders
