"""Tests of the benchmark's own pieces that need no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from harness import fastest_pass, min_label_components, moved_share  # noqa: E402
from spans import Tracer, fold_event_log, union_length  # noqa: E402


def _bytes(sf_dir: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_identical_files_and_another_seed_does_not(tmp_path):
    args = dict(n_docs=400, dup_frac=0.3, n_orders=300)
    rec_a = gen.write_inputs(str(tmp_path / "a"), 7, **args)
    rec_b = gen.write_inputs(str(tmp_path / "b"), 7, **args)
    gen.write_inputs(str(tmp_path / "c"), 8, **args)
    assert rec_a == rec_b
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    a, c = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "c"))
    assert a.keys() == c.keys() == {
        f"{t}.parquet" for t in ("documents", "region", "nation", "customer", "orders", "lineitem")
    }
    assert a != c


def test_documents_have_the_requested_shape():
    table, rec = gen.documents_table(3, 2000, dup_frac=0.3)
    assert table.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert table.column("doc_id").to_pylist() == list(range(2000))
    assert 0.25 < rec["dup_frac"] < 0.35
    texts = table.column("text").to_pylist()
    assert table.column("n_chars").to_pylist() == [len(t) for t in texts]
    # every regex of the cleaning chain has something to strip
    for needle in ("http", "www.", "@user", "#", "&", "!"):
        assert any(needle in t for t in texts), needle
    assert any(any(c.isdigit() for c in t) for t in texts)
    assert any(any(c.isupper() for c in t) for t in texts)


def test_star_tables_keep_tpch_invariants():
    t = gen.star_tables(5, 1000)
    li, orders = t["lineitem"].to_pydict(), t["orders"].to_pydict()
    assert set(li["l_orderkey"]) <= set(orders["o_orderkey"])
    assert max(orders["o_custkey"]) < t["customer"].num_rows
    # two-decimal prices and whole-percent discounts keep cents arithmetic exact
    assert all(abs(p * 100 - round(p * 100)) < 1e-6 for p in li["l_extendedprice"])
    assert set(li["l_discount"]) <= {i / 100 for i in range(11)}
    assert "ASIA" in t["region"].column("r_name").to_pylist()
    assert {"R", "A", "N"} == set(li["l_returnflag"])


def test_moved_share():
    oracle = [(0, 0, 50), (0, 1, 50), (1, 0, 30), (1, 1, 70)]
    assert moved_share(oracle, oracle) == 0.0
    assert moved_share(oracle, [(0, 0, 49), (0, 1, 51), (1, 0, 30), (1, 1, 70)]) == 0.005
    # a row cannot change its label
    assert moved_share(oracle, [(0, 0, 51), (0, 1, 50), (1, 0, 29), (1, 1, 70)]) == 1.0


def test_fastest_pass_sums_each_programs_fastest_time():
    passes = [
        {"times": {"a": 3.0, "b": 1.0}},
        {"times": {"a": 2.0, "b": 1.5}},
        {"times": {"a": 2.5, "b": 1.2}},
    ]
    assert fastest_pass(passes) == 3.0


def test_min_label_components():
    got = min_label_components([0, 1, 2, 3, 4, 5], [(3, 1), (1, 4), (2, 5)])
    assert got == [(0, 0), (1, 1), (2, 2), (3, 1), (4, 1), (5, 2)]


class _FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_spans_self_time_and_event_log_fold(tmp_path):
    sc = _FakeContext()
    tracer = Tracer(sc)
    with tracer.span("pass") as root:
        with tracer.span("nb.train") as child:
            assert sc.props["spark.jobGroup.id"] == child.id
        assert sc.props["spark.jobGroup.id"] == root.id
    assert sc.props["spark.jobGroup.id"] is None
    assert abs(tracer.self_time(root) - (root.wall - child.wall)) < 1e-9
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Stage Infos": [{"Stage Name": "treeAggregate at IDF.scala:1"}],
         "Properties": {"spark.jobGroup.id": child.id}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 2e8, "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1048576},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1100, "Completion Time": 1600,
            "RDD Info": [{"Name": "MapPartitionsRDD"}, {"Name": "FileScanRDD"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1700},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "time": 1050, "physicalPlanDescription": "InMemoryTableScan x\nInMemoryTableScan y"},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    ev = fold_event_log(str(path))
    (job,) = ev.jobs_in({child.id})
    assert (job.start, job.end) == (1.0, 1.7)
    (stage,) = ev.stages_of([job])
    assert (stage.tasks, stage.run_s, stage.cpu_s, stage.gc_s) == (1, 0.5, 0.2, 0.01)
    assert (stage.shuffle_read_mb, stage.shuffle_write_mb) == (1.0, 2.0)
    assert stage.scan
    assert ev.sql[0][1].count("InMemoryTableScan") == 2
