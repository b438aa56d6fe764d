"""The round-over-round accounting tools: tools/bench_diff.py
(per-query regression diffing on the load-insensitive signal),
tools/rotation.py --status (the committed backlog manifest) and
tools/scale_probe.py's SCALING.md section writer.  A silent bug here
corrupts the repo's records, so they get the same test treatment as
operators."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod
import tools.bench_diff as bd
import tools.rotation as rotation
import tools.scale_probe as sp


def _rec(queries, min_of_k=None, memo_built=None):
    rec = {"queries": queries, "min_of_k": min_of_k or {}}
    if memo_built is not None:
        rec["memo_built"] = memo_built
    return rec


def test_bench_diff_min_of_k_only_when_both_sides_measured():
    """Cross-round comparability (r8 review): min_of_k is used only
    when BOTH rounds recorded it — a one-sided minimum against the
    other round's load-drifted first run prints spurious deltas."""
    with_mk = _rec({"q1": 10.0}, {"q1": 4.0})
    without_mk = _rec({"q1": 9.0})
    assert bd._best(with_mk, with_mk, "q1") == 4.0
    assert bd._best(with_mk, without_mk, "q1") == 10.0
    assert bd._best(without_mk, with_mk, "q1") == 9.0


def test_bench_diff_min_of_k_only_when_both_reruns_rebuilt_the_same():
    """A record without ``memo_built`` reran against its own first
    run's memos (a cached read); a newer one rebuilds them.  Their
    minima compare only where both sides built the same number of memo
    entries, else both sides fall back to first-run."""
    old = _rec({"memo_q": 10.0, "plain": 3.0}, {"memo_q": 0.05, "plain": 2.0})
    new = _rec(
        {"memo_q": 9.0, "plain": 3.1},
        {"memo_q": 4.0, "plain": 2.2},
        {"memo_q": 2},
    )
    assert bd._best(old, new, "memo_q") == 10.0
    assert bd._best(new, old, "memo_q") == 9.0
    assert bd._best(old, new, "plain") == 2.0  # builds 0 on both sides
    assert bd._best(new, old, "plain") == 2.2
    newer = _rec({"memo_q": 8.0}, {"memo_q": 3.5}, {"memo_q": 2})
    assert bd._best(new, newer, "memo_q") == 4.0
    assert bd._best(newer, new, "memo_q") == 3.5
    # first-run 10.0 -> 9.0 for memo_q, min-of-k 2.0 -> 2.2 for plain
    assert bd.comparable_pct(old, new) == round((11.2 / 12.0 - 1) * 100, 1)


def test_bench_diff_reports_added_removed_and_deltas(tmp_path, capsys):
    old = _rec({"a": 1.0, "b": 5.0, "gone": 2.0, "failed": -1.0}, {"b": 4.8})
    new = _rec({"a": 1.0, "b": 9.0, "fresh": 3.0}, {"b": 7.5})
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    assert bd.main(["bench_diff.py", str(po), str(pn)]) == 0
    out = capsys.readouterr().out
    # failed (-1) entries are excluded; added/removed named; the b
    # regression reported min-of-k vs min-of-k (both rounds have it)
    assert "fresh" in out and "gone" in out and "failed" not in out
    assert "4.80s ->    7.50s" in out


def test_rotation_status_manifest_is_consistent():
    st = rotation.status(entrymod)
    names = list(entrymod.queries())
    assert st["declared"] == len(names)
    assert (
        st["oracle_declared"] + st["rows_only_declared"] == st["declared"]
    )
    assert st["driver_green"] + st["never_checked"] == st["declared"]
    assert len(st["never_checked_names"]) == st["never_checked"]
    # window = never-checked names, then the reverify-due names, both
    # in registration order, then oldest-green padding
    never = st["never_checked_names"]
    due = [n for n in names if n in st["reverify_due"]]
    head = (never + due)[: rotation.WINDOW]
    assert st["next_window"][: len(head)] == head
    assert len(st["next_window"]) == min(rotation.WINDOW, st["declared"])
    assert (
        sum(st["never_checked_by_family"].values()) == st["never_checked"]
    )
    for n, (plan_round, green_round) in st["reverify_due"].items():
        assert n in names and n not in never
        assert plan_round > green_round
    # the manifest's window IS the driver's window
    assert st["next_window"] == names[: len(st["next_window"])]
    # every name is a declared query, in registration order
    pos = {n: i for i, n in enumerate(names)}
    order = [pos[n] for n in st["never_checked_names"]]
    assert order == sorted(order)


def test_bench_diff_comparable_pct():
    """The number bench.py stamps into the artifact at close (r8
    verdict #6): signed percent on common entries, min-of-k only when
    both rounds measured it, None when nothing is comparable."""
    old = _rec({"a": 1.0, "b": 5.0, "gone": 2.0}, {"b": 4.0})
    new = _rec({"a": 2.0, "b": 9.0, "fresh": 3.0}, {"b": 6.0})
    # comparable: a first-run 1.0→2.0, b min-of-k 4.0→6.0 → 5.0→8.0
    assert bd.comparable_pct(old, new) == 60.0
    assert bd.comparable_pct(_rec({"x": 1.0}), _rec({"y": 1.0})) is None
    # failed entries (-1) never count as comparable
    assert (
        bd.comparable_pct(_rec({"a": -1.0}), _rec({"a": 5.0})) is None
    )


def test_rotation_padding_is_oldest_green_first():
    """Once the backlog no longer fills the window, padding re-proves
    the OLDEST green rows first (ties by registration order) — pinned
    on a synthetic green map so the policy can't silently regress
    before the real backlog drains."""
    names = ["q1", "q2", "q3", "q4", "q5"]
    green = {
        "q2": "CORRECTNESS_r05.json",
        "q4": "CORRECTNESS_r03.json",
        "q5": "CORRECTNESS_r03.json",
    }
    # backlog q1,q3 fills first; then r03 greens (q4,q5 in
    # registration order), then the r05 green
    assert rotation.next_window(names, green, window=5) == [
        "q1", "q3", "q4", "q5", "q2",
    ]
    # window smaller than backlog: plain never-checked head
    assert rotation.next_window(names, green, window=2) == ["q1", "q3"]


def test_driver_green_tracks_latest_row(tmp_path, monkeypatch):
    """A name green in TWO rounds keys on the LATEST row (r9 advice):
    re-verification must advance the padding sort key, or the
    oldest-green-first rotation re-selects the same names forever
    once the backlog drains.  A later FAILED row must NOT erase an
    earlier green."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "qa": {"rows_match": True, "schema_match": True, "hash_match": True},
        "qb": {"rows_match": True, "schema_match": True, "hash_match": True},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "qa": {"rows_match": True, "schema_match": True, "hash_match": True},
        "qb": {"rows_match": False, "schema_match": True, "hash_match": False},
    }))
    monkeypatch.setattr(rotation, "REPO", str(tmp_path))
    green = rotation.driver_green()
    assert green["qa"] == "CORRECTNESS_r02.json"  # latest green wins
    assert green["qb"] == "CORRECTNESS_r01.json"  # failure doesn't erase
    # and the padding order now re-proves qb (stalest proof) before qa
    assert rotation.next_window(["qa", "qb"], green, window=2) == ["qb", "qa"]


def _green_row() -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": True}


def test_rotation_reverify_tier_from_plan_dumps(tmp_path, monkeypatch):
    """The reverify tier is derived from the plan dumps: a name is due
    when some plans/rNN/<name>_after.txt is newer than its latest
    green row.  Due names follow the never-checked ones and precede
    the oldest-green padding; a malformed CORRECTNESS file is
    skipped."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "q_old": _green_row(),
        "q_same": _green_row(),
        "q_pad": _green_row(),
        "q_regreen": _green_row(),
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "q_late": _green_row(),
        "q_regreen": _green_row(),
    }))
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    for rnd, name in [
        ("r01", "q_same"),  # same round as its green row: not due
        ("r02", "q_old"),  # newer than its r01 row: due
        ("r02", "q_late"),  # same round as its r02 row: not due
        ("r02", "q_regreen"),  # re-verified in r02 already: not due
        ("r02", "q_never"),  # never green: leads anyway
    ]:
        (tmp_path / "plans" / rnd).mkdir(parents=True, exist_ok=True)
        (tmp_path / "plans" / rnd / f"{name}_after.txt").write_text("plan")
    # a before-only dump is not a rewrite
    (tmp_path / "plans" / "r02" / "q_pad_before.txt").write_text("plan")
    monkeypatch.setattr(rotation, "REPO", str(tmp_path))

    names = ["q_pad", "q_same", "q_late", "q_old", "q_regreen", "q_never"]
    green = rotation.driver_green()
    assert green == {
        "q_old": "CORRECTNESS_r01.json",
        "q_same": "CORRECTNESS_r01.json",
        "q_pad": "CORRECTNESS_r01.json",
        "q_regreen": "CORRECTNESS_r02.json",
        "q_late": "CORRECTNESS_r02.json",
    }
    assert rotation.reverify_due(names, green) == {"q_old": (2, 1)}
    assert rotation.window(names, frozenset()) == [
        "q_never",  # never green
        "q_old",  # due
        "q_pad", "q_same",  # r01 padding, registration order
        "q_late", "q_regreen",  # r02 padding
    ]
    # a small window keeps the tiers' priority
    assert rotation.next_window(
        names, green, window=2, due={"q_old": (2, 1)}
    ) == ["q_never", "q_old"]


def test_rotation_status_cli_writes_artifact(tmp_path):
    out = tmp_path / "ROTATION_test.json"
    res = subprocess.run(
        [sys.executable, "tools/rotation.py", "--status", str(out)],
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stderr
    on_disk = json.loads(out.read_text())
    assert on_disk == json.loads(res.stdout)


SCALING_MD = os.path.join(os.path.dirname(sp.__file__), os.pardir, "SCALING.md")


@pytest.fixture
def scaling(tmp_path):
    path = tmp_path / "SCALING.md"
    shutil.copy(SCALING_MD, path)
    return path


def _times(sec, chunk):
    """The per-point seconds a committed section's table records."""
    labels = [p[0] for p in sec.points]
    times = {}
    for line in chunk.splitlines():
        cells = [c.strip() for c in line.strip("|").split("|")]
        if cells[0] in sec.probes:
            times[cells[0]] = {
                lb: float(v) for lb, v in zip(labels, cells[1:-1]) if v
            }
    return times


def test_scaling_sections_rewritten_with_their_own_text_are_unchanged(scaling):
    before = scaling.read_bytes()
    chunks = sp._chunks(before.decode())
    assert len(chunks) == 4
    for chunk in chunks:
        sp.write_section(str(scaling), chunk.split("\n", 1)[0], chunk)
        assert scaling.read_bytes() == before


def test_scaling_render_reproduces_the_committed_tables(scaling):
    chunks = sp._chunks(scaling.read_text())
    for key in ("base", "decade", "decade2"):
        sec = sp.SECTIONS[key]
        chunk = next(c for c in chunks if c.startswith(sec.heading))
        text, alphas, over = sp.render(sec, _times(sec, chunk), 1.1)
        assert text.rstrip("\n") == chunk
        assert len(alphas) == len(sec.probes) and not over


def test_scaling_replacing_one_decade_keeps_the_others_in_order(scaling):
    chunks = sp._chunks(scaling.read_text())
    sec = sp.SECTIONS["decade2"]
    times = {n: {"sf1_synth": 1.0, "sf10_synth": 5.0} for n in sec.probes}
    text, _, _ = sp.render(sec, times, None)
    sp.write_section(str(scaling), sec.heading, text)
    after = sp._chunks(scaling.read_text())
    assert after == chunks[:2] + [text.rstrip("\n")] + chunks[3:]
    # a section missing from the file goes back where SECTIONS puts it
    del after[2]
    scaling.write_text("\n\n".join(after) + "\n")
    sp.write_section(str(scaling), sec.heading, text)
    assert sp._chunks(scaling.read_text()) == chunks[:2] + [
        text.rstrip("\n")
    ] + chunks[3:]


def test_scaling_quick_base_leaves_the_decades_alone(scaling):
    chunks = sp._chunks(scaling.read_text())
    sec = sp.SECTIONS["base"]
    times = {n: {"sf0.001": 2.0, "sf0.01": 1.0} for n in sec.probes}
    text, alphas, over = sp.render(sec, times, 1.1)
    assert not alphas and not over
    assert "| nb_confusion | 2.0 | 1.0 |  |  |" in text
    sp.write_section(str(scaling), sec.heading, text)
    assert sp._chunks(scaling.read_text())[1:] == chunks[1:]


def test_scaling_failed_gate_annotates_the_section(scaling):
    sec = sp.SECTIONS["decade3"]
    times = {sec.probes[0]: {"sf10_synth": 10.0, "sf100_synth": 200.0}}
    text, alphas, over = sp.render(sec, times, 1.1)
    assert over == {sec.probes[0]: 1.3}
    sp.write_section(str(scaling), sec.heading, text)
    written = sp._chunks(scaling.read_text())[3]
    assert written.startswith("## Third extended decade — synthetic sf100 (r12)")
    assert "GATE FAILED" in written and "1.3" in written
    _, _, ok = sp.render(sec, times, 1.5)
    assert not ok


@pytest.mark.parametrize(
    "argv", [["--decade4"], ["--max-alpha", "x"], ["--decade", "--decade2"]]
)
def test_scale_probe_rejects_bad_arguments_before_spark(argv):
    with pytest.raises(SystemExit) as exc:
        sp.main(argv)
    assert exc.value.code == 2
