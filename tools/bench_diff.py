"""Per-query bench diff between two rounds.

Usage::

    python tools/bench_diff.py bench_queries_r07.json bench_queries_r08.json
    python tools/bench_diff.py BENCH_r07.json BENCH_r08.json   # same schema

Compares on the load-insensitive value — ``min_of_k`` where both
rounds measured it the same way, first-run seconds otherwise — and
prints the top regressions/improvements plus added/removed entries.
Exit code 0 always (it is a reporting tool, not a gate; BENCH_NOTES.md documents
~1.5× uniform drift on the shared box, so regressions need a human
eye, not a hard threshold).
"""

from __future__ import annotations

import json
import sys


def _best(rec: dict, other: dict, name: str) -> float:
    """Load-insensitive per-query seconds for a CROSS-ROUND diff:
    min_of_k only when BOTH rounds measured it for this entry and both
    say its first run built the same number of memo entries
    (``memo_built``, 0 when absent), else first-run on both sides.
    One-sided minima are not comparable: a minimum against the other
    round's load-drifted first run prints a spurious delta.  Nor are
    minima of reruns that re-paid different memo builds: records
    without ``memo_built`` reran against their own first run's memos,
    so they timed a cached read where newer records time a rebuild."""
    mk = rec.get("min_of_k", {})
    omk = other.get("min_of_k", {})
    built = rec.get("memo_built", {}).get(name, 0)
    if (
        name in mk
        and name in omk
        and built == other.get("memo_built", {}).get(name, 0)
    ):
        return mk[name]
    return rec["queries"][name]


def comparable_pct(old: dict, new: dict) -> float | None:
    """Signed percent change of the new round vs the old on the
    comparable-entries, load-insensitive signal (the number the r8
    verdict adjudicated by hand; bench.py now stamps it into the
    artifact at close — r8 verdict item 6 — so the judge's ratio no
    longer depends on which same-round run landed last).  None when
    the rounds share no entries."""
    oq = {k for k, v in old.get("queries", {}).items() if v >= 0}
    nq = {k for k, v in new.get("queries", {}).items() if v >= 0}
    common = oq & nq
    ot = sum(_best(old, new, n) for n in common)
    nt = sum(_best(new, old, n) for n in common)
    if not ot:
        return None
    return round((nt / ot - 1) * 100, 1)


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    old = json.load(open(argv[1]))
    new = json.load(open(argv[2]))
    oq = {k: v for k, v in old["queries"].items() if v >= 0}
    nq = {k: v for k, v in new["queries"].items() if v >= 0}

    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    common = sorted(set(oq) & set(nq))

    deltas = []
    for name in common:
        a, b = _best(old, new, name), _best(new, old, name)
        deltas.append((b - a, a, b, name))
    deltas.sort(reverse=True)

    ot = sum(_best(old, new, n) for n in common)
    nt = sum(_best(new, old, n) for n in common)
    print(
        f"common entries: {len(common)}  "
        f"old {ot:.1f}s -> new {nt:.1f}s ({nt / ot - 1:+.1%} vs old)"
        if ot
        else "no common entries"
    )
    if added:
        a_tot = sum(_best(new, new, n) for n in added)
        print(f"added ({len(added)}, {a_tot:.1f}s): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")

    def show(rows, label):
        print(f"\ntop {label}:")
        for d, a, b, name in rows:
            print(f"  {name:42s} {a:7.2f}s -> {b:7.2f}s  ({d:+.2f}s)")

    show([r for r in deltas[:15] if r[0] > 0.05], "regressions")
    show([r for r in sorted(deltas)[:15] if r[0] < -0.05], "improvements")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
