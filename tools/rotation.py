"""Rotation planner: which 50 queries the driver checks next.

The driver's correctness pass checks only the FIRST 50 ``queries()``
entries per round.  This module is the one implementation of the rule
that picks them; ``__spark_entry__`` imports it to build ``_PROMOTED``
at import time:

1. never-checked: names with no driver-green CORRECTNESS row, in
   registration order;
2. reverify due: green names whose plan was rewritten after their
   latest green row — some ``plans/rNN/<name>_after.txt`` has NN
   greater than that row's round — in registration order;
3. padding: the remaining green names, OLDEST latest-green row first
   (ties break by registration order), a standing re-verification of
   the stalest evidence against the moving Spark/DuckDB stack.

    python tools/rotation.py            # summary + next-window plan
    python tools/rotation.py --all      # every never-checked name
    python tools/rotation.py --status [OUT.json]   # manifest
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WINDOW = 50


def _round(path: str) -> int:
    """NN of a ``CORRECTNESS_rNN.json`` file or a ``plans/rNN`` dir."""
    return int(re.search(r"r(\d+)", os.path.basename(path)).group(1))


def driver_green(rows_only: frozenset[str] = frozenset()) -> dict[str, str]:
    """name → round-file of its LATEST green row.

    Latest, not first: the padding sort key is this round-file, so a
    re-verified query's key must ADVANCE, or the rotation would keep
    re-selecting the same stalest names.  A later failed row does not
    erase an earlier green one.  An unreadable or malformed
    CORRECTNESS file is skipped, so importing ``__spark_entry__``
    never fails on a bad artifact.

    A rows-only name (no oracle BY DESIGN — see ``rows_only()`` in
    ``__spark_entry__``) can never earn ``rows_match``: the driver
    records ``err: no_oracle`` with just ``spark_rows``.  That run is
    its strongest possible driver row, so it counts as checked."""
    green: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if name in rows_only:
                ok = row.get("spark_rows") is not None
            else:
                ok = row.get("rows_match") and row.get("schema_match", True)
                if row.get("hash_match") is not None:
                    ok = ok and row["hash_match"]
            if ok:
                green[name] = os.path.basename(path)
    return green


def plan_rounds() -> dict[str, int]:
    """name → newest round NN with a ``plans/rNN/<name>_after.txt``
    dump (the plan an optimization round rewrote the query to)."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "plans", "r*", "*_after.txt")):
        name = os.path.basename(path)[: -len("_after.txt")]
        rnd = _round(os.path.dirname(path))
        latest[name] = max(rnd, latest.get(name, rnd))
    return latest


def reverify_due(
    names: list[str], green: dict[str, str]
) -> dict[str, tuple[int, int]]:
    """Green names whose newest plan dump is newer than their latest
    green row, in registration order → (plan round, green round)."""
    plans = plan_rounds()
    due: dict[str, tuple[int, int]] = {}
    for n in names:
        if n in green and n in plans and plans[n] > _round(green[n]):
            due[n] = (plans[n], _round(green[n]))
    return due


def next_window(names: list[str], green: dict[str, str],
                window: int = WINDOW, due=()) -> list[str]:
    """Never-checked names, then ``due`` names, then oldest-green
    padding — each tier in registration order (see module doc)."""
    head = [n for n in names if n not in green]
    head += [n for n in names if n in due and n in green]
    taken = set(head)
    pos = {n: i for i, n in enumerate(names)}
    head += sorted(
        (n for n in names if n not in taken),
        key=lambda n: (_round(green[n]), pos[n]),
    )
    return head[:window]


def window(names: list[str], rows_only: frozenset[str]) -> list[str]:
    """The driver window for ``names`` (registration order) from the
    CORRECTNESS rows and plan dumps on disk."""
    green = driver_green(rows_only)
    return next_window(names, green, due=reverify_due(names, green))


def status(entry) -> dict:
    """Machine-readable backlog manifest, committed each round as
    ``ROTATION_rNN.json``."""
    names = list(entry.queries())
    rows_only = entry.rows_only()
    green = driver_green(rows_only)
    due = reverify_due(names, green)
    never = [n for n in names if n not in green]
    fam_never: dict[str, int] = {}
    for n in never:
        fam = n.split("_", 1)[0]
        fam_never[fam] = fam_never.get(fam, 0) + 1
    return {
        "declared": len(names),
        "oracle_declared": len(names) - len(rows_only),
        "rows_only_declared": len(rows_only),
        "driver_green": len(names) - len(never),
        "never_checked": len(never),
        "windows_needed": (len(never) + WINDOW - 1) // WINDOW,
        "never_checked_by_family": dict(
            sorted(fam_never.items(), key=lambda kv: -kv[1])
        ),
        "reverify_due": due,
        "next_window": next_window(names, green, due=due),
        "never_checked_names": never,
        "green_rounds": {
            os.path.basename(f): sum(1 for r in green.values() if r == f)
            for f in sorted(set(green.values()))
        },
    }


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    if "--status" in sys.argv:
        out = json.dumps(status(entry), indent=1)
        print(out)
        idx = sys.argv.index("--status")
        if idx + 1 < len(sys.argv) and not sys.argv[idx + 1].startswith("-"):
            with open(sys.argv[idx + 1], "w") as fh:
                fh.write(out + "\n")
        return 0

    names = list(entry.queries())
    rows_only = entry.rows_only()
    green = driver_green(rows_only)
    never = [n for n in names if n not in green]
    print(f"declared: {len(names)}  driver-green somewhere: "
          f"{len([n for n in names if n in green])}  never-checked: {len(never)}")
    rounds_needed = (len(never) + WINDOW - 1) // WINDOW
    print(f"windows needed at {WINDOW}/round: {rounds_needed}")
    print()
    if "--all" in sys.argv:
        show = never
        print("all never-checked, in registration order:")
    else:
        show = window(names, rows_only)
        print(f"next window ({len(show)}): never-checked, due, oldest green:")
    for n in show:
        print(f"  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
