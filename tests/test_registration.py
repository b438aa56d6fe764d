"""Driver-contract registration guards.

The driver's correctness gate checks only the FIRST 50 ``queries()``
entries.  ``__spark_entry__._PROMOTED`` puts the window that
``tools/rotation.py`` derives there; these tests pin that the window
is the head of ``queries()``, that it leads with every never-checked
name, and that each query and oracle is registered exactly once, in
one module's ``QUERIES``/``ORACLES``.  A static scan pins that every
package function is reached from code other than tests.
"""

from __future__ import annotations

import ast
import inspect
import types
from collections import Counter
from pathlib import Path

import __spark_entry__ as entrymod


def test_window_is_exactly_the_promoted_fifty():
    """The whole 50-slot window is the _PROMOTED list that
    tools/rotation.py derives."""
    q = list(entrymod.queries())
    assert len(entrymod._PROMOTED) == 50
    assert q[:50] == list(entrymod._PROMOTED)


def test_promoted_leads_with_every_never_checked_name():
    """Window slots are scarce: every never-driver-checked name must
    come BEFORE any already-green padding name (padding appears only
    once the backlog no longer fills the window; it then re-proves
    oldest green rows first per the r8-verdict policy)."""
    import tools.rotation as rotation

    green = rotation.driver_green(entrymod.rows_only())
    flags = [n in green for n in entrymod._PROMOTED]
    # monotone: once padding (green) starts, no never-checked follows
    assert flags == sorted(flags), list(
        zip(entrymod._PROMOTED, flags)
    )
    n_never_total = sum(
        1 for n in entrymod.queries() if n not in green
    )
    assert flags.count(False) == min(50, n_never_total)


def test_promoted_names_all_exist():
    q = set(entrymod.queries())
    missing = [n for n in entrymod._PROMOTED if n not in q]
    assert not missing, missing


def test_every_query_has_oracle_or_manifest_entry():
    """No silent third state: a declared query either has an oracle or
    is in the rows_only() manifest."""
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert q - o == set(entrymod.rows_only())
    assert not (set(entrymod.rows_only()) - q)


def test_no_orphan_oracles():
    """The inverse guard: an ORACLES entry whose QUERIES twin was
    renamed or forgotten would silently never be driver-checked —
    every oracle must belong to a declared query."""
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert not (o - q), sorted(o - q)


def test_oracles_reference_declared_queries_only():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_no_cross_module_name_shadowing():
    """A query name registered by TWO modules is a silent bug: the
    later module wins in queries()/oracle_sql(), the earlier variant
    becomes dead-but-executed weight in bench.py, and its oracle can
    pair with the wrong implementation.  Found live in r8
    (events_gap_fill in both streaming/windowed.py and
    operators/timeseries.py) — this pins the invariant mechanically."""
    from collections import Counter

    counts = Counter(
        name for mod in entrymod._MODULE_ORDER for name in mod.QUERIES
    )
    dupes = sorted(n for n, c in counts.items() if c > 1)
    assert not dupes, dupes
    o_counts = Counter(
        name
        for mod in entrymod._MODULE_ORDER
        for name in getattr(mod, "ORACLES", {})
    )
    o_dupes = sorted(n for n, c in o_counts.items() if c > 1)
    assert not o_dupes, o_dupes


def _registered_keys(tree: ast.AST, table: str) -> list[str]:
    """Every key a module writes into its ``table`` dict: the keys of
    a ``table = {...}`` literal, ``table[k] = ...`` subscripts and
    ``table.update({...})`` / ``table.update(k=...)`` calls."""
    keys: list[str] = []

    def literal(d: ast.AST) -> None:
        if isinstance(d, ast.Dict):
            keys.extend(ast.unparse(k) for k in d.keys if k is not None)

    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            for t in targets:
                if isinstance(t, ast.Name) and t.id == table:
                    literal(node.value)
                elif (
                    isinstance(t, ast.Subscript)
                    and isinstance(t.value, ast.Name)
                    and t.value.id == table
                ):
                    keys.append(ast.unparse(t.slice))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "update"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == table
        ):
            for arg in node.args:
                literal(arg)
            keys.extend(repr(kw.arg) for kw in node.keywords if kw.arg)
    return keys


def repeated_registrations(source: str) -> dict[str, list[str]]:
    """``{"QUERIES": [...], "ORACLES": [...]}``: keys one module
    registers more than once (the later write silently wins)."""
    tree = ast.parse(source)
    out = {}
    for table in ("QUERIES", "ORACLES"):
        counts = Counter(_registered_keys(tree, table))
        out[table] = sorted(k for k, c in counts.items() if c > 1)
    return out


def test_module_order_lists_each_module_once():
    mods = entrymod._MODULE_ORDER
    assert all(isinstance(m, types.ModuleType) for m in mods), mods
    assert len({m.__name__ for m in mods}) == len(mods)


def test_no_same_module_name_shadowing():
    """Each module registers into ONE QUERIES/ORACLES pair, so a name
    written twice in one module is silently overwritten — invisible to
    the cross-module guard above.  Checked on the source, since the
    dict itself only keeps the last write."""
    found = {}
    for mod in entrymod._MODULE_ORDER:
        reps = repeated_registrations(inspect.getsource(mod))
        if any(reps.values()):
            found[mod.__name__] = reps
    assert not found, found


def test_repeated_registration_detector_sees_every_form():
    src = (
        'QUERIES = {"a": f, "b": g}\n'
        'QUERIES["a"] = h\n'
        'ORACLES: dict[str, str] = {"x": "1"}\n'
        'ORACLES.update({"y": "2"})\n'
        'ORACLES["y"] = "3"\n'
        'QUERIES["c"] = f\n'
    )
    assert repeated_registrations(src) == {
        "QUERIES": ["'a'"],
        "ORACLES": ["'y'"],
    }
    assert repeated_registrations('QUERIES = {"a": f, "a": g}\n') == {
        "QUERIES": ["'a'"],
        "ORACLES": [],
    }


# The reference's own program — tweets.csv → NB → text dir → console
# report (Hadoop/NB.java:273-341) — is kept as a library surface with
# no CLI command; only tests drive these four.
_FRONT_DOOR = {
    "nb_frontdoor_from_path": "the reference's whole program as one call",
    "write_text": "the reference's tab-separated output dir (S6/S7)",
    "read_text_sink": "reads write_text's dir back for chaining",
    "classification_report": "the reference's console confusion report (S8)",
}


def _names_referenced(tree: ast.AST) -> Counter:
    """Every name a tree loads, reads as an attribute or imports."""
    refs: Counter = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.ImportFrom):
            refs.update(a.name for a in n.names)
    return refs


def unreached_functions(repo: Path) -> list[str]:
    """Module-level functions of the package that no non-test code
    names: the package, tools/, perfbench/, bench.py and
    __spark_entry__.py.  A function's references to itself do not
    count.  Name-based, so a same-named attribute elsewhere hides a
    dead function."""
    pkg = repo / "text_sentiment_analysis_in_hadoop_and_spark_spark"
    files = [repo / "bench.py", repo / "__spark_entry__.py"]
    for top in (pkg, repo / "tools", repo / "perfbench"):
        files += [p for p in top.rglob("*.py") if not p.name.startswith("test_")]
    refs: Counter = Counter()
    defs = []
    for path in files:
        tree = ast.parse(path.read_text())
        refs += _names_referenced(tree)
        if path.is_relative_to(pkg):
            defs += [
                (path.relative_to(repo), fn)
                for fn in tree.body
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
    return [
        f"{path}:{fn.lineno} {fn.name}"
        for path, fn in defs
        if refs[fn.name] <= _names_referenced(fn)[fn.name]
        and fn.name not in _FRONT_DOOR
    ]


def test_every_package_function_is_reached_outside_tests():
    """A function only tests call is code the engine does not run:
    register it as a query, probe or tool, or delete it with its
    tests."""
    unreached = unreached_functions(Path(entrymod.__file__).resolve().parent)
    assert not unreached, "\n".join(unreached)
