"""Guard against silent shadowing: a module that defines the same
top-level name twice keeps only the second binding — pytest then
collects only the later test, and the earlier suite vanishes without
any failure signal. Round 6 hit exactly this: its basket-corpus block
redefined ``test_random_lineitem_matches_oracle`` and the round-5
NULL-dims lineitem differential suite silently stopped running. This
lint makes the next occurrence fail loudly.

Only DIRECT module-body statements are scanned, so legitimate
conditional definitions (``try: import x / except: def fallback()``,
``if TYPE_CHECKING:``) never trigger, and an assignment whose RHS
reads the same name (``X = X + [...]``) is an augmentation, not a
shadow.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ("klio_spark", "tests")


def _py_files():
    for root_dir in SCAN_DIRS:
        for dirpath, _dirnames, filenames in os.walk(
            os.path.join(REPO, root_dir)
        ):
            for fn in filenames:
                if fn.endswith(".py"):
                    yield os.path.join(dirpath, fn)


def _names_referenced(node):
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _duplicate_toplevel_names(path):
    with open(path, "r", encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    seen = {}  # name -> first lineno
    dups = []
    for stmt in tree.body:
        bound = []
        if isinstance(
            stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            bound = [stmt.name]
        elif isinstance(stmt, ast.Assign):
            rhs_names = _names_referenced(stmt.value)
            for tgt in stmt.targets:
                if isinstance(tgt, ast.Name) and tgt.id not in rhs_names:
                    bound.append(tgt.id)
        elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
            if (
                isinstance(stmt.target, ast.Name)
                and stmt.target.id not in _names_referenced(stmt.value)
            ):
                bound = [stmt.target.id]
        for name in bound:
            if name.startswith("_") and name in ("_", "__doc__"):
                continue
            if name in seen:
                dups.append(
                    f"{os.path.relpath(path, REPO)}:{stmt.lineno} "
                    f"redefines '{name}' (first bound at line {seen[name]})"
                )
            else:
                seen[name] = stmt.lineno
    return dups


def test_no_duplicate_toplevel_definitions():
    failures = []
    for path in _py_files():
        failures.extend(_duplicate_toplevel_names(path))
    assert not failures, (
        "duplicate top-level bindings shadow the first definition "
        "silently:\n" + "\n".join(failures)
    )


def test_registry_order_is_derived_from_correctness_records(monkeypatch):
    """all_queries() yields every registry name once, in the order its
    docstring states: _TOUCHED first, then the queries with no green
    record (or a non-green newest one), then the rest by the round of
    their last green CORRECTNESS_r*.json record, oldest first. With no
    records the same rule gives import order."""
    import glob
    import json
    import re

    from klio_spark import queries as Q

    names = list(Q.all_queries())
    assert len(names) == len(set(names)) == len(Q._REGISTRY)
    assert set(names) == set(Q._REGISTRY)

    green = {}
    paths = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    assert paths
    for path in sorted(paths, key=lambda p: int(re.findall(r"\d+", p)[-1])):
        rnd = int(re.findall(r"\d+", path)[-1])
        with open(path) as f:
            for name, rec in json.load(f).items():
                if rec["hash_match"] is True:
                    green[name] = rnd
                else:
                    green.pop(name, None)

    touched = {n for n, rnd in Q._TOUCHED.items() if green.get(n, rnd + 1) <= rnd}
    assert touched and set(names[: len(touched)]) == touched
    rest = names[len(touched):]
    stale = [n for n in rest if n not in green]
    assert rest[: len(stale)] == stale
    for group in (names[: len(touched)], rest[len(stale):]):
        rounds = [green[n] for n in group]
        assert rounds == sorted(rounds), "last-green rounds must not decrease"
    assert green[rest[len(stale)]] < max(green.values()), "the stalest leads"

    monkeypatch.setattr(Q, "_green_rounds", dict)
    assert list(Q.all_queries()) == list(Q._REGISTRY)
