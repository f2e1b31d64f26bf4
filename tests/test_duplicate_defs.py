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


def test_registry_order_lists_name_each_query_once():
    """The hand-kept correctness-driver order (_VERIFY_FIRST, then
    import order, then _DRIVER_GREEN) places every query exactly once:
    no name sits in both lists or twice in one, and all_queries()
    yields every registry name exactly once."""
    from klio_spark import queries as Q

    names = list(Q.all_queries())
    for lst in (Q._VERIFY_FIRST, Q._DRIVER_GREEN):
        assert len(lst) == len(set(lst)), sorted(
            n for n in set(lst) if lst.count(n) > 1
        )
    both = set(Q._VERIFY_FIRST) & set(Q._DRIVER_GREEN)
    assert not both, sorted(both)
    assert len(names) == len(set(names)) == len(Q._REGISTRY)
    assert set(names) == set(Q._REGISTRY)
