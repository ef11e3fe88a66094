"""Guard against code that only tests reach.

A public top-level function or class of the package must be referenced
somewhere outside its own definition and outside ``tests/``: by the
package itself, ``tools/``, ``perfbench/``, ``bench*.py`` or
``__spark_entry__.py``. A reference is a name, an attribute, an import,
or a string constant that is the whole name (a ``getattr`` by name); a
docstring that mentions a name does not reach it. Registered ``q_*``
query builders are reached through the registry and are skipped. AST
only: nothing is imported or run.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "vbpl_web_crawl_spark")

# kept exceptions: name -> why only tests reach it
ALLOWLIST = {
    "load_reference_tables": "fixture of the reference-parity suite "
    "(plans/reference_queries.py), which tests compare against by design",
    "parse_robots_txt": "the robots.txt ingestion path: it turns robots.txt "
    "text into the rule dicts CrawlConfig.robots takes; the synthetic sites "
    "define those dicts directly, so only its tests parse text today",
    "zorder_sql": "the Morton key as SQL text: test_zorder_sql_matches_catalyst "
    "evaluates it against zorder_key, the expression the zorder_key_buckets "
    "leaf runs",
}


def _py_files(top: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__pycache__"))]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return out


def _callers() -> list[str]:
    files = _py_files(PACKAGE) + _py_files(os.path.join(ROOT, "tools"))
    files += _py_files(os.path.join(ROOT, "perfbench"))
    files += [
        os.path.join(ROOT, f)
        for f in os.listdir(ROOT)
        if f.endswith(".py") and (f.startswith("bench") or f == "__spark_entry__.py")
    ]
    return files


def _references(node: ast.AST) -> Counter:
    refs: Counter = Counter()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, ast.Name):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            refs[n.value] += 1
        stack.extend(ast.iter_child_nodes(n))
    return refs


def _test_only_code() -> dict[str, str]:
    """Public package definitions that nothing but tests references,
    by name -> where they are defined."""
    trees = {}
    for path in _callers():
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), path)
    total = Counter()
    for tree in trees.values():
        total.update(_references(tree))
    orphans = {}
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith(("_", "q_")):
                continue
            # references inside the definition itself (recursion, its
            # own docstring) do not count
            if total[node.name] - _references(node)[node.name] == 0:
                orphans[node.name] = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
    return orphans


def test_no_public_definition_is_reached_only_from_tests():
    orphans = {n: w for n, w in _test_only_code().items() if n not in ALLOWLIST}
    assert not orphans, (
        "public definitions referenced only from tests/ (wire them in, delete "
        "them with their tests, or allowlist them with a reason):\n  "
        + "\n  ".join(f"{w} {n}" for n, w in orphans.items())
    )


def test_allowlist_holds_only_test_only_definitions():
    stale = set(ALLOWLIST) - set(_test_only_code())
    assert not stale, f"allowlisted but gone or referenced outside tests: {sorted(stale)}"
