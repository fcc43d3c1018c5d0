"""Guard against dead code: every module-level function or class in
``mrbf_spark/`` must be referenced somewhere in the project's Python,
and reachable from something other than the tests.

A reference is a ``Name``, an ``Attribute``'s attribute, an import
alias, or an identifier-shaped string constant (``__all__`` entries,
``getattr`` names). Comments and docstrings are not references, so a
name that survives only in prose still counts as dead — which is why a
plain grep is not enough here. Catalog entries are reached through the
registry, not by name, so defs decorated with ``register``/``builder``
are exempt. In the first test a test file's reference counts.

The second test follows references from the roots a user can run
(registered entries, the CLI, the tools, the benchmarks) and fails on
any def only the tests reach, unless ``TEST_ONLY`` names it with the
contract it keeps.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED_DIRS = ("mrbf_spark", "tests", "tools", "perfbench")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")
ROOT_DIRS = ("tools", "perfbench")
ROOT_FILES = ("bench.py", "__spark_entry__.py", "mrbf_spark/__main__.py")
REGISTRY_DECORATORS = {"register", "builder"}
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> list[Path]:
    files = [p for d in SCANNED_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    return files + [ROOT / f for f in SCANNED_FILES if (ROOT / f).exists()]


def _docstring_ids(tree: ast.Module) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _references(tree: ast.Module) -> set[str]:
    docstrings = _docstring_ids(tree)
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and _IDENT.fullmatch(node.value)
        ):
            refs.add(node.value)
    return refs


def _is_registered(node: ast.FunctionDef | ast.ClassDef) -> bool:
    for dec in node.decorator_list:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
        if name in REGISTRY_DECORATORS:
            return True
    return False


def test_every_library_def_is_referenced():
    refs: set[str] = set()
    defs: list[tuple[str, str]] = []
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        refs |= _references(tree)
        rel = path.relative_to(ROOT)
        if rel.parts[0] != "mrbf_spark":
            continue
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("__")
                and not _is_registered(node)
            ):
                defs.append((f"{rel}:{node.lineno}", node.name))
    dead = [f"{where} {name}" for where, name in defs if name not in refs]
    assert not dead, "unreferenced module-level defs:\n" + "\n".join(dead)


# Library defs that only the tests run, keyed ``<module>.<name>``, each
# with the contract that keeps it. An entry that becomes reachable from
# a root, or is deleted, fails the test below, so the list cannot go
# stale.
TEST_ONLY = {
    "dedup.jaccard_col": "exact set Jaccard; the brute-force reference MinHash candidates are checked against",
    "dedup.leakage_safe_split_duckdb_sql": "DuckDB replay that leakage_safe_split must match",
    "diffing.write_bucketed_target": "writes the pk-bucketed target merge_upsert_partitioned updates in place",
    "layout._morton_interleave": "Z-order bit interleave, pinned to known bits",
    "lm.perplexity_buckets_duckdb_sql": "DuckDB replay that perplexity_buckets must match",
    "substring_dedup.remove_dup_spans_sql": "DuckDB replay that remove_dup_spans must match at sf0.01",
    "relational.approx_aggregates_raw": "HLL distinct count within 10% and approximate median within 20% of exact",
}


def _aliases(trees: list[ast.Module]) -> dict[str, set[str]]:
    """``import x as y`` / ``from m import x as y``: ``y`` maps to ``x``."""
    out: dict[str, set[str]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                out.setdefault(node.asname, set()).update(node.name.split("."))
    return out


def test_every_library_def_is_reachable_outside_tests():
    trees: dict[Path, ast.Module] = {
        p.relative_to(ROOT): ast.parse(p.read_text(), filename=str(p))
        for p in _sources()
        if p.relative_to(ROOT).parts[0] != "tests"
    }
    aliases = _aliases(list(trees.values()))

    def refs_of(node: ast.AST) -> set[str]:
        refs = _references(node)
        for name in list(refs):
            refs |= aliases.get(name, set())
        return refs

    defs: dict[str, list[tuple[str, ast.AST]]] = {}  # name -> [(key, node)]
    frontier: set[str] = set()
    for rel, tree in trees.items():
        if rel.parts[0] in ROOT_DIRS or str(rel) in ROOT_FILES:
            frontier |= refs_of(tree)
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name.startswith("__") or _is_registered(node):
                    frontier |= refs_of(node)
                else:
                    defs.setdefault(node.name, []).append((f"{rel.stem}.{node.name}", node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                frontier |= refs_of(node)

    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            frontier |= refs_of(node) - reached

    defined = {key: node for entries in defs.values() for key, node in entries}
    unreached = sorted(
        f"{key} (line {node.lineno})"
        for key, node in defined.items()
        if node.name not in reached and key not in TEST_ONLY
    )
    stale = sorted(
        key for key in TEST_ONLY if key not in defined or defined[key].name in reached
    )
    assert not unreached and not stale, (
        "defs only the tests reach:\n" + "\n".join(unreached)
        + "\nTEST_ONLY entries reached from a root or gone:\n" + "\n".join(stale)
    )
