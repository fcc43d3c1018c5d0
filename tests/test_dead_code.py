"""Guard against dead code: every module-level function or class in
``mrbf_spark/`` must be referenced somewhere in the project's Python.

A reference is a ``Name``, an ``Attribute``'s attribute, an import
alias, or an identifier-shaped string constant (``__all__`` entries,
``getattr`` names). Comments and docstrings are not references, so a
name that survives only in prose still counts as dead — which is why a
plain grep is not enough here. Catalog entries are reached through the
registry, not by name, so defs decorated with ``register``/``builder``
are exempt. Test-only helpers pass: a test file's reference counts.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED_DIRS = ("mrbf_spark", "tests", "tools", "perfbench")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")
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
