"""Guard against unreached library code.

Every top-level function or class in ``kgspark/`` must be referenced as
an identifier — a Name, an Attribute or an import alias, not a string
or a comment — from some other place in the code base: any ``.py``
under ``kgspark/``, ``perfbench/``, ``tools/`` or ``tests/``, or the
root entry scripts. A definition's references to itself (recursion)
do not count. Query functions registered with ``@register`` are
exempt: the registry reaches them by name.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ["kgspark", "perfbench", "tools", "tests"]
SCAN_FILES = ["bench.py", "bench_extra.py", "__spark_entry__.py"]


def _py_files() -> list[str]:
    out = [os.path.join(ROOT, f) for f in SCAN_FILES]
    for d in SCAN_DIRS:
        for dirpath, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(p for p in out if os.path.isfile(p))


def _names_used(node: ast.AST) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "register":
            return True
    return False


def unreferenced_defs() -> list[str]:
    defs: list[tuple[str, str]] = []  # (relpath, name)
    used: set[str] = set()
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        rel = os.path.relpath(path, ROOT)
        for node in tree.body:
            is_def = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            names = _names_used(node)
            if is_def:
                names.discard(node.name)
                if rel.startswith("kgspark" + os.sep) and not _is_registered(node):
                    defs.append((rel, node.name))
            used |= names
    return sorted(f"{rel}::{name}" for rel, name in defs if name not in used)


def test_every_library_def_is_referenced():
    dead = unreferenced_defs()
    assert not dead, "top-level defs nothing references:\n" + "\n".join(dead)
