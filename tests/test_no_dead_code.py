"""Guard against unreached library code.

Every top-level function or class in ``kgspark/`` must be referenced as
an identifier — a Name, an Attribute or an import alias, not a string
or a comment — from some other place in the code base: any ``.py``
under ``kgspark/``, ``perfbench/``, ``tools/`` or ``tests/``, or the
root entry scripts. A definition's references to itself (recursion)
do not count. Query functions registered with ``@register`` are
exempt: the registry reaches them by name.

A reference from ``tests/`` alone is not enough either: a library
definition that only tests call is a test-only twin or a seam nothing
selects. The exceptions are named in ``TEST_ONLY_ALLOWED``, each with
the reason it belongs in the library.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = ["kgspark", "perfbench", "tools", "tests"]
SCAN_FILES = ["bench.py", "bench_extra.py", "__spark_entry__.py"]

# kgspark/ definitions that only tests call, and why each stays there.
TEST_ONLY_ALLOWED = {
    "kgspark/golden.py::read_turtle":
        "reference oracle: reads a Turtle file back into triples for the P/R gates",
    "kgspark/extract/ner.py::extract_fact_rows":
        "reference oracle: the pure-Python fact extraction extract_facts must equal",
    "kgspark/sources/turtle_sink.py::write_turtle_pretty":
        "reference-compatible sink: writes the reference's Turtle bytes",
    "kgspark/datagen.py::write_corpus":
        "test fixture writer: the on-disk layout tools/submit_job.py reads",
    "kgspark/operators/media_codecs.py::encode_ppm":
        "codec pair: the encoder half of decode_ppm's round trip",
    "kgspark/operators/dedup.py::ngram_hub_shingles":
        "drop log: lists the shingles ngram_jaccard_pairs' cap drops",
}


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


def _scan() -> tuple[list[str], set[str], set[str]]:
    """(kgspark defs as ``relpath::name``, names used outside tests/,
    names used in tests/)."""
    defs: list[str] = []
    used: set[str] = set()
    used_in_tests: set[str] = set()
    for path in _py_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        rel = os.path.relpath(path, ROOT)
        in_tests = rel.startswith("tests" + os.sep)
        for node in tree.body:
            is_def = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            names = _names_used(node)
            if is_def:
                names.discard(node.name)
                if rel.startswith("kgspark" + os.sep) and not _is_registered(node):
                    defs.append(f"{rel}::{node.name}")
            (used_in_tests if in_tests else used).update(names)
    return sorted(defs), used, used_in_tests


def _name(qualified: str) -> str:
    return qualified.rsplit("::", 1)[1]


def unreferenced_defs() -> list[str]:
    defs, used, used_in_tests = _scan()
    return [d for d in defs if _name(d) not in used | used_in_tests]


def reached_only_from_tests() -> list[str]:
    defs, used, used_in_tests = _scan()
    return [d for d in defs if _name(d) not in used and _name(d) in used_in_tests]


def test_every_library_def_is_referenced():
    dead = unreferenced_defs()
    assert not dead, "top-level defs nothing references:\n" + "\n".join(dead)


def test_no_library_def_is_reached_only_from_tests():
    only = reached_only_from_tests()
    unlisted = [d for d in only if d not in TEST_ONLY_ALLOWED]
    assert not unlisted, (
        "top-level defs only tests/ references (delete them, move them into"
        " tests/, or list them in TEST_ONLY_ALLOWED with a reason):\n"
        + "\n".join(unlisted)
    )
    # an allowance for a def that production now calls, or that is gone,
    # is stale
    stale = sorted(set(TEST_ONLY_ALLOWED) - set(only))
    assert not stale, "stale TEST_ONLY_ALLOWED entries:\n" + "\n".join(stale)
