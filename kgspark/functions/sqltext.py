"""SQL-text builders for wide expression families.

Plan-build rule: an expression family whose size grows with a width
parameter (vector dim, hyperplanes, hash functions, signature bits,
languages) goes to the JVM as ONE SQL expression — one ``F.expr`` or
``selectExpr`` parse — never as one Column-API call per element. Every
``F.lit``, ``F.col``, operator and ``.alias`` on a classic Column is
one or more py4j round trips (3–40 each with DataFrame debugging on),
so a per-element build of a 16-plane × 384-dim hyperplane family made
33k round trips and took longer than running the query. The SQL text
uses the same operators, literal types and fold order as the Column
form, so the optimized plan is unchanged (``sameResult``, checked in
tests/test_plan_build.py).
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """A column name as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(s: str) -> str:
    """A Python string as a SQL string literal (the value ``F.lit(s)``
    carries)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_lit(x: float) -> str:
    """A Python float as a SQL DOUBLE literal (``1.0D``, not the
    DECIMAL ``1.0``), the type ``F.lit(x)`` gives it."""
    x = float(x)
    assert math.isfinite(x), f"no SQL literal for {x}"
    return f"{x!r}D"
