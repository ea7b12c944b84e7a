"""Scalar text functions (SURVEY.md §2 group B).

Hot-path policy: everything that CAN be a native Column expression is
one (whole-stage codegen, no Python). The two exceptions are Arrow-
batched pandas UDFs kept deliberately tiny, where byte-fidelity with
Python ``re``/``int`` semantics is part of the spec:

- ``slugify_udf`` / ``slugify_arrays_udf`` — Python's ``\\w`` is
  Unicode-aware and must match the golden oracle byte-for-byte
  (build_rdf.py:25-30 semantics); Java regex ``\\w`` is ASCII-only, so a
  native translation would silently diverge on non-ASCII entity names
  (common in web text). Both share one body (``_slugs``); the array
  form lets a caller mint every URI of a row in ONE Python crossing
  (rdf_build mints provider, patient, specializations and locations
  together), since the cost of a pandas UDF is the number of Arrow
  round trips per partition, not the regex work inside them.
- ``age_literal_udf`` — reproduces CPython ``int()`` parsing including
  its quirks (underscore separators, unicode digits), with the
  raw-string fallback (build_rdf.py:198-203).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from kgspark.constants import BASE, XSD_INT
from kgspark.golden import parse_age_literal, slugify

_AGE_STRUCT = StructType(
    [StructField("lex", StringType()), StructField("dtype", StringType())]
)


def _slugs(names: pd.Series) -> pd.Series:
    # Vectorized pandas str ops use Python's `re`, so \w/\s semantics are
    # identical to the golden oracle. Entity names are Zipf-repetitive,
    # so regex work runs once per DISTINCT value per batch and fans back
    # out with a hash-map lookup.
    uniq = pd.Series(names.dropna().unique())
    s = uniq.str.strip()
    s = s.str.replace(r"\s+", "_", regex=True)
    s = s.str.replace(r"[^\w]", "_", regex=True)
    s = s.str.replace(r"_+", "_", regex=True).str.strip("_")
    s = s.where(s != "", "unnamed")
    mapping = dict(zip(uniq, s))
    return names.map(mapping).fillna("unnamed")


@pandas_udf(StringType())
def slugify_udf(names: pd.Series) -> pd.Series:
    return _slugs(names)


@pandas_udf(ArrayType(StringType()))
def slugify_arrays_udf(labels: pd.Series) -> pd.Series:
    """Element-wise slug of an ``array<string>`` column: the batch's
    arrays are flattened into one series, slugged by ``_slugs`` (so the
    distinct-value dedup spans every array of the batch) and split back
    at the original offsets."""
    if labels.empty:
        return labels
    flat = pd.Series(np.concatenate(labels.tolist()), dtype=object)
    ends = np.cumsum(labels.map(len).to_numpy())[:-1]
    return pd.Series(np.split(_slugs(flat).to_numpy(), ends), index=labels.index)


@pandas_udf(_AGE_STRUCT)
def age_literal_udf(age_raw: pd.Series) -> pd.DataFrame:
    lex: list[str | None] = []
    dtype: list[str | None] = []
    for v in age_raw:
        if v is None or v == "":
            lex.append(None)
            dtype.append(None)
        else:
            lx, dt = parse_age_literal(v)
            lex.append(lx)
            dtype.append(dt)
    return pd.DataFrame({"lex": lex, "dtype": dtype})


def mint_uri_col(label: Column) -> Column:
    """URI = fixed namespace + slug (build_rdf.py:32-33)."""
    return F.concat(F.lit(BASE), slugify_udf(label))


# Python ``str.strip()`` strips every codepoint with ``str.isspace()``
# True — tabs, newlines, NBSP, the Unicode space block — while Spark's
# ``F.trim`` strips ASCII 0x20 only. The golden oracle
# (build_rdf.py:157-164 / csv.DictReader + .strip()) uses Python
# semantics, so the gate/first-wins columns must too. Enumerated
# literally (Java's ``(?U)\s`` misses the 0x1c-0x1f separators Python
# accepts); stays a native codegen'd regexp_replace, no UDF.
_PY_WS = "".join(
    map(
        chr,
        [
            *range(0x09, 0x0E),  # \t \n \v \f \r
            *range(0x1C, 0x21),  # FS GS RS US, space
            0x85,
            0xA0,
            0x1680,
            *range(0x2000, 0x200B),
            0x2028,
            0x2029,
            0x202F,
            0x205F,
            0x3000,
        ],
    )
)
def py_strip_col(col: Column) -> Column:
    """``str.strip()``-equivalent trim (Unicode whitespace set).

    ``btrim(str, trimStr)`` is a native character-SET strip (single
    scan, codegen'd) — measurably cheaper than a regexp_replace with
    this class: the triples stage applies it per fact column and again
    per split part across every branch, so at 4.6M fact rows the regex
    version doubled the stage's wall time.
    """
    return F.call_function("btrim", col, F.lit(_PY_WS))


def split_parts_col(raw: Column) -> Column:
    """Trimmed, non-empty parts after splitting on ``[|;,]``."""
    return F.filter(
        F.transform(F.split(raw, r"[|;,]"), lambda x: py_strip_col(x)),
        lambda x: x != F.lit(""),
    )


def multi_or_raw_col(raw: Column) -> Column:
    """Array form of the reference's ``split_multi(x) or [x]`` fallback:
    empty cell → []; non-empty cell whose parts all trim away → [raw]."""
    parts = split_parts_col(raw)
    return (
        # NULL counts as empty (golden: multi_or_raw(None) == []) — a
        # bare equality check would NULL-propagate past this branch and
        # fall through to [NULL], a spurious part
        F.when(raw.isNull() | (raw == F.lit("")), F.array().cast("array<string>"))
        .when(F.size(parts) > 0, parts)
        .otherwise(F.array(raw))
    )


def trim_all(df, cols: list[str]):
    """Strip + null→'' for every listed column (csv.DictReader + .strip(),
    Python whitespace semantics — see ``py_strip_col``)."""
    return df.select(
        *[c for c in df.columns if c not in cols],
        *[py_strip_col(F.coalesce(F.col(c), F.lit(""))).alias(c) for c in cols],
    )


__all__ = [
    "slugify_udf",
    "slugify_arrays_udf",
    "age_literal_udf",
    "mint_uri_col",
    "py_strip_col",
    "split_parts_col",
    "multi_or_raw_col",
    "trim_all",
    "XSD_INT",
]
