"""Metadata + summary enrichment (SURVEY.md §2 B9, B10, H2, H3, H4, C6).

The reference's transformer subclasses decorate extracted nodes/edges
with provenance and an LLM summary of the document head
(``kg_rag/utils/graph_transformers.py:96-171,308-364,401-638``):

- node-id suffixing ``f"{id}_{source}"`` + ``original_id`` /
  ``source_document`` props (B9/H2) — a pure column expression here;
- content truncation to 1500 chars + "..." (B10);
- per-document summary, LRU-cached in the reference (C6) — here the
  summary is computed once per document row (grouping replaces the
  cache) and joined onto that document's nodes/edges;
- the LLM summary becomes a deterministic extractive one: the first
  two sentences of the truncated content (spec'd, reproducible).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRUNCATE_AT = 1500
# leading-sentences pattern, RE2-compatible (no lookbehind) so the
# DuckDB oracle can mirror it exactly
SUMMARY_PATTERN = r"^((?:[^.!?]*[.!?]+\s*){1,2})"


def truncate_content_col(text: Column, limit: int = TRUNCATE_AT) -> Column:
    """B10: head of the document + '...' marker when truncated
    (graph_transformers.py:318-323)."""
    return F.when(
        F.length(text) > limit, F.concat(F.substring(text, 1, limit), F.lit("..."))
    ).otherwise(text)


def extractive_summary_col(text: Column) -> Column:
    """H3: deterministic stand-in for the LLM summary — the first two
    sentences of the truncated content (whole head if no sentence
    boundary exists)."""
    trunc = truncate_content_col(text)
    head = F.trim(F.regexp_extract(trunc, SUMMARY_PATTERN, 1))
    return F.coalesce(F.nullif(head, F.lit("")), trunc)


def suffix_ids(
    nodes: DataFrame,
    source_col: str = "source_document",
    id_col: str = "id",
) -> DataFrame:
    """B9/H2: ``id → f"{id}_{source}"`` keeping ``original_id``; a pure
    function of (id, source), so edge endpoints remap with the same
    expression — no join (graph_transformers.py:107-169). A NULL source
    suffixes as 'unknown' (the reference's default for missing
    metadata) — concat_ws alone would skip the NULL and leave the raw
    id, re-creating exactly the cross-document collisions suffixing
    exists to prevent."""
    return nodes.withColumn("original_id", F.col(id_col)).withColumn(
        id_col,
        F.concat_ws(
            "_", F.col(id_col), F.coalesce(F.col(source_col), F.lit("unknown"))
        ),
    )
