"""Full-text entity lookup (SURVEY.md §2 B6/A7/F1).

The reference delegates to Neo4j's Lucene full-text indexes
(``/root/reference/scripts/run_rdf_to_kg.py:60-99``) and anchors every
query with ``db.index.fulltext.queryNodes(...) ORDER BY score DESC
LIMIT 1`` (``cypher_generator.py:26-29`` et al.). Lucene-identical
scoring is a non-goal; our scorer is the spec:

    score(query, name) = number of distinct query tokens that occur in
    the tokenized name; ties broken by (name ASC, id ASC).

Two scorers implement that spec, one per input:

- ``entity_top1`` scores the entity table directly. Each row's score is
  ``size(array_intersect(tokens(name), <distinct query tokens>))``, a
  row-local expression, so the top-1 is one scan plus a
  TakeOrderedAndProject: no explode, no aggregate, no shuffle. It is
  the anchor of a single question (``nl_router.execute_shape``,
  ``traverse_1hop``).
- ``fulltext_top1`` scores a prebuilt token inverted table
  (``build_inverted_index``): a filter on the query tokens, then a
  ``countDistinct`` per entity. At scale the index is written once,
  partitioned by token, so a lookup touches only the query's tokens.

``nl_batch`` applies the same spec to a whole question table: one
inverted index over provider and location nodes, joined on
(type, token) with every question's anchor tokens, each joined row
scored as ``size(array_intersect(...))`` of the two distinct token
arrays (``entity_top1``'s expression, no aggregate), and one top-1
window per (question, shape, type).

This module owns the tokenizer spec (lowercase, split on
``TOKEN_SPLIT``, drop empties) in all four dialects: the Column form
``tokenize_col``, its Spark SQL text ``tokenize_sql``, the DuckDB
oracle text ``tokens_sql`` and the Python form ``tokenize``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgspark.functions.sqltext import string_lit

TOKEN_SPLIT = r"[^a-z0-9]+"


def tokenize_col(col: Column) -> Column:
    """Lowercase alnum tokens; the shared tokenizer spec."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda x: x != F.lit(""))


def tokenize_sql(col: str) -> str:
    """SQL text of ``tokenize_col`` over the SQL expression ``col``, for
    builders that send a whole expression family as one SQL string."""
    return f"filter(split(lower({col}), {string_lit(TOKEN_SPLIT)}), x -> x != '')"


def tokens_sql(expr: str) -> str:
    """DuckDB text of ``tokenize_col`` over the SQL expression ``expr``
    (the oracle-side form of the same tokenizer spec)."""
    return (
        f"list_filter(string_split_regex(lower({expr}), '{TOKEN_SPLIT}'), t -> t != '')"
    )


def build_inverted_index(
    entities: DataFrame, id_col: str = "id", text_col: str = "name"
) -> DataFrame:
    """(token, id, name) inverted table — one row per distinct token per entity."""
    return entities.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("name"),
        F.explode(F.array_distinct(tokenize_col(F.col(text_col)))).alias("token"),
    )


def tokenize(s: str) -> list[str]:
    """Python form of ``tokenize_col``."""
    return [t for t in re.split(TOKEN_SPLIT, s.lower()) if t]


def query_tokens(query: str) -> list[str]:
    """``tokenize(query)``, or a non-empty placeholder when the query has
    no tokens (isin([]) would be always-false with a different plan
    shape)."""
    return tokenize(query) or ["\x00-no-token-\x00"]


def entity_top1(
    entities: DataFrame, query: str, id_col: str = "id", text_col: str = "name"
) -> DataFrame:
    """(id, name, score) of the best-matching entity, scored on the
    entity table itself; same spec and columns as ``fulltext_top1`` over
    ``build_inverted_index(entities, id_col, text_col)``.

    The query's distinct tokens go in as one literal array, so the score
    is a per-row expression and the plan has no exchange. Rows scoring 0
    (including NULL names, whose score is NULL) are dropped, as the
    index's token filter drops them.
    """
    qtokens = F.array(*[F.lit(t) for t in dict.fromkeys(query_tokens(query))])
    score = F.size(F.array_intersect(tokenize_col(F.col(text_col)), qtokens))
    return (
        entities.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("name"),
            score.cast("long").alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("name"), F.asc("id"))
        .limit(1)
    )


def score_candidates(inverted: DataFrame, query: str) -> DataFrame:
    """(id, name, score) for entities sharing ≥1 token with the query."""
    qtokens = query_tokens(query)
    return (
        inverted.filter(F.col("token").isin(qtokens))
        .groupBy("id", "name")
        .agg(F.countDistinct("token").alias("score"))
    )


def fulltext_top1(inverted: DataFrame, query: str) -> DataFrame:
    """The anchor op: best-matching entity, deterministic tie-break.

    orderBy().limit(1) (not a global window): Catalyst plans it as
    TakeOrderedAndProject — per-partition top-1 then a 1-row merge —
    instead of sorting all candidates in a single partition.
    """
    return (
        score_candidates(inverted, query)
        .orderBy(F.desc("score"), F.asc("name"), F.asc("id"))
        .limit(1)
    )
