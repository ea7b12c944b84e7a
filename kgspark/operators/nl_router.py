"""Deterministic NL-question → query-shape router (I2-lite).

The reference generates Cypher from natural language with an LLM
(cypher_generator.py:179-204); its prompt carries five few-shot
examples (cypher_generator.py:23-98) that define the query shapes the
system actually answers.  This module is the LLM-free counterpart: a
keyword/pattern router that classifies a question into one of those
five shapes and extracts the anchor strings (provider / location) the
shape needs.  The five canonical example questions are the test set.

Everything is pure Column expressions (``rlike`` + ``regexp_extract``
+ ``when`` chains), so routing runs distributed over a DataFrame of
questions — a million NL queries route in one codegen'd stage, no
Python in the loop — and a single question routes on the driver with
the same expressions and no Spark job (``route_question``).  Patterns
are restricted to syntax shared by Java regex and RE2 so the DuckDB
oracle mirrors them verbatim.

Shapes (cypher_generator.py few-shot numbering):
  shape1  provider → TREATS patients
  shape2  provider → SPECIALIZES_IN specializations
  shape3  location ← LOCATED_AT providers (reverse, DISTINCT)
  shape4  provider+location conjunctive 2-hop → patients
  shape5  provider+location → count(DISTINCT patients), avg(age)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.constants import CLS_LOCATION, CLS_PROVIDER
from kgspark.operators import kg_queries as kq
from kgspark.operators.fulltext import entity_top1

# The five canonical questions from the reference's few-shot prompt
# (cypher_generator.py:25, 38, 51, 64, 83).
CANONICAL_QUESTIONS: list[str] = [
    "Which patients are treated by Dr. Smith?",
    "What specialization does Dr. Brown have?",
    "Which healthcare providers are located in New York?",
    "Which patients are treated by healthcare providers named Sarah"
    " located in Los Angeles?",
    "For Dr. Sarah Johnson in Los Angeles, what is the total number of"
    " patients she treats and what is their average age?",
]

# Routing patterns (case-insensitive where noted). Order matters:
# aggregation outranks joins, specialization outranks the generic
# patient shapes, the conjunctive 2-hop outranks its single-anchor
# halves. Mirrored 1:1 in oracle_case_sql().
_P_AGG = r"(?i)(total number|how many|average|avg\b)"
_P_SPEC = r"(?i)specializ"
_P_PATIENTS = r"(?i)patients?"
# Case-sensitive on purpose: a location anchor is a TitleCase run
# after a standalone "in" — '(?i)' here would false-positive on any
# lowercase "in the ..." phrase.
_P_LOCATED = r"\bin\s+[A-Z]"
# Anchor extraction: a "Dr."-prefixed TitleCase name, or a bare name
# after "named"; a TitleCase run after "in"/"located in".
_P_PROVIDER_DR = r"(Dr\.?\s*[A-Z][a-zA-Z]*(?:\s[A-Z][a-zA-Z]*)*)"
_P_PROVIDER_NAMED = r"named\s+([A-Z][a-zA-Z]*)"
_P_LOCATION = r"\bin\s+([A-Z][a-zA-Z]*(?:\s[A-Z][a-zA-Z]*)*)"


def shape_col(q: Column) -> Column:
    """Shape id ('shape1'..'shape5', or 'unknown') for a question."""
    return (
        F.when(q.rlike(_P_AGG), F.lit("shape5"))
        .when(q.rlike(_P_SPEC), F.lit("shape2"))
        .when(q.rlike(_P_PATIENTS) & q.rlike(_P_LOCATED), F.lit("shape4"))
        .when(q.rlike(_P_LOCATED), F.lit("shape3"))
        .when(q.rlike(_P_PATIENTS), F.lit("shape1"))
        .otherwise(F.lit("unknown"))
    )


def provider_anchor_col(q: Column) -> Column:
    """Provider anchor text ("Dr. Smith", "Sarah"), NULL if absent."""
    return F.coalesce(
        F.nullif(F.regexp_extract(q, _P_PROVIDER_DR, 1), F.lit("")),
        F.nullif(F.regexp_extract(q, _P_PROVIDER_NAMED, 1), F.lit("")),
    )


def location_anchor_col(q: Column) -> Column:
    """Location anchor text ("New York"), NULL if absent."""
    return F.nullif(F.regexp_extract(q, _P_LOCATION, 1), F.lit(""))


def route_local(question: str) -> tuple[str, str | None, str | None]:
    r"""Pure-Python twin of ``route_questions`` for a single question
    (CPython ``re``), used only to build the ``nl_route`` execution
    oracle at registration time from the five ASCII canonical
    questions; ``route_question`` is the runtime path.

    It agrees with Spark on ASCII questions, except that CPython's
    ``\s`` also matches the separators \x1c-\x1f, which Java's does not
    (``tests/test_nl_router.py`` pins the agreement with a seeded ASCII
    fuzz). Beyond ASCII it does not agree, and no ``re`` flag makes it:
    CPython's ``(?i)`` folds ``ſ`` and the Kelvin sign onto ASCII
    letters, which Java's ASCII-only ``(?i)`` does not, and the two
    engines' ``\b`` classify some non-ASCII characters differently."""
    import re

    def has(p: str) -> bool:
        return re.search(p, question) is not None

    if has(_P_AGG):
        shape = "shape5"
    elif has(_P_SPEC):
        shape = "shape2"
    elif has(_P_PATIENTS) and has(_P_LOCATED):
        shape = "shape4"
    elif has(_P_LOCATED):
        shape = "shape3"
    elif has(_P_PATIENTS):
        shape = "shape1"
    else:
        shape = "unknown"

    def extract(p: str) -> str | None:
        m = re.search(p, question)
        return m.group(1) if m and m.group(1) else None

    provider = extract(_P_PROVIDER_DR) or extract(_P_PROVIDER_NAMED)
    location = extract(_P_LOCATION)
    return shape, provider, location


def route_questions(df: DataFrame, question_col: str = "question") -> DataFrame:
    """Append (shape, provider_q, location_q) routing columns."""
    q = F.col(question_col)
    return df.select(
        "*",
        shape_col(q).alias("shape"),
        provider_anchor_col(q).alias("provider_q"),
        location_anchor_col(q).alias("location_q"),
    )


def route_question(
    spark: SparkSession, question: str
) -> tuple[str, str | None, str | None]:
    """(shape, provider_q, location_q) of one question: the
    ``route_questions`` expressions over a one-row local relation with
    the question attached as a literal. Catalyst folds the whole plan to
    a LocalTableScan, so ``first()`` runs on the driver and launches no
    Spark job.

    The question must stay a literal Column: ``spark.sql`` substitutes
    ``${...}`` variables in its text, so a question spliced into SQL
    text would not route as written.
    """
    one = spark.sql("SELECT * FROM VALUES (1) AS t(x)").select(
        F.lit(question).alias("question")
    )
    row = route_questions(one).first()
    return row.shape, row.provider_q, row.location_q


def oracle_case_sql(qexpr: str) -> str:
    """DuckDB mirror of shape/anchor routing for an expression ``qexpr``.

    Returns a SELECT-list fragment producing (shape, provider_q,
    location_q) with identical semantics (RE2 on both engines after
    DuckDB's regexp_matches; '(?i)' inline flags are RE2-native).
    """
    def m(pat: str) -> str:
        return f"regexp_matches({qexpr}, '{pat}')"

    shape = (
        f"CASE WHEN {m(_P_AGG)} THEN 'shape5' "
        f"WHEN {m(_P_SPEC)} THEN 'shape2' "
        f"WHEN {m(_P_PATIENTS)} AND {m(_P_LOCATED)} THEN 'shape4' "
        f"WHEN {m(_P_LOCATED)} THEN 'shape3' "
        f"WHEN {m(_P_PATIENTS)} THEN 'shape1' "
        f"ELSE 'unknown' END"
    )
    provider = (
        f"coalesce(nullif(regexp_extract({qexpr}, '{_P_PROVIDER_DR}', 1), ''), "
        f"nullif(regexp_extract({qexpr}, '{_P_PROVIDER_NAMED}', 1), ''))"
    )
    location = f"nullif(regexp_extract({qexpr}, '{_P_LOCATION}', 1), '')"
    return (
        f"{shape} AS shape, {provider} AS provider_q, {location} AS location_q"
    )


def execute_shape(
    nodes: DataFrame,
    edges: DataFrame,
    shape: str,
    provider_q: str | None,
    location_q: str | None,
    question: str = "",
) -> DataFrame:
    """Answer an already-routed (shape, anchors) triple: the shape's
    traversal (``kg_queries.shape_rows``) from each anchor's full-text
    top-1 node (``fulltext.entity_top1``, broadcast as one row), cut
    with the shape's global ORDER BY ... LIMIT (``kg_queries.SHAPES``).
    It closes the reference's ask-a-question loop (kg_rag.py
    run_cypher_rag) without the LLM.

    Raises ValueError when the shape is unknown or an anchor it needs is
    missing: e.g. 'How many patients are treated in total?' routes to
    shape5 with no provider or location, so no shape covers it. Callers
    that routed a whole question table distributed (``route_questions``
    + collect) dispatch through this directly, paying zero extra Spark
    jobs per question."""
    if shape not in kq.SHAPES:
        raise ValueError(
            f"no deterministic shape covers {question!r} (routed {shape}); "
            "the reference delegates such questions to its LLM generator"
        )
    types, order, limit = kq.SHAPES[shape]
    text = {CLS_PROVIDER: provider_q, CLS_LOCATION: location_q}
    if any(text[t] is None for t in types):
        raise ValueError(
            f"no deterministic shape covers {question!r} (routed {shape} "
            "but a required anchor is missing); the reference delegates "
            "such questions to its LLM generator"
        )

    def anchored(node_type: str) -> DataFrame:
        ents = nodes.filter(nodes["type"] == node_type).select("id", "name")
        top = entity_top1(ents, text[node_type])
        return F.broadcast(
            top.select(F.lit(question).alias("question"), "id", "name", "score")
            .withColumnsRenamed({"id": "anchor_id", "name": "anchor_name", "score": "anchor_score"})
        )

    rows = kq.shape_rows(nodes, edges, shape, anchored).drop("question")
    if limit is None:
        return rows
    return rows.orderBy(*kq.sort_cols(order)).limit(limit)


def route_and_execute(
    nodes: DataFrame, edges: DataFrame, question: str
) -> DataFrame:
    """Answer a natural-language question against the KG: route it to
    one of the five implemented query shapes and execute that shape
    with the extracted anchors. Raises ValueError for questions no
    shape covers (the reference would fall back to the LLM here).

    Routing is ``route_question`` (the ``route_questions`` expressions,
    folded on the driver, no Spark job); the Spark jobs are the shape's
    own plan. Batch workloads use the grouped distributed dispatcher
    instead (``operators/nl_batch.execute_routed_grouped``): route the
    whole question table with ``route_questions``, then execute grouped
    by shape — one plan per shape and one shared anchor table for any
    number of questions, no per-question driver loop.
    """
    shape, provider_q, location_q = route_question(nodes.sparkSession, question)
    return execute_shape(nodes, edges, shape, provider_q, location_q, question)
