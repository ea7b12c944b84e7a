"""Healthcare-KG query layer (SURVEY.md §2 D1-D5, E1, F1-F2; FIXTURES.md F6).

The reference's read side is (a) five canonical NL→Cypher shapes
(``kg_rag/methods/cypher_based/cypher_generator.py:25-98``) and (b)
three golden SPARQL queries (``tests/test_sparql.py``). Each is
re-expressed here as a DataFrame plan over the engine's materialized
``nodes``/``edges``/``triples`` tables:

- each Cypher shape is defined once: ``SHAPES`` holds its anchor node
  types, ORDER BY and LIMIT, and ``shape_rows`` its traversal from
  full-text anchors to result rows, keyed by question. The two callers
  differ only in where the anchors come from and how the rows are cut:
  ``nl_router.execute_shape`` anchors one question with
  ``fulltext.entity_top1`` (one scan, no shuffle), broadcasts the
  one-row anchor and cuts with a global ORDER BY ... LIMIT — the
  Catalyst analog of Neo4j's index-first plans; ``nl_batch`` anchors a
  whole question table from one shared anchor table and cuts with a
  per-question top-k window;
- SPARQL shapes run on the triples table directly (self-joins on subj).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgspark.constants import (
    BASE,
    CLS_LOCATION,
    CLS_PATIENT,
    CLS_PROVIDER,
    P_AGE,
    P_CONDITION,
    P_LOCATED_AT,
    P_NAME,
    P_SPECIALIZES_IN,
    P_TREATS,
    RDF_TYPE,
)

# shape -> (anchor node types, ORDER BY, LIMIT), after the reference's
# few-shot Cypher (cypher_generator.py:25-98). Orders are column names,
# "-" for descending (``sort_cols`` builds the Columns: F.desc at module
# level fails on import without an active SparkContext). Each order
# ends in the row's id, so ties at the cut break the same way on both
# paths. Shape 5 aggregates to one row per anchor pair: no cut.
SHAPES: dict[str, tuple[tuple[str, ...], tuple[str, ...], int | None]] = {
    "shape1": ((CLS_PROVIDER,), ("-provider_score", "patient_name", "patient_id"), 100),
    "shape2": (
        (CLS_PROVIDER,),
        ("-provider_score", "specialization", "specialization_id"),
        5,
    ),
    "shape3": ((CLS_LOCATION,), ("provider_name", "provider_id"), 25),
    "shape4": (
        (CLS_PROVIDER, CLS_LOCATION),
        ("-provider_score", "patient_name", "patient_id"),
        25,
    ),
    "shape5": ((CLS_PROVIDER, CLS_LOCATION), (), None),
}


def sort_cols(order: tuple[str, ...]) -> list[Column]:
    """A ``SHAPES`` order as sort Columns."""
    return [F.desc(c[1:]) if c.startswith("-") else F.asc(c) for c in order]


def shape_rows(
    nodes: DataFrame,
    edges: DataFrame,
    shape: str,
    anchored: Callable[[str], DataFrame],
) -> DataFrame:
    """(question, <the shape's columns>) of one Cypher shape, before the
    cut. ``anchored(node_type)`` gives each question's full-text top-1
    anchor of that type as (question, anchor_id, anchor_name,
    anchor_score); a question without one has no rows.

    shape1  provider → TREATS patients
    shape2  provider → SPECIALIZES_IN specializations
    shape3  location ← LOCATED_AT providers (reverse, DISTINCT)
    shape4  provider LOCATED_AT location → TREATS patients
    shape5  as shape4, then count(DISTINCT patient), round(avg(age), 1)
            with age coerced numerically at query time
    """

    # Plan building is most of a single question's latency, so columns
    # are referenced as df["c"] and renamed in one withColumnsRenamed:
    # each F.col or alias is a dozen py4j round trips. Each edge frame
    # joins from the left: the right side of a join is the one Spark
    # re-aliases when both sides read ``edges``, and df["c"] references
    # into it would be ambiguous.
    def rel(p: str) -> DataFrame:
        return edges.filter(edges["rel"] == p)

    if shape == "shape3":
        a, located = anchored(CLS_LOCATION), rel(P_LOCATED_AT)
        return (
            located.join(a, located["dst"] == a["anchor_id"])
            .join(nodes, located["src"] == nodes["id"])
            .select("question", "id", "name", "anchor_name")
            .withColumnsRenamed(
                {"id": "provider_id", "name": "provider_name", "anchor_name": "matched_location"}
            )
            .distinct()
        )

    a = anchored(CLS_PROVIDER)
    if shape in ("shape4", "shape5"):
        # The anchored provider LOCATED_AT the anchored location of the
        # same question: the two anchors pair up on the question, then
        # meet the edge. Joining each anchor to the edge in turn runs 2
        # more Spark jobs per batch on small question tables.
        loc = anchored(CLS_LOCATION).select("question", "anchor_id", "anchor_name")
        loc = loc.withColumnsRenamed({"anchor_id": "loc_id", "anchor_name": "matched_location"})
        located = rel(P_LOCATED_AT)
        pairs = a.join(loc, "question")
        a = located.join(
            pairs, (located["src"] == pairs["anchor_id"]) & (located["dst"] == pairs["loc_id"])
        ).select("question", "anchor_id", "anchor_name", "anchor_score", "matched_location")

    hop = rel(P_SPECIALIZES_IN if shape == "shape2" else P_TREATS)
    hits = hop.join(a, hop["src"] == a["anchor_id"]).join(nodes, hop["dst"] == nodes["id"])
    if shape == "shape5":
        return (
            hits.groupBy("question", "anchor_name", "matched_location")
            .agg(
                F.countDistinct("id").alias("total_patients"),
                F.round(F.avg(F.col("age").try_cast("double")), 1).alias("avg_age"),
            )
            .withColumnsRenamed({"anchor_name": "matched_provider"})
        )
    out_id, out_name = (
        ("specialization_id", "specialization") if shape == "shape2"
        else ("patient_id", "patient_name")
    )
    return hits.select(
        "question",
        "id",
        "name",
        "anchor_name",
        *(["matched_location"] if shape == "shape4" else []),
        "anchor_score",
    ).withColumnsRenamed(
        {"id": out_id, "name": out_name, "anchor_name": "matched_provider",
         "anchor_score": "provider_score"}
    )


# --- SPARQL goldens over the triples table (tests/test_sparql.py) ----------

def sparql_q1(triples: DataFrame, provider_slug: str = "Dr_Jessica_Lee") -> DataFrame:
    """Q1 (test_sparql.py:12-19): patients TREATed by a provider, with
    name + condition (triple-table joins on subj)."""
    prov_uri = BASE + provider_slug
    treats = triples.filter((F.col("pred") == P_TREATS) & (F.col("subj") == prov_uri))
    names = triples.filter(F.col("pred") == P_NAME).select(
        F.col("subj").alias("p"), F.col("obj").alias("patientName")
    )
    conds = triples.filter(F.col("pred") == P_CONDITION).select(
        F.col("subj").alias("p"), F.col("obj").alias("cond")
    )
    return (
        treats.select(F.col("obj").alias("p"))
        .join(names, "p")
        .join(conds, "p")
        .select("patientName", "cond")
    )


def sparql_q2(triples: DataFrame, location_slug: str = "Los_Angeles") -> DataFrame:
    """Q2 (test_sparql.py:25-32): same-subject star — documents located
    at X and their specializations' names."""
    loc_uri = BASE + location_slug
    at = triples.filter((F.col("pred") == P_LOCATED_AT) & (F.col("obj") == loc_uri)).select(
        F.col("subj").alias("doc")
    )
    spec = triples.filter(F.col("pred") == P_SPECIALIZES_IN).select(
        F.col("subj").alias("doc"), F.col("obj").alias("spec")
    )
    names = triples.filter(F.col("pred") == P_NAME).select(
        F.col("subj").alias("spec"), F.col("obj").alias("specName")
    )
    return at.join(spec, "doc").join(names, "spec").select("doc", "specName")


def sparql_q3(triples: DataFrame, min_age: int = 65, condition: str = "asthma") -> DataFrame:
    """Q3 (test_sparql.py:38-47): typed filter — patients with
    age >= 65 and lower(condition) = 'asthma'."""
    patients = triples.filter(
        (F.col("pred") == RDF_TYPE) & (F.col("obj") == CLS_PATIENT)
    ).select(F.col("subj").alias("p"))
    names = triples.filter(F.col("pred") == P_NAME).select(
        F.col("subj").alias("p"), F.col("obj").alias("pName")
    )
    ages = triples.filter(F.col("pred") == P_AGE).select(
        F.col("subj").alias("p"), F.col("obj").alias("age")
    )
    conds = triples.filter(F.col("pred") == P_CONDITION).select(
        F.col("subj").alias("p"), F.col("obj").alias("c")
    )
    return (
        patients.join(names, "p")
        .join(ages, "p")
        .join(conds, "p")
        .filter(
            (F.col("age").try_cast("int") >= min_age)
            # lower both sides: the column is lower()-normalized, so a
            # naturally-cased argument ("Asthma") must still match
            & (F.lower(F.col("c")) == condition.lower())
        )
        .select("pName", "age", "c")
    )
