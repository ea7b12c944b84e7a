"""Healthcare-KG query layer (SURVEY.md §2 D1-D5, E1, F1-F2; FIXTURES.md F6).

The reference's read side is (a) five canonical NL→Cypher shapes
(``kg_rag/methods/cypher_based/cypher_generator.py:25-98``) and (b)
three golden SPARQL queries (``tests/test_sparql.py``). Each is
re-expressed here as a DataFrame plan over the engine's materialized
``nodes``/``edges``/``triples`` tables:

- every Cypher shape anchors with a full-text top-1 lookup
  (``fulltext.entity_top1``: the distinct-token overlap scored per node
  row, then a TakeOrderedAndProject — one scan, no shuffle, no
  per-query index) and proceeds with broadcast joins off the one-row
  anchor — the Catalyst analog of Neo4j's index-first plans;
- SPARQL shapes run on the triples table directly (self-joins on subj).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.constants import (
    BASE,
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
from kgspark.operators.fulltext import entity_top1


def _anchor(nodes: DataFrame, node_type: str, query: str) -> DataFrame:
    """Full-text top-1 entity of the given type → one-row DataFrame
    (anchor_id, anchor_name, anchor_score), scored on the node table
    without a shuffle (``fulltext.entity_top1``)."""
    ents = nodes.filter(F.col("type") == node_type).select("id", "name")
    top = entity_top1(ents, query)
    return F.broadcast(
        top.select(
            F.col("id").alias("anchor_id"),
            F.col("name").alias("anchor_name"),
            F.col("score").alias("anchor_score"),
        )
    )


def patients_of_provider(nodes: DataFrame, edges: DataFrame, provider_query: str, limit: int = 100) -> DataFrame:
    """Cypher example 1 (cypher_generator.py:25-36): provider full-text
    top-1 → TREATS patients, ordered, LIMIT 100."""
    anchor = _anchor(nodes, CLS_PROVIDER, provider_query)
    treats = edges.filter(F.col("rel") == P_TREATS)
    n2 = nodes.select(F.col("id").alias("nid"), F.col("name").alias("nname"))
    return (
        treats.join(anchor, treats.src == F.col("anchor_id"))
        .join(n2, treats.dst == F.col("nid"))
        .select(
            F.col("nid").alias("patient_id"),
            F.col("nname").alias("patient_name"),
            F.col("anchor_name").alias("matched_provider"),
            F.col("anchor_score").alias("provider_score"),
        )
        .orderBy(F.desc("provider_score"), F.asc("patient_name"), F.asc("patient_id"))
        .limit(limit)
    )


def specializations_of_provider(nodes: DataFrame, edges: DataFrame, provider_query: str, limit: int = 5) -> DataFrame:
    """Cypher example 2 (cypher_generator.py:38-49)."""
    anchor = _anchor(nodes, CLS_PROVIDER, provider_query)
    spec = edges.filter(F.col("rel") == P_SPECIALIZES_IN)
    n2 = nodes.select(F.col("id").alias("nid"), F.col("name").alias("nname"))
    return (
        spec.join(anchor, spec.src == F.col("anchor_id"))
        .join(n2, spec.dst == F.col("nid"))
        .select(
            F.col("nid").alias("specialization_id"),
            F.col("nname").alias("specialization"),
            F.col("anchor_name").alias("matched_provider"),
            F.col("anchor_score").alias("provider_score"),
        )
        .orderBy(F.desc("provider_score"), F.asc("specialization"))
        .limit(limit)
    )


def providers_at_location(nodes: DataFrame, edges: DataFrame, location_query: str, limit: int = 25) -> DataFrame:
    """Cypher example 3 (cypher_generator.py:51-62): reverse traversal,
    DISTINCT providers at the matched location."""
    from kgspark.constants import CLS_LOCATION

    anchor = _anchor(nodes, CLS_LOCATION, location_query)
    loc = edges.filter(F.col("rel") == P_LOCATED_AT)
    n2 = nodes.select(F.col("id").alias("nid"), F.col("name").alias("nname"))
    return (
        loc.join(anchor, loc.dst == F.col("anchor_id"))
        .join(n2, loc.src == F.col("nid"))
        .select(
            F.col("nid").alias("provider_id"),
            F.col("nname").alias("provider_name"),
            F.col("anchor_name").alias("matched_location"),
        )
        .distinct()
        .orderBy(F.asc("provider_name"), F.asc("provider_id"))
        .limit(limit)
    )


def _two_anchor_hp(
    nodes: DataFrame, edges: DataFrame, provider_query: str, location_query: str
) -> DataFrame:
    """Shared two-anchor core of Cypher examples 4 and 5: the anchored
    provider LOCATED_AT the anchored location, as one frame
    (anchor_id, anchor_name, anchor_score, matched_location). One
    definition so the two consumers cannot drift."""
    from kgspark.constants import CLS_LOCATION

    prov = _anchor(nodes, CLS_PROVIDER, provider_query)
    loc_anchor = _anchor(nodes, CLS_LOCATION, location_query).select(
        F.col("anchor_id").alias("loc_id"), F.col("anchor_name").alias("matched_location")
    )
    located = edges.filter(F.col("rel") == P_LOCATED_AT)
    return (
        located.join(prov, located.src == F.col("anchor_id"))
        .join(loc_anchor, located.dst == F.col("loc_id"))
        .select("anchor_id", "anchor_name", "anchor_score", "matched_location")
    )


def patients_of_provider_at_location(
    nodes: DataFrame, edges: DataFrame, provider_query: str, location_query: str, limit: int = 25
) -> DataFrame:
    """Cypher example 4 (cypher_generator.py:64-81): two anchors +
    conjunctive 2-hop match, two-key ORDER BY, LIMIT 25."""
    hp_at = _two_anchor_hp(nodes, edges, provider_query, location_query)
    treats = edges.filter(F.col("rel") == P_TREATS)
    n2 = nodes.select(F.col("id").alias("nid"), F.col("name").alias("nname"))
    return (
        treats.join(hp_at, treats.src == F.col("anchor_id"))
        .join(n2, treats.dst == F.col("nid"))
        .select(
            F.col("nid").alias("patient_id"),
            F.col("nname").alias("patient_name"),
            F.col("anchor_name").alias("matched_provider"),
            F.col("matched_location"),
            F.col("anchor_score").alias("provider_score"),
        )
        .orderBy(F.desc("provider_score"), F.asc("patient_name"))
        .limit(limit)
    )


def provider_patient_aggregates(
    nodes: DataFrame, edges: DataFrame, provider_query: str, location_query: str
) -> DataFrame:
    """Cypher example 5 (cypher_generator.py:83-98): count(DISTINCT p),
    round(avg(age), 1) for the anchored provider at the anchored
    location — age coerced numerically at query time."""
    hp_at = _two_anchor_hp(nodes, edges, provider_query, location_query)
    treats = edges.filter(F.col("rel") == P_TREATS)
    n2 = nodes.select(
        F.col("id").alias("nid"), F.col("age").alias("nage")
    )
    return (
        treats.join(hp_at.drop("anchor_score"),
                    treats.src == F.col("anchor_id"))
        .join(n2, treats.dst == F.col("nid"))
        .groupBy(
            F.col("anchor_name").alias("matched_provider"),
            F.col("matched_location"),
        )
        .agg(
            F.countDistinct(F.col("nid")).alias("total_patients"),
            F.round(F.avg(F.col("nage").try_cast("double")), 1).alias("avg_age"),
        )
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
