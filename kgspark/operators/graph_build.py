"""Property-graph materialization (SURVEY.md §2 G1, A5-A7, I1).

Turns a triples DataFrame into the canonical entity-node and edge
tables the reference materializes into Neo4j
(``/root/reference/scripts/build_cypher_graph.py:21-79``,
``run_rdf_to_kg.py:31-47``):

- node identity: the entity URI (MERGE-by-name semantics, since the
  URI is a pure function of the name slug)
- node props pivoted into columns (name, bio, age, gender, condition)
  for pruning/pushdown instead of a map
- NetworkX ``add_edge`` auto-creates endpoints (graph_utils.py:128-134)
  → node set = typed subjects ∪ edge endpoints
- edge uniqueness on (src, rel, dst) (build_cypher_graph.py:62-79)
  comes from the input being a triple set, not from a dedup here.

The node table is ONE aggregate over ONE scan: each triple gives its
subject a row, each edge triple also a bare endpoint row for its
object, and one ``groupBy(id)`` takes the type, the properties, the
condition set and the keep flag with ``FILTER`` clauses. All inputs
share the id key, so there is no join and no join shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.constants import (
    KIND_URI,
    P_AGE,
    P_BIO,
    P_CONDITION,
    P_GENDER,
    P_NAME,
    RDF_TYPE,
)
from kgspark.functions.sqltext import string_lit

_PROPS = {
    "type": RDF_TYPE, "name": P_NAME, "bio": P_BIO, "age": P_AGE,
    "gender": P_GENDER, "condition": P_CONDITION,
}
_IS_EDGE = f"obj_kind = {string_lit(KIND_URI)} AND pred != {string_lit(RDF_TYPE)}"


def edges_from_triples(triples: DataFrame) -> DataFrame:
    """(src, rel, dst) — object-property triples (C5).

    ``triples`` must be a triple set, as ``build_triples`` output is
    (its aggregate is keyed on (subj, pred, obj, obj_kind)); then the
    edges are unique without a dedup. tests/test_rdf_build.py pins that
    (``test_seeded_hostile_tables_match_golden``).
    """
    return triples.filter(_IS_EDGE).selectExpr("subj AS src", "pred AS rel", "obj AS dst")


def nodes_from_triples(triples: DataFrame) -> DataFrame:
    """Canonical node table: (id, type, name, bio, age, gender,
    condition, conditions, age_int).

    An id is kept if it has an rdf:type triple or is an edge endpoint
    (an untyped endpoint is a bare NetworkX-style node). Multi-valued
    predicates collapse deterministically to the min lexical value;
    ``conditions`` keeps the full sorted set (NULL when there is none).
    """
    subject = (
        "named_struct('id', subj, 'pred', pred, 'obj', obj,"
        f" 'keep', {_IS_EDGE} OR pred = {string_lit(RDF_TYPE)})"
    )
    endpoint = "named_struct('id', obj, 'pred', NULL, 'obj', NULL, 'keep', true)"
    rows = triples.selectExpr(
        f"inline(IF({_IS_EDGE}, array({subject}, {endpoint}), array({subject})))"
    )
    is_cond = f"pred = {string_lit(P_CONDITION)}"
    return (
        rows.groupBy("id")
        .agg(
            *[F.expr(f"min(obj) FILTER (WHERE pred = {string_lit(p)}) AS {c}") for c, p in _PROPS.items()],
            F.expr(f"nullif(array_sort(collect_set(obj) FILTER (WHERE {is_cond})), array()) AS conditions"),
            F.expr("bool_or(keep) AS keep"),
        )
        .filter("keep")
        .selectExpr("id", *_PROPS, "conditions", "try_cast(age AS INT) AS age_int")
    )


def graph_schema_summary(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Schema introspection (I1): distinct (src_type, rel, dst_type)
    patterns, the DataFrame analog of ``apoc.meta.schema``
    (cypher_generator.py:140-177)."""
    n = nodes.select("id", "type")
    return (
        edges.join(n.withColumnRenamed("id", "src").withColumnRenamed("type", "src_type"), "src")
        .join(n.withColumnRenamed("id", "dst").withColumnRenamed("type", "dst_type"), "dst")
        .select("src_type", "rel", "dst_type")
        .distinct()
    )
