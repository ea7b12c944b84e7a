"""The graph stage (operators/graph_build.py) without the reference data.

- A pure-Python nodes/edges builder, kept here as the oracle, equals
  ``nodes_from_triples`` / ``edges_from_triples`` row for row, with the
  in-memory schema, on a hand-built triple table that holds the edge
  cases and on the seed-5 and seed-11 datagen triples.
- The nodes write plus the ``rel``-partitioned edges write over
  triples read from parquet stay within a pinned Spark-job budget.
"""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

import pytest
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from kgspark import datagen, golden
from kgspark.constants import (
    KIND_LITERAL,
    KIND_URI,
    P_AGE,
    P_BIO,
    P_CONDITION,
    P_GENDER,
    P_LOCATED_AT,
    P_NAME,
    P_SPECIALIZES_IN,
    P_TREATS,
    RDF_TYPE,
    TRIPLE_COLUMNS,
)
from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
from kgspark.operators.rdf_build import build_triples

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_build_cost import spark_jobs  # noqa: E402

_PROPS = {
    "type": RDF_TYPE, "name": P_NAME, "bio": P_BIO, "age": P_AGE,
    "gender": P_GENDER, "condition": P_CONDITION,
}
_NODE_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("id", *_PROPS)]
    + [
        StructField("conditions", ArrayType(StringType(), containsNull=False)),
        StructField("age_int", IntegerType()),
    ]
)
_TRIPLE_DDL = ", ".join(f"{c} string" for c in TRIPLE_COLUMNS)


def _age_int(age):
    """``try_cast(age AS INT)`` on the ages these tests carry: an
    optionally signed run of ASCII digits in int range, else NULL."""
    if age is None or not re.fullmatch(r"\s*[+-]?[0-9]+\s*", age):
        return None
    v = int(age)
    return v if -(2**31) <= v < 2**31 else None


def _oracle(triples):
    """(nodes, edges) as the reference's MERGE + ``add_edge`` would
    materialize them: edges are the URI-object triples other than
    rdf:type; nodes are the typed subjects and every edge endpoint,
    each with the min value per property, the sorted condition set
    (None when empty) and the int age."""
    edges = {(s, p, o) for s, p, o, k, *_ in triples if k == KIND_URI and p != RDF_TYPE}
    ids = {s for s, p, *_ in triples if p == RDF_TYPE} | {x for s, _, o in edges for x in (s, o)}
    vals = defaultdict(set)
    for s, p, o, *_ in triples:
        if o is not None:
            vals[s, p].add(o)
    nodes = set()
    for i in ids:
        props = [min(vals[i, p], default=None) for p in _PROPS.values()]
        conds = tuple(sorted(vals[i, P_CONDITION])) or None
        nodes.add((i, *props, conds, _age_int(props[3])))
    return nodes, edges


def _assert_matches_oracle(triples):
    nodes, edges = nodes_from_triples(triples), edges_from_triples(triples)
    want_nodes, want_edges = _oracle([tuple(r) for r in triples.collect()])
    n, e = nodes.collect(), edges.collect()
    assert len(n) == len(want_nodes) and len(e) == len(want_edges)
    assert {tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in n} == want_nodes
    assert {tuple(r) for r in e} == want_edges
    assert nodes.schema == _NODE_SCHEMA
    null = {f.name: f.nullable for f in triples.schema}
    assert edges.schema == StructType([
        StructField("src", StringType(), null["subj"]),
        StructField("rel", StringType(), null["pred"]),
        StructField("dst", StringType(), null["obj"]),
    ])
    return n, e


def _ex(x):
    return "http://example.org/healthcare#" + x


def _hand_built(spark):
    lit = lambda s, p, o: (_ex(s), p, o, KIND_LITERAL, None, None)  # noqa: E731
    uri = lambda s, p, o: (_ex(s), p, _ex(o), KIND_URI, None, None)  # noqa: E731
    rows = [
        # a typed provider with properties and three edges
        uri("drA", RDF_TYPE, "HealthcareProvider"),
        lit("drA", P_NAME, "Dr. A"),
        lit("drA", P_BIO, "Cardiologist."),
        uri("drA", P_TREATS, "p1"),
        uri("drA", P_TREATS, "p2"),
        uri("drA", P_LOCATED_AT, "loc"),
        # an untyped edge endpoint: kept, type NULL
        uri("drA", P_SPECIALIZES_IN, "bare_spec"),
        # properties, no type and no edge: dropped
        lit("lonely", P_NAME, "Lonely"),
        lit("lonely", P_AGE, "50"),
        # two rdf:type values: min wins
        uri("two", RDF_TYPE, "Patient"),
        uri("two", RDF_TYPE, "Location"),
        # several conditions (sorted set, min as `condition`) and a
        # non-numeric age
        uri("p1", RDF_TYPE, "Patient"),
        lit("p1", P_NAME, "Pat One"),
        lit("p1", P_CONDITION, "flu"),
        lit("p1", P_CONDITION, "asthma"),
        lit("p1", P_CONDITION, "cold"),
        lit("p1", P_AGE, "n/a"),
        lit("p1", P_GENDER, "F"),
        # no condition (NULL, not []), a numeric age
        uri("p2", RDF_TYPE, "Patient"),
        lit("p2", P_AGE, "42"),
        # typed by an rdf:type triple with a URI object, which is no edge
        uri("loc", RDF_TYPE, "Location"),
    ]
    return spark.createDataFrame(rows, _TRIPLE_DDL)


def test_hand_built_triples_match_oracle(spark):
    n, e = _assert_matches_oracle(_hand_built(spark))
    by_id = {r.id: r for r in n}
    assert set(by_id) == {_ex(x) for x in ("drA", "p1", "p2", "two", "loc", "bare_spec")}
    assert by_id[_ex("bare_spec")].type is None
    assert by_id[_ex("two")].type == _ex("Location")
    assert by_id[_ex("p1")].conditions == ["asthma", "cold", "flu"]
    assert by_id[_ex("p1")].condition == "asthma"
    assert by_id[_ex("p1")].age_int is None
    assert by_id[_ex("p2")].conditions is None
    assert by_id[_ex("p2")].age_int == 42
    assert len(e) == 4 and all(r.rel != RDF_TYPE for r in e)


def _datagen_triples(spark, seed, n_pages):
    corpus = datagen.generate_corpus(n_pages=n_pages, seed=seed)
    facts = spark.createDataFrame(
        [
            {**{c: r.get(c, "") for c in golden.FACT_COLUMNS}, "row_idx": i + 1}
            for i, r in enumerate(corpus.fact_rows)
        ],
        ", ".join(f"{c} string" for c in golden.FACT_COLUMNS) + ", row_idx long",
    )
    return build_triples(facts)


@pytest.mark.parametrize("seed,n_pages", [(5, 80), (11, 300)])
def test_datagen_triples_match_oracle(spark, seed, n_pages):
    n, e = _assert_matches_oracle(_datagen_triples(spark, seed, n_pages).localCheckpoint(eager=True))
    # both sides of the `nullif` occur: nodes without a condition and
    # nodes with several
    assert any(r.conditions is None for r in n)
    assert any(r.conditions and len(r.conditions) > 1 for r in n)


# Spark jobs of the nodes write plus the rel-partitioned edges write
# over triples read from parquet: the node aggregate's shuffle-map
# stage, the nodes write and the edges write (no shuffle).
_GRAPH_WRITE_JOBS = 3


def test_graph_write_job_budget(spark, tmp_path):
    _datagen_triples(spark, 5, 80).write.parquet(str(tmp_path / "triples"))
    triples = spark.read.parquet(str(tmp_path / "triples"))
    with spark_jobs(spark) as jobs:
        nodes_from_triples(triples).write.parquet(str(tmp_path / "nodes"))
        edges_from_triples(triples).write.partitionBy("rel").parquet(str(tmp_path / "edges"))
    assert jobs[0] <= _GRAPH_WRITE_JOBS, jobs[0]
    assert spark.read.parquet(str(tmp_path / "nodes")).count() == 132
    assert spark.read.parquet(str(tmp_path / "edges")).count() == 290
