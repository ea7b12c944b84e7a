"""Golden-query tests (FIXTURES.md F6) on the reference's own data.

Builds the KG from /root/reference/data/healthcare.csv via the engine,
then checks each query shape against expectations computed directly
from the golden triple set with plain Python.
"""

from __future__ import annotations

import csv

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark import golden
from kgspark.constants import (
    BASE,
    CLS_PATIENT,
    P_AGE,
    P_CONDITION,
    P_LOCATED_AT,
    P_NAME,
    P_SPECIALIZES_IN,
    P_TREATS,
    RDF_TYPE,
)
from kgspark.operators import kg_queries
from kgspark.operators.fulltext import query_tokens, score_candidates
from kgspark.operators.graph_build import edges_from_triples, nodes_from_triples
from kgspark.operators.nl_router import execute_shape
from kgspark.operators.rdf_build import build_triples
from kgspark.sources.csv_source import read_fact_csv

REF_CSV = "/root/reference/data/healthcare.csv"


@pytest.fixture(scope="module")
def graph(spark):
    triples = build_triples(read_fact_csv(spark, REF_CSV)).cache()
    nodes = nodes_from_triples(triples).cache()
    edges = edges_from_triples(triples).cache()
    with open(REF_CSV, newline="", encoding="utf-8") as f:
        gold = golden.fact_rows_to_triples(list(csv.DictReader(f)))
    return triples, nodes, edges, gold


def _by_pred(gold, pred):
    return [(s, o) for (s, p, o, *_rest) in gold if p == pred]


def test_sparql_q1_patients_of_jessica(spark, graph):
    triples, _, _, gold = graph
    got = {(r.patientName, r.cond) for r in kg_queries.sparql_q1(triples).collect()}
    prov = BASE + "Dr_Jessica_Lee"
    pats = {o for s, o in _by_pred(gold, P_TREATS) if s == prov}
    names = dict(_by_pred(gold, P_NAME))
    expected = {
        (names[p], c) for p in pats for (s, c) in _by_pred(gold, P_CONDITION) if s == p
    }
    assert got == expected and got


def test_sparql_q2_star_join(spark, graph):
    triples, _, _, gold = graph
    got = {(r.doc, r.specName) for r in kg_queries.sparql_q2(triples).collect()}
    la = BASE + "Los_Angeles"
    docs = {s for s, o in _by_pred(gold, P_LOCATED_AT) if o == la}
    names = dict(_by_pred(gold, P_NAME))
    expected = {
        (d, names[sp]) for d in docs for (s, sp) in _by_pred(gold, P_SPECIALIZES_IN) if s == d
    }
    assert got == expected and got


def test_sparql_q3_typed_filter(spark, graph):
    triples, _, _, gold = graph
    got = {(r.pName, r.age, r.c) for r in kg_queries.sparql_q3(triples).collect()}
    patients = {s for s, o in _by_pred(gold, RDF_TYPE) if o == CLS_PATIENT}
    names = dict(_by_pred(gold, P_NAME))
    ages = dict(_by_pred(gold, P_AGE))
    expected = set()
    for p in patients:
        age = ages.get(p)
        if age is None or not age.lstrip("-").isdigit() or int(age) < 65:
            continue
        for s, c in _by_pred(gold, P_CONDITION):
            if s == p and c.lower() == "asthma":
                expected.add((names[p], age, c))
    assert got == expected and got


def test_cypher_shape_1_treats(spark, graph):
    triples, nodes, edges, gold = graph
    got = execute_shape(nodes, edges, "shape1", "Dr. Jessica Lee", None).collect()
    assert all(r.matched_provider == "Dr. Jessica Lee" for r in got)
    prov = BASE + "Dr_Jessica_Lee"
    expected_pats = {o for s, o in _by_pred(gold, P_TREATS) if s == prov}
    assert {r.patient_id for r in got} == expected_pats
    # deterministic order: name asc
    assert [r.patient_name for r in got] == sorted(r.patient_name for r in got)


def test_cypher_shape_2_specializations(spark, graph):
    _, nodes, edges, gold = graph
    got = execute_shape(nodes, edges, "shape2", "Dr. Michael Brown", None).collect()
    prov = BASE + "Dr_Michael_Brown"
    expected = {o for s, o in _by_pred(gold, P_SPECIALIZES_IN) if s == prov}
    assert {r.specialization_id for r in got} == set(sorted(expected)[:5])


def test_cypher_shape_3_providers_at_location(spark, graph):
    _, nodes, edges, gold = graph
    got = execute_shape(nodes, edges, "shape3", None, "New York").collect()
    loc = BASE + "New_York"
    expected = {s for s, o in _by_pred(gold, P_LOCATED_AT) if o == loc}
    assert {r.provider_id for r in got} == expected
    assert all(r.matched_location == "New York" for r in got)


def test_cypher_shape_4_multihop(spark, graph):
    _, nodes, edges, gold = graph
    got = execute_shape(
        nodes, edges, "shape4", "Dr. John Smith", "Los Angeles"
    ).collect()
    prov = BASE + "Dr_John_Smith"
    la = BASE + "Los_Angeles"
    located = {(s, o) for s, o in _by_pred(gold, P_LOCATED_AT)}
    assert (prov, la) in located
    expected = {o for s, o in _by_pred(gold, P_TREATS) if s == prov}
    assert {r.patient_id for r in got} == set(
        sorted(expected)[:25]
    ) or len(got) == 25


def test_cypher_shape_5_aggregates(spark, graph):
    _, nodes, edges, gold = graph
    row = execute_shape(
        nodes, edges, "shape5", "Dr. John Smith", "Los Angeles"
    ).first()
    prov = BASE + "Dr_John_Smith"
    pats = {o for s, o in _by_pred(gold, P_TREATS) if s == prov}
    ages = dict(_by_pred(gold, P_AGE))
    vals = [int(ages[p]) for p in pats if p in ages and ages[p].isdigit()]
    assert row.total_patients == len(pats)
    assert row.avg_age == round(sum(vals) / len(vals), 1)


def _score_candidates_idf(inverted: DataFrame, query: str) -> DataFrame:
    """(id, name, score): IDF-weighted token-overlap ranking.

    score(query, name) = Σ over matched distinct tokens of
    ``ln(1 + N / df(token))`` — the Lucene-flavoured alternative to the
    plain overlap count (run_rdf_to_kg.py:60-99 ranks via Lucene
    TF-IDF). A rare surname outweighs a ubiquitous honorific ("dr"),
    so ambiguous anchors resolve to the name matching the DISTINCTIVE
    query tokens, where plain overlap ties. The document frequencies
    come from the inverted table itself; N is the entity count.
    """
    qtokens = query_tokens(query)
    n_entities = inverted.select("id").distinct().count()
    matched = inverted.filter(F.col("token").isin(qtokens))
    df_tbl = matched.groupBy("token").agg(F.countDistinct("id").alias("df"))
    return (
        matched.join(F.broadcast(df_tbl), "token")
        .groupBy("id", "name")
        .agg(
            F.sum(F.log1p(F.lit(float(n_entities)) / F.col("df"))).alias("score")
        )
    )


def _fulltext_topk(
    inverted: DataFrame, query: str, k: int, weighted: bool = False
) -> DataFrame:
    """Top-k entities by plain overlap (the library's scoring spec) or,
    with ``weighted``, by ``_score_candidates_idf``."""
    scored = (
        _score_candidates_idf(inverted, query)
        if weighted
        else score_candidates(inverted, query)
    )
    return scored.orderBy(F.desc("score"), F.asc("name"), F.asc("id")).limit(k)


def test_idf_weighted_fulltext_reranks_ambiguous_anchor(spark):
    """Plain overlap ties 'Dr. Lee' between every 'Dr. *' name at
    score 1 + the Lee match at 2 vs a hub name carrying both common
    tokens; IDF weighting must rank the rare-surname match first even
    when overlap counts tie."""
    from kgspark.operators.fulltext import build_inverted_index

    rows = [
        (1, "Dr. Smith Lee"),     # overlap('dr lee') = 2
        (2, "Dr. Dr Center"),     # pathological hub of common tokens
        (3, "Lee Memorial Dr."),  # overlap = 2 as well — tie on overlap
        (4, "Dr. Jones"),
        (5, "Dr. Brown"),
    ]
    ents = spark.createDataFrame(rows, "id long, name string")
    inv = build_inverted_index(ents)

    plain = _fulltext_topk(inv, "Dr. Lee", k=3).collect()
    weighted = _fulltext_topk(inv, "Dr. Lee", k=3, weighted=True).collect()

    # overlap scorer: 1 and 3 tie at 2; tie-break is name ASC → id 1
    assert plain[0].id == 1 and plain[0].score == 2
    # idf scorer: both matched tokens weigh in, but 'lee' (df=2)
    # dominates 'dr' (df=5); the two lee-names still lead, and every
    # dr-only name scores strictly lower than any lee match
    top_ids = [r.id for r in weighted]
    assert set(top_ids[:2]) == {1, 3}
    lee_score = weighted[0].score
    dr_only = [r for r in weighted if r.id not in (1, 3)]
    assert all(r.score < lee_score for r in dr_only)
