"""Deterministic NL→shape routing (operators/nl_router.py).

The five canonical few-shot questions from the reference's Cypher
prompt (cypher_generator.py:23-98) must route to their shapes with the
right anchors; routing is pure column expressions, so the whole table
routes in one pass, and a single question routes on the driver with
the same expressions and no Spark job.
"""

from __future__ import annotations

import os
import random
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import pytest

from kgspark.functions.sqltext import string_lit
from kgspark.operators import nl_router

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_build_cost import shuffle_exchanges, spark_jobs  # noqa: E402


def _route_all(spark, questions):
    df = spark.createDataFrame([(q,) for q in questions], ["question"])
    return {
        r.question: (r.shape, r.provider_q, r.location_q)
        for r in nl_router.route_questions(df).collect()
    }


# Fragments a question may carry that a SQL-text round trip would
# mangle: quotes, backslashes, control characters, non-ASCII, and the
# ${...} references spark.sql substitutes.
_HOSTILE = [
    "'", "''", '"', "\\", "\\'", "\x00", "\n", "\r\n", "\t", "é", "ſ",
    "\u212a", "東京", "😀", "--", ";", "/*", "%s", "$", "${x}",
    "${spark.app.name}",
]
_SUBST = ("${x}", "${spark.app.name}")


def _hostile_questions(n: int, seed: int) -> list[str]:
    """``n`` distinct canonical questions, each with 1-3 hostile
    fragments inserted at random positions. Every fourth one puts a
    ${...} reference inside a capitalized word, so dropping or expanding
    it changes the extracted anchor."""
    rng = random.Random(seed)
    out: set[str] = set()
    while len(out) < n:
        q = rng.choice(nl_router.CANONICAL_QUESTIONS)
        if len(out) % 4 == 0:
            caps = [i + 1 for i in range(1, len(q) - 1) if q[i].isupper()]
            i = rng.choice(caps)
            q = q[:i] + rng.choice(_SUBST) + q[i:]
        for _ in range(rng.randint(1, 3)):
            i = rng.randrange(len(q) + 1)
            q = q[:i] + rng.choice(_HOSTILE) + q[i:]
        out.add(q)
    return sorted(out)


def test_canonical_questions_route_to_their_shapes(spark):
    got = _route_all(spark, nl_router.CANONICAL_QUESTIONS)
    q1, q2, q3, q4, q5 = nl_router.CANONICAL_QUESTIONS
    assert got[q1] == ("shape1", "Dr. Smith", None)
    assert got[q2] == ("shape2", "Dr. Brown", None)
    assert got[q3] == ("shape3", None, "New York")
    assert got[q4] == ("shape4", "Sarah", "Los Angeles")
    assert got[q5] == ("shape5", "Dr. Sarah Johnson", "Los Angeles")


def test_unroutable_question_is_unknown(spark):
    got = _route_all(spark, ["What is the meaning of life?"])
    shape, provider, location = got["What is the meaning of life?"]
    assert shape == "unknown"
    assert provider is None and location is None


def test_lowercase_in_phrase_is_not_a_location(spark):
    """'in the hospital' must not trigger the location shapes."""
    q = "Which patients are treated by Dr. Adams in the hospital?"
    got = _route_all(spark, [q])
    assert got[q][0] == "shape1"
    assert got[q][2] is None


def test_route_and_execute_answers_canonical_questions(spark):
    """End-to-end NL loop on the reference-CSV graph: each canonical
    question routes to its shape and returns exactly what calling the
    shape directly returns."""
    from kgspark.operators.graph_build import (
        edges_from_triples,
        nodes_from_triples,
    )
    from kgspark.operators.rdf_build import build_triples
    from kgspark.sources.csv_source import read_fact_csv

    triples = build_triples(
        read_fact_csv(spark, "/root/reference/data/healthcare.csv")
    ).localCheckpoint(eager=True)
    nodes = nodes_from_triples(triples).localCheckpoint(eager=True)
    edges = edges_from_triples(triples).localCheckpoint(eager=True)

    got = nl_router.route_and_execute(
        nodes, edges, "Which patients are treated by Dr. Jessica Lee?"
    )
    want = nl_router.execute_shape(nodes, edges, "shape1", "Dr. Jessica Lee", None)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0

    agg = nl_router.route_and_execute(
        nodes, edges,
        "For Dr. John Smith in Los Angeles, what is the total number of"
        " patients he treats and what is their average age?",
    )
    want_agg = nl_router.execute_shape(
        nodes, edges, "shape5", "Dr. John Smith", "Los Angeles"
    )
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, want_agg.collect()))

    import pytest

    with pytest.raises(ValueError, match="no deterministic shape"):
        nl_router.route_and_execute(nodes, edges, "What is the meaning of life?")


def test_route_and_execute_missing_anchor_raises_valueerror(spark):
    """A question that routes to a shape but yields no anchor must get
    the documented ValueError, not an AttributeError from tokenizing
    None (e.g. shape5 with neither provider nor location)."""
    import pytest

    from kgspark.operators import nl_router

    nodes = spark.createDataFrame([("x", "T", "n")], ["id", "type", "name"])
    edges = spark.createDataFrame([("x", "r", "x")], ["src", "rel", "dst"])
    for q in [
        "How many patients are treated in total?",       # shape5, no anchors
        "Which patients are treated by the best doctor?",  # shape1, no provider
    ]:
        with pytest.raises(ValueError, match="no deterministic shape"):
            nl_router.route_and_execute(nodes, edges, q)


def test_batched_dispatch_matches_scalar_per_question(spark):
    """Row-set parity of the grouped distributed dispatcher
    (operators/nl_batch.py) with the scalar execute_shape path, per
    canonical question, on the reference-CSV graph."""
    from kgspark.operators import nl_router
    from kgspark.operators.graph_build import (
        edges_from_triples,
        nodes_from_triples,
    )
    from kgspark.operators.nl_batch import execute_routed_grouped
    from kgspark.operators.rdf_build import build_triples
    from kgspark.sources.csv_source import read_fact_csv

    triples = build_triples(
        read_fact_csv(spark, "/root/reference/data/healthcare.csv")
    ).localCheckpoint(eager=True)
    nodes = nodes_from_triples(triples).localCheckpoint(eager=True)
    edges = edges_from_triples(triples).localCheckpoint(eager=True)

    routed = nl_router.route_questions(
        spark.createDataFrame(
            [(q,) for q in nl_router.CANONICAL_QUESTIONS], ["question"]
        )
    )
    grouped = execute_routed_grouped(nodes, edges, routed)
    routes = {r.question: r for r in routed.collect()}
    n_batched_total = 0
    for q, r in routes.items():
        scalar = nl_router.execute_shape(
            nodes, edges, r.shape, r.provider_q, r.location_q, q
        )
        shape_df = grouped[r.shape]
        batched = shape_df.filter(shape_df.question == q).select(
            *scalar.columns  # same names, scalar column order
        )
        got = sorted(map(tuple, batched.collect()))
        want = sorted(map(tuple, scalar.collect()))
        assert got == want, f"{q}: batched {got} != scalar {want}"
        n_batched_total += len(got)
    assert n_batched_total > 0


def test_batched_dispatch_skips_unroutable_and_anchorless(spark):
    """Unknown-shape and anchor-missing questions produce no rows in
    the grouped dispatcher (the scalar path raises; batch callers
    anti-join to find them)."""
    from kgspark import runtime
    from kgspark.operators import nl_router
    from kgspark.operators.nl_batch import execute_routed_grouped

    nodes = spark.createDataFrame(
        [("p1", "HealthcareProvider", "Dr. Smith", None)],
        "id string, type string, name string, age string",
    )
    edges = spark.createDataFrame(
        [("p1", "TREATS", "p1")], ["src", "rel", "dst"]
    )
    routed = nl_router.route_questions(
        spark.createDataFrame(
            [
                ("What is the meaning of life?",),      # unknown
                ("How many patients are treated in total?",),  # shape5 no anchors
            ],
            ["question"],
        )
    )
    mark = runtime.materialized_mark()
    try:
        grouped = execute_routed_grouped(nodes, edges, routed)
        assert all(df.count() == 0 for df in grouped.values())
    finally:
        runtime.release_materialized(since=mark)


def test_route_question_matches_route_questions_without_a_job(spark):
    """The single-question router is route_questions itself: over a
    seeded fuzz of hostile questions it returns exactly the routing the
    DataFrame path gives, and it launches no Spark job."""
    qs = _hostile_questions(240, seed=7)
    assert all(any(f in q for q in qs) for f in _HOSTILE)
    want = _route_all(spark, qs)
    assert len(want) == len(qs)
    with spark_jobs(spark) as jobs:
        got = {q: nl_router.route_question(spark, q) for q in qs}
    diff = [(q, got[q], want[q]) for q in qs if got[q] != want[q]]
    assert not diff, diff[:5]
    assert jobs[0] == 0

    # The fuzz has teeth: routing the same questions through SQL text
    # (a VALUES row) loses the ${...} references to substitution.
    def via_sql_text(q):
        one = spark.sql(f"SELECT * FROM VALUES ({string_lit(q)}) AS t(question)")
        r = nl_router.route_questions(one).first()
        return r.shape, r.provider_q, r.location_q

    for ref in _SUBST:
        cases = [q for q in qs if ref in q]
        assert any(via_sql_text(q) != want[q] for q in cases), ref


def test_route_local_agrees_with_spark_on_ascii(spark):
    """route_local (the nl_route oracle's router) agrees with the Spark
    expressions on ASCII questions. \\x1c-\\x1f are left out: CPython's
    \\s matches them and Java's does not (route_local's docstring)."""
    rng = random.Random(11)
    alphabet = [chr(c) for c in range(128) if not 0x1C <= c <= 0x1F]
    words = [
        "Dr. Smith", "Dr.Brown", "Dr ", "named Sarah", "named sarah",
        " in New York", " in the clinic", " In Boston", " located in Los Angeles",
        "patients", "Patient", "How many", "total number", "AVERAGE",
        "avg", "avg.", "Specialization", "specializes", "Which", " ", "in",
    ]
    qs: set[str] = set(nl_router.CANONICAL_QUESTIONS)
    while len(qs) < 400:
        parts = [
            rng.choice(words) if rng.random() < 0.6
            else "".join(rng.choices(alphabet, k=rng.randint(1, 3)))
            for _ in range(rng.randint(1, 7))
        ]
        qs.add("".join(parts))
    want = _route_all(spark, sorted(qs))
    diff = [(q, nl_router.route_local(q), want[q]) for q in sorted(qs)
            if nl_router.route_local(q) != want[q]]
    assert not diff, diff[:5]


@pytest.fixture(scope="module")
def seed5_graph(spark):
    """(corpus, nodes, edges, questions) of a hermetic datagen graph;
    ``questions`` holds one question per shape about a hub provider and
    a location it is really located at."""
    from kgspark import datagen, golden
    from kgspark.operators.graph_build import (
        edges_from_triples,
        nodes_from_triples,
    )
    from kgspark.operators.rdf_build import build_triples

    corpus = datagen.generate_corpus(n_pages=80, seed=5)
    facts = spark.createDataFrame(
        [
            {**{c: r.get(c, "") for c in golden.FACT_COLUMNS}, "row_idx": i + 1}
            for i, r in enumerate(corpus.fact_rows)
        ],
        ", ".join(f"{c} string" for c in golden.FACT_COLUMNS) + ", row_idx long",
    )
    triples = build_triples(facts).localCheckpoint(eager=True)
    nodes = nodes_from_triples(triples).localCheckpoint(eager=True)
    edges = edges_from_triples(triples).localCheckpoint(eager=True)

    prov = corpus.providers[0]  # a hub provider
    loc = next(
        golden.multi_or_raw(r["Location"])[0]
        for r in corpus.fact_rows if r["Provider"] == prov
    )
    questions = {
        "shape1": f"Which patients are treated by {prov}?",
        "shape2": f"What specialization does {prov} have?",
        "shape3": f"Which healthcare providers are located in {loc}?",
        "shape4": f"Which patients are treated by {prov} located in {loc}?",
        "shape5": f"For {prov} in {loc}, what is the total number of"
                  " patients they treat and what is their average age?",
    }
    return corpus, nodes, edges, questions


# Spark jobs one question may launch on the corpus graph below, per
# shape: routing (none), one broadcast entity_top1 anchor per anchor
# type, the kg_queries.shape_rows traversal the batch path shares, and
# the collect. It was 8/8/9/13/15 while routing ran two Spark jobs and
# each anchor shuffled a per-query inverted index.
_JOBS_PER_SHAPE = {"shape1": 4, "shape2": 4, "shape3": 5, "shape4": 7, "shape5": 9}


def test_route_and_execute_matches_batch_within_job_budget(spark, seed5_graph):
    """Hermetic per-question loop on a datagen graph: for one question
    per shape, route_and_execute returns exactly that question's rows
    from the grouped batch dispatcher, within the shape's job budget."""
    from kgspark import runtime
    from kgspark.operators.nl_batch import execute_routed_grouped

    _, nodes, edges, questions = seed5_graph
    routed = nl_router.route_questions(
        spark.createDataFrame([(q,) for q in questions.values()], ["question"])
    )
    mark = runtime.materialized_mark()
    try:
        grouped = execute_routed_grouped(nodes, edges, routed)
        jobs_seen = {}
        for shape, q in questions.items():
            with spark_jobs(spark) as jobs:
                rows = nl_router.route_and_execute(nodes, edges, q).collect()
            assert rows, q
            batch = grouped[shape]
            want = batch.filter(batch.question == q).select(*rows[0].__fields__)
            assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect())), q
            jobs_seen[shape] = jobs[0]
    finally:
        runtime.release_materialized(since=mark)
    over = {s: n for s, n in jobs_seen.items() if n > _JOBS_PER_SHAPE[s]}
    assert not over, f"Spark jobs per shape {jobs_seen}, budget {_JOBS_PER_SHAPE}"


def _edge_case_table(corpus, questions) -> tuple[list[str], set[str]]:
    """(table, empty): the fixture's five questions listed twice plus
    three anchor edge cases — a shape-2 question carrying a location, a
    shape-4 provider not LOCATED_AT its location, and a shape-4 location
    matching no node; ``empty`` holds the last two, which have no
    answer."""
    from kgspark import golden

    at: dict[str, set[str]] = {}
    for r in corpus.fact_rows:
        at.setdefault(r["Provider"], set()).update(golden.multi_or_raw(r["Location"]))
    every = set().union(*at.values())
    # a provider with a corpus location it is not LOCATED_AT
    lone = next(p for p in corpus.providers if at.get(p) and at[p] < every)
    elsewhere = min(every - at[lone])
    prov, loc = corpus.providers[0], min(at[corpus.providers[0]])
    spec_with_loc = f"What specialization does {prov} have in {loc}?"
    not_located = f"Which patients are treated by {lone} located in {elsewhere}?"
    no_location = f"Which patients are treated by {prov} located in Qqzx Vvw?"
    assert nl_router.route_local(spec_with_loc) == ("shape2", prov, loc)
    assert nl_router.route_local(not_located) == ("shape4", lone, elsewhere)
    assert nl_router.route_local(no_location) == ("shape4", prov, "Qqzx Vvw")
    table = [*questions.values(), *questions.values(), spec_with_loc,
             not_located, no_location]
    return table, {not_located, no_location}


# Columns of the five batched frames: name, type, nullable. A score
# column turning nullable (a scoring expression without its coalesce)
# changes no row, only this.
_BATCH_SCHEMAS = {
    "shape1": [("question", "string", True), ("patient_id", "string", True),
               ("patient_name", "string", True), ("matched_provider", "string", True),
               ("provider_score", "bigint", False)],
    "shape2": [("question", "string", True), ("specialization_id", "string", True),
               ("specialization", "string", True), ("matched_provider", "string", True),
               ("provider_score", "bigint", False)],
    "shape3": [("question", "string", True), ("provider_id", "string", True),
               ("provider_name", "string", True), ("matched_location", "string", True)],
    "shape4": [("question", "string", True), ("patient_id", "string", True),
               ("patient_name", "string", True), ("matched_provider", "string", True),
               ("matched_location", "string", True), ("provider_score", "bigint", False)],
    "shape5": [("question", "string", True), ("matched_provider", "string", True),
               ("matched_location", "string", True), ("total_patients", "bigint", False),
               ("avg_age", "double", True)],
}


# Spark jobs of execute_routed_grouped plus one collect per shape on the
# seed-5 graph. It was 66 while each shape resolved its own anchors
# (seven inverted-index joins, aggregates and windows per call), and 45
# while the shared anchor table scored with a distinct-count aggregate;
# scored per row behind one shuffle by question, it runs 42-44.
_BATCH_JOBS = 45


def test_grouped_batch_edge_cases_jobs_and_release(spark, seed5_graph):
    """The grouped dispatcher over a question table with duplicates and
    anchor edge cases: every question's rows equal execute_shape's, each
    frame keeps its columns, types and nullability, the call stays
    within its job budget, and the shared anchor table is the one frame
    it leaves for release_materialized()."""
    from kgspark import runtime
    from kgspark.operators.nl_batch import execute_routed_grouped

    corpus, nodes, edges, questions = seed5_graph
    table, empty = _edge_case_table(corpus, questions)
    routed = nl_router.route_questions(
        spark.createDataFrame([(q,) for q in table], ["question"])
    )

    def cached_rdd_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    mark = runtime.materialized_mark()
    baseline = cached_rdd_ids()
    try:
        with spark_jobs(spark) as jobs:
            grouped = execute_routed_grouped(nodes, edges, routed)
            got = {shape: df.collect() for shape, df in grouped.items()}
        schemas = {
            s: [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]
            for s, df in grouped.items()
        }
        assert schemas == _BATCH_SCHEMAS
        assert jobs[0] <= _BATCH_JOBS, f"{jobs[0]} Spark jobs, budget {_BATCH_JOBS}"
        assert runtime.release_materialized(since=mark) == 1
        assert cached_rdd_ids() == baseline
    finally:
        runtime.release_materialized(since=mark)

    for q in dict.fromkeys(table):
        shape, provider_q, location_q = nl_router.route_local(q)
        scalar = nl_router.execute_shape(
            nodes, edges, shape, provider_q, location_q, q
        )
        want = sorted(map(tuple, scalar.collect()))
        batched = sorted(
            tuple(r[c] for c in scalar.columns)
            for r in got[shape] if r["question"] == q
        )
        assert batched == want, f"{q}: batched {batched} != scalar {want}"
        if q in empty:
            assert not batched, q
        else:
            assert batched, q


def _provider_questions(corpus, n: int) -> list[str]:
    """Five shape questions for each of the corpus's first ``n``
    providers, each about that provider's first location in sorted
    order."""
    from kgspark import golden

    qs = []
    for prov in corpus.providers[:n]:
        loc = min(
            loc for r in corpus.fact_rows if r["Provider"] == prov
            for loc in golden.multi_or_raw(r["Location"])
        )
        qs += [
            f"Which patients are treated by {prov}?",
            f"What specialization does {prov} have?",
            f"Which healthcare providers are located in {loc}?",
            f"Which patients are treated by {prov} located in {loc}?",
            f"For {prov} in {loc}, what is the total number of patients they"
            " treat and what is their average age?",
        ]
    return qs


def test_batch_shuffles_question_rows_once(spark, seed5_graph, tmp_path):
    """On the seed-5 graph read from parquet and a 60-question table,
    where every edge and node side is the smaller, broadcast side of its
    join, the batch shuffles its question rows once: the anchor table's
    plan has one shuffle, hash-partitioned by question, and no distinct
    aggregate (no count(distinct) or Expand); no batched frame shuffles
    above its scan of the cached anchor table, as each per-question step
    is keyed by question first."""
    from kgspark import runtime
    from kgspark.operators.nl_batch import _anchor_table, execute_routed_grouped

    # written as plans.pipeline.run_pipeline writes them (edges
    # partitioned by rel), so the planner sees each side's size
    corpus, nodes, edges, _ = seed5_graph
    nodes.write.parquet(f"{tmp_path}/nodes")
    edges.write.partitionBy("rel").parquet(f"{tmp_path}/edges")
    nodes, edges = spark.read.parquet(f"{tmp_path}/nodes"), spark.read.parquet(f"{tmp_path}/edges")
    routed = nl_router.route_questions(
        spark.createDataFrame([(q,) for q in _provider_questions(corpus, 12)], ["question"])
    )
    mark = runtime.materialized_mark()
    try:
        anchors = _anchor_table(nodes, routed)
        assert anchors.count() > 0
        plan = anchors._jdf.queryExecution().executedPlan().toString()
        assert shuffle_exchanges(anchors) == 1, plan
        keys = {re.sub(r"#\d+", "", k)
                for k in re.findall(r"(?<!Broadcast)Exchange (\w+\([^)]*\))", plan)}
        assert len(keys) == 1 and re.fullmatch(r"hashpartitioning\(question, \d+\)", *keys), plan
        assert "count(distinct" not in plan and "Expand" not in plan, plan
        runtime.release_materialized(since=mark)

        for shape, df in execute_routed_grouped(nodes, edges, routed).items():
            assert df.collect(), shape
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan and "BroadcastExchange" in plan, (shape, plan)
            assert shuffle_exchanges(df) == 0, (shape, plan)
    finally:
        runtime.release_materialized(since=mark)


# --- a pure-Python evaluation of the five Cypher shapes --------------------
# Written from the reference's few-shot Cypher (cypher_generator.py:25-98)
# and the full-text spec (fulltext.py), not from kg_queries: the columns,
# orders and limits are restated here, so a drift in kg_queries.SHAPES or
# in a traversal shows up as a difference.

_COLUMNS = {
    "shape1": ("patient_id", "patient_name", "matched_provider", "provider_score"),
    "shape2": ("specialization_id", "specialization", "matched_provider", "provider_score"),
    "shape3": ("provider_id", "provider_name", "matched_location"),
    "shape4": ("patient_id", "patient_name", "matched_provider",
               "matched_location", "provider_score"),
    "shape5": ("matched_provider", "matched_location", "total_patients", "avg_age"),
}
_DOUBLE = re.compile(r"\s*[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?\s*")


def _evaluate(node_rows, edge_rows, shape, provider_q, location_q) -> list[tuple]:
    """Rows of one routed question as its Cypher returns them: ordered
    and cut for shapes 1-4, sorted for shape 5."""
    from kgspark.constants import (
        CLS_LOCATION,
        CLS_PROVIDER,
        P_LOCATED_AT,
        P_SPECIALIZES_IN,
        P_TREATS,
    )

    by_id = {n["id"]: n for n in node_rows}
    assert len(by_id) == len(node_rows)
    edges = {(e["src"], e["rel"], e["dst"]) for e in edge_rows}
    assert len(edges) == len(edge_rows)

    def tokens(s: str) -> set[str]:
        return {t for t in re.split(r"[^a-z0-9]+", s.lower()) if t}

    def anchor(node_type, text):
        """(id, name, score) of the top-1 node: distinct-token overlap,
        score > 0, ties by name then id."""
        if text is None:
            return None
        scored = [
            (-len(tokens(text) & tokens(n["name"])), n["name"], n["id"])
            for n in node_rows if n["type"] == node_type and n["name"] is not None
        ]
        best = min((x for x in scored if x[0] < 0), default=None)
        return best and (best[2], best[1], -best[0])

    def hop(src, rel):
        return [by_id[d] for s, r, d in sorted(edges) if s == src and r == rel and d in by_id]

    if shape == "shape3":
        loc = anchor(CLS_LOCATION, location_q)
        if loc is None:
            return []
        rows = {(s, by_id[s]["name"], loc[1]) for s, r, d in edges
                if r == P_LOCATED_AT and d == loc[0] and s in by_id}
        return sorted(rows, key=lambda r: (r[1], r[0]))[:25]

    prov = anchor(CLS_PROVIDER, provider_q)
    if prov is None:
        return []
    at = []
    if shape in ("shape4", "shape5"):
        loc = anchor(CLS_LOCATION, location_q)
        if loc is None or (prov[0], P_LOCATED_AT, loc[0]) not in edges:
            return []
        at = [loc[1]]
    if shape == "shape5":
        pats = hop(prov[0], P_TREATS)
        if not pats:
            return []
        ages = [float(p["age"]) for p in pats
                if p["age"] is not None and _DOUBLE.fullmatch(p["age"])]
        avg = None
        if ages:  # Spark's round is HALF_UP on the double's shortest repr
            avg = float(Decimal(repr(sum(ages) / len(ages))).quantize(
                Decimal("0.1"), ROUND_HALF_UP))
        return [(prov[1], at[0], len({p["id"] for p in pats}), avg)]

    rel, limit = {"shape1": (P_TREATS, 100), "shape2": (P_SPECIALIZES_IN, 5),
                  "shape4": (P_TREATS, 25)}[shape]
    rows = [(n["id"], n["name"], prov[1], *at, prov[2]) for n in hop(prov[0], rel)]
    return sorted(rows, key=lambda r: (-r[-1], r[1], r[0]))[:limit]


def test_both_paths_match_a_pure_python_evaluation(spark, seed5_graph):
    """execute_shape and execute_routed_grouped both return, for every
    question of the edge-case table, the rows a pure-Python evaluation of
    its shape gives over the collected node and edge rows: the columns
    in order, and for shapes 1-4 the rows in ORDER BY order."""
    from kgspark import runtime
    from kgspark.operators.nl_batch import execute_routed_grouped

    corpus, nodes, edges, questions = seed5_graph
    table, empty = _edge_case_table(corpus, questions)
    node_rows = [r.asDict() for r in nodes.collect()]
    edge_rows = [r.asDict() for r in edges.collect()]
    routed = nl_router.route_questions(
        spark.createDataFrame([(q,) for q in table], ["question"])
    )
    mark = runtime.materialized_mark()
    try:
        got = {s: df.collect()
               for s, df in execute_routed_grouped(nodes, edges, routed).items()}
    finally:
        runtime.release_materialized(since=mark)

    for q in dict.fromkeys(table):
        shape, provider_q, location_q = nl_router.route_local(q)
        want = _evaluate(node_rows, edge_rows, shape, provider_q, location_q)
        assert bool(want) != (q in empty), q
        one = nl_router.execute_shape(nodes, edges, shape, provider_q, location_q, q)
        assert tuple(one.columns) == _COLUMNS[shape], q
        rows = [tuple(r) for r in one.collect()]
        assert (sorted(rows) if shape == "shape5" else rows) == want, q
        batched = [tuple(r[c] for c in _COLUMNS[shape])
                   for r in got[shape] if r["question"] == q]
        assert sorted(batched) == sorted(want), q
    # shape 2's LIMIT 5 cuts: the hub provider has more specializations
    from kgspark import golden

    hub = corpus.providers[0]
    assert len({s for r in corpus.fact_rows if r["Provider"] == hub
                for s in golden.multi_or_raw(r["Specialization"])}) > 5
