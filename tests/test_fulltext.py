"""The two full-text top-1 scorers (operators/fulltext.py) implement one
spec: the number of distinct query tokens found in the tokenized name,
ties broken by name ASC then id ASC, entities scoring 0 dropped.

``entity_top1`` scores the entity table row by row; ``fulltext_top1``
scores a prebuilt inverted index, and ``nl_batch``'s anchor table scores
every question of a batch in one join. Over seeded entity tables full of
the spec's corner cases they must return the same row with the same
types.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kgspark.operators.fulltext import (
    build_inverted_index,
    entity_top1,
    fulltext_top1,
)

_WORDS = ["dr", "smith", "Smith", "SARAH", "lee", "new", "york", "a1", "7", "x"]
_PUNCT = ["", " ", "-", ". ", "!!", ", ", "--", "/"]
_TOKEN_FREE = ["", "   ", "--!", "é", "😀"]


def _name(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.15:
        return rng.choice(_TOKEN_FREE)  # punctuation-only or non-ASCII only
    words = rng.choices(_WORDS, k=rng.randint(1, 4))  # may repeat a token
    return "".join(w + rng.choice(_PUNCT) for w in words)


def _table(rng: random.Random, table: int) -> list[tuple]:
    rows: list[tuple] = []
    for _ in range(rng.randint(1, 12)):
        r = rng.random()
        if rows and r < 0.15:
            rows.append(rng.choice(rows))  # duplicate (id, name) row
        elif rows and r < 0.3:
            # same name, other id: a tie only the id breaks
            rows.append((table, rng.randint(0, 30), rng.choice(rows)[2]))
        else:
            rows.append((table, rng.randint(0, 30), _name(rng)))
    return rows


def _query(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.1:
        return rng.choice(_TOKEN_FREE)
    words = rng.choices(_WORDS, k=rng.randint(1, 4))
    if r < 0.3:
        words += words[:1]  # repeated query token
    return rng.choice([" ", ", ", "-"]).join(words)


def _tables_and_queries() -> tuple[dict[int, list[tuple]], dict[int, str]]:
    """120 seeded entity tables of (tbl, id, name) and one query each."""
    rng = random.Random(20)
    tables = {i: _table(rng, i) for i in range(120)}
    return tables, {i: _query(rng) for i in tables}


def test_entity_top1_matches_inverted_index_scorer(spark):
    tables, queries = _tables_and_queries()
    allrows = spark.createDataFrame(
        [r for rows in tables.values() for r in rows],
        "tbl int, id int, name string",
    ).cache()
    seen_empty = seen_hit = 0
    try:
        for i, q in queries.items():
            ents = allrows.filter(F.col("tbl") == i).select("id", "name")
            direct = entity_top1(ents, q)
            indexed = fulltext_top1(build_inverted_index(ents), q)
            assert direct.dtypes == indexed.dtypes
            got, want = direct.collect(), indexed.collect()
            assert got == want, (i, q, tables[i], got, want)
            seen_hit += bool(want)
            seen_empty += not want
    finally:
        allrows.unpersist()
    assert seen_hit >= 50 and seen_empty >= 10


def test_entity_top1_tie_break_and_token_free_query(spark):
    ents = spark.createDataFrame(
        [(3, "Smith Lee"), (1, "Lee Smith"), (2, "Lee Smith"), (4, None),
         (5, "--"), (6, "smith")],
        "id int, name string",
    )
    # two tokens match three names; "Lee Smith" < "Smith Lee", then id 1 < 2
    assert [tuple(r) for r in entity_top1(ents, "smith LEE lee").collect()] == [
        (1, "Lee Smith", 2)
    ]
    assert entity_top1(ents, "?!").collect() == []
    assert entity_top1(ents, "nobody").collect() == []


def test_batched_anchor_table_matches_entity_top1(spark):
    """The batched anchor table resolves every question of a table in
    one plan. With the seeded tables stacked into one provider table and
    each query routed as a shape-1 question listed twice, each
    question's anchor is entity_top1's row over the stacked table, and a
    token-free query has none."""
    from kgspark.constants import CLS_PROVIDER
    from kgspark.operators.nl_batch import _anchor_table
    from kgspark.runtime import materialized_mark, release_materialized

    tables, queries = _tables_and_queries()
    stacked = spark.createDataFrame(
        [(CLS_PROVIDER, i, name) for rows in tables.values() for _, i, name in rows],
        "type string, id int, name string",
    ).cache()
    routed = spark.createDataFrame(
        [(f"q{i}", "shape1", q, None) for i, q in queries.items()] * 2,
        "question string, shape string, provider_q string, location_q string",
    )
    mark = materialized_mark()
    try:
        anchors = _anchor_table(stacked, routed).select(
            "question",
            F.col("anchor_id").alias("id"),
            F.col("anchor_name").alias("name"),
            F.col("anchor_score").alias("score"),
        )
        got = {}
        for r in anchors.collect():
            assert r.question not in got, r.question
            got[r.question] = tuple(r)[1:]
        ents = stacked.select("id", "name")
        assert anchors.drop("question").dtypes == entity_top1(ents, "x").dtypes
        n_token_free = 0
        for i, q in queries.items():
            want = [tuple(r) for r in entity_top1(ents, q).collect()]
            mine = [got[f"q{i}"]] if f"q{i}" in got else []
            assert mine == want, (i, q, mine, want)
            if q in _TOKEN_FREE:
                n_token_free += 1
                assert not mine, (i, q)
    finally:
        release_materialized(since=mark)
        stacked.unpersist()
    assert n_token_free >= 5 and len(got) >= 100
