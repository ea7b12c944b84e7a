"""The two full-text top-1 scorers (operators/fulltext.py) implement one
spec: the number of distinct query tokens found in the tokenized name,
ties broken by name ASC then id ASC, entities scoring 0 dropped.

``entity_top1`` scores the entity table row by row; ``fulltext_top1``
scores a prebuilt inverted index. Over seeded entity tables full of the
spec's corner cases they must return the same row with the same types.
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


def test_entity_top1_matches_inverted_index_scorer(spark):
    rng = random.Random(20)
    tables = {i: _table(rng, i) for i in range(120)}
    queries = {i: _query(rng) for i in tables}
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
