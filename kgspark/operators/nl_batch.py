"""Grouped distributed NL-question dispatch (I2 at scale).

``nl_router.route_and_execute`` answers ONE question: it routes on the
driver with no Spark job, then runs the shape's plan. Its batch
pattern (route distributed, then a driver loop dispatching each row
through ``execute_shape``) builds one Spark plan per question —
fine for an interactive ask loop (the reference's EP2,
kg_rag/methods/cypher_based/kg_rag.py:90-146, is exactly such a loop),
wrong for a million-question offline workload.

This module is the scale path: questions are routed with pure column
expressions (``route_questions``), then executed GROUPED BY SHAPE —
one DataFrame plan per shape, each processing every question of that
shape. Both paths run the same traversal per shape
(``kg_queries.shape_rows``) under the same ``kg_queries.SHAPES`` orders
and limits; they differ in where the anchors come from and in the cut.
The scalar path scores the entity table row by row against one
question's tokens (``fulltext.entity_top1``) and cuts with a global
ORDER BY ... LIMIT. Here, every anchor every question needs — its
provider and/or its location, by shape — is resolved at once into one
shared anchor table (``_anchor_table``): the anchor texts' distinct
tokens are joined with one inverted index over provider and location
nodes on (type, token), each joined row is scored by the two distinct
token arrays' intersection, with no aggregate, and one window per
(question, shape, type) keeps the top-1. Anchor lookup for 10⁶
questions is thus one token-keyed join, not 10⁶ scans, and it runs
once for all five shapes. The rows are cut with a per-question top-k
window (``_limit_per_question``). The table is ``runtime.materialize``d,
because the five shape plans (two reads each for shapes 4 and 5)
consume it; the caller releases it with
``runtime.release_materialized()`` once it has collected the frames it
needs.

The question rows are shuffled once: the anchor table is
hash-partitioned by ``question`` in front of its window, and the cached
table keeps that partitioning. Every per-question step downstream —
the shape-4/5 anchor pairing, shape 3's DISTINCT, shape 5's aggregate
and the top-k window — is keyed by question first, so it reuses that
partitioning when the edge and node sides are broadcast to the anchor
rows. Spark broadcasts the smaller side of a join: on a question table
smaller than an edge partition the anchors are broadcast instead, and
when a side is too large to broadcast the join shuffles; either way
those steps shuffle their rows as they would without the
partitioning. Hot-token skew ("dr" matches every provider) multiplies
a question's joined rows by the entities holding the token; a shuffled
token join is the usual AQE skew-join case, and each question's rows,
bounded by its candidate entities, stay together for its window.

tests/test_nl_router.py pins both paths against a pure-Python
evaluation of the five shapes and against each other, and
tests/test_fulltext.py pins the anchor table against ``entity_top1``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgspark.constants import CLS_LOCATION, CLS_PROVIDER
from kgspark.functions.sqltext import string_lit
from kgspark.operators.fulltext import tokenize_sql
from kgspark.operators.kg_queries import SHAPES, shape_rows, sort_cols
from kgspark.runtime import materialize

# Which anchors each shape resolves: its provider and/or its location.
_PROVIDER_SHAPES = [s for s, (types, _, _) in SHAPES.items() if CLS_PROVIDER in types]
_LOCATION_SHAPES = [s for s, (types, _, _) in SHAPES.items() if CLS_LOCATION in types]


def _anchor_table(nodes: DataFrame, routed: DataFrame) -> DataFrame:
    """Per-question full-text top-1 anchors of every routed question, as
    one cached table (question, shape, type, anchor_id, anchor_name,
    anchor_score) — the same scoring spec as ``fulltext.entity_top1``
    (distinct-token overlap, ties by name ASC then id ASC, score-0
    entities dropped), resolved for every (question, shape, type) in one
    plan, hash-partitioned by question.

    A question gets a provider row if its shape anchors a provider and a
    location row if it anchors a location; an anchor text that is NULL
    gives no row, so a question missing an anchor its shape needs has no
    answer. A question listed twice yields its anchors once: the score
    is ``size(array_intersect(qtoks, ntoks))`` over the two distinct
    token arrays, the same on every copy of a joined row, and the
    window keeps one row per key.
    """

    def wanted(node_type: str, shapes: list[str], text: str) -> str:
        """(type, text) of one anchor: the text if the shape anchors
        that type, else NULL."""
        in_shapes = ", ".join(map(string_lit, shapes))
        return (
            f"named_struct('type', {string_lit(node_type)},"
            f" 'text', CASE WHEN shape IN ({in_shapes}) THEN {text} END)"
        )

    wants = routed.selectExpr(
        "question",
        "shape",
        f"inline(array({wanted(CLS_PROVIDER, _PROVIDER_SHAPES, 'provider_q')},"
        f" {wanted(CLS_LOCATION, _LOCATION_SHAPES, 'location_q')}))",
    ).filter("text IS NOT NULL")
    qt = wants.selectExpr(
        "question", "shape", "type", f"array_distinct({tokenize_sql('text')}) AS qtoks"
    ).selectExpr("*", "explode(qtoks) AS token")
    index = (
        nodes.filter(f"type IN ({string_lit(CLS_PROVIDER)}, {string_lit(CLS_LOCATION)})")
        .selectExpr("type", "id", "name", f"array_distinct({tokenize_sql('name')}) AS ntoks")
        .selectExpr("*", "explode(ntoks) AS token")
    )
    # One row per shared token; each copy carries the same score, and
    # the window keeps one. The coalesce keeps the score a non-nullable
    # bigint, as a count is. The repartition is the plan's one shuffle
    # of question rows: the window reuses it, and so can every
    # per-question step downstream of the cached table.
    return materialize(
        qt.join(index, ["type", "token"])
        .selectExpr(
            "question",
            "shape",
            "type",
            "id AS anchor_id",
            "name AS anchor_name",
            "coalesce(CAST(size(array_intersect(qtoks, ntoks)) AS BIGINT), 0L) AS anchor_score",
        )
        .repartition("question")
        .selectExpr(
            "*",
            "row_number() OVER (PARTITION BY question, shape, type"
            " ORDER BY anchor_score DESC, anchor_name ASC, anchor_id ASC) AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def _limit_per_question(df: DataFrame, order_cols: list, limit: int) -> DataFrame:
    w = Window.partitionBy("question").orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .drop("_rn")
    )


def execute_routed_grouped(
    nodes: DataFrame, edges: DataFrame, routed: DataFrame
) -> dict[str, DataFrame]:
    """Execute a routed question table grouped by shape.

    ``routed``: output of ``nl_router.route_questions`` — (question,
    shape, provider_q, location_q). Questions routed 'unknown' (or with
    a missing required anchor) simply produce no rows here; callers
    wanting the scalar path's ValueError behavior anti-join the result
    questions against the input (the reference delegates such questions
    to its LLM generator).

    Returns {shape: DataFrame}, each frame leading with ``question``
    followed by exactly the scalar executor's columns for that shape —
    so a consumer can split by shape with full fidelity. Every frame
    reads one shared anchor table (``_anchor_table``), which this call
    registers with ``runtime.materialize``: the first collect computes
    and caches it, the others read the cache. Call
    ``runtime.release_materialized()`` after the last collect to free
    it.
    """
    anchors = _anchor_table(nodes, routed)
    out: dict[str, DataFrame] = {}
    for shape, (_, order, limit) in SHAPES.items():

        def anchored(node_type: str, shape: str = shape) -> DataFrame:
            return anchors.filter(
                (F.col("shape") == shape) & (F.col("type") == node_type)
            ).select("question", "anchor_id", "anchor_name", "anchor_score")

        rows = shape_rows(nodes, edges, shape, anchored)
        out[shape] = rows if limit is None else _limit_per_question(rows, sort_cols(order), limit)
    return out
