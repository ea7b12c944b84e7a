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
shape via joins keyed on the question. Anchor resolution differs from
the scalar path's. There, one question scores the entity table row by
row against its own tokens (``fulltext.entity_top1``: one scan, a
TakeOrderedAndProject, no shuffle) and broadcasts the one-row result.
Here, every anchor every question needs — its provider and/or its
location, by shape — is resolved at once into one shared anchor table
(``_anchor_table``): the anchor texts' distinct tokens are joined with
one inverted index over provider and location nodes on (type, token),
scored with one aggregate and cut to the top-1 with one window per
(question, shape, type). Anchor lookup for 10⁶ questions is thus one
token-keyed shuffle, not 10⁶ scans, and it runs once for all five
shapes. The table is ``runtime.materialize``d, because the five shape
plans (two reads each for shapes 4 and 5) consume it; the caller
releases it with ``runtime.release_materialized()`` once it has
collected the frames it needs. Hot-token skew ("dr" matches every
provider) is the usual AQE skew-join case.

Row-set parity with the scalar path is pinned by
tests/test_nl_router.py: for each routable question,
``execute_routed_grouped``'s rows equal ``execute_shape``'s, and
tests/test_fulltext.py pins the anchor table against ``entity_top1``.
Where the scalar path's ORDER BY ... LIMIT has ties at the cut both
paths are nondeterministic in the same way; the batched windows append
the row's unique id as a final tie-break, so the batched path is
deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgspark.constants import (
    CLS_LOCATION,
    CLS_PROVIDER,
    P_LOCATED_AT,
    P_SPECIALIZES_IN,
    P_TREATS,
)
from kgspark.operators.fulltext import tokenize_col
from kgspark.runtime import materialize

# Per-shape result caps — same values as the scalar executors
# (kg_queries.patients_of_provider et al.), which mirror the LIMITs in
# the reference's few-shot Cypher (cypher_generator.py:25-98).
_LIMITS = {"shape1": 100, "shape2": 5, "shape3": 25, "shape4": 25}

# Which anchors each shape resolves: its provider and/or its location.
_PROVIDER_SHAPES = ["shape1", "shape2", "shape4", "shape5"]
_LOCATION_SHAPES = ["shape3", "shape4", "shape5"]


def _anchor_table(nodes: DataFrame, routed: DataFrame) -> DataFrame:
    """Per-question full-text top-1 anchors of every routed question, as
    one cached table (question, shape, type, anchor_id, anchor_name,
    anchor_score) — the same scoring spec as ``fulltext.entity_top1``
    (distinct-token overlap, ties by name ASC then id ASC, score-0
    entities dropped), resolved for every (question, shape, type) in one
    plan.

    A question gets a provider row if its shape anchors a provider and a
    location row if it anchors a location; an anchor text that is NULL
    gives no row, so a question missing an anchor its shape needs has no
    answer. A question listed twice yields its anchors once: the score
    counts distinct tokens and the window keeps one row per key.
    """
    shape = F.col("shape")
    wants = routed.select(
        "question",
        "shape",
        F.inline(
            F.array(
                F.struct(
                    F.lit(CLS_PROVIDER).alias("type"),
                    F.when(shape.isin(_PROVIDER_SHAPES), F.col("provider_q")).alias("text"),
                ),
                F.struct(
                    F.lit(CLS_LOCATION).alias("type"),
                    F.when(shape.isin(_LOCATION_SHAPES), F.col("location_q")).alias("text"),
                ),
            )
        ),
    ).filter(F.col("text").isNotNull())
    qt = wants.select(
        "question",
        "shape",
        "type",
        F.explode(F.array_distinct(tokenize_col(F.col("text")))).alias("token"),
    )
    index = nodes.filter(F.col("type").isin(CLS_PROVIDER, CLS_LOCATION)).select(
        "type",
        "id",
        "name",
        F.explode(F.array_distinct(tokenize_col(F.col("name")))).alias("token"),
    )
    key = ["question", "shape", "type"]
    scored = (
        qt.join(index, ["type", "token"])
        .groupBy(*key, "id", "name")
        .agg(F.countDistinct("token").alias("score"))
    )
    w = Window.partitionBy(*key).orderBy(F.desc("score"), F.asc("name"), F.asc("id"))
    return materialize(
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *key,
            F.col("id").alias("anchor_id"),
            F.col("name").alias("anchor_name"),
            F.col("score").alias("anchor_score"),
        )
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
    n2 = nodes.select(F.col("id").alias("nid"), F.col("name").alias("nname"))

    def rel(p: str) -> DataFrame:
        return edges.filter(F.col("rel") == p).select(
            F.col("src").alias("_esrc"), F.col("dst").alias("_edst")
        )

    treats, spec, loc_e = rel(P_TREATS), rel(P_SPECIALIZES_IN), rel(P_LOCATED_AT)

    def anchored(shape: str, node_type: str) -> DataFrame:
        return anchors.filter(
            (F.col("shape") == shape) & (F.col("type") == node_type)
        ).select("question", "anchor_id", "anchor_name", "anchor_score")

    def provider_at_location(shape: str) -> DataFrame:
        """Batched twin of kg_queries._two_anchor_hp: per question, the
        anchored provider LOCATED_AT the anchored location."""
        loc = anchored(shape, CLS_LOCATION).select(
            "question",
            F.col("anchor_id").alias("loc_id"),
            F.col("anchor_name").alias("matched_location"),
        )
        pairs = anchored(shape, CLS_PROVIDER).join(loc, "question")
        return pairs.join(
            loc_e,
            (pairs.anchor_id == loc_e._esrc) & (pairs.loc_id == loc_e._edst),
        ).select(
            "question", "anchor_id", "anchor_name", "anchor_score", "matched_location"
        )

    out: dict[str, DataFrame] = {}

    # shape1: provider → TREATS patients
    a = anchored("shape1", CLS_PROVIDER)
    res = (
        a.join(treats, a.anchor_id == treats._esrc)
        .join(n2, F.col("_edst") == n2.nid)
        .select(
            "question",
            F.col("nid").alias("patient_id"),
            F.col("nname").alias("patient_name"),
            F.col("anchor_name").alias("matched_provider"),
            F.col("anchor_score").alias("provider_score"),
        )
    )
    out["shape1"] = _limit_per_question(
        res,
        [F.desc("provider_score"), F.asc("patient_name"), F.asc("patient_id")],
        _LIMITS["shape1"],
    )

    # shape2: provider → SPECIALIZES_IN
    a = anchored("shape2", CLS_PROVIDER)
    res = (
        a.join(spec, a.anchor_id == spec._esrc)
        .join(n2, F.col("_edst") == n2.nid)
        .select(
            "question",
            F.col("nid").alias("specialization_id"),
            F.col("nname").alias("specialization"),
            F.col("anchor_name").alias("matched_provider"),
            F.col("anchor_score").alias("provider_score"),
        )
    )
    out["shape2"] = _limit_per_question(
        res,
        [F.desc("provider_score"), F.asc("specialization"),
         F.asc("specialization_id")],
        _LIMITS["shape2"],
    )

    # shape3: location ← LOCATED_AT providers (reverse, DISTINCT)
    a = anchored("shape3", CLS_LOCATION)
    res = (
        a.join(loc_e, a.anchor_id == loc_e._edst)
        .join(n2, F.col("_esrc") == n2.nid)
        .select(
            "question",
            F.col("nid").alias("provider_id"),
            F.col("nname").alias("provider_name"),
            F.col("anchor_name").alias("matched_location"),
        )
        .distinct()
    )
    out["shape3"] = _limit_per_question(
        res,
        [F.asc("provider_name"), F.asc("provider_id")],
        _LIMITS["shape3"],
    )

    # shape4: provider@location → TREATS patients
    hp = provider_at_location("shape4")
    res = (
        hp.join(treats, hp.anchor_id == treats._esrc)
        .join(n2, F.col("_edst") == n2.nid)
        .select(
            "question",
            F.col("nid").alias("patient_id"),
            F.col("nname").alias("patient_name"),
            F.col("anchor_name").alias("matched_provider"),
            F.col("matched_location"),
            F.col("anchor_score").alias("provider_score"),
        )
    )
    out["shape4"] = _limit_per_question(
        res,
        [F.desc("provider_score"), F.asc("patient_name"), F.asc("patient_id")],
        _LIMITS["shape4"],
    )

    # shape5: provider@location → count(DISTINCT patients), avg(age)
    nage = nodes.select(F.col("id").alias("nid"), F.col("age").alias("nage"))
    hp = provider_at_location("shape5")
    out["shape5"] = (
        hp.drop("anchor_score")
        .join(treats, F.col("anchor_id") == treats._esrc)
        .join(nage, F.col("_edst") == nage.nid)
        .groupBy(
            "question",
            F.col("anchor_name").alias("matched_provider"),
            F.col("matched_location"),
        )
        .agg(
            F.countDistinct(F.col("nid")).alias("total_patients"),
            F.round(F.avg(F.col("nage").try_cast("double")), 1).alias("avg_age"),
        )
    )
    return out
