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
one DataFrame plan per distinct shape present (≤5, a constant), each
plan processing every question of that shape via joins keyed on the
question. Anchor resolution differs from the scalar path's. There, one
question scores the entity table row by row against its own tokens
(``fulltext.entity_top1``: one scan, a TakeOrderedAndProject, no
shuffle) and broadcasts the one-row result. Here, the entities'
inverted index is joined on token with every question's tokens, then a
per-question window keeps the top-1 — so anchor lookup for 10⁶
questions is one token-keyed shuffle, not 10⁶ scans. Hot-token skew
("dr" matches every provider) is the usual AQE skew-join case; the
index side is token-partitioned at build time (operators/fulltext.py).

Row-set parity with the scalar path is pinned by
tests/test_nl_router.py: for each canonical question,
``execute_routed_grouped``'s rows equal ``execute_shape``'s. Where the
scalar path's ORDER BY ... LIMIT has ties at the cut both paths are
nondeterministic in the same way; the batched windows append the row's
unique id as a final tie-break, so the batched path is deterministic.
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
from kgspark.operators.fulltext import build_inverted_index, tokenize_col

# Per-shape result caps — same values as the scalar executors
# (kg_queries.patients_of_provider et al.), which mirror the LIMITs in
# the reference's few-shot Cypher (cypher_generator.py:25-98).
_LIMITS = {"shape1": 100, "shape2": 5, "shape3": 25, "shape4": 25}


def batch_anchors(
    nodes: DataFrame,
    questions: DataFrame,
    node_type: str,
    query_col: str,
) -> DataFrame:
    """Per-question full-text top-1 anchor, batched.

    ``questions``: (question, <query_col>) with non-null anchor text.
    Returns (question, anchor_id, anchor_name, anchor_score) — the same
    scoring spec as ``fulltext_top1`` (distinct-token overlap, ties by
    name ASC then id ASC) but resolved for every question in one plan:
    explode the anchor text's tokens, join the inverted index on token,
    count distinct matched tokens per (question, entity), then a
    per-question window top-1 instead of a global TakeOrdered.
    """
    ents = nodes.filter(F.col("type") == node_type).select("id", "name")
    inv = build_inverted_index(ents, "id", "name")
    qt = questions.select(
        "question",
        F.explode(
            F.array_distinct(tokenize_col(F.col(query_col)))
        ).alias("token"),
    )
    scored = (
        inv.join(qt, "token")
        .groupBy("question", "id", "name")
        .agg(F.countDistinct("token").alias("score"))
    )
    w = Window.partitionBy("question").orderBy(
        F.desc("score"), F.asc("name"), F.asc("id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "question",
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


def _two_anchor_pairs(
    nodes: DataFrame, edges: DataFrame, qs: DataFrame
) -> DataFrame:
    """Batched twin of kg_queries._two_anchor_hp: per question, the
    anchored provider LOCATED_AT the anchored location."""
    prov = batch_anchors(nodes, qs, CLS_PROVIDER, "provider_q")
    loc = batch_anchors(nodes, qs, CLS_LOCATION, "location_q").select(
        "question",
        F.col("anchor_id").alias("loc_id"),
        F.col("anchor_name").alias("matched_location"),
    )
    pairs = prov.join(loc, "question")
    located = edges.filter(F.col("rel") == P_LOCATED_AT).select(
        F.col("src").alias("_lsrc"), F.col("dst").alias("_ldst")
    )
    return pairs.join(
        located,
        (pairs.anchor_id == located._lsrc) & (pairs.loc_id == located._ldst),
    ).select("question", "anchor_id", "anchor_name", "anchor_score", "matched_location")


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
    so a consumer can split by shape with full fidelity. ≤5 plans total
    regardless of question count.
    """
    n2 = nodes.select(F.col("id").alias("nid"), F.col("name").alias("nname"))
    treats = edges.filter(F.col("rel") == P_TREATS).select(
        F.col("src").alias("_esrc"), F.col("dst").alias("_edst")
    )
    out: dict[str, DataFrame] = {}

    def qs_for(shape: str, *anchor_cols: str) -> DataFrame:
        q = routed.filter(F.col("shape") == shape)
        for c in anchor_cols:
            q = q.filter(F.col(c).isNotNull())
        return q.select("question", *anchor_cols)

    # shape1: provider → TREATS patients
    qs = qs_for("shape1", "provider_q")
    a = batch_anchors(nodes, qs, CLS_PROVIDER, "provider_q")
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
    spec = edges.filter(F.col("rel") == P_SPECIALIZES_IN).select(
        F.col("src").alias("_esrc"), F.col("dst").alias("_edst")
    )
    qs = qs_for("shape2", "provider_q")
    a = batch_anchors(nodes, qs, CLS_PROVIDER, "provider_q")
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
    loc_e = edges.filter(F.col("rel") == P_LOCATED_AT).select(
        F.col("src").alias("_esrc"), F.col("dst").alias("_edst")
    )
    qs = qs_for("shape3", "location_q")
    a = batch_anchors(nodes, qs, CLS_LOCATION, "location_q")
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
    qs = qs_for("shape4", "provider_q", "location_q")
    hp = _two_anchor_pairs(nodes, edges, qs)
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
    qs = qs_for("shape5", "provider_q", "location_q")
    hp = _two_anchor_pairs(nodes, edges, qs)
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


def execute_routed(
    nodes: DataFrame, edges: DataFrame, routed: DataFrame
) -> DataFrame:
    """Unified batch answer table: (question, shape, answer_json) — one
    row per result row, every shape's frame folded to JSON so the union
    is schema-stable. The per-shape frames (``execute_routed_grouped``)
    are the fidelity surface; this is the convenience view a downstream
    QA pipeline joins its questions against."""
    grouped = execute_routed_grouped(nodes, edges, routed)
    parts = []
    for shape, df in grouped.items():
        cols = [c for c in df.columns if c != "question"]
        parts.append(
            df.select(
                "question",
                F.lit(shape).alias("shape"),
                F.to_json(F.struct(*[F.col(c) for c in cols])).alias(
                    "answer_json"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
