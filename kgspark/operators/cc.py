"""Weakly-connected components on DataFrames (SURVEY.md §2 G2 ◆).

Re-expresses ``nx.weakly_connected_components`` (the reference's
``kg_rag/utils/graph_utils.py:191-200``). Spark has no native CC
primitive and GraphFrames is not a dependency, so
``connected_components_auto`` is the one entry point, with two arms
that return the same ``(id, component = min member id)``:

- graphs whose raw edge list and node set fit the driver are
  collected (bounded) and solved by union-find, then handed back as
  one Arrow-backed DataFrame — a same-as graph of a few thousand
  surface forms costs a couple of Spark jobs instead of a few per
  round;
- larger graphs run the alternating large-star/small-star algorithm
  (``connected_components_star``): O(log n) rounds regardless of
  diameter, so chain-shaped web graphs cost no more rounds than
  tiny-diameter alias clusters.

Scale notes:
- ``localCheckpoint(eager=True)`` each star round truncates the lineage
  so plan size stays O(1) in rounds (classic iterative-Spark pitfall).
- The convergence check is one aggregate per round (edge count + xor
  of edge hashes); running out of rounds raises instead of returning
  unconverged stars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirected_closure(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Symmetrized, deduplicated, self-loop-free edge list (a, b)."""
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    return fwd.unionByName(rev).filter(F.col("a") != F.col("b")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every neighbor v > u re-points to min(Γ(u) ∪ {u})."""
    und = e.select("a", "b").unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = und.groupBy("a").agg(F.min("b").alias("_mb"))
    mins = mins.select("a", F.least("a", "_mb").alias("_m"))
    return (
        und.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges large→small; u and its ≤-neighbors
    re-point to the minimum of the oriented neighborhood."""
    oriented = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    mins = oriented.groupBy("a").agg(F.min("b").alias("_m"))
    out = (
        oriented.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .unionByName(mins.select(F.col("a"), F.col("_m").alias("b")))
    )
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Large-star/small-star CC — O(log n) rounds regardless of diameter.

    The alternating-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): hash-min needs O(diameter)
    rounds — fine for same-as/alias graphs (tiny diameter), pathological
    on chain-shaped web graphs — while each large★/small★ round at least
    halves tree heights. At the fixpoint every edge points node → its
    component minimum. Output identical to the driver arm of
    ``connected_components_auto``: (id, component = min member id).
    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` rounds.
    """
    # localCheckpoint is EAGER: the closure runs once, here, and
    # all_nodes reads the checkpointed copy (symmetric, so column a
    # covers every endpoint) rather than re-running the edge plan.
    e = undirected_closure(edges, src, dst).localCheckpoint()
    all_nodes = (
        nodes.select(F.col(node_col).alias("id"))
        .unionByName(e.select(F.col("a").alias("id")))
        .distinct()
    )
    prev_fp = None
    converged = False
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint()
        fp = e.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("x"),
        ).first()
        fp = (fp.n, fp.x)
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        # before the fixpoint the edges are not yet stars: returning
        # here would hand back silently-fractured components
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_iterations} rounds"
        )

    # Fixpoint edges form stars (node → component min); a node can
    # still carry both (u→m) from one star op in the final round — the
    # min aggregate collapses it. Min nodes / isolated nodes self-map.
    stars = e.groupBy("a").agg(F.min("b").alias("component"))
    return all_nodes.join(stars, all_nodes.id == stars.a, "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def _union_find(ids, pairs) -> dict:
    """{component root: members} of the graph on ``ids`` with edges
    ``pairs``, by in-memory union-find (path halving). Each merge
    links the larger root under the smaller, so a component's root is
    its min member. Pair endpoints missing from ``ids`` join as nodes."""
    parent: dict = {n: n for n in ids}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict = {}
    for n in list(parent):
        groups.setdefault(find(n), []).append(n)
    return groups


# connected_components_auto's driver-arm caps, read at call time (a cap
# of 0 forces the distributed arm — output is bit-identical either way,
# tests/test_cc.py).
DRIVER_MAX_EDGES = 500_000
DRIVER_MAX_NODES = 1_000_000


def connected_components_auto(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Size-adaptive CC: tiny graphs are solved driver-side.

    Thresholds are ``DRIVER_MAX_EDGES`` (500k) edges and
    ``DRIVER_MAX_NODES`` (1M) nodes. The edge cap counts raw edges: rows of
    ``edges`` with ``src != dst``, duplicates and both directions of a
    pair included (the self-loops and NULL endpoints that filter drops
    never join two nodes).

    The distributed iteration costs ~4-8 Spark jobs of pure latency per
    round — absurd for a same-as graph of a few thousand distinct
    surface forms. If the edge list fits the driver comfortably,
    collect it as it is, run union-find, and parallelize the assignment
    back; identical output (component = min member id) by
    construction. Union-find needs neither direction nor uniqueness, so
    this arm runs the edge plan once, with no symmetric closure and no
    distinct. Beyond the threshold, fall back to the alternating
    large-star/small-star algorithm — O(log n) rounds independent of
    diameter, the right default for graphs whose shape is unknown; it
    builds its own closure.
    """
    spark = nodes.sparkSession
    # Both sizes gate the driver path: a same-as graph can have a tiny
    # edge list over an enormous mostly-isolated node set (50M
    # self-resolved mentions, a few thousand merges) — the node collect
    # would OOM the driver while the edge guard waves it through. Each
    # side is collected bounded (limit(cap + 1)): one row too many means
    # star, so at most cap + 1 rows ever reach the driver, and a side
    # that fits is already collected — no count() probe ahead of the
    # transfer.
    #
    # Arrow for both driver transfers (guide §6): toPandas /
    # pandas-createDataFrame move the ~10⁴-10⁵ id rows as columnar
    # batches instead of pickled Row objects — measured ~0.5-1 s saved
    # per CC call at sf1.0 (50k nodes), and this arm sits inside
    # neardup_clusters, corpus_filter, canonicalization and the
    # stats/query paths. Node ids are non-null by construction, so the
    # int64 column never degrades to float64.
    import pandas as pd

    edge_pdf = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .limit(DRIVER_MAX_EDGES + 1)
        .toPandas()
    )
    if len(edge_pdf) > DRIVER_MAX_EDGES:
        return connected_components_star(nodes, edges, node_col, src, dst)
    node_pdf = (
        nodes.select(F.col(node_col).alias("id"))
        .limit(DRIVER_MAX_NODES + 1)
        .toPandas()
    )
    if len(node_pdf) > DRIVER_MAX_NODES:
        return connected_components_star(nodes, edges, node_col, src, dst)

    groups = _union_find(node_pdf["id"], zip(edge_pdf["a"], edge_pdf["b"]))
    rows = [(n, root) for root, members in groups.items() for n in members]
    # Output schema tracks the input node-id type so the driver-side
    # and distributed paths agree regardless of which one runs.
    from pyspark.sql.types import StructField, StructType

    id_type = nodes.schema[node_col].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    if not rows:
        return spark.createDataFrame([], schema=schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "component"]), schema=schema
    )
