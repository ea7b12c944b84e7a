"""k-hop BFS subgraph extraction (SURVEY.md §2 G5 ◆).

Re-expresses the reference's queue-based traversal
(``/root/reference/kg_rag/utils/graph_utils.py:219-261``: max_depth 2,
max_nodes 50, visited set) as iterative frontier joins. The reference's
FIFO node cap is single-machine semantics; our spec caps
deterministically by ``(depth, node_id)`` order, which is
order-independent and therefore reproducible on any cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_hop_nodes(
    edges: DataFrame,
    start_node: str,
    max_depth: int = 2,
    max_nodes: int = 50,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    frontier_sizes: list[int] | None = None,
    materialize_adjacency: bool = True,
) -> DataFrame:
    """Nodes reachable from ``start_node`` within ``max_depth`` hops.

    Returns ``(node, depth)`` with depth = first-visit distance, capped
    at ``max_nodes`` rows in (depth, node) order.

    Cap-aware expansion: each depth's frontier is pruned to the
    ``max_nodes - |visited|`` smallest node ids BEFORE the next join.
    Only those nodes can survive the final (depth, node) cap — every
    visited node sorts before the whole frontier (strictly smaller
    depth), so the cut inside one depth falls on node order. When the
    prune binds, visited reaches ``max_nodes`` and the loop stops; when
    it doesn't, nothing was dropped — so the result is identical to the
    uncapped traversal while every frontier (and therefore every join
    input) stays bounded by ``max_nodes`` rows even on a 10^5-degree
    hub. (The reference stops its queue at max_nodes the same way,
    graph_utils.py:219-261, just nondeterministically.)

    ``frontier_sizes``, if given, receives the per-depth kept-frontier
    row counts (observability + tests).

    ``materialize_adjacency`` — the adjacency feeds one join per depth,
    so caching its distinct-ed form is a reuse boundary (the default).
    On a web-scale graph pass ``False``: the full-graph distinct
    shuffle + executor storage would dwarf a bounded ≤``max_nodes``
    traversal, and each depth instead broadcast-joins the tiny frontier
    straight against the source-backed edge scan (filter-free scan per
    depth, zero graph materialization). Duplicate edges are collapsed by the frontier's
    own ``distinct`` either way, so the result is identical.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    if materialize_adjacency:
        # persist, NOT localCheckpoint: the adjacency is source-backed
        # (no iterative lineage to truncate), persist keeps it
        # recomputable on executor loss, and — unlike localCheckpoint
        # blocks, which only the ContextCleaner eventually drops —
        # unpersist() below actually releases the storage.
        e = e.distinct().persist()

    visited = spark.createDataFrame(
        [(start_node, 0)], schema="node string, depth int"
    ).localCheckpoint()
    frontier = visited
    n_visited = 1

    for depth in range(1, max_depth + 1):
        remaining = max_nodes - n_visited
        if remaining <= 0:
            break
        # frontier and visited are both bounded by max_nodes rows —
        # broadcast them explicitly so neither join ever shuffles the
        # edge side (hash-exchange of 10^12 edges to visit ≤50 nodes).
        nxt = (
            e.join(F.broadcast(frontier), e.a == frontier.node)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
            .withColumn("depth", F.lit(depth))
        )
        # orderBy + limit compiles to TakeOrderedAndProject (top-k per
        # partition, k-merge on the driver — never a global sort).
        frontier = nxt.orderBy("node").limit(remaining).localCheckpoint()
        # The count doubles as the empty-frontier probe (no separate
        # limit(1) job) and reads the just-checkpointed blocks.
        cnt = frontier.count()
        if frontier_sizes is not None:
            frontier_sizes.append(cnt)
        if cnt == 0:
            break
        n_visited += cnt
        # No per-round checkpoint for visited: it is a union of ≤
        # max_depth already-checkpointed frontiers (shallow lineage).
        visited = visited.unionByName(frontier)

    out = visited.orderBy("depth", "node").limit(max_nodes)
    if materialize_adjacency:
        # every frontier is already eagerly checkpointed, so the result
        # no longer depends on the adjacency blocks — release them
        # instead of pinning the whole graph for the session's life.
        e.unpersist()
    return out

