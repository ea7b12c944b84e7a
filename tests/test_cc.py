"""Connected-components property tests (SURVEY.md §5.5)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kgspark.operators.bfs import k_hop_nodes
from kgspark.operators.cc import connected_components_auto

# Both arms of connected_components_auto, as one more input of each CC
# case: the default (driver-side union-find on graphs this small) and
# driver_max_edges=0 (star).
ARMS = {"driver": {}, "star": {"driver_max_edges": 0}}


def _components(ndf, edf, arm) -> dict:
    return {
        r.id: r.component
        for r in connected_components_auto(ndf, edf, "id", **ARMS[arm]).collect()
    }


def _py_components(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp[n] = find(n)
    # canonical label = min member id
    groups = {}
    for n, r in comp.items():
        groups.setdefault(r, []).append(n)
    return {n: min(members) for r, members in groups.items() for n in members}


def test_cc_matches_union_find(spark):
    rng = random.Random(3)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    for arm in ARMS:
        assert _components(ndf, edf, arm) == _py_components(nodes, edges), arm


def test_cc_single_chain_long_diameter(spark):
    n = 40
    nodes = [f"v{i:02d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    ndf = spark.createDataFrame([(x,) for x in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    for arm in ARMS:
        assert _components(ndf, edf, arm) == dict.fromkeys(nodes, "v00"), arm


def test_cc_includes_bare_edge_endpoints(spark):
    ndf = spark.createDataFrame([("a",)], "id string")
    edf = spark.createDataFrame([("x", "y")], "src string, dst string")
    for arm in ARMS:
        assert _components(ndf, edf, arm) == {"a": "a", "x": "x", "y": "x"}, arm


def test_bfs_depth_and_cap(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "e")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.node, r.depth) for r in k_hop_nodes(edf, "a", max_depth=2).collect()}
    assert got == {("a", 0), ("b", 1), ("e", 1), ("c", 2)}
    capped = k_hop_nodes(edf, "a", max_depth=3, max_nodes=3)
    assert [r.node for r in capped.collect()] == ["a", "b", "e"]


def test_cc_large_random_graph(spark):
    """5k nodes / 6k edges incl. a long chain — convergence + parity."""
    rng = random.Random(17)
    nodes = [f"x{i:04d}" for i in range(5000)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(5500)]
    edges += [(nodes[i], nodes[i + 1]) for i in range(200)]  # diameter stressor
    ndf = spark.createDataFrame([(n,) for n in nodes], "id string").repartition(8)
    edf = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    expected = _py_components(nodes, edges)
    for arm in ARMS:
        assert _components(ndf, edf, arm) == expected, arm


def test_cc_auto_matches_distributed(spark):
    from kgspark.operators.cc import connected_components_star

    rng = random.Random(23)
    nodes = [f"y{i:03d}" for i in range(300)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(250)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    auto = {r.id: r.component for r in connected_components_auto(ndf, edf, "id").collect()}
    dist = {
        r.id: r.component
        for r in connected_components_star(ndf, edf, "id").collect()
    }
    assert auto == dist == _py_components(nodes, edges)


def test_star_cc_matches_union_find(spark):
    from kgspark.operators.cc import connected_components_star

    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(150)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(110)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.id: r.component
        for r in connected_components_star(ndf, edf, "id").collect()
    }
    assert got == _py_components(nodes, edges)


def test_star_cc_path_graph_logn_rounds(spark):
    """A 10k-node path (diameter 10k, hash-min's worst case) must
    converge within an O(log n) iteration budget."""
    from kgspark.operators.cc import connected_components_star

    n = 10_000
    nodes = [f"v{i:05d}" for i in range(n)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(n - 1)]
    ndf = spark.createDataFrame([(x,) for x in nodes], "id string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    # 2·log2(10k) ≈ 27 star rounds would be generous; the alternating
    # algorithm typically lands well under log2(n). Budget = 20.
    got = connected_components_star(ndf, edf, "id", max_iterations=20)
    assert got.select("component").distinct().count() == 1
    assert got.filter(F.col("component") == "v00000").count() == n


def test_star_cc_includes_bare_endpoints_and_isolated(spark):
    from kgspark.operators.cc import connected_components_star

    ndf = spark.createDataFrame([("a",), ("z",)], "id string")
    edf = spark.createDataFrame([("x", "y")], "src string, dst string")
    got = {
        r.id: r.component
        for r in connected_components_star(ndf, edf, "id").collect()
    }
    assert got == {"a": "a", "z": "z", "x": "x", "y": "x"}


def test_star_cc_raises_instead_of_silent_unconvergence(spark):
    """A path graph that needs more star rounds than the budget must
    raise, never return the partial stars (a 12-node path after one
    round is still 10 fragments)."""
    from kgspark.operators.cc import connected_components_star

    n = 12
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], ["src", "dst"]
    )
    nodes = spark.createDataFrame([(f"n{i:03d}",) for i in range(n)], ["id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(nodes, edges, max_iterations=1)


def test_bfs_hub_fanout_prunes_frontier_to_cap(spark):
    """Cap-aware expansion: on a hub node the per-depth frontier must
    never exceed max_nodes (the round-3 version traversed the FULL
    neighborhood and capped at the end), and the capped result must
    still be the (depth, node)-ordered prefix of the full traversal."""
    hub_edges = [("hub", f"n{i:04d}") for i in range(500)]
    hub_edges += [(f"n{i:04d}", f"m{i:04d}") for i in range(500)]
    edf = spark.createDataFrame(hub_edges, "src string, dst string")

    sizes: list[int] = []
    got = k_hop_nodes(
        edf, "hub", max_depth=2, max_nodes=10, frontier_sizes=sizes
    ).collect()
    assert sizes and all(s <= 10 for s in sizes), sizes
    # hub + the 9 smallest depth-1 neighbors; depth 2 never explored
    assert [(r.node, r.depth) for r in got] == [("hub", 0)] + [
        (f"n{i:04d}", 1) for i in range(9)
    ]

    # when the cap does not bind, pruning must be a no-op
    full = k_hop_nodes(edf, "hub", max_depth=1, max_nodes=10_000)
    assert full.count() == 501


def test_bfs_scan_per_depth_arm_is_identical(spark):
    """materialize_adjacency=False (the web-scale arm: no full-graph
    distinct/checkpoint, frontier broadcast against the raw edge scan)
    must return exactly the materialized arm's rows — including with
    duplicate and reverse-duplicate edges, whose collapsing moves from
    the adjacency distinct to the frontier distinct."""
    edges = [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("a", "e")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    for directed in (True, False):
        mat = k_hop_nodes(
            edf, "a", max_depth=2, max_nodes=4, directed=directed,
            materialize_adjacency=True,
        ).collect()
        scan = k_hop_nodes(
            edf, "a", max_depth=2, max_nodes=4, directed=directed,
            materialize_adjacency=False,
        ).collect()
        assert [(r.node, r.depth) for r in mat] == [(r.node, r.depth) for r in scan]
