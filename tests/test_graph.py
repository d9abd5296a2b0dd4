"""Tests for distributed connected components (sparker_spark/graph.py)."""

import random

from pyspark.sql import functions as F

from sparker_spark.graph import ConnectedComponents


def _uf_components(edges, nodes):
    """Brute-force union-find reference: node -> min id of component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), []).append(n)
    return {n: min(g) for g in groups.values() for n in g}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "p1 long, p2 long")
    return {
        r["node"]: r["component"]
        for r in ConnectedComponents.run(df).collect()
    }


def test_cc_two_triangles_and_bridge(spark):
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (2, 10), (20, 21)]
    got = _run(spark, edges)
    nodes = {n for e in edges for n in e}
    assert got == _uf_components(edges, nodes)
    assert got[12] == 0  # bridged through 2-10
    assert got[21] == 20


def test_cc_long_chain_converges(spark):
    """A 200-node path is the worst case for plain min-propagation
    (O(diameter) rounds); pointer jumping must close it well inside
    the default max_iter=30 (~log2 bound)."""
    edges = [(i, i + 1) for i in range(200)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 20 * trial)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = _run(spark, edges)
        nodes = {x for e in edges for x in e}
        assert got == _uf_components(edges, nodes)


def test_cc_isolated_nodes_via_nodes_relation(spark):
    edges = spark.createDataFrame([(1, 2)], "p1 long, p2 long")
    nodes = spark.createDataFrame([(1,), (2,), (7,)], "doc_id long")
    got = {
        r["node"]: r["component"]
        for r in ConnectedComponents.run(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 7: 7}


def test_cc_canonical_groups(spark):
    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 21)], "p1 long, p2 long"
    )
    rows = {
        r["node"]: r
        for r in ConnectedComponents.canonical_groups(edges).collect()
    }
    assert rows[5]["component"] == 3 and rows[5]["cluster_size"] == 3
    assert rows[3]["is_canonical"] and not rows[9]["is_canonical"]
    assert rows[20]["is_canonical"] and rows[20]["cluster_size"] == 2


def test_cc_empty_edges(spark):
    edges = spark.createDataFrame([], "p1 long, p2 long")
    assert ConnectedComponents.run(edges).count() == 0


def test_cc_distributed_path_matches_driver_path(spark):
    """The r12 regime switch (driver union-find below
    DRIVER_UNIONFIND_MAX edges, pointer-jumping loop above) must be
    invisible in the result: force the distributed path on the same
    graphs the driver path answers and compare label maps."""
    rng = random.Random(7)
    cases = [
        [(i, i + 1) for i in range(120)],  # chain: worst case for rounds
        [(rng.randrange(50), rng.randrange(50)) for _ in range(80)],
        [(1, 2)],
    ]
    old = ConnectedComponents.DRIVER_UNIONFIND_MAX
    for edges in cases:
        edges = [e for e in edges if e[0] != e[1]]
        nodes = {x for e in edges for x in e}
        want = _uf_components(edges, nodes)
        try:
            ConnectedComponents.DRIVER_UNIONFIND_MAX = -1  # force loop
            got_loop = _run(spark, edges)
        finally:
            ConnectedComponents.DRIVER_UNIONFIND_MAX = old
        got_driver = _run(spark, edges)
        assert got_loop == want
        assert got_driver == want


def test_pagerank_star(spark):
    from sparker_spark.graph import PageRank

    # undirected star: center 0 <-> leaves 1..4; center must dominate
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], ["p1", "p2"]
    )
    pr = {r["node"]: r["pagerank"] for r in PageRank.run(edges).collect()}
    assert len(pr) == 5
    leaves = [pr[i] for i in range(1, 5)]
    assert all(pr[0] > v for v in leaves)
    assert max(leaves) - min(leaves) < 1e-9  # symmetric leaves tie
    assert abs(sum(pr.values()) - 1.0) < 1e-3  # mass conserved


def test_pagerank_matches_power_iteration_model(spark):
    import math
    import random

    from sparker_spark.graph import PageRank

    rng = random.Random(4)
    edges = list({(a, b) for _ in range(40)
                  for a, b in [sorted(rng.sample(range(12), 2))]})
    df = spark.createDataFrame(edges, ["p1", "p2"])
    got = {r["node"]: r["pagerank"] for r in PageRank.run(df).collect()}

    # sequential model with the SAME per-iteration rounding contract
    inter = 10
    scale = 10.0 ** inter

    def rnd(x):
        return math.floor(x * scale + 0.5) / scale

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    n = len(nodes)
    pr = {v: rnd(1.0 / n) for v in nodes}
    for _ in range(5):
        contrib = {v: 0.0 for v in nodes}
        for u in nodes:
            share = pr[u] / len(adj[u])
            for v in adj[u]:
                contrib[v] += rnd(share)
        pr = {v: rnd((1.0 - 0.85) / n + 0.85 * contrib[v]) for v in nodes}
    want = {v: math.floor(pr[v] * 1e6 + 0.5) / 1e6 for v in nodes}
    assert got == want


def test_triangles_exact(spark):
    """Triangle enumeration: 4-clique (4 triangles) + pendant edge +
    disjoint triangle, each listed once as p1 < p2 < p3."""
    from sparker_spark.graph import Triangles

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
         (4, 5),                                          # pendant
         (10, 11), (10, 12), (11, 12)],                   # triangle
        ["p1", "p2"],
    )
    got = {
        (r["p1"], r["p2"], r["p3"]) for r in Triangles.enumerate(edges).collect()
    }
    assert got == {
        (1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4), (10, 11, 12)
    }
    assert Triangles.enumerate(edges).count() == 5  # no duplicates


def test_triangles_empty_and_triangle_free(spark):
    from sparker_spark.graph import Triangles

    empty = spark.createDataFrame([], "p1 long, p2 long")
    assert Triangles.enumerate(empty).count() == 0
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["p1", "p2"])
    assert Triangles.enumerate(path).count() == 0



def test_pagerank_node_sized_joins_broadcast(spark, monkeypatch):
    """Each iteration's three node-sized joins (pr ⋈ outdeg, edges ⋈
    per-source terms, nodes ⋈ contributions) broadcast their build
    side, bounded by the node count PageRank already takes: a pin has
    no size statistics, so Catalyst alone would sort-merge them. The
    joins run inside the pins, so the test reads the plan of the last
    frame PageRank pins."""
    from sparker_spark.graph import PageRank
    from sparker_spark.session import scoped_conf

    edges = spark.createDataFrame([(0, i) for i in range(1, 5)], ["p1", "p2"])
    frame = type(edges)
    pin = frame.localCheckpoint
    plans = []

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return pin(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    with scoped_conf(spark, {threshold: "10MB"}):
        PageRank.run(edges).collect()
    assert plans[-1].count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plans[-1]
    with scoped_conf(spark, {threshold: "-1"}):
        PageRank.run(edges).collect()
    assert "BroadcastHashJoin" not in plans[-1]
