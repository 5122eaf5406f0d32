"""Connected components vs a pure-Python union-find oracle (FIXTURES.md §5)."""

from __future__ import annotations

import random

from record_matching_spark.operators.cluster import cluster_assignments, connected_components


def _oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical min-id per component
    out = {}
    for n in nodes:
        r = find(n)
        while parent[r] != r:
            r = parent[r]
        out[n] = r
    # normalize to true min of component
    comp = {}
    for n, r in out.items():
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


def test_cc_random_graphs_vs_oracle(spark):
    rng = random.Random(13)
    for trial in range(3):
        n = 200
        nodes = [f"n{i:04d}" for i in range(n)]
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        want = _oracle(edges, {u for e in edges for u in e})
        assert got == want, f"trial {trial}: CC mismatch"


def test_cc_chain_converges_logn(spark):
    # a path graph is the worst case for naive propagation; large/small star
    # must still converge quickly and give one component
    edges = [(f"v{i:03d}", f"v{i+1:03d}") for i in range(100)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(df, max_iter=15).collect()
    comps = {r["component"] for r in got}
    assert comps == {"v000"}
    assert len(got) == 101


def test_singleton_completion(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], "file_id string")
    got = {r["file_id"]: r["cluster_id"]
           for r in cluster_assignments(edges, nodes, "file_id").collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_cc_exact_on_dup_heavy_graph(spark):
    """Star rounds without large-star's distinct must still converge to the
    exact component minima on a graph that maximizes duplicate emissions
    (many nodes sharing one minimum) plus a long chain (worst-case
    diameter), with duplicate + reversed input edges thrown in."""
    edges = []
    # star: 1..40 all attached to 0 via a middle hub 41 (degree fan-in)
    edges += [(41, i) for i in range(41)]
    # chain: 100..160
    edges += [(i, i + 1) for i in range(100, 160)]
    # duplicates and reversed orientations
    edges += [(i + 1, i) for i in range(100, 160, 3)]
    edges += [(41, 5), (41, 5), (0, 41)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    for n in range(42):
        assert got[n] == 0
    for n in range(100, 161):
        assert got[n] == 100
