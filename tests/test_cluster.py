"""Connected components vs a pure-Python union-find oracle (FIXTURES.md §5).

Graphs with fixed-width ids run on both paths: the driver-side union-find
(the edge set fits the broadcast budget) and the star loop (budget patched
to 0); `_both_paths` requires equal outputs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from record_matching_spark import session
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


def _both_paths(monkeypatch, df, **kwargs):
    """connected_components(df) rows on the driver path and on the star loop
    (budget 0), required equal; also that the first pulled the edges and the
    second did not."""
    pulled = []
    pull = session.collect_within_budget

    def spy(d, row_bytes):
        table = pull(d, row_bytes)
        pulled.append(table is not None)
        return table

    with monkeypatch.context() as m:
        m.setattr(session, "collect_within_budget", spy)
        driver = connected_components(df, **kwargs).collect()
        m.setattr(session, "BROADCAST_BUDGET_BYTES", 0)
        star = connected_components(df, **kwargs).collect()
    assert pulled == [True, False]
    assert sorted(map(tuple, driver)) == sorted(map(tuple, star))
    return driver


def test_cc_random_graphs_vs_oracle(spark, monkeypatch):
    rng = random.Random(13)
    for trial in range(3):
        edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["component"] for r in _both_paths(monkeypatch, df)}
        want = _oracle(edges, {u for e in edges for u in e})
        assert got == want, f"trial {trial}: CC mismatch"


def test_cc_string_ids_vs_oracle(spark):
    # strings have no fixed width: the star loop runs at any budget
    rng = random.Random(13)
    nodes = [f"n{i:04d}" for i in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _oracle(edges, {u for e in edges for u in e})


def test_cc_chain_converges_logn(spark, monkeypatch):
    # a path graph is the worst case for naive propagation; large/small star
    # must still converge quickly and give one component
    edges = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _both_paths(monkeypatch, df, max_iter=15)
    comps = {r["component"] for r in got}
    assert comps == {0}
    assert len(got) == 101


def test_singleton_completion(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("z",)], "file_id string")
    got = {r["file_id"]: r["cluster_id"]
           for r in cluster_assignments(edges, nodes, "file_id").collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_cc_exact_on_dup_heavy_graph(spark, monkeypatch):
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
    got = {r["node"]: r["component"] for r in _both_paths(monkeypatch, df)}
    for n in range(42):
        assert got[n] == 0
    for n in range(100, 161):
        assert got[n] == 100


@pytest.mark.parametrize("id_type", ["int", "struct"])
def test_cc_id_types_keep_type_and_order(spark, monkeypatch, id_type):
    """int32 ids and id_bits=128 `struct<h1,h2>` ids take the driver path,
    come back with the input's type, and label each component with its
    minimum in Spark's order (structs field by field, signed)."""
    rng = random.Random(7)
    edges = [(rng.randrange(-60, 60), rng.randrange(-60, 60)) for _ in range(80)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src int, dst int")
    if id_type == "struct":
        # h1 = id / 7 (truncated) is shared by up to 13 ids, so the signed
        # h2 = -id often decides the order
        def wide(c):
            return F.struct((F.col(c) / 7).cast("long").alias("h1"),
                            (-F.col(c)).cast("long").alias("h2"))

        df = df.select(wide("src").alias("src"), wide("dst").alias("dst"))
        edges = [((int(u / 7), -u), (int(v / 7), -v)) for u, v in edges]
    got = _both_paths(monkeypatch, df)
    out = connected_components(df)
    assert out.schema["node"].dataType == df.schema["src"].dataType
    assert out.schema["component"].dataType == df.schema["src"].dataType
    key = tuple if id_type == "struct" else int
    got = {key(r["node"]): key(r["component"]) for r in got}
    assert got == _oracle(edges, {u for e in edges for u in e})


def test_cc_drops_self_loops_nulls_and_empty(spark, monkeypatch):
    """A node whose only edge is a self loop is absent, an edge with a null
    endpoint is dropped, and an empty edge set gives no rows."""
    edges = [(1, 2), (2, 3), (9, 9), (5, None), (None, 6), (None, None), (3, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in _both_paths(monkeypatch, df)}
    assert got == {1: 1, 2: 1, 3: 1}
    # an empty edge set fits any budget; the star loop sees one as strings
    assert connected_components(df.limit(0)).collect() == []
    assert connected_components(df.limit(0).selectExpr(
        "string(src) AS src", "string(dst) AS dst")).collect() == []


def test_cc_sub_budget_graph_runs_few_jobs(spark):
    """A graph within the broadcast budget is pulled once and labelled on
    the driver: connected_components plus its collect runs at most 3 Spark
    jobs, where the star loop runs about 5 per round."""
    rng = random.Random(3)
    edges = [(rng.randrange(3000), rng.randrange(3000)) for _ in range(5000)]
    edges += [(i, i + 1) for i in range(10_000, 11_000)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sc = spark.sparkContext
    sc.setJobGroup("cc-driver", "connected_components job count")
    try:
        rows = connected_components(df).collect()
        ids = sc.statusTracker().getJobIdsForGroup("cc-driver")
    finally:
        sc.setJobGroup("cc-driver-after", "")
    assert {r["component"] for r in rows if r["node"] >= 10_000} == {10_000}
    assert len(ids) <= 3, f"{len(ids)} jobs"
