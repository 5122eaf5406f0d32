"""Stage S8: transitive closure via large-star / small-star connected
components on DataFrames.

Replaces the reference's driver-side scipy DisjointSet over streamed batches
(/root/reference/record_matching/main.py:629-651) and networkx
connected_components (/root/reference/claude_poc_v2/
vector_enhanced_entity_resolution_v2.py:1929-1960) — neither distributes.

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC 2014) — alternate:
  large-star(u): attach every neighbor v > u to m = min(N(u) ∪ {u})
  small-star(u): attach every neighbor v ≤ u (and u) to that minimum
until the edge set reaches a fixpoint; converges in O(log n) rounds and
leaves a star forest where every node points at its component minimum.

Round-cost design (round-3 rework, VERDICT r2 item 2; round-6 trim):
- each star op is ONE window aggregation over a single hash exchange on
  `src` (min — and for small-star row_number — share the same window
  partitioning); only small-star closes the round with a distinct, so a
  round costs 3 exchanges (large window, small window, distinct) vs 4 in
  round 5 and 6 in the round-2 groupBy+join+distinct form. Large-star may
  emit duplicate rows (bounded by in-degree); small-star's windows are
  duplicate-insensitive and its distinct re-canonicalizes the round;
- the convergence fingerprint rides the SAME action that materializes the
  per-round localCheckpoint (`df.observe` + eager checkpoint), so a round
  pays the standalone _fingerprint() pass only when the observed row does
  not arrive within the bounded wait;
- lineage is truncated with localCheckpoint every round (iterative
  self-joins otherwise double the plan each iteration — SURVEY.md §7.4
  risk 3). localCheckpoint stores partitions non-replicated: on a
  multi-node cluster an executor loss fails the job (acceptable for an
  iterative loop this cheap to restart; a deployment that wants
  fault-tolerant rounds can swap in reliable checkpoint(), same contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from record_matching_spark import session


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonical src > dst (pointing at smaller), no
    self loops, distinct."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(e: DataFrame) -> DataFrame:
    """large-star as ONE window over src (no groupBy+join): every neighbor
    dst > src attaches to m = min(N(u) ∪ {u}). Output is canonical
    (src > dst) by construction since m ≤ src < dst.

    NO distinct here (r6, guide §2.4 'remove shuffles outright'): the output
    may carry a few duplicate (dst, m) rows — two smaller neighbors of dst
    sharing the same minimum each emit one — but small-star treats its input
    as a set under min/row_number and ITS closing distinct re-canonicalizes
    the round, so one exchange per round (of the former four) is pure
    overhead. Duplicate multiplicity is bounded by the in-degree of dst in
    the (distinct) input, so the intermediate cannot grow superlinearly
    between the per-round distincts."""
    nbrs = _symmetrize(e)
    w = Window.partitionBy("src")
    return (
        nbrs.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star as ONE window over src: with e canonical (src > dst),
    N⁻(src) = all dst ≤ src; attach every dst ≠ m to m = min(N⁻(src)) and
    the center src to m (emitted once, on the row_number()==1 row — the
    row_number shares the min's window exchange)."""
    wp = Window.partitionBy("src")
    ws = wp.orderBy("dst")
    st = e.select(
        "src",
        "dst",
        F.min("dst").over(wp).alias("m"),
        F.row_number().over(ws).alias("rn"),
    )
    # emit [ (dst→m) if dst≠m, (src→m) if first row of the partition ] via
    # one filtered array explode — no union (a union would re-run the window
    # subplan or force a second exchange)
    arr = F.array(
        F.struct(
            F.col("dst").alias("a"),
            F.col("m").alias("b"),
            (F.col("dst") != F.col("m")).alias("keep"),
        ),
        F.struct(
            F.col("src").alias("a"),
            F.col("m").alias("b"),
            (F.col("rn") == 1).alias("keep"),
        ),
    )
    out = st.select(
        F.explode(F.filter(arr, lambda x: x["keep"])).alias("p")
    ).select(F.col("p.a").alias("src"), F.col("p.b").alias("dst"))
    # already canonical by construction (m < dst and m < src on every emitted
    # row, no self loops), so plain distinct — _canon's greatest/least/filter
    # would be dead expressions here
    return out.distinct()


def _fingerprint(e: DataFrame) -> tuple:
    """Order-insensitive identity of an edge set (count + two independent
    hash sums). Standalone form — the CC loop folds the same aggregates
    into the checkpoint action via observe() and calls this only when the
    observed row does not arrive."""
    row = e.agg(*_fp_aggs()).collect()[0]
    return (row["n"], str(row["h1"]), str(row["h2"]))


def _fp_aggs() -> list:
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64("dst", "src", F.lit("s2")).cast("decimal(38,0)")).alias("h2"),
    ]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Edges (any orientation, any dtype with a total order) → assignments
    DataFrame(node, component) where component = min node id of the
    component. Nodes that appear in no edge are absent (caller unions
    singletons). Deterministic: output depends only on the edge set."""
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    e = e.localCheckpoint(eager=True)
    prev_fp = None
    for i in range(max_iter):
        e = _large_star(e)
        e = _small_star(e)
        # fingerprint rides the checkpoint's materialization action —
        # no separate pass over the edge set per round (VERDICT r2 item 2)
        obs = Observation(f"cc_fp_{i}")
        e = e.observe(obs, *_fp_aggs()).localCheckpoint(eager=True)
        row = session.observed_row(obs)
        fp = (
            (row["n"], str(row["h1"]), str(row["h2"]))
            if row is not None
            else _fingerprint(e)
        )
        if fp == prev_fp or fp[0] == 0:  # empty edge set is a fixpoint
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # star forest: every src points at its component min (dst); add roots
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    return members.unionByName(roots).distinct()


def cluster_assignments(
    edges: DataFrame,
    all_nodes: DataFrame,
    node_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """connected_components + singleton completion: every node in
    `all_nodes` gets a cluster_id (its own id if isolated).

    Output schema: (<node_col>, cluster_id) — the reference's CLUSTERS
    table shape (/root/reference/record_matching/context.py:95-100)."""
    cc = connected_components(edges, src=src, dst=dst)
    nodes = all_nodes.select(F.col(node_col)).distinct()
    return nodes.join(
        cc.withColumnRenamed("node", node_col), node_col, "left"
    ).select(
        node_col,
        F.coalesce("component", F.col(node_col)).alias("cluster_id"),
    )
