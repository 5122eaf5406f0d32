"""B15: cluster refinement / splitting by coherence.

Reference analog: /root/reference/claude_poc_v2/
vector_enhanced_entity_resolution_v2.py:1640-1853
(_refine_clusters_with_domain_coherence + _split_cluster_by_coherence):
clusters whose members don't cohere (mean within-cluster similarity below a
threshold) are split by dropping weak edges and re-clustering the remaining
subgraph. Transitive closure chains false-positive edges into mega-clusters;
this is the pass that breaks those chains.

Spark-first restatement: all set logic is DataFrame joins; the re-clustering
reuses connected_components (a driver-side union-find when the strong-edge
set fits the broadcast budget, else large-star/small-star). No per-row
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matching_spark.operators.cluster import cluster_assignments


def cluster_coherence(
    assign: DataFrame,
    scored: DataFrame,
    node_col: str,
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-cluster coherence stats from the scored pair table:
    (cluster_id, size, n_edges, coherence = mean within-cluster edge score).

    Clusters built by transitive closure can have size s with as few as s-1
    scored edges; unscored member pairs are NOT imputed (the reference's
    coherence is likewise the mean over known similarities,
    claude_poc_v2:1713-1753)."""
    a = assign.select(
        F.col(node_col).alias("left"), F.col(cluster_col).alias("_cl")
    )
    b = assign.select(
        F.col(node_col).alias("right"), F.col(cluster_col).alias("_cr")
    )
    within = (
        scored.select("left", "right", score_col)
        .join(a, "left")
        .join(b, "right")
        .filter(F.col("_cl") == F.col("_cr"))
    )
    stats = within.groupBy(F.col("_cl").alias(cluster_col)).agg(
        F.count("*").alias("n_edges"),
        F.avg(score_col).alias("coherence"),
    )
    sizes = assign.groupBy(cluster_col).agg(F.count("*").alias("size"))
    return sizes.join(stats, cluster_col, "left").select(
        cluster_col,
        "size",
        F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
        F.coalesce("coherence", F.lit(1.0)).alias("coherence"),
    )


def refine_clusters(
    assign: DataFrame,
    scored: DataFrame,
    node_col: str,
    cluster_col: str = "cluster_id",
    score_col: str = "score",
    coherence_tau: float = 0.8,
    edge_tau: float = 0.8,
    min_size: int = 3,
) -> DataFrame:
    """Split incoherent clusters; return refreshed (node_col, cluster_id).

    A cluster is incoherent when size ≥ min_size AND mean within-cluster
    edge score < coherence_tau. Within those clusters only, edges with
    score < edge_tau are dropped and connected components reruns on the
    survivors; members disconnected by the drop become their own clusters.
    Coherent clusters pass through untouched.

    Cluster ids stay the min-node-id convention, so refined sub-cluster ids
    can never collide with kept cluster ids (disjoint node sets)."""
    coh = cluster_coherence(assign, scored, node_col, cluster_col, score_col)
    bad = coh.filter(
        (F.col("size") >= min_size) & (F.col("coherence") < coherence_tau)
    ).select(cluster_col)

    keep = assign.join(F.broadcast(bad), cluster_col, "left_anti")
    bad_members = assign.join(F.broadcast(bad), cluster_col).select(
        node_col, cluster_col
    )

    a = bad_members.select(
        F.col(node_col).alias("left"), F.col(cluster_col).alias("_cl")
    )
    b = bad_members.select(
        F.col(node_col).alias("right"), F.col(cluster_col).alias("_cr")
    )
    strong = (
        scored.filter(F.col(score_col) >= edge_tau)
        .join(a, "left")
        .join(b, "right")
        .filter(F.col("_cl") == F.col("_cr"))
        .select(F.col("left").alias("src"), F.col("right").alias("dst"))
    )
    refined = cluster_assignments(strong, bad_members, node_col)
    return keep.select(node_col, cluster_col).unionByName(
        refined.withColumnRenamed("cluster_id", cluster_col)
    )
