"""Field-frequency canonicalization (B16): canonical_fields."""

from __future__ import annotations

from pyspark.sql import functions as F

from record_matching_spark.operators.canonical import canonical_fields


def test_canonical_fields_majority_and_ties(spark):
    """On a cluster with conflicting field values the canonical value must
    be the most frequent one; frequency ties break to the LOWEST value
    (deterministic at any parallelism)."""
    records = spark.createDataFrame(
        [
            # cluster A: source majority 's1', n_chars majority 5
            ("a1", "s1", 5), ("a2", "s1", 5), ("a3", "s2", 9),
            # cluster B: 1-1 tie on source → lowest ('x'); tie on n_chars → 3
            ("b1", "y", 7), ("b2", "x", 3),
            # singleton cluster C
            ("c1", "solo", 1),
        ],
        "doc_id string, source string, n_chars int",
    )
    clusters = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("a3", "A"), ("b1", "B"), ("b2", "B"),
         ("c1", "C")],
        "doc_id string, cluster_id string",
    )
    got = {
        r["cluster_id"]: (r["cluster_size"], r["source"], r["n_chars"])
        for r in canonical_fields(
            clusters, records, fields=["source", "n_chars"], id_col="doc_id"
        ).collect()
    }
    assert got == {"A": (3, "s1", 5), "B": (2, "x", 3), "C": (1, "solo", 1)}


def test_canonical_fields_deterministic_across_parallelism(spark):
    """Tie-breaking must not depend on partitioning (mode(col, true))."""
    rows = [(f"d{i}", f"v{i % 7}") for i in range(70)]  # all values tie at 10
    records = spark.createDataFrame(rows, "doc_id string, val string")
    clusters = records.select("doc_id", F.lit("K").alias("cluster_id"))
    for n_part in (1, 13):
        got = canonical_fields(
            clusters.repartition(n_part), records.repartition(n_part),
            fields=["val"], id_col="doc_id",
        ).collect()
        assert got[0]["val"] == "v0"  # lowest among the 7-way tie


def test_canonical_fields_clashing_column(spark):
    """ADVICE r3: records already carrying a cluster_id column must not
    trigger an ambiguous-column error — only id+fields are joined."""
    from record_matching_spark.operators.canonical import canonical_fields

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10)], "file_id long, cluster_id long"
    )
    records = spark.createDataFrame(
        [(1, 99, "py"), (2, 98, "go")],
        "file_id long, cluster_id long, lang string",
    )
    out = canonical_fields(clusters, records, fields=["lang"]).collect()
    assert len(out) == 1
    assert out[0]["cluster_size"] == 2
    assert out[0]["lang"] == "go"  # tie of py/go → lowest value
