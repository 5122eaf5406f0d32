"""Session helpers: the bounded observe() wait and the fallbacks of the
operators that read it."""

from __future__ import annotations

from pyspark.sql import functions as F

from record_matching_spark import session


def test_missing_observations_keep_outputs(spark, monkeypatch):
    """Every operator that reads an observe() row has a fallback for a row
    that does not arrive: sha_features counts its checkpoint, the near-dup
    verify attaches by sort-merge, and CC fingerprints each round with its
    own pass. Each gives the same output either way."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs
    from record_matching_spark.operators.cluster import connected_components
    from record_matching_spark.operators.scoring import sha_features

    texts = ["alpha beta beta gamma", "alpha beta delta delta delta",
             "gamma gamma epsilon", "", "alpha beta beta gamma"]
    files = spark.createDataFrame(
        [(f"f{i}", t) for i, t in enumerate(texts)], "file_id string, content string"
    ).withColumn("content_sha", F.sha2("content", 256)).withColumn(
        "tokens", F.split(F.lower("content"), " ")
    )
    base = [f"w{j}" for j in range(20)]
    docs = spark.createDataFrame(
        [(i, " ".join(base[: 20 - i % 3] + [f"x{i // 3}"])) for i in range(30)],
        "doc_id long, text string",
    )
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)] + [(30, 31), (31, 32)], "src long, dst long"
    )

    def outputs():
        return (
            sorted(tuple(r) for r in sha_features(files).collect()),
            sorted(tuple(r) for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()),
            sorted(tuple(r) for r in connected_components(edges).collect()),
        )

    observed = outputs()
    missed = []

    def missing(obs):
        missed.append(obs._name)
        return None

    monkeypatch.setattr(session, "observed_row", missing)
    assert outputs() == observed
    assert {"shaf_n_docs", "dedup_payload", "cc_fp_0"} <= set(missed)
    assert len(observed[1]) > 0
