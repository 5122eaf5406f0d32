"""Blocking: minhash determinism, blocking recall on true pairs, salting
pair-set equivalence (FIXTURES.md §5)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
from record_matching_spark.operators.minhash import with_minhash_signature
from record_matching_spark.operators.normalize import normalize_files
from record_matching_spark.synth import labeled_pairs, repo_files


@pytest.fixture(scope="module")
def norm(spark, truth_df):
    df = normalize_files(repo_files(truth_df)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def blocks(norm):
    b = blocking_keys(norm).cache()
    b.count()
    return b


def test_minhash_deterministic(spark):
    texts = [("a", ["foo", "bar", "baz"]), ("b", ["foo", "bar", "baz"]),
             ("c", ["qux", "zap"])]
    df = spark.createDataFrame(texts, "id string, tokens array<string>")
    s1 = {r["id"]: tuple(r["minhash"]) for r in
          with_minhash_signature(df, num_hashes=16).collect()}
    s2 = {r["id"]: tuple(r["minhash"]) for r in
          with_minhash_signature(df.repartition(3), num_hashes=16).collect()}
    assert s1 == s2
    assert s1["a"] == s1["b"]          # identical token sets → identical sigs
    assert s1["a"] != s1["c"]
    assert len(s1["a"]) == 16


def test_minhash_estimates_jaccard(spark):
    # two 50-token sets sharing 40 tokens → J = 40/60 ≈ 0.667
    common = [f"tok{i}" for i in range(40)]
    a = common + [f"a{i}" for i in range(10)]
    b = common + [f"b{i}" for i in range(10)]
    df = spark.createDataFrame([("a", a), ("b", b)], "id string, tokens array<string>")
    sigs = {r["id"]: r["minhash"] for r in
            with_minhash_signature(df, num_hashes=256).collect()}
    agree = sum(1 for x, y in zip(sigs["a"], sigs["b"]) if x == y) / 256
    assert abs(agree - 40 / 60) < 0.12


def test_blocking_recall_on_true_pairs(truth_df, blocks):
    """Every positive labeled pair must share ≥1 block (the reference's
    blocking audit: blocking_analysis_report.txt shows 100% retention)."""
    pos = labeled_pairs(truth_df).filter("match").select("left", "right")
    pairs = candidate_pairs(blocks, salt_cap=10_000).select("left", "right")
    missed = pos.join(pairs, ["left", "right"], "left_anti").count()
    total = pos.count()
    recall = 1 - missed / total
    assert recall >= 0.995, f"blocking recall {recall:.4f} ({missed}/{total} missed)"


def test_salting_pair_set_equivalence(blocks):
    """Salted self-join must emit EXACTLY the unsalted pair set."""
    unsalted = candidate_pairs(blocks, salt_cap=1_000_000).select("left", "right")
    salted = candidate_pairs(blocks, salt_cap=7).select("left", "right")
    assert unsalted.exceptAll(salted).count() == 0
    assert salted.exceptAll(unsalted).count() == 0
    # no self pairs, canonical order
    assert salted.filter(F.col("left") >= F.col("right")).count() == 0


def test_drop_cap_drops_mega_blocks(spark):
    rows = [(f"id{i}", "hot") for i in range(50)] + [("x", "cold"), ("y", "cold")]
    df = spark.createDataFrame(rows, "file_id string, block_key string")
    got = candidate_pairs(df, salt_cap=10, drop_cap=49)
    assert got.count() == 1  # only the cold pair survives
    # all-singleton blocks (every key unique) give zero pairs
    singles = spark.createDataFrame(
        [(i, i * 1000 + 7) for i in range(200)], "fid long, block_key long"
    ).localCheckpoint(eager=True)
    assert candidate_pairs(singles, id_col="fid").count() == 0


def test_missing_bounds_keep_ids_wide(spark, monkeypatch):
    """candidate_pairs reads the id bounds with a bounded wait; when they do
    not arrive it keeps the ids wide and gives the int32-narrowed run's
    pairs. An observation whose action never ran reads as None in time."""
    from pyspark.sql import Observation

    from record_matching_spark.operators import blocking

    rows = [(i, i % 7) for i in range(60)] + [(i, 100 + i % 3) for i in range(60, 90)]
    df = spark.createDataFrame(rows, "fid long, block_key long")

    def pairs():
        out = blocking.candidate_pairs(df, id_col="fid", salt_cap=4)
        return out.dtypes, sorted(tuple(r) for r in out.collect())

    seen = []
    read = blocking._observed_row

    def recording(obs):
        seen.append(read(obs))
        return seen[-1]

    monkeypatch.setattr(blocking, "_observed_row", recording)
    narrowed = pairs()
    assert seen == [{"lo": 0, "hi": 89}]  # fits int32: the narrowed plan ran
    monkeypatch.setattr(blocking, "_observed_row", lambda obs: None)
    assert pairs() == narrowed and len(narrowed[1]) > 0

    never = Observation()
    df.observe(never, F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    assert read(never, timeout_s=0.3) is None
    assert time.monotonic() - t0 < 5
