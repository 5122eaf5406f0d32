"""Blocking: minhash determinism, blocking recall on true pairs, salting
pair-set equivalence (FIXTURES.md §5)."""

from __future__ import annotations

import time
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from record_matching_spark import session
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

    rows = [(i, i % 7) for i in range(60)] + [(i, 100 + i % 3) for i in range(60, 90)]
    df = spark.createDataFrame(rows, "fid long, block_key long")

    def pairs():
        out = candidate_pairs(df, id_col="fid", salt_cap=4)
        return out.dtypes, sorted(tuple(r) for r in out.collect())

    seen = []
    read = session.observed_row

    def recording(obs):
        seen.append(read(obs))
        return seen[-1]

    monkeypatch.setattr(session, "observed_row", recording)
    narrowed = pairs()
    assert seen == [{"lo": 0, "hi": 89}]  # fits int32: the narrowed plan ran
    monkeypatch.setattr(session, "observed_row", lambda obs: None)
    assert pairs() == narrowed and len(narrowed[1]) > 0

    never = Observation()
    df.observe(never, F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    assert read(never, timeout_s=0.3) is None
    assert time.monotonic() - t0 < 5


def test_candidate_pairs_equal_within_block_pairs(spark):
    """candidate_pairs emits exactly the distinct (left, right) pairs that
    share a block, each once, on a block table where pairs repeat across
    blocks and salting splits the blocks (salt_cap=2). The oracle
    enumerates the within-block pairs in Python."""
    rows = []
    # docs 1-4 share key 100; 1,2 also share 50; 3,4 share 7
    for k, members in [(100, [1, 2, 3, 4]), (50, [1, 2]), (7, [3, 4]),
                       (900, [5, 6, 7]), (3, [6, 7])]:
        rows += [(m, k) for m in members]
    members = defaultdict(set)
    for m, k in rows:
        members[k].add(m)
    want = sorted({(a, b) for ms in members.values() for a in ms for b in ms if a < b})

    blocks = spark.createDataFrame(rows, "file_id long, block_key long")
    out = candidate_pairs(blocks, salt_cap=2)
    assert out.dtypes == [("left", "bigint"), ("right", "bigint")]
    assert sorted(tuple(r) for r in out.collect()) == want


def test_band_layout_sizes_signature(spark):
    """The signature has num_bands × rows_per_band hashes: a 40 × 4 layout
    (160 hashes) gives every band a full slice, so 60 documents with
    disjoint tokens share no block and give no pair."""
    docs = [(i, [f"d{i}w{j}" for j in range(5)]) for i in range(60)]
    df = spark.createDataFrame(docs, "file_id long, tokens array<string>")
    blocks = blocking_keys(df, num_bands=40, rows_per_band=4)
    assert blocks.count() == 60 * (1 + 40)  # token-sorted key + bands
    assert candidate_pairs(blocks).count() == 0
