"""Dedup operators (functions/dedup.py and its streaming forms): MinHash-LSH
near-dup pairs against the brute-force oracle, its two verify attach
shapes and scan fan-out, the cross-corpus / persisted-index / incremental
paths, streaming decontamination parity, exact n-gram decontamination and
keep-one near-dup dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_shingle_lsh_matches_bruteforce(spark):
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs
    from record_matching_spark.operators.normalize import char_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh = {
        (r["left"], r["right"])
        for r in minhash_near_dup_pairs(docs, threshold=0.9, shingle_k=8).collect()
    }
    sh = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(char_shingles(F.col("text"), 8))).alias("_t"),
    )
    a = sh.select(F.col("doc_id").alias("left"), F.col("_t").alias("_ta"))
    b = sh.select(F.col("doc_id").alias("right"), F.col("_t").alias("_tb"))
    union = F.size(F.array_union("_ta", "_tb"))
    brute = {
        (r["left"], r["right"])
        for r in a.crossJoin(b)
        .filter(F.col("left") < F.col("right"))
        .withColumn(
            "j",
            F.size(F.array_intersect("_ta", "_tb")).cast("double")
            / F.greatest(union, F.lit(1)),
        )
        .filter(F.col("j") >= 0.9)
        .collect()
    }
    assert lsh == brute


def test_empty_token_docs_not_near_dups(spark):
    from record_matching_spark.functions.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "!!! ???"),          # tokenizes to empty
            (2, "$$$ %%%"),          # tokenizes to empty, different content
            (3, "!!! ???"),          # identical content to 1
            (4, "normal english words here"),
        ],
        "doc_id long, text string",
    )
    mh = {(r["left"], r["right"]) for r in
          minhash_near_dup_pairs(docs, threshold=0.9).collect()}
    assert (1, 3) in mh, "identical punctuation-only docs ARE duplicates"
    assert (1, 2) not in mh and (2, 3) not in mh, (
        "different empty-token docs are NOT duplicates")
    ng = {(r["left"], r["right"]) for r in
          ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    assert (1, 3) in ng and (1, 2) not in ng


def test_minhash_jaccard_values_match_oracle(spark):
    """The na+nb−inter union rewrite and the split size-first attach must
    leave pair sets AND jaccard values identical to brute force."""
    from record_matching_spark.functions.dedup import (
        minhash_near_dup_pairs, ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        (r["left"], r["right"]): r["jaccard"]
        for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()
    }
    want = {
        (r["left"], r["right"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert got == want  # exact doubles: same ints divided in both plans


def test_minhash_verify_attach_shapes_agree(spark, monkeypatch):
    """The broadcast split attach and the sort-merge attach (forced by a
    zero broadcast budget) verify the same pairs to the same values."""
    from record_matching_spark import session
    from record_matching_spark.functions import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def pairs():
        return sorted(
            tuple(r) for r in dedup.minhash_near_dup_pairs(
                docs, threshold=0.8
            ).select("left", "right", "jaccard").collect()
        )

    broadcast = pairs()
    monkeypatch.setattr(session, "BROADCAST_BUDGET_BYTES", 0)
    sort_merge = pairs()
    assert sort_merge == broadcast and len(broadcast) > 0


def test_rerun_compiles_no_new_code(spark):
    """The near-dup workload (minhash_near_dup_pairs, then connected
    components over the verified pairs) compiles about 100 generated
    classes; the session's codegen cache holds them all, so a second run
    compiles none and gives the same pairs and groups."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs
    from record_matching_spark.operators.cluster import cluster_assignments
    from record_matching_spark.session import codegen_compiles

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def run():
        before = codegen_compiles(spark)
        pairs = minhash_near_dup_pairs(docs, threshold=0.8)
        edges = pairs.select(F.col("left").alias("src"),
                             F.col("right").alias("dst"))
        out = (
            sorted(tuple(r) for r in pairs.collect()),
            sorted(tuple(r) for r in
                   cluster_assignments(edges, docs, "doc_id").collect()),
        )
        return out, codegen_compiles(spark) - before

    first, _ = run()
    second, compiles = run()
    assert compiles == 0, f"second run compiled {compiles} classes"
    assert second == first and len(first[0]) > 0


def test_fan_out_walks_plan_nodes(spark, tmp_path):
    """A single-partition scan is spread to defaultParallelism even when a
    column name reads like a plan node; a frame that already shuffles
    (cached or not) comes back unchanged without running a job."""
    from record_matching_spark.functions.dedup import _fan_out

    path = str(tmp_path / "one_file")
    spark.range(40).selectExpr(
        "id AS doc_id", "CAST(id % 5 AS STRING) AS SortKey"
    ).coalesce(1).write.parquet(path)
    sc = spark.sparkContext
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    assert _fan_out(scan).rdd.getNumPartitions() == sc.defaultParallelism
    for shuffled in (scan.groupBy("SortKey").count(),
                     scan.groupBy("SortKey").count().cache()):
        sc.setJobGroup("fan-out-plan", "fan-out decision must run no job")
        try:
            out = _fan_out(shuffled)
            ids = sc.statusTracker().getJobIdsForGroup("fan-out-plan")
        finally:
            sc.setJobGroup("fan-out-after", "")
        assert out is shuffled
        assert list(ids) == [], "fan-out decision launched a Spark job"


def test_ngram_jaccard_guard(spark):
    """Ungrouped ngram_jaccard_pairs refuses >100k rows instead of
    silently cross-joining (guard parity with embedding_near_dup_pairs)."""
    from record_matching_spark.functions.dedup import ngram_jaccard_pairs

    big = spark.range(100_001).select(
        F.col("id").alias("doc_id"), F.lit("some text").alias("text")
    )
    with pytest.raises(ValueError, match="minhash_near_dup_pairs"):
        ngram_jaccard_pairs(big)


def test_cross_corpus_decontamination(spark):
    """Planted contamination across corpora is found; unrelated docs and
    WITHIN-side near-dups produce no pairs; an exact cross-side copy is
    caught via the content-sha key even for empty-token text."""
    from record_matching_spark.functions.dedup import (
        cross_corpus_near_dup_pairs, minhash_near_dup_pairs,
    )

    bench = " ".join(f"eval{i}" for i in range(60))
    leak = bench.replace("eval7 ", "zzz7 ")       # J = 59/61 ≈ 0.967
    clean = " ".join(f"train{i}" for i in range(60))
    clean2 = clean.replace("train3 ", "qqq3 ")    # within-corpus near-dup
    sym = "!!! ??? !!!"                           # tokenizes to empty

    corpus = spark.createDataFrame(
        [(1, leak), (2, clean), (3, clean2), (4, sym)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(101, bench), (102, "totally different benchmark prompt"),
         (104, sym)],
        "doc_id long, text string",
    )
    rows = {
        (r["corpus_id"], r["probe_id"]): r["jaccard"]
        for r in cross_corpus_near_dup_pairs(
            corpus, probe, threshold=0.9
        ).collect()
    }
    assert (1, 101) in rows and abs(rows[(1, 101)] - 59 / 61) < 1e-12, rows
    assert (4, 104) in rows and rows[(4, 104)] == 1.0, rows  # sha key
    assert all(c in (1, 4) for c, _ in rows), rows  # no clean/within pairs
    # the batch self-join over corpus ∪ probe, restricted to cross pairs
    # (corpus ids < probe ids), finds the same pairs with the same values
    both = {
        (r["left"], r["right"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            corpus.unionByName(probe), threshold=0.9
        ).collect()
        if r["left"] < 100 <= r["right"]
    }
    assert both == rows


def test_near_dup_index_parquet_roundtrip(spark, tmp_path):
    """The incremental-ingest contract: an index built once, written to
    parquet, and read back must yield byte-identical pair sets to the
    direct (recompute-history) path."""
    from record_matching_spark.functions.dedup import (
        build_near_dup_index, cross_corpus_near_dup_pairs,
        near_dup_pairs_against_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    hist = spark.createDataFrame(
        [(i, base if i % 3 == 0 else f"hist doc {i} with words {i * 7}")
         for i in range(60)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, base), (101, "entirely novel content never seen before"),
         (102, base + " kappa")],
        "doc_id long, text string",
    )
    bands, feats = build_near_dup_index(hist)
    bands.write.parquet(str(tmp_path / "bands"))
    feats.write.parquet(str(tmp_path / "feats"))
    from_disk = near_dup_pairs_against_index(
        spark.read.parquet(str(tmp_path / "bands")),
        spark.read.parquet(str(tmp_path / "feats")),
        new, threshold=0.9,
    )
    direct = cross_corpus_near_dup_pairs(hist, new, threshold=0.9)
    a = sorted(map(tuple, from_disk.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) > 0
    # every exact copy of the duplicated base doc was caught
    assert {p for _, p, _ in a} >= {100, 102}


def test_incremental_dedup_verdicts(spark):
    """history_dup beats shard_dup; keep-first within the shard is by
    lower id regardless of that doc's own verdict; novel docs are kept."""
    from record_matching_spark.functions.dedup import (
        build_near_dup_index, incremental_dedup,
    )

    hist = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # hist dup
            (11, "one two three four five six seven eight nine ten"),   # kept
            (12, "one two three four five six seven eight nine ten"),   # shard dup of 11
            (13, "the quick brown fox jumps over the lazy dog today"),  # hist dup (also shard dup of 10 — history wins)
            (14, "completely fresh words appearing nowhere else at all"),
        ],
        "doc_id long, text string",
    )
    bands, feats = build_near_dup_index(hist)
    out = {
        r["doc_id"]: (r["reason"], r["kept"])
        for r in incremental_dedup(new, bands, feats, threshold=0.9).collect()
    }
    assert out[10] == ("history_dup", False)
    assert out[11] == ("kept", True)
    assert out[12] == ("shard_dup", False)
    assert out[13] == ("history_dup", False)
    assert out[14] == ("kept", True)
    assert len(out) == 5


def test_streaming_decontaminate_parity_and_exactly_once(spark, tmp_path):
    """streaming_decontaminate == cross_corpus_near_dup_pairs over the same
    data (batch parity), emits exactly one row per contaminated (doc,
    probe) pair across micro-batches INCLUDING re-deliveries, flags an
    exact probe copy via the content-sha key, and never flags clean or
    below-threshold docs."""
    from record_matching_spark.functions.dedup import cross_corpus_near_dup_pairs
    from record_matching_spark.streaming.ops import (
        run_stream_to_parquet,
        streaming_decontaminate,
    )

    src = tmp_path / "dc_in"
    dst = tmp_path / "dc_out"
    ckp = tmp_path / "dc_ck"
    schema = "doc_id string, text string"

    bench = " ".join(f"tok{i}" for i in range(60))
    other_bench = " ".join(f"alt{i}" for i in range(60))
    near = bench.replace("tok7 ", "zzz7 ")  # J = 59/61 ≈ 0.967
    half = " ".join(
        [f"tok{i}" for i in range(30)] + [f"oth{i}" for i in range(30)]
    )  # J vs bench ≈ 0.33 — bands may collide, verify must reject
    clean = " ".join(f"new{i}" for i in range(60))

    probe = spark.createDataFrame(
        [("P1", bench), ("P2", other_bench)], schema
    )

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_stream_to_parquet(
            streaming_decontaminate(
                stream, probe, text_col="text", id_col="doc_id",
                threshold=0.9,
            ),
            str(dst), str(ckp),
        )

    # batch 1: A ≈ P1, B clean, C == P2 verbatim
    spark.createDataFrame(
        [("A", near), ("B", clean), ("C", other_bench)], schema
    ).write.parquet(str(src), mode="append")
    run()
    got1 = {
        (r["doc_id"], r["probe_id"]): r["jaccard"]
        for r in spark.read.parquet(str(dst)).collect()
    }
    assert set(got1) == {("A", "P1"), ("C", "P2")}, got1
    assert abs(got1[("A", "P1")] - 59 / 61) < 1e-12
    assert got1[("C", "P2")] == 1.0

    # batch 2: A re-delivered (no duplicate row), H below τ (no row),
    # D == P1 verbatim (new contamination)
    spark.createDataFrame(
        [("A", near), ("H", half), ("D", bench)], schema
    ).write.parquet(str(src), mode="append")
    run()
    rows = spark.read.parquet(str(dst)).collect()
    got2 = {(r["doc_id"], r["probe_id"]): r["jaccard"] for r in rows}
    assert len(rows) == len(got2) == 3, rows  # exactly-once per pair
    assert set(got2) == {("A", "P1"), ("C", "P2"), ("D", "P1")}, got2

    # batch parity: the batch operator over ALL delivered docs agrees
    all_docs = spark.read.parquet(str(src)).dropDuplicates(["doc_id"])
    batch = {
        (r["corpus_id"], r["probe_id"]): r["jaccard"]
        for r in cross_corpus_near_dup_pairs(
            all_docs, probe, text_col="text", id_col="doc_id", threshold=0.9
        ).collect()
    }
    assert batch == got2


def test_ngram_decontaminate_planted_leak(spark):
    """A corpus doc embedding an exact n-token probe run is flagged with
    the right distinct-gram count; clean docs are absent; the portable
    (string-key) and production (xxhash64-key) modes agree."""
    from record_matching_spark.functions.dedup import ngram_decontaminate

    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains tokens 1-10 of the probe verbatim -> for n=5 that is
            # 6 distinct probe 5-grams
            (1, "intro words then the quick brown fox jumps over the lazy dog tonight and more"),
            (2, "completely unrelated text with no shared runs at all here"),
            # shares only a 4-token run -> no 5-gram match
            (3, "quick brown fox jumps somewhere else entirely now"),
        ],
        "doc_id long, text string",
    )
    for portable in (True, False):
        out = {
            r["doc_id"]: r["n_matched"]
            for r in ngram_decontaminate(
                corpus, probe, n=5, portable=portable
            ).collect()
        }
        assert out == {1: 6}, out


def test_near_dedup_keep_min(spark):
    """End-to-end near-dup dedup: exact duplicate groups collapse to their
    min id; unique docs survive as their own kept singleton."""
    from record_matching_spark.functions.dedup import near_dedup_keep_min

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = (
        [(i, base) for i in (7, 3, 9)]
        + [(i, "one two three four five six seven eight nine ten") for i in (20, 21)]
        + [(30, "totally unique words describing nothing shared anywhere else")]
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["kept"])
        for r in near_dedup_keep_min(
            spark.createDataFrame(rows, "doc_id long, text string"),
            threshold=0.9,
        ).collect()
    }
    assert out[3] == (3, True) and out[7] == (3, False) and out[9] == (3, False)
    assert out[20] == (20, True) and out[21] == (20, False)
    assert out[30] == (30, True)
    assert len(out) == 6
