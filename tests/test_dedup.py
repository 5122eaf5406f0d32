"""Dedup operators (functions/dedup.py and its streaming forms): MinHash-LSH
near-dup pairs against the brute-force oracle, over duplicate-heavy
corpora, under its two verify attach shapes and with chunked expansion,
its Spark job count and scan fan-out, the cross-corpus / persisted-index /
incremental paths, streaming decontamination parity, exact n-gram
decontamination, keep-one near-dup dedup, SimHash signatures and C4-style
line dedup."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _dup_heavy_docs(spark):
    """62 documents, most sharing an exact token set with others: a
    20-token set nine times (other orders, cases and multiplicities), that
    set plus one token six times (J = 20/21 against it), 18 of its tokens
    five times (J = 0.9), ten unrelated sets, three identical and one
    different punctuation-only text and two empty texts. Ids are shuffled,
    so group minima interleave."""
    rng = random.Random(11)
    base = [f"w{j}" for j in range(20)]

    def variant(words, n_extra):
        toks = words + rng.sample(words, n_extra)
        rng.shuffle(toks)
        return " ".join(t.upper() if rng.random() < 0.2 else t for t in toks)

    texts = [variant(base, rng.randrange(6)) for _ in range(9)]
    texts += [variant(base + ["extra"], rng.randrange(4)) for _ in range(6)]
    texts += [variant(base[:18], rng.randrange(3)) for _ in range(5)]
    texts += [variant([f"u{k}_{j}" for j in range(12)], 1) for k in range(10)]
    texts += ["!!! ???"] * 3 + ["$$$ %%%", "", ""]
    ids = rng.sample(range(1000), len(texts))
    return spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.select("left", "right", "jaccard").collect())


def test_grouped_pairs_equal_bruteforce(spark, monkeypatch):
    """On a corpus where most documents share an exact token set, the
    grouped path (LSH and verify over one representative per set, expanded
    last) gives exactly ngram_jaccard_pairs' (left, right, jaccard), with
    the broadcast and the sort-merge attach, and with groups of nine and
    six members cut into chunks of 4 (salt_cap=4)."""
    from record_matching_spark import session
    from record_matching_spark.functions.dedup import (
        minhash_near_dup_pairs, ngram_jaccard_pairs,
    )

    docs = _dup_heavy_docs(spark)
    want = _rows(ngram_jaccard_pairs(docs, threshold=0.8))
    # 9·8/2 + 6·5/2 + 5·4/2 within the word sets, 9·6 + 9·5 + 6·5 across
    # them, 3 identical punctuation pairs, 1 empty-text pair
    assert len(want) == 36 + 15 + 10 + 54 + 45 + 30 + 3 + 1
    for budget in (session.BROADCAST_BUDGET_BYTES, 0):
        monkeypatch.setattr(session, "BROADCAST_BUDGET_BYTES", budget)
        for salt_cap in (2000, 4):
            got = _rows(minhash_near_dup_pairs(docs, threshold=0.8,
                                               salt_cap=salt_cap))
            assert got == want, (budget, salt_cap)


def test_grouped_shingle_pairs_equal_per_document_bruteforce(spark):
    """shingle_k=8 on the duplicate-heavy corpus, plus periodic texts that
    share one shingle set at different lengths and one-character edits of
    a sentence, equals a per-document brute force in Python: every pair's
    exact 8-shingle Jaccard (texts shorter than 8 characters are one
    shingle), kept when ≥ 0.5."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs

    line = "the quick brown fox jumps over the lazy dog near the river bank"
    extra = [(1000 + n, "ab" * n) for n in (10, 12, 15)]
    extra += [(1010 + n, "abc" * n) for n in (9, 11)]
    extra += [(1020 + i, line[:i] + "#" + line[i + 1:]) for i in (5, 30, 50)]
    docs = _dup_heavy_docs(spark).unionByName(
        spark.createDataFrame(extra, "doc_id long, text string"))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def shingles(t):
        return {t[i:i + 8] for i in range(max(len(t) - 7, 1))}

    sets = {i: shingles(t) for i, t in texts.items()}
    want = []
    for a in sorted(sets):
        for b in sorted(sets):
            if a < b:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.5:
                    want.append((a, b, j))
    assert len(want) > 10
    got = _rows(minhash_near_dup_pairs(docs, threshold=0.5, shingle_k=8))
    assert got == want


def test_grouped_pairs_run_no_more_jobs(spark):
    """Grouping adds no Spark job: minhash_near_dup_pairs plus its collect
    runs at most the 11 jobs the per-document path ran on this corpus
    (measured in this suite's session, 8 shuffle partitions)."""
    from record_matching_spark.functions.dedup import minhash_near_dup_pairs

    docs = _dup_heavy_docs(spark)
    sc = spark.sparkContext
    sc.setJobGroup("grouped-near-dup", "near-dup pairs job count")
    try:
        pairs = minhash_near_dup_pairs(docs, threshold=0.8).collect()
        ids = sc.statusTracker().getJobIdsForGroup("grouped-near-dup")
    finally:
        sc.setJobGroup("grouped-near-dup-after", "")
    assert len(pairs) == 194
    assert len(ids) <= 11, f"{len(ids)} jobs"


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


def test_simhash_single_token_is_token_hash(spark):
    """Vote-sign regression (found by the q24 oracle): for a one-token doc
    every bit's vote is ±1, so the signature must equal the token's hash
    exactly. The round-3 implementation summed bits in uint64, so
    minority-bit votes underflowed to huge positives and the signature
    saturated towards all-ones."""
    from record_matching_spark.functions.dedup import simhash64

    d = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    got = simhash64(d).collect()[0]["simhash"]
    expected = spark.createDataFrame([("hello",)], "t string").select(
        F.xxhash64("t").alias("h")
    ).collect()[0]["h"]
    assert got == expected, (got, expected)
    # portable mode: md5 first-15-hex token hash, reproducible anywhere
    gotp = simhash64(d, portable=True).collect()[0]["simhash"]
    expp = int(hashlib.md5(b"hello").hexdigest()[:15], 16)
    assert gotp == expp, (gotp, expp)


def test_simhash_majority_two_tokens(spark):
    """Two distinct tokens: tied bits (vote 0) must clear, bits shared by
    both hashes must set — i.e. signature == AND of the two hashes for set
    bits, and no bit outside their OR."""
    from record_matching_spark.functions.dedup import simhash64

    d = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    got = simhash64(d).collect()[0]["simhash"] & (2**64 - 1)
    hs = spark.createDataFrame([("alpha",), ("beta",)], "t string").select(
        F.xxhash64("t").alias("h")
    ).collect()
    a, b = (r["h"] & (2**64 - 1) for r in hs)
    assert got == (a & b), (hex(got), hex(a), hex(b))


def test_dedup_lines_reconstruction(spark):
    """Boilerplate lines (trimmed match, >= 2 distinct docs) vanish from
    every doc; every other line survives in original order, blank lines
    included (the VERDICT item-2 reconstruction gate)."""
    from record_matching_spark.functions.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "unique one\nSHARED HEADER\nbody A\n\nbody A2"),
            (2, "SHARED HEADER\nbody B\n  SHARED HEADER  \nunique two"),
            (3, "totally distinct\n\n\nlines only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_lines(docs, min_docs=2, keep_text=True).collect()
    }
    assert out[1]["dedup_text"] == "unique one\nbody A\n\nbody A2"
    # '  SHARED HEADER  ' is removed too (trimmed match), order preserved
    assert out[2]["dedup_text"] == "body B\nunique two"
    assert out[3]["dedup_text"] == "totally distinct\n\n\nlines only"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (5, 4)
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (4, 2)
    for r in out.values():
        assert r["dedup_sha"] == hashlib.sha256(
            r["dedup_text"].encode()
        ).hexdigest()
    # within-doc repetition alone is NOT boilerplate
    solo = spark.createDataFrame(
        [(1, "again\nagain\nagain")], "doc_id long, text string"
    )
    r = dedup_lines(solo, min_docs=2, keep_text=True).collect()[0]
    assert r["dedup_text"] == "again\nagain\nagain"


def test_dedup_lines_doc_reduced_to_nothing(spark):
    from record_matching_spark.functions.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "same line"), (2, "same line")], "doc_id long, text string"
    )
    rows = dedup_lines(docs, min_docs=2, keep_text=True).collect()
    assert len(rows) == 2  # every input doc appears
    for r in rows:
        assert (r["n_lines"], r["n_kept"], r["dedup_text"]) == (1, 0, "")
        assert r["dedup_sha"] == hashlib.sha256(b"").hexdigest()
