"""Dedup / similarity / text / multimodal operators on the driver testdata."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from record_matching_spark.functions.dedup import (
    exact_dedup,
    exact_dup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
)
from record_matching_spark.functions.multimodal import extract_media_features, synth_media
from record_matching_spark.functions.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_cosine_topk,
)
from record_matching_spark.functions.text import add_text_features

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    e.count()
    return e


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb")], "doc_id long, text string"
    )
    surv = exact_dedup(df)
    assert {(r["doc_id"], r["text"]) for r in surv.collect()} == {(1, "aa"), (3, "bb")}
    pairs = exact_dup_pairs(df)
    assert [(r["left"], r["right"]) for r in pairs.collect()] == [(1, 2)]


def test_minhash_matches_bruteforce_jaccard(docs):
    """LSH+verify must equal brute-force jaccard≥0.9 on the documents table
    (recall of a J≥0.9 pair at b=32,r=4 is 1-(1-0.9^4)^32 ≈ 1-1e-15)."""
    brute = ngram_jaccard_pairs(docs, threshold=0.9).select("left", "right")
    lsh = minhash_near_dup_pairs(docs, threshold=0.9).select("left", "right")
    assert brute.count() > 0, "fixture should contain near-dup docs"
    assert brute.exceptAll(lsh).count() == 0
    assert lsh.exceptAll(brute).count() == 0


def test_simhash_pairs_are_similar(docs):
    sh = simhash64(docs)
    assert sh.count() == docs.count()
    pairs = simhash_near_dup_pairs(docs, max_hamming=3)
    got = pairs.limit(200).collect()
    assert len(got) > 0
    # simhash near-dups must be more similar than the corpus average
    # (this fixture's docs share one tiny vocabulary, so the margin is small)
    j = ngram_jaccard_pairs(docs, threshold=0.0).cache()
    corpus_avg = j.agg(F.avg("jaccard")).collect()[0][0]
    checked = pairs.join(j, ["left", "right"]).agg(F.avg("jaccard")).collect()[0][0]
    assert checked > corpus_avg, f"simhash pairs {checked:.3f} ≤ corpus {corpus_avg:.3f}"


def test_cosine_topk_vs_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    queries = emb.filter(F.col("vec_id") < 5)
    got = cosine_topk(queries, emb, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in range(5):
        q = vecs[qid]
        sims = sorted(
            (
                (-float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v) + 1e-12)), nid)
                for nid, v in vecs.items()
                if nid != qid
            )
        )[:3]
        want = [nid for _, nid in sims]
        assert [nid for _, nid in sorted(by_q[qid])] == want, f"query {qid}"


def test_cosine_topk_tiled_matches_bruteforce(spark, emb):
    """The distributed tiled self-top-k equals the collect-based baseline
    (and therefore the numpy oracle) on the full embeddings table."""
    from record_matching_spark.functions.similarity import cosine_topk_tiled

    base = {(r["query_id"], r["rank"], r["neighbor_id"])
            for r in cosine_topk(emb, emb, k=3).collect()}
    tiled = {(r["query_id"], r["rank"], r["neighbor_id"])
             for r in cosine_topk_tiled(emb, emb, k=3, q_tiles=4, c_tiles=4).collect()}
    assert tiled == base


def test_lsh_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 50)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(queries, emb, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_cosine_topk(queries, emb, k=3, n_tables=16, bits=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"LSH recall {recall:.3f}"


def test_ivf_topk_recall(spark, emb):
    from record_matching_spark.functions.similarity import ivf_cosine_topk

    queries = emb.filter(F.col("vec_id") < 50)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(queries, emb, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_cosine_topk(queries, emb, k=3,
                                       n_cells=16, n_probe=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"IVF recall {recall:.3f}"


def test_ivfpq_training_sample_within_cap(spark, monkeypatch):
    """The quantizers train on a hash sample of about train_cap vectors at
    most: 250 vectors with train_cap=100 keep one id in three (ceiling
    division), not one in two (~125 rows)."""
    from record_matching_spark.functions import similarity

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(250)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sizes = []
    lloyd = similarity._lloyd

    def capture(X, k, iters, seed):
        sizes.append(X.shape[0])
        return lloyd(X, k, iters, seed)

    monkeypatch.setattr(similarity, "_lloyd", capture)
    out = similarity.ivfpq_cosine_topk(corpus, corpus, k=3, n_cells=4,
                                       n_probe=2, m=4, nbits=4, train_cap=100)
    assert out.count() > 0
    assert sizes and all(0 < n <= 100 for n in sizes), sizes


def test_embedding_near_dups_symmetric_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.99, 0.02, 0.0], 0),
        (3, [0.0, 1.0, 0.0], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = embedding_near_dup_pairs(df, threshold=0.95)
    assert [(r["left"], r["right"]) for r in got.collect()] == [(1, 2)]


def test_text_features(docs):
    out = add_text_features(docs).cache()
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    # doc 0 starts "the fast key order sort ..." — whitespace token count
    text = row["text"]
    assert row["n_tokens"] == len(text.split())
    assert 0.0 <= row["quality"] <= 1.0
    langs = {r["lang_guess"] for r in out.select("lang_guess").distinct().collect()}
    assert "en" in langs
    assert out.filter(F.col("fingerprint").isNull()).count() == 0


def test_bigram_logprob_job_counts(spark, docs):
    """V and the bigram types join the model inside its plan instead of
    reaching the driver through a scalar aggregate, and the (doc, bigram)
    counts are materialized once: on the 500-document table (8 shuffle
    partitions, cached) add-k runs at most 12 Spark jobs and KN at most
    17, where the scalar aggregate ran 15 and 18."""
    from record_matching_spark.functions.text import bigram_logprob

    sc = spark.sparkContext
    for smoothing, most in (("addk", 12), ("kn", 17)):
        group = f"bigram-{smoothing}"
        sc.setJobGroup(group, "bigram_logprob job count")
        try:
            rows = bigram_logprob(docs, smoothing=smoothing).collect()
            ids = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("bigram-after", "")
        assert len(rows) == 500
        assert len(ids) <= most, (smoothing, len(ids))


@pytest.mark.parametrize("smoothing", ["addk", "kn"])
def test_bigram_logprob_same_bits_either_attach(spark, docs, monkeypatch, smoothing):
    """Each doc's terms are summed in one fixed order, so the model attached
    by broadcast and by sort-merge (budget 0) give bit-identical scores."""
    from record_matching_spark import session
    from record_matching_spark.functions.text import bigram_logprob

    def scores():
        rows = bigram_logprob(docs, smoothing=smoothing).collect()
        return sorted((r["doc_id"], r["neg_logprob"]) for r in rows)

    broadcast = scores()
    monkeypatch.setattr(session, "BROADCAST_BUDGET_BYTES", 0)
    assert scores() == broadcast


def test_multimodal_plumbing(spark):
    media = synth_media(spark, n=48)
    feats = extract_media_features(media.repartition(4))
    got = feats.collect()
    assert len(got) == 48
    for r in got:
        assert len(r["feature"]) == 16
        assert r["n_bytes"] > 0
    # deterministic: same payload → same feature
    again = {r["media_id"]: tuple(r["feature"])
             for r in extract_media_features(media.repartition(2)).collect()}
    first = {r["media_id"]: tuple(r["feature"]) for r in got}
    assert first == again


def test_bmp_wav_codec_roundtrip():
    """Round-2: image/audio decode is REAL (pure-numpy BMP/WAV codecs)."""
    from record_matching_spark.functions.multimodal import (
        decode_bmp, decode_wav, encode_bmp, encode_wav,
    )

    px = (np.arange(9 * 7 * 3).reshape(7, 9, 3) * 3 % 256).astype(np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)

    samples = (np.sin(np.arange(2000) / 10.0) * 20000).astype(np.int16)
    back, sr = decode_wav(encode_wav(samples, 8000))
    assert sr == 8000 and np.array_equal(back, samples)

    from record_matching_spark.functions.multimodal import decode_avi, encode_avi

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8) for _ in range(4)]
    got, fps = decode_avi(encode_avi(frames, fps=12))
    assert fps == 12 and len(got) == 4
    assert all(np.array_equal(a, b) for a, b in zip(got, frames))


def test_media_features_reflect_real_decode(spark):
    """Image features carry the true pixel dims; audio features carry the
    true sample rate — proof the kernels parse real bytes, not a stub."""
    from record_matching_spark.functions.multimodal import resize_image_features

    media = synth_media(spark, n=12).cache()
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    metas = {r["media_id"]: (r["kind"], r["meta"]) for r in media.collect()}
    for mid, (kind, meta) in metas.items():
        f = feats[mid]["feature"]
        if kind == "image":
            assert (int(f[0]), int(f[1])) == (meta["width"], meta["height"])
        elif kind == "audio":
            assert int(f[0] * 1000) == meta["sample_rate"]
            assert int(f[1]) == meta["n_frames"]
            assert f[2] > 0.1  # sine wave has real RMS energy
        elif kind == "video":
            assert (int(f[0]), int(f[1])) == (meta["width"], meta["height"])
            assert int(f[2]) == meta["n_frames"]
            assert int(f[3]) == 10  # encoded fps
    thumbs = resize_image_features(media, 4, 4).collect()
    assert len(thumbs) == sum(1 for k, _ in metas.values() if k == "image")
    assert all(len(t["thumb"]) == 16 for t in thumbs)
