"""Scorer features vs hand-computed oracles (FIXTURES.md §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from record_matching_spark.operators.normalize import normalize_files
from record_matching_spark.operators.scoring import (
    FEATURES,
    _jaro_winkler,
    _jw_batch,
    pair_features,
    score_pairs,
    train_weights,
)


def test_jaro_winkler_known_values():
    # classic published examples (Winkler 1990)
    assert _jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert _jaro_winkler("DWAYNE", "DUANE") == pytest.approx(0.8400, abs=1e-4)
    assert _jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-4)
    assert _jaro_winkler("abc", "abc") == 1.0
    assert _jaro_winkler("abc", "xyz") == 0.0
    assert _jaro_winkler("", "abc") == 0.0


def test_jw_batch_known_values():
    """Classic published Jaro-Winkler cases pin the constants through the
    distinct-pair memo the feature kernel calls."""
    got = _jw_batch(
        ["MARTHA", "DIXON", "abc", "", "same"],
        ["MARHTA", "DICKSONX", "abc", "x", "same"],
    )
    assert abs(got[0] - 0.9611111111111111) < 1e-12
    assert abs(got[1] - 0.8133333333333332) < 1e-10
    assert got[2] == 1.0 and got[3] == 0.0 and got[4] == 1.0


def test_jw_batch_matches_scalar():
    """The distinct-pair memo must return the scalar reference's value for
    every pair — property-tested over adversarial strings (repeats,
    transpositions, prefixes, unicode, empties), each batch doubled so
    repeats hit the memo."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = st.sampled_from(list("abcXYZ/._é中0"))
    strs = st.text(alphabet=alphabet, max_size=24)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.tuples(strs, strs), min_size=1, max_size=12))
    def check(pairs):
        pairs = pairs + pairs[::-1]
        got = _jw_batch([p[0] for p in pairs], [p[1] for p in pairs])
        want = [_jaro_winkler(x, y) for x, y in pairs]
        assert got.tolist() == want, (pairs, got, want)

    check()


def test_jw_batch_nul_strings():
    """Strings containing '\\x00' must dedupe on (x, y) tuples — a
    NUL-joined key mis-splits and scores the wrong pair."""
    # the exact failure shape: left contains NUL, so 'a\x00b' + NUL + 'b'
    # would split back as ('a', 'b\x00b')
    av = ["a\x00b", "a", "a\x00b", None]
    bv = ["b", "\x00bb", "b", "x"]
    got = _jw_batch(av, bv)
    exp = np.array([_jaro_winkler(x or "", y or "") for x, y in zip(av, bv)])
    np.testing.assert_allclose(got, exp)
    # and on long strings
    la = "x" * 80 + "\x00" + "y" * 40
    lb = "x" * 80 + "z" * 10
    got2 = _jw_batch([la, la, lb], [lb, lb, la])
    exp2 = np.array(
        [_jaro_winkler(la, lb), _jaro_winkler(la, lb), _jaro_winkler(lb, la)]
    )
    np.testing.assert_allclose(got2, exp2)


def _mk_files(spark, contents):
    rows = [(f"r{i}", f"p{i}.py", f"c{i:040d}", "python", c)
            for i, c in enumerate(contents)]
    return normalize_files(
        spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
    )


def test_pair_features_oracle(spark):
    files = _mk_files(spark, [
        "alpha beta gamma delta",
        "alpha beta gamma epsilon",
        "zz yy xx ww",
    ]).cache()
    ids = {r["path"]: r["file_id"] for r in files.select("path", "file_id").collect()}
    pairs = spark.createDataFrame(
        [(min(ids["p0.py"], ids["p1.py"]), max(ids["p0.py"], ids["p1.py"])),
         (min(ids["p0.py"], ids["p2.py"]), max(ids["p0.py"], ids["p2.py"]))],
        "left string, right string",
    )
    got = {}
    for r in pair_features(pairs, files).collect():
        key = "sim" if r["jaccard"] > 0.3 else "diff"
        got[key] = r

    # jaccard: {alpha,beta,gamma,delta} vs {alpha,beta,gamma,epsilon} = 3/5
    assert got["sim"]["jaccard"] == pytest.approx(3 / 5)
    assert got["diff"]["jaccard"] == 0.0
    assert got["diff"]["tfidf_cos"] == 0.0

    # tfidf cosine oracle: tf=1 for all; N=3 docs
    def idf(df_count):
        return math.log((3 + 1) / (df_count + 1)) + 1
    # doc0/doc1: shared tokens alpha,beta,gamma have df=2; delta/epsilon df=1
    w_shared = idf(2)
    w_uniq = idf(1)
    norm = math.sqrt(3 * w_shared**2 + w_uniq**2)
    expect_cos = 3 * w_shared**2 / norm**2
    assert got["sim"]["tfidf_cos"] == pytest.approx(expect_cos, abs=1e-6)

    # metadata features (B11): same lang + same dir ("") → both 1.0 here
    assert got["sim"]["same_lang"] == 1.0
    assert got["sim"]["dir_sim"] == 1.0

    # identical-content pair → all features 1
    files2 = _mk_files(spark, ["same text here", "same text here"])
    ids2 = sorted(r["file_id"] for r in files2.select("file_id").collect())
    pairs2 = spark.createDataFrame([tuple(ids2)], "left string, right string")
    r = pair_features(pairs2, files2).collect()[0]
    assert r["jaccard"] == 1.0 and r["tfidf_cos"] == 1.0 and r["lev_sig"] == 1.0


def test_metadata_features(spark):
    """B11: lang mismatch and directory overlap are scored features."""
    rows = [
        ("r0", "src/a/x.py", "c0", "python", "alpha beta"),
        ("r1", "src/a/y.java", "c1", "java", "alpha beta"),
        ("r2", "lib/b/z.py", "c2", "python", "alpha beta"),
    ]
    files = normalize_files(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    ids = {r["path"].split("/")[-1]: r["file_id"]
           for r in files.select("path", "file_id").collect()}
    def pair(a, b):
        return (min(ids[a], ids[b]), max(ids[a], ids[b]))
    pairs = spark.createDataFrame(
        [pair("x.py", "y.java"), pair("x.py", "z.py")], "left string, right string"
    )
    feats = {(r["left"], r["right"]): r for r in pair_features(pairs, files).collect()}
    xy = feats[pair("x.py", "y.java")]
    xz = feats[pair("x.py", "z.py")]
    assert xy["same_lang"] == 0.0 and xz["same_lang"] == 1.0
    assert xy["dir_sim"] == 1.0          # src/a == src/a
    assert xz["dir_sim"] == 0.0          # src/a vs lib/b


def test_lev_kernel_matches_spark_levenshtein(spark):
    """The kernel's lev_sig equals Spark's levenshtein(a, b, 48) under the
    same-content, both-empty and equal-signature rules, exactly: random
    signatures of 0-96 code points on both sides of the 64-char block
    edge, near-copies whose distance straddles the threshold, equal and
    empty strings, and BMP and astral characters."""
    import random

    import pyarrow as pa

    from record_matching_spark.operators.scoring import _lev_sig, _sig_codes

    rng = random.Random(7)
    alphabet = list("ab c_z") + ["é", "中", "\U0001F600"]

    def sig(n):
        return "".join(rng.choice(alphabet[:rng.randint(2, 9)]) for _ in range(n))

    def edit(s, k):
        c = list(s)
        for _ in range(k):
            i = rng.randint(0, len(c))
            if c and rng.random() < 0.5:
                c.pop(min(i, len(c) - 1))
            else:
                c.insert(i, rng.choice(alphabet))
        return "".join(c)[:96]

    lengths = [0, 1, 2, 31, 63, 64, 65, 95, 96]
    rows = []
    for k in range(1500):
        a = sig(rng.choice(lengths + [rng.randint(0, 96)]))
        b = (sig(rng.choice(lengths + [rng.randint(0, 96)])) if k % 3 == 0
             else a if k % 17 == 0 else edit(a, rng.randint(0, 60)))
        csid_a = rng.randint(0, 40)
        csid_b = csid_a if k % 13 == 0 else rng.randint(0, 40)
        rows.append((k, csid_a, csid_b, a, b))
    rows += [(2000, 1, 2, "", ""), (2001, 3, 3, "", ""), (2002, 4, 5, "", "ab"),
             (2003, 6, 7, "中" * 64, ""), (2004, 8, 9, "é" * 96, "é" * 96)]

    df = spark.createDataFrame(rows, "k long, csid_a long, csid_b long, sig_a string, sig_b string")
    # the Catalyst expression the kernel replaces
    d = F.levenshtein("sig_a", "sig_b", 48)
    oracle = (
        F.when(F.col("csid_a") == F.col("csid_b"), F.lit(1.0))
        .when((F.length("sig_a") == 0) & (F.length("sig_b") == 0), F.lit(0.0))
        .when(F.col("sig_a") == F.col("sig_b"), F.lit(1.0))
        .otherwise(F.when(d < 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - d.cast("double")
            / F.greatest(F.length("sig_a"), F.length("sig_b"), F.lit(1))
        ))
    )
    want = dict(df.select("k", oracle.alias("v")).collect())
    assert len(set(want.values())) > 100  # the threshold and the DP both ran

    n = len(rows)
    ids, codes, lens = _sig_codes(pa.array([r[3] for r in rows] + [r[4] for r in rows]))
    same = np.array([r[1] == r[2] for r in rows])
    got = _lev_sig(codes, lens, ids[:n], ids[n:], same)
    bad = [(r, got[i], want[r[0]]) for i, r in enumerate(rows) if got[i] != want[r[0]]]
    assert not bad, bad[:3]


def _map_in_arrow_inputs(df) -> list[str]:
    """Input column names of the MapInArrow node of df's executed plan,
    found by walking plan nodes (adaptive and query-stage wrappers too)."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "MapInArrowExec":
            out = node.child().output()
            return [out.apply(i).name() for i in range(out.size())]
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        seq = node.children()
        todo.extend(seq.apply(i) for i in range(seq.size()))
    raise AssertionError("no MapInArrow node in the plan")


def test_pair_features_attach_sources_agree(spark, monkeypatch):
    """The broadcast content table and the sort-merge attach (forced by a
    zero budget) feed the one kernel the same inputs, so every feature of
    every pair is equal; both drop the pairs of a content that has no
    feature row (the inner-join contract), and with the broadcast table the
    kernel's input carries no token arrays."""
    import record_matching_spark.operators.scoring as S
    from record_matching_spark import session
    from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
    from record_matching_spark.synth import repo_files, synth_repo_files_with_truth

    truth = synth_repo_files_with_truth(spark, n_families=40, seed=42,
                                        mutations_max=0, heavy_families=2)
    norm = normalize_files(repo_files(truth)).cache()
    pairs = candidate_pairs(blocking_keys(norm, id_col="fid"), id_col="fid").cache()
    gone = pairs.join(norm.select(F.col("fid").alias("left"), "content_sha"), "left") \
        .first()["content_sha"]
    shaf = S.sha_features(norm).filter(F.col("content_sha") != gone).localCheckpoint()
    fid_sha = dict(norm.select("fid", "content_sha").collect())
    kept = {(r["left"], r["right"]) for r in pairs.collect()
            if gone not in (fid_sha[r["left"]], fid_sha[r["right"]])}

    def run(budget):
        monkeypatch.setattr(session, "BROADCAST_BUDGET_BYTES", budget)
        feats = pair_features(pairs, norm, shaf=shaf, id_col="fid")
        rows = {(r["left"], r["right"]): r for r in feats.collect()}
        return rows, _map_in_arrow_inputs(feats)

    (bcast, bcast_in), (merged, merged_in) = run(session.BROADCAST_BUDGET_BYTES), run(0)
    assert bcast.keys() == merged.keys() == kept
    assert 1000 < len(kept) < pairs.count()
    for key, a in bcast.items():
        b = merged[key]
        for f in FEATURES:
            assert a[f] == b[f], (key, f, a[f], b[f])
    assert not [c for c in bcast_in if c.startswith(("tid_", "tw_"))], bcast_in
    assert {"tid_l", "tw_l", "tid_r", "tw_r"} <= set(merged_in)


def test_score_monotone(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0),
         ("c", "d", 0.1, 0.1, 0.2, 0.5, 1.0, 0.5, 0.0, 0.0)],
        "left string, right string, jaccard double, tfidf_cos double, "
        "lev_sig double, jw_path double, same_lang double, dir_sim double, "
        "any_empty double, both_empty double",
    )
    rows = {(r["left"]): r["score"] for r in score_pairs(df).collect()}
    assert rows["a"] > 0.9
    assert rows["c"] < 0.1


def test_train_weights_separates(spark):
    import random
    rng = random.Random(3)
    rows = []
    for i in range(300):
        match = i % 2 == 0
        base = 0.85 if match else 0.25
        rows.append((
            f"l{i}", f"r{i}",
            min(1.0, max(0.0, base + rng.uniform(-0.1, 0.1))),
            min(1.0, max(0.0, base + rng.uniform(-0.1, 0.1))),
            min(1.0, max(0.0, base + rng.uniform(-0.1, 0.1))),
            0.5,
            1.0,
            min(1.0, max(0.0, base + rng.uniform(-0.1, 0.1))),
            0.0,
            0.0,
            match,
        ))
    df = spark.createDataFrame(
        rows, "left string, right string, jaccard double, tfidf_cos double, "
              "lev_sig double, jw_path double, same_lang double, dir_sim double, "
              "any_empty double, both_empty double, match boolean")
    w = train_weights(df)
    scored = score_pairs(df, w)
    bad = scored.filter(
        (F.col("match") & (F.col("score") < 0.5))
        | (~F.col("match") & (F.col("score") > 0.5))
    ).count()
    assert bad == 0


def test_empty_token_pairs_score_low(spark):
    from record_matching_spark.operators.normalize import normalize_files
    from record_matching_spark.operators.scoring import pair_features

    rows = [
        ("r0", "a.py", "c0", "python", "!!! ???"),
        ("r1", "b.py", "c1", "python", "$$$ %%%"),
    ]
    files = normalize_files(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ))
    ids = sorted(r["file_id"] for r in files.select("file_id").collect())
    pairs = spark.createDataFrame([tuple(ids)], "left string, right string")
    r = pair_features(pairs, files).collect()[0]
    assert r["jaccard"] == 0.0 and r["tfidf_cos"] == 0.0 and r["lev_sig"] == 0.0


def test_random_forest_cv_and_threshold(spark):
    import random

    from record_matching_spark.operators.scoring import train_random_forest_cv

    rng = random.Random(7)
    rows = []
    for i in range(240):
        match = i % 2 == 0
        base = 0.85 if match else 0.25
        f = lambda: min(1.0, max(0.0, base + rng.uniform(-0.1, 0.1)))
        rows.append((f"l{i}", f"r{i}", f(), f(), f(), 0.5, 1.0, f(), 0.0, 0.0,
                     match))
    df = spark.createDataFrame(
        rows, "left string, right string, jaccard double, tfidf_cos double, "
              "lev_sig double, jw_path double, same_lang double, dir_sim double, "
              "any_empty double, both_empty double, match boolean")
    model, importances, tau, f1, auc = train_random_forest_cv(
        df, num_trees=20, folds=3)
    assert f1 > 0.95 and auc > 0.95
    assert 0.0 < tau < 1.0
    # the informative features carry the importance mass
    flat = importances["jw_path"] + importances["same_lang"]
    assert sum(importances.values()) == pytest.approx(1.0, abs=1e-6)
    assert flat < 0.2


def test_imputation_flags_in_pair_features(spark):
    """any_empty / both_empty must mark pairs whose side(s) have no tokens
    (the engine's imputation-sentinel analog of the reference's
    is_original flags, main.py:394-405) and be 0 on normal pairs."""
    from record_matching_spark.operators.normalize import normalize_files
    from record_matching_spark.operators.scoring import FEATURES, pair_features

    files = normalize_files(
        spark.createDataFrame(
            [
                ("r", "a.py", "c1", "def alpha_one(): return 42"),
                ("r", "b.py", "c1", "def alpha_one(): return 43"),
                ("r", "empty1.py", "c1", "!!!"),   # tokenizes to nothing
                ("r", "empty2.py", "c1", "???"),   # tokenizes to nothing
            ],
            "repo string, path string, commit string, content string",
        )
    )
    ids = {r["path"]: r["fid"] for r in files.select("path", "fid").collect()}

    def pair(p1, p2):
        lo, hi = sorted([ids[p1], ids[p2]])
        return (lo, hi)

    pairs = spark.createDataFrame(
        [pair("a.py", "b.py"), pair("a.py", "empty1.py"),
         pair("empty1.py", "empty2.py")],
        "left long, right long",
    )
    got = {
        (r["left"], r["right"]): (r["any_empty"], r["both_empty"])
        for r in pair_features(pairs, files, id_col="fid").collect()
    }
    assert got[pair("a.py", "b.py")] == (0.0, 0.0)
    assert got[pair("a.py", "empty1.py")] == (1.0, 0.0)
    assert got[pair("empty1.py", "empty2.py")] == (1.0, 1.0)
    assert "any_empty" in FEATURES and "both_empty" in FEATURES


def _has_join(df) -> bool:
    """Whether the optimized logical plan of `df` holds a join node."""
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "Join":
            return True
        seq = node.children()
        todo.extend(seq.apply(i) for i in range(seq.size()))
    return False


def _sha_rows(df) -> dict:
    """content_sha → (sig, tid, tw) with the arrays as tuples."""
    return {
        r["content_sha"]: (
            r["sig"],
            None if r["tid"] is None else tuple(r["tid"]),
            None if r["tw"] is None else tuple(r["tw"]),
        )
        for r in df.collect()
    }


def test_sha_features_paths_agree(spark, monkeypatch):
    """The broadcast vocabulary and the joined per-document df arrays
    (forced by a zero budget) feed the one weight kernel the same df
    values, so both emit identical (content_sha, sig, tid, tw) tables:
    same tids, bit-identical float32 weights, NULL tid/tw for the
    empty-token document."""
    from record_matching_spark import session
    import record_matching_spark.operators.scoring as S

    rows = [
        ("a", "alpha beta beta gamma"),
        ("b", "alpha beta delta delta delta"),
        ("c", "gamma gamma epsilon"),
        ("d", ""),  # empty-token doc -> NULL tid/tw
        ("e", "alpha beta beta gamma"),  # duplicate content of 'a'
    ]
    files = spark.createDataFrame(rows, "file_id string, content string")
    files = files.withColumn("content_sha", F.sha2("content", 256)).withColumn(
        "tokens",
        F.filter(F.split(F.lower("content"), r"[^a-z0-9_]+"),
                 lambda t: F.length(t) >= 2),
    )
    fast = S.sha_features(files)
    monkeypatch.setattr(session, "BROADCAST_BUDGET_BYTES", 0)
    slow = S.sha_features(files)
    assert not _has_join(fast) and _has_join(slow)

    nf, ns = _sha_rows(fast), _sha_rows(slow)
    assert nf == ns
    assert sum(v[1] is None and v[2] is None for v in nf.values()) == 1
    # weights are L2-normalized
    for sha, (_, tid, tw) in nf.items():
        if tw:
            assert sum(w * w for w in tw) == pytest.approx(1.0, abs=1e-5)


def test_sha_features_gates_on_vocabulary(spark, monkeypatch):
    """The df source is picked by the vocabulary rows pulled, not by the
    document count: 5 documents with 200 distinct tokens take the join
    source under a budget of 100 vocabulary rows and the broadcast under
    one of 200, with bit-identical outputs."""
    from record_matching_spark import session
    import record_matching_spark.operators.scoring as S

    rows = [(f"f{d}", " ".join(f"tok{d}x{j} " * (1 + j % 3) for j in range(40))
             + " shared common")
            for d in range(5)]
    files = spark.createDataFrame(rows, "file_id string, content string")
    files = files.withColumn("content_sha", F.sha2("content", 256)).withColumn(
        "tokens", F.filter(F.split("content", " "), lambda t: F.length(t) > 0)
    )

    def run(vocab_rows):
        monkeypatch.setattr(session, "BROADCAST_BUDGET_BYTES",
                            vocab_rows * S._VOCAB_ROW_BYTES)
        out = S.sha_features(files)
        return _has_join(out), _sha_rows(out)

    (joined, small), (broadcast, large) = run(100), run(202)
    assert joined and not broadcast
    assert small == large and len(small) == 5
    assert all(len(tid) == 42 for _, tid, _ in small.values())
