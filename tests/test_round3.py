"""Round-3 gates: B16 field-frequency canonicalization, B20 data-driven
threshold discovery and winnowing. The B21 imputation-flag test lives in
tests/test_scoring.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from record_matching_spark.operators.canonical import canonical_fields
from record_matching_spark.operators.tune import discover_threshold, score_histogram


# ----------------------------------------------------------- B16 canonical


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


# ------------------------------------------------- B20 threshold discovery


def test_discover_threshold_bimodal(spark):
    """Synthetic bimodal scores: the discovered τ must land inside the gap
    between the two modes; degenerate unimodal input falls back to 0.5."""
    import numpy as np

    rng = np.random.RandomState(7)
    non_matches = np.clip(rng.normal(0.08, 0.04, 5000), 0.0, 1.0)
    matches = np.clip(rng.normal(0.92, 0.04, 500), 0.0, 1.0)
    df = spark.createDataFrame(
        [(float(s),) for s in np.r_[non_matches, matches]], "score double"
    )
    tau = discover_threshold(df)
    assert 0.25 < tau < 0.75, tau

    uni = spark.createDataFrame([(float(s),) for s in non_matches], "score double")
    assert discover_threshold(uni) == 0.5


def test_score_histogram_counts(spark):
    df = spark.createDataFrame([(0.0,), (0.999,), (0.5,), (0.5,)], "score double")
    h = score_histogram(df, bins=10)
    assert h[0] == 1 and h[9] == 1 and h[5] == 2 and h.sum() == 4


def test_discovered_tau_reproduces_swept_f1(spark):
    """VERDICT r2 item 5 'done' criterion: on the hardened corpus the
    UNSUPERVISED discovered τ must reproduce the supervised swept-τ F1
    within 0.002. Discovery runs on ALL candidate scores (no labels);
    evaluation uses the labels."""
    from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
    from record_matching_spark.operators.evaluate import labeled_pair_metrics
    from record_matching_spark.operators.normalize import normalize_files
    from record_matching_spark.operators.scoring import (
        choose_threshold,
        pair_features,
        score_pairs,
        train_weights,
    )
    from record_matching_spark.synth import (
        labeled_pairs,
        repo_files,
        synth_repo_files_with_truth,
    )

    hard = synth_repo_files_with_truth(
        spark, n_families=120, seed=42, members_mean=4, heavy_families=1,
        mutations_max=14, sib_swap=0.25,
    )
    norm = normalize_files(repo_files(hard)).cache()
    pairs = candidate_pairs(blocking_keys(norm, id_col="fid"), id_col="fid")
    feats = pair_features(pairs, norm, id_col="fid").cache()
    lp = labeled_pairs(hard, id_space="fid").cache()
    lf = feats.join(lp, ["left", "right"], "inner").cache()
    w = train_weights(lf)

    scored_all = score_pairs(feats, w)
    tau_disc = discover_threshold(scored_all)

    scored_lab = score_pairs(lf, w)
    tau_sweep, _ = choose_threshold(scored_lab)
    f1_sweep = labeled_pair_metrics(scored_lab, lp, tau_sweep)["f1"]
    f1_disc = labeled_pair_metrics(scored_lab, lp, tau_disc)["f1"]
    assert abs(f1_sweep - f1_disc) <= 0.002, (tau_disc, f1_disc, tau_sweep, f1_sweep)


def test_pipeline_tau_auto(spark, tmp_path):
    """PipelineConfig(tau="auto") wires discover_threshold into s7: clusters
    come out, and the discovered τ is recorded in stage metrics."""
    from record_matching_spark.pipeline import Pipeline, PipelineConfig
    from record_matching_spark.synth import repo_files, synth_repo_files_with_truth

    truth = synth_repo_files_with_truth(spark, n_families=40, seed=7)
    pipe = Pipeline(spark, tmp_path / "wd", PipelineConfig(tau="auto"))
    clusters = pipe.run(repo_files(truth))
    assert clusters.count() > 0
    tau = pipe.stage_metrics["s6_scores"]["discovered_tau"]
    assert 0.0 < tau < 1.0


# --------------------------------------------------- winnowing fingerprints


def test_winnow_guarantee_and_overlap_pairs(spark):
    """Winnowing guarantee (SIGMOD'03): docs sharing a region ≥ w+k-1 chars
    share ≥1 fingerprint; winnow_overlap_pairs surfaces exactly the planted
    pair. Fingerprint sets are deterministic and ~2/(w+1) dense (the scale
    property vs q17's hash-per-char shape)."""
    import numpy as np

    from record_matching_spark.functions.text import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    rng = np.random.RandomState(3)

    def rand_text(n):
        return "".join(chr(97 + rng.randint(0, 26)) for _ in range(n))

    k, w = 8, 64
    shared = rand_text(w + k - 1)
    docs = [
        ("a", rand_text(4000) + shared + rand_text(4000)),
        ("b", rand_text(2000) + shared + rand_text(6000)),
        ("c", rand_text(8000)),  # unrelated
        ("d", ""),               # empty
    ]
    df = spark.createDataFrame(docs, "doc_id string, content string")
    fps = winnow_fingerprints(df, text_col="content", k=k, w=w)
    rows = {r["doc_id"]: r["winnow_fps"] for r in fps.collect()}
    assert rows["d"] == []
    # density: far fewer fingerprints than characters
    assert 0 < len(rows["a"]) < 8000 * 2 * 2 / (w + 1)
    assert set(rows["a"]) & set(rows["b"]), "guarantee violated"

    pairs = winnow_overlap_pairs(
        df, id_col="doc_id", text_col="content", k=k, w=w, min_shared=1
    ).collect()
    assert {(r["left"], r["right"]) for r in pairs} == {("a", "b")}


def test_winnow_deterministic_across_parallelism(spark):
    from record_matching_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(str(i), f"some repeated content block {i % 5} " * 40) for i in range(40)],
        "doc_id string, content string",
    )
    got = [
        sorted(
            (r["doc_id"], tuple(r["winnow_fps"]))
            for r in winnow_fingerprints(df.repartition(n)).collect()
        )
        for n in (1, 7)
    ]
    assert got[0] == got[1]
