"""Threshold discovery (B20): score_histogram, discover_threshold and the
pipeline's tau="auto"."""

from __future__ import annotations

from record_matching_spark.operators.tune import discover_threshold, score_histogram


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


def test_score_histogram_ignores_null_scores(spark):
    """ADVICE r3: null/NaN scores must be dropped, not crash the fill
    loop with a None bin."""
    from record_matching_spark.operators.tune import score_histogram

    df = spark.createDataFrame(
        [(0.2,), (0.8,), (None,), (float("nan"),)], "score double"
    )
    h = score_histogram(df, bins=4)
    assert h.sum() == 2
    assert h[0] == 1 and h[3] == 1
