"""End-to-end acceptance gate (BASELINE.md targets):
- pairwise F1 ≥ 0.99 on labeled pairs at the same blocking key
- content sha256 per-row invariant vs the source table
- killed run resumes from per-stage checkpoint → bit-identical clusters
- cluster quality (ARI) vs ground-truth entity ids
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from record_matching_spark.operators.evaluate import (
    adjusted_rand_index,
    labeled_pair_metrics,
    pairwise_metrics,
    clusters_to_pairs,
)
from record_matching_spark.operators.normalize import assert_sha_invariant
from record_matching_spark.operators.scoring import choose_threshold, score_pairs, train_weights
from record_matching_spark.pipeline import MANIFEST, Pipeline, PipelineConfig
from record_matching_spark.session import codegen_compiles
from record_matching_spark.synth import entity_truth, labeled_pairs, repo_files


@pytest.fixture(scope="module")
def run(spark, truth_df, tmp_path_factory):
    work = tmp_path_factory.mktemp("pipeline")
    files = repo_files(truth_df)
    pipe = Pipeline(spark, work, PipelineConfig(tau=0.5))
    clusters = pipe.run(files).cache()
    clusters.count()
    return {"pipe": pipe, "clusters": clusters, "files": files, "work": work}


def test_sha_invariant(run, truth_df):
    norm = run["pipe"]._read_stage("s1_normalized")
    assert assert_sha_invariant(norm, repo_files(truth_df)) == 0


def test_labeled_pair_f1_gate(run, spark, truth_df):
    """The acceptance metric: F1 ≥ 0.99 on labeled pairs using trained
    weights + swept threshold (reference metric analog, BASELINE.json)."""
    pipe = run["pipe"]
    feats = pipe._read_stage("s5_features")
    lp = labeled_pairs(truth_df, id_space="fid")
    labeled_feats = feats.join(lp, ["left", "right"], "inner")
    w = train_weights(labeled_feats)
    scored = score_pairs(labeled_feats, w)
    tau, _ = choose_threshold(scored)
    m = labeled_pair_metrics(scored, lp, tau)
    assert m["f1"] >= 0.99, m


def test_cluster_quality(run, truth_df):
    truth = entity_truth(truth_df)
    ari = adjusted_rand_index(run["clusters"], truth)
    assert ari >= 0.99, f"ARI {ari:.4f}"
    # cluster pairs vs truth pairs
    pred_pairs = clusters_to_pairs(run["clusters"])
    true_pairs = clusters_to_pairs(
        truth.withColumnRenamed("entity_id", "cluster_id")
    )
    m = pairwise_metrics(pred_pairs, true_pairs)
    assert m["f1"] >= 0.99, m


def test_manifests_and_lineage(run, spark):
    for stage in Pipeline.STAGES:
        mf = run["work"] / stage / "_manifest.json"
        assert mf.exists(), f"missing manifest for {stage}"
        m = json.loads(mf.read_text())
        assert m["complete"] and m["rows"] > 0
        assert isinstance(m["partitions"], list) and len(m["partitions"]) >= 1
        assert sum(p["rows"] for p in m["partitions"]) == m["rows"]
        data = run["work"] / stage / "data"
        assert sorted(p["file"] for p in m["partitions"]) == sorted(
            f.name for f in data.glob("part-*.parquet"))
        assert spark.read.parquet(str(data)).count() == m["rows"]
        assert isinstance(m["codegen_compiles"], int) and m["codegen_compiles"] >= 0
        assert run["pipe"].stage_metrics[stage]["codegen_compiles"] == m["codegen_compiles"]
    metrics = json.loads((run["work"] / "metrics.json").read_text())
    assert all("codegen_compiles" in metrics[s] for s in Pipeline.STAGES)
    # the clusters frame run() returns is s7's read-back with the written schema
    inferred = spark.read.parquet(str(run["work"] / "s7_clusters" / "data")).schema
    assert run["clusters"].schema == inferred


def test_write_stage_runs_one_job(spark, tmp_path):
    """After build(), a stage write runs one Spark job (the write itself):
    lineage comes from the Parquet footers and the read-back takes the
    written schema, which equals the one Spark would infer (nullable
    fields, nested types included)."""
    pipe = Pipeline(spark, tmp_path)
    df = spark.range(0, 500, 1, 3).selectExpr(
        "id", "array(id, id + 1) AS arr", "named_struct('x', id, 'y', 'v') AS st"
    )
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup("write-stage", "one job per stage write")
    try:
        back = pipe._write_stage("s_probe", lambda: df)
        bus.waitUntilEmpty(10_000)
        ids = list(sc.statusTracker().getJobIdsForGroup("write-stage"))
    finally:
        sc.setJobGroup("write-stage-after", "")
    assert len(ids) == 1, ids
    m = json.loads((tmp_path / "s_probe" / MANIFEST).read_text())
    assert m["rows"] == 500 and sum(p["rows"] for p in m["partitions"]) == 500
    assert back.schema == spark.read.parquet(str(tmp_path / "s_probe" / "data")).schema
    assert sorted(r["id"] for r in back.collect()) == list(range(500))


def test_resumed_stage_read_runs_no_job(spark, tmp_path):
    """A resumed stage is read with the schema its manifest records: the
    read runs no Spark job and gives the schema the write returned. A
    manifest without a schema counts as not done, so the stage
    recomputes."""
    df = spark.range(0, 50, 1, 2).selectExpr(
        "id", "array(id) AS arr", "named_struct('x', id, 'y', 'v') AS st"
    )
    written = Pipeline(spark, tmp_path)._write_stage("s_probe", lambda: df)
    pipe = Pipeline(spark, tmp_path)
    assert pipe._is_done("s_probe")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    sc.setJobGroup("read-stage", "no job per resumed stage read")
    try:
        back = pipe._stage("s_probe", lambda: df)
        bus.waitUntilEmpty(10_000)
        ids = list(sc.statusTracker().getJobIdsForGroup("read-stage"))
    finally:
        sc.setJobGroup("read-stage-after", "")
    assert ids == [] and pipe.stage_metrics["s_probe"] == {"resumed": True}
    assert back.schema == written.schema
    assert sorted(r["id"] for r in back.collect()) == list(range(50))
    mf = tmp_path / "s_probe" / MANIFEST
    m = json.loads(mf.read_text())
    del m["schema"]
    mf.write_text(json.dumps(m))
    assert not pipe._is_done("s_probe")


def test_rerun_compiles_no_new_code(spark, truth_df, tmp_path_factory):
    """One pipeline run compiles more generated classes than Spark's default
    100-entry codegen cache holds (at 100 entries a second run recompiled
    146). get_spark sizes the cache to the plan set, so a second run in
    fresh workdirs compiles none: the JVM-wide compile count does not move
    and every stage manifest records 0."""
    files = repo_files(truth_df)
    runs = []
    for name in ("rerun_1", "rerun_2"):
        work = tmp_path_factory.mktemp(name)
        before = codegen_compiles(spark)
        clusters = Pipeline(spark, work, PipelineConfig(tau=0.5)).run(files)
        rows = sorted(tuple(r) for r in clusters.collect())
        runs.append((work, codegen_compiles(spark) - before, rows))
    (_, _, first), (work, compiles, second) = runs
    assert compiles == 0, f"second run compiled {compiles} classes"
    for stage in Pipeline.STAGES:
        m = json.loads((work / stage / MANIFEST).read_text())
        assert m["codegen_compiles"] == 0, (stage, m["codegen_compiles"])
    assert second == first and len(first) > 0


def test_resume_after_kill(run, spark, truth_df, tmp_path_factory):
    """Simulate a killed run: stop after s4, then rerun to completion;
    clusters must be identical to the uninterrupted run's."""
    work2 = tmp_path_factory.mktemp("pipeline_resume")
    files = repo_files(truth_df)
    cfg = PipelineConfig(tau=0.5)
    p1 = Pipeline(spark, work2, cfg)
    assert p1.run(files, stop_after="s4_pairs") is None
    # fresh Pipeline object = fresh process; earlier stages must be skipped
    p2 = Pipeline(spark, work2, cfg)
    clusters2 = p2.run(files)
    for s in ["s1_normalized", "s2_sha_features", "s3_blocks", "s4_pairs"]:
        assert p2.stage_metrics[s] == {"resumed": True}
    a = run["clusters"]
    assert a.exceptAll(clusters2).count() == 0
    assert clusters2.exceptAll(a).count() == 0


def test_config_change_invalidates_checkpoint(run, spark, truth_df, tmp_path_factory):
    work3 = tmp_path_factory.mktemp("pipeline_cfg")
    files = repo_files(truth_df)
    p1 = Pipeline(spark, work3, PipelineConfig(tau=0.5))
    p1.run(files, stop_after="s1_normalized")
    p2 = Pipeline(spark, work3, PipelineConfig(tau=0.9))
    p2.run(files, stop_after="s1_normalized")
    assert "resumed" not in p2.stage_metrics["s1_normalized"]


def test_labeled_pair_f1_gate_hardened(spark):
    """VERDICT round-1 item 4: the default corpus saturates F1 at 1.0, so
    scorer improvements were unfalsifiable. This gate runs on a hardened
    corpus (mutations_max=14, sib_swap=0.25 — positives drift apart, hard
    negatives share 75% of the vocabulary): untrained default weights must
    score BELOW 0.95 while trained weights stay ≥ 0.99 without saturating.
    All values deterministic (fixed seed). Knob sweep log in BENCH.md."""
    from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
    from record_matching_spark.operators.scoring import DEFAULT_WEIGHTS, pair_features
    from record_matching_spark.synth import synth_repo_files_with_truth

    hard = synth_repo_files_with_truth(
        spark, n_families=120, seed=42, members_mean=4, heavy_families=1,
        mutations_max=14, sib_swap=0.25,
    ).cache()
    from record_matching_spark.operators.normalize import normalize_files

    norm = normalize_files(repo_files(hard)).cache()
    pairs = candidate_pairs(blocking_keys(norm, id_col="fid"), id_col="fid")
    feats = pair_features(pairs, norm, id_col="fid")
    lp = labeled_pairs(hard, id_space="fid").cache()
    lf = feats.join(lp, ["left", "right"], "inner").cache()

    # blocking still recalls nearly every true pair on the hard corpus
    n_tp = lp.filter("match").count()
    recall = lf.filter("match").count() / n_tp
    assert recall >= 0.99, f"blocking recall {recall:.4f}"

    m_default = labeled_pair_metrics(score_pairs(lf, DEFAULT_WEIGHTS), lp, 0.5)
    assert m_default["f1"] < 0.95, m_default

    w = train_weights(lf)
    scored = score_pairs(lf, w)
    tau, _ = choose_threshold(scored)
    m = labeled_pair_metrics(scored, lp, tau)
    assert 0.99 <= m["f1"] < 1.0, m


def test_wide_ids_equivalent(run, spark, truth_df, tmp_path_factory):
    """id_bits=128 (struct<h1,h2> surrogate ids, the 10^12-file-scale
    option) must produce byte-identical clusters to the 64-bit default —
    struct keys flow through every join/window/least/greatest unchanged."""
    work = tmp_path_factory.mktemp("pipeline_wide")
    files = repo_files(truth_df)
    wide = Pipeline(spark, work, PipelineConfig(tau=0.5, id_bits=128)).run(files)
    a = run["clusters"]  # 64-bit ids; both outputs are (file_id, cluster-min)
    # cluster ids differ (different surrogate space) but the PARTITION of
    # file_ids into clusters must be identical
    def partition_sig(df):
        return {
            tuple(sorted(r["members"]))
            for r in df.groupBy("cluster_id")
            .agg(F.collect_list("file_id").alias("members"))
            .collect()
        }
    assert partition_sig(a) == partition_sig(wide)


def test_q30_golden_sha(spark):
    """Byte-stability gate for the q30 driver query (VERDICT r3 item 9):
    the full composed ER pipeline on the deterministic synthetic corpus
    must reproduce this exact (file_id, cluster_id) relation — semantic
    regressions in any composed stage can't hide behind a rows-only
    driver check. Recompute with scripts: sort rows, sha256 the
    'file_id,cluster_id' lines."""
    import hashlib

    import __spark_entry__ as em

    df = em.queries()["q30_er_pipeline"](spark, "/root/testdata/sf0.01")
    rows = sorted((r["file_id"], r["cluster_id"]) for r in df.collect())
    sha = hashlib.sha256(
        "\n".join(f"{a},{b}" for a, b in rows).encode()
    ).hexdigest()
    assert len(rows) == 262, len(rows)
    assert sha == (
        "65ccb782cd30128d371ebf4840783c124aa6d9b59e764cf1a0f5d97fe39c1c06"
    ), sha


def test_input_change_invalidates_checkpoint(spark, truth_df, tmp_path_factory):
    """ADVICE fix: rerunning the same workdir with CHANGED input must not
    silently reuse checkpoints computed from the old data."""
    work4 = tmp_path_factory.mktemp("pipeline_input")
    files = repo_files(truth_df)
    cfg = PipelineConfig(tau=0.5)
    p1 = Pipeline(spark, work4, cfg)
    p1.run(files, stop_after="s1_normalized")
    changed = files.filter(F.col("lang") != "go")
    p2 = Pipeline(spark, work4, cfg)
    p2.run(changed, stop_after="s1_normalized")
    assert "resumed" not in p2.stage_metrics["s1_normalized"]
    # unchanged input still resumes
    p3 = Pipeline(spark, work4, cfg)
    p3.run(changed, stop_after="s1_normalized")
    assert p3.stage_metrics["s1_normalized"] == {"resumed": True}
