"""End-to-end ENTITY-RESOLUTION run — the engine's core use case (the
reference system's whole job), as a runnable example: synthesize a
repo-files corpus with ground truth, run the checkpointed 7-stage
pipeline, evaluate clusters against truth, and print the determinism
fingerprint. The same recipe the standalone verify driver uses
(.claude/skills/verify): kill this process mid-run and rerun with the
same workdir — completed stages resume from their manifests and the
final clusters are byte-identical.

    PYTHONPATH=. python examples/er_pipeline.py /tmp/er_workdir

Stages (pipeline.py): normalize/tokenize -> content-sha dedup ->
blocking keys (minhash-LSH bands + token-sorted + content-sha) ->
salted self-join candidate pairs -> mapInArrow pair features ->
sigmoid scoring -> connected-components transitive closure.
"""

from __future__ import annotations

import hashlib
import sys

from record_matching_spark.session import get_spark
from record_matching_spark.synth import synth_repo_files_with_truth
from record_matching_spark.pipeline import Pipeline, PipelineConfig
from record_matching_spark.operators.evaluate import adjusted_rand_index


def run(spark, workdir: str, n_families: int = 80, seed: int = 99) -> dict:
    files = synth_repo_files_with_truth(
        spark, n_families=n_families, seed=seed, heavy_families=1
    )
    pipe = Pipeline(spark, workdir, PipelineConfig(tau=0.5))
    clusters = pipe.run(files).cache()
    rows = sorted((r["file_id"], r["cluster_id"]) for r in clusters.collect())
    return {
        "files": files.count(),
        "n_clusters": len({c for _, c in rows}),
        "ari": adjusted_rand_index(
            clusters, files.select("file_id", "entity_id")
        ),
        "stage_metrics": pipe.stage_metrics,
        "clusters_sha": hashlib.sha256(str(rows).encode()).hexdigest(),
    }


if __name__ == "__main__":
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/er_example_workdir"
    spark = get_spark(app_name="er-pipeline-example", driver_memory="8g")
    out = run(spark, workdir)
    for k, v in out.items():
        print(f"{k}: {v}")
