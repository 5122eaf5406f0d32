"""End-to-end record-linkage pipeline with per-stage checkpoints + resume.

Mirrors the reference's 12-stage materialize-every-stage design
(/root/reference/record_matching/main.py:858-875 — every stage writes a
Parquet directory and the per-stage CLI restarts anywhere,
/root/reference/pyproject.toml:21-39), restated as Spark stages:

  s1_normalized   ingest + sha invariant + tokenize        (main.py:75-93)
  s2_sha_features per-distinct-content TF-IDF/signature    (main.py:96-144)
  s3_blocks       minhash-LSH + token-sorted blocking keys (main.py:148-191)
  s4_pairs        salted self-join candidate pairs         (main.py:552-577)
  s5_features     batched pair similarity features         (main.py:353-434)
  s6_scores       sigmoid(w·x+b) match scores              (main.py:606-626)
  s7_clusters     large-star/small-star transitive closure (main.py:629-651)

Every stage writes Parquet + a _manifest.json carrying rows, wall_ms,
per-file row counts (lineage, one entry per part file, read from the Parquet
footers without a Spark job), the written schema (every read of the stage
uses it, so none infers one), codegen_compiles (generated classes compiled
while building and writing the stage; 0 when a repeat run in the same
session finds every query shape in the codegen cache) and the config
fingerprint; a rerun skips stages whose manifest matches — so a killed run
resumes where it died (north-rule resumability requirement).
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from record_matching_spark.operators.blocking import blocking_keys, candidate_pairs
from record_matching_spark.operators.cluster import cluster_assignments
from record_matching_spark.operators.normalize import normalize_files
from record_matching_spark.operators.scoring import (
    DEFAULT_WEIGHTS,
    pair_features,
    score_pairs,
    sha_features,
)
from record_matching_spark.session import codegen_compiles

MANIFEST = "_manifest.json"


@dataclass
class PipelineConfig:
    num_bands: int = 32
    rows_per_band: int = 4
    minhash_seed: int = 1
    salt_cap: int = 1000
    drop_cap: int | None = None
    # match threshold: a float, or "auto" → B20 data-driven discovery from
    # the score histogram (operators/tune.py:discover_threshold — the
    # reference's kNN-distance derivative-peak tuning, main.py:194-260,
    # label-free). The discovered value lands in stage_metrics["s6_scores"]
    # ["discovered_tau"] and metrics.json.
    tau: float | str = 0.5
    weights: dict[str, float] = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    # B15 cluster refinement (off by default): with refine on, set tau LOW
    # (recall-max chaining) and let the coherence pass split mega-clusters
    # at refine_edge_tau — measured on the hardened corpus: tau=0.2 raw CC
    # gives ARI 0.64 / precision 0.51; refined at (0.99, 0.95) gives
    # ARI 0.99998 / precision 1.0 (BENCH.md)
    refine: bool = False
    refine_coherence_tau: float = 0.99
    refine_edge_tau: float = 0.95
    refine_min_size: int = 3
    # 64 = int64 surrogate ids (default); 128 = struct<h1,h2> dual-hash ids
    # for 10^12-file scale (collision n²/2¹²⁹)
    id_bits: int = 64

    def fingerprint(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)


class Pipeline:
    """Checkpointed ER pipeline over a repo_files-shaped DataFrame."""

    STAGES = [
        "s1_normalized",
        "s2_sha_features",
        "s3_blocks",
        "s4_pairs",
        "s5_features",
        "s6_scores",
        "s7_clusters",
    ]

    def __init__(self, spark: SparkSession, workdir: str | Path,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.workdir = Path(workdir)
        self.workdir.mkdir(parents=True, exist_ok=True)
        self.config = config or PipelineConfig()
        self.stage_metrics: dict[str, dict] = {}
        self._input_fp: str | None = None

    @staticmethod
    def input_fingerprint(files: DataFrame) -> str:
        """Order-insensitive identity of the input table: row count + sum of
        per-row xxhash64 over the identity and content columns. Folded into
        every stage manifest so a rerun in the same workdir with CHANGED
        input invalidates all stale checkpoints instead of silently reusing
        clusters computed from old data (ADVICE fix). One scan per run."""
        cols = [c for c in ("repo", "path", "commit", "content") if c in files.columns]
        row = files.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return f"{row['n']}:{row['h']}"

    # -------------------------------------------------- checkpoint plumbing

    def _path(self, stage: str) -> Path:
        return self.workdir / stage

    def _is_done(self, stage: str) -> bool:
        mf = self._path(stage) / MANIFEST
        if not mf.exists():
            return False
        try:
            m = json.loads(mf.read_text())
        except json.JSONDecodeError:
            return False
        if not (m.get("complete") and "schema" in m
                and m.get("config") == self.config.fingerprint()):
            return False
        # _input_fp is None until run() computes it; a freshly constructed
        # Pipeline inspecting an existing workdir (register_pipeline_views)
        # must still see completed stages (ADVICE r2 fix). run() always sets
        # the fingerprint before staging, so resume invalidation is intact.
        return self._input_fp is None or m.get("input_fp") == self._input_fp

    def _write_stage(self, stage: str, build) -> DataFrame:
        """Materialize a stage: parquet + manifest with per-file lineage,
        the written schema and the generated classes compiled while
        building and writing it. The write is the stage's only Spark job:
        row counts come from the part files' Parquet footers, read on the
        driver, and the stage is read back like a resumed one."""
        out = self._path(stage)
        compiles0 = codegen_compiles(self.spark)
        df = build()
        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(str(out / "data"))
        part_counts = [
            {"file": f.name, "rows": pq.read_metadata(f).num_rows}
            for f in sorted((out / "data").glob("part-*.parquet"))
        ]
        rows = sum(p["rows"] for p in part_counts)
        wall_ms = int((time.monotonic() - t0) * 1000)
        compiles = codegen_compiles(self.spark) - compiles0
        manifest = {
            "stage": stage,
            "complete": True,
            "rows": rows,
            "wall_ms": wall_ms,
            "partitions": part_counts,
            "codegen_compiles": compiles,
            "schema": df.schema.json(),
            "config": self.config.fingerprint(),
            "input_fp": self._input_fp,
            "written_at": time.time(),
        }
        (out / MANIFEST).write_text(json.dumps(manifest, indent=1))
        self.stage_metrics[stage] = {"rows": rows, "wall_ms": wall_ms,
                                     "n_partitions": len(part_counts),
                                     "codegen_compiles": compiles}
        return self._read_stage(stage)

    def _read_stage(self, stage: str) -> DataFrame:
        """A written stage, read with its manifest's schema (made nullable,
        as Spark writes it), so the read runs no Spark job."""
        m = json.loads((self._path(stage) / MANIFEST).read_text())
        schema = StructType.fromJson(json.loads(m["schema"]))
        return self.spark.read.schema(schema).parquet(str(self._path(stage) / "data"))

    def _stage(self, stage: str, build) -> DataFrame:
        if self._is_done(stage):
            self.stage_metrics[stage] = {"resumed": True}
            return self._read_stage(stage)
        return self._write_stage(stage, build)

    # ------------------------------------------------------------ the run

    def run(self, files: DataFrame, stop_after: str | None = None) -> DataFrame | None:
        """Run (or resume) the pipeline; returns the clusters DataFrame
        (file_id, cluster_id), or None if stopped early via stop_after."""
        cfg = self.config
        self._input_fp = self.input_fingerprint(files)

        norm = self._stage(
            "s1_normalized", lambda: normalize_files(files, id_bits=cfg.id_bits)
        )
        if stop_after == "s1_normalized":
            return None

        shaf = self._stage("s2_sha_features", lambda: sha_features(norm))
        if stop_after == "s2_sha_features":
            return None

        # blocking → pairing → scoring all run on the compact int64 surrogate
        # `fid` (8-byte shuffle keys); the 64-char file_id string reappears
        # only in the final cluster mapping
        blocks = self._stage(
            "s3_blocks",
            lambda: blocking_keys(
                norm,
                id_col="fid",
                num_bands=cfg.num_bands,
                rows_per_band=cfg.rows_per_band,
                minhash_seed=cfg.minhash_seed,
            ),
        )
        if stop_after == "s3_blocks":
            return None

        pairs = self._stage(
            "s4_pairs",
            lambda: candidate_pairs(
                blocks, id_col="fid", salt_cap=cfg.salt_cap, drop_cap=cfg.drop_cap,
                persist_blocks=False,  # blocks already parquet-materialized
            ),
        )
        if stop_after == "s4_pairs":
            return None

        feats = self._stage(
            "s5_features", lambda: pair_features(pairs, norm, shaf=shaf, id_col="fid")
        )
        if stop_after == "s5_features":
            return None

        scores = self._stage("s6_scores", lambda: score_pairs(feats, cfg.weights))
        if stop_after == "s6_scores":
            return None

        tau = cfg.tau
        if tau == "auto":
            from record_matching_spark.operators.tune import discover_threshold

            tau = discover_threshold(scores)
            self.stage_metrics.setdefault("s6_scores", {})["discovered_tau"] = tau

        def build_clusters() -> DataFrame:
            edges = scores.filter(F.col("score") > tau).select(
                F.col("left").alias("src"), F.col("right").alias("dst")
            )
            assign = cluster_assignments(edges, norm, "fid")
            if cfg.refine:
                from record_matching_spark.operators.refine import refine_clusters

                assign = refine_clusters(
                    assign, scores, "fid",
                    coherence_tau=cfg.refine_coherence_tau,
                    edge_tau=cfg.refine_edge_tau,
                    min_size=cfg.refine_min_size,
                )
            return assign.join(norm.select("fid", "file_id"), "fid").select(
                "file_id", "cluster_id"
            )

        clusters = self._stage("s7_clusters", build_clusters)
        self._write_run_metrics()
        return clusters

    def _write_run_metrics(self) -> None:
        (self.workdir / "metrics.json").write_text(
            json.dumps(self.stage_metrics, indent=1)
        )
