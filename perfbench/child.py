"""The Spark driver process of one benchmark run.

``python3 perfbench/child.py prepare <config.json>`` generates an ER
corpus with the package's synthetic generator.
``python3 perfbench/child.py measure <config.json>`` builds the session,
caches the inputs, then runs a closed loop with one client: the first
iteration, warm iterations until ``seconds`` have passed, and with
``trace`` a final traced iteration whose spans and Spark event log give
the per-layer numbers. Jobs of the traced iteration that run outside
every layer span land in the ``bench.traced`` group, and the run checks
both the span wall time and the task time that its layers cover. The
result is written as JSON to ``result``.

run.py starts this process with PYTHONPATH at the checkout root, so the
package under test is the one in the checkout.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tracing import (  # noqa: E402
    LAYERS, Tracer, event_log_file, reduce_event_log, wall_by_group,
)
from workloads import ER_COLUMNS, check_docs, check_er, get_workload  # noqa: E402

# Pipeline stage -> the layer (module function) that builds it
STAGE_LAYERS = {
    "s1_normalized": "normalize",
    "s2_sha_features": "scoring.sha_features",
    "s3_blocks": "blocking.blocking_keys",
    "s4_pairs": "blocking.candidate_pairs",
    "s5_features": "scoring.pair_features",
    "s6_scores": "scoring.score_pairs",
    "s7_clusters": "cluster.cluster_assignments",
}


def _spark(cfg: dict, app: str, extra: dict | None = None, jvm: str = ""):
    from record_matching_spark.session import get_spark

    tmp = cfg["tmp_dir"]
    conf = {
        # keep the JVM's scratch inside the run directory
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} {jvm}".strip(),
        **(extra or {}),
    }
    return get_spark(app_name=app, shuffle_partitions=cfg["shuffle_partitions"],
                     driver_memory=cfg["driver_memory"], extra_conf=conf)


def prepare(cfg: dict) -> None:
    from record_matching_spark.synth import synth_repo_files_with_truth

    w = get_workload(cfg["workload"], cfg["smoke"])
    p = w.params
    spark = _spark(cfg, "perfbench-prepare")
    try:
        truth = synth_repo_files_with_truth(
            spark, n_families=p["n_families"], seed=p["gen_seed"],
            members_mean=p["members_mean"], heavy_families=p["heavy_families"],
            mutations_max=p["mutations_max"],
        )
        table = truth.toArrow()
    finally:
        spark.stop()
    pq.write_table(table.sort_by("file_id"), cfg["corpus"])


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    every process of this process's session: the Python driver, its JVM and
    the Python workers."""
    sid = os.getsid(0)
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:  # exited
            continue
        f = stat[stat.rfind(")") + 2:].split()
        if int(f[3]) == sid:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


class Timed:
    """Wall and session CPU time of a block, measured apart from any span;
    the block's epoch bounds and CPU seconds are left on ``runner.window``
    and ``runner.cpu``."""

    def __init__(self, runner):
        self.runner = runner

    def __enter__(self):
        self.c0 = session_cpu_s()
        self.t0, self.e0 = time.monotonic(), time.time()
        return self

    def __exit__(self, *exc):
        self.wall = time.monotonic() - self.t0
        self.runner.window = (self.e0, time.time())
        self.runner.cpu = session_cpu_s() - self.c0


# ------------------------------------------------------------------- ER


class ErRunner:
    def __init__(self, spark, w, cfg: dict):
        from record_matching_spark.pipeline import Pipeline, PipelineConfig

        if list(STAGE_LAYERS) != Pipeline.STAGES:
            raise RuntimeError(f"Pipeline stages changed: {Pipeline.STAGES}")
        self.spark, self.w, self.cfg = spark, w, cfg
        self.Pipeline = Pipeline
        self.pcfg = PipelineConfig(tau=w.params["tau"])
        self.work = Path(cfg["work_dir"])
        self.files = spark.read.parquet(cfg["input"]).select(*ER_COLUMNS).cache()
        self.records = self.files.count()
        self._truth = None
        self.trace_stats: dict = {}
        self.window = (0.0, 0.0)  # epoch bounds of the last timed call
        self.cpu = 0.0  # and its session CPU seconds

    def iterate(self, tracer: Tracer | None):
        wd = Path(tempfile.mkdtemp(prefix="pipeline-", dir=self.work))  # fresh each time
        try:
            with Timed(self) as t:
                if tracer is None:
                    self.Pipeline(self.spark, wd, self.pcfg).run(self.files)
                else:
                    self._traced(wd, tracer)
            wall = t.wall
            out = pq.read_table(wd / "s7_clusters" / "data",
                                columns=["file_id", "cluster_id"])
            if tracer is not None:
                self._trace_stats(wd)
            return wall, out
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    def _traced(self, wd: Path, tracer: Tracer) -> None:
        """Step the stages with run(stop_after=...), one span per stage;
        the Pipeline's construction and the input-fingerprint job each
        run() repeats are spans of the pipeline layer."""
        P = self.Pipeline
        orig = P.__dict__["input_fingerprint"]

        def fingerprint(files):
            with tracer.span("pipeline.input_fingerprint", group="pipeline"):
                return orig.__func__(files)

        P.input_fingerprint = staticmethod(fingerprint)
        try:
            with tracer.span("pipeline"):
                pipe = P(self.spark, wd, self.pcfg)
            last = P.STAGES[-1]
            for stage in P.STAGES:
                with tracer.span(STAGE_LAYERS[stage]):
                    pipe.run(self.files, stop_after=None if stage == last else stage)
        finally:
            P.input_fingerprint = orig

    def _trace_stats(self, wd: Path) -> None:
        """Counts read straight from the stage outputs (no Spark job)."""
        rows = {STAGE_LAYERS[s]: sum(pq.ParquetFile(f).metadata.num_rows
                                     for f in (wd / s / "data").glob("part-*"))
                for s in STAGE_LAYERS}
        blocks = pq.read_table(wd / "s3_blocks" / "data", columns=["block_key"])
        sizes = blocks.group_by("block_key").aggregate([("block_key", "count")])
        n = sizes.column("block_key_count").to_numpy().astype("float64")
        raw_pairs = float((n * (n - 1) / 2).sum())
        scores = pq.read_table(wd / "s6_scores" / "data", columns=["score"])
        edges = int((scores.column("score").to_numpy() > self.w.params["tau"]).sum())
        written = sum(f.stat().st_size for f in wd.rglob("*") if f.is_file())
        self.trace_stats = {
            "rows": rows,
            "raw_pairs": raw_pairs,
            "edges": edges,
            "bytes_written": written,
        }

    def check(self, out) -> dict:
        if self._truth is None:
            t = pq.read_table(self.cfg["corpus"], columns=["file_id", "entity_id"])
            self._truth = dict(zip(t.column("file_id").to_pylist(),
                                   t.column("entity_id").to_pylist()))
        return check_er(self.w, out, self._truth)


# ----------------------------------------------------------- near-dup docs


class DocsRunner:
    def __init__(self, spark, w, cfg: dict):
        self.spark, self.w, self.cfg = spark, w, cfg
        self.docs = spark.read.parquet(cfg["input"]).cache()
        self.records = self.docs.count()
        self._texts = None
        self.trace_stats: dict = {}
        self.window = (0.0, 0.0)
        self.cpu = 0.0

    def _pairs_and_groups(self):
        from pyspark.sql import functions as F
        from record_matching_spark.functions.dedup import minhash_near_dup_pairs
        from record_matching_spark.operators.cluster import cluster_assignments

        pairs = minhash_near_dup_pairs(
            self.docs, threshold=self.w.params["threshold"]
        ).localCheckpoint(eager=True)
        return pairs, lambda: cluster_assignments(
            pairs.select(F.col("left").alias("src"), F.col("right").alias("dst")),
            self.docs, "doc_id",
        ).toArrow()

    def iterate(self, tracer: Tracer | None):
        if tracer is not None:
            return self._traced(tracer)
        with Timed(self) as t:
            pairs, groups = self._pairs_and_groups()
            groups = groups()
        return t.wall, (pairs.toArrow(), groups)

    def _traced(self, tracer: Tracer):
        """Spans around the two public calls; candidate_pairs, which
        minhash_near_dup_pairs calls internally, is wrapped so its output is
        materialized inside its own span."""
        from record_matching_spark.functions import dedup

        orig = dedup.candidate_pairs
        seen: dict = {}

        def candidate_pairs(blocks, *args, **kwargs):
            with tracer.span("blocking.candidate_pairs"):
                out = orig(blocks, *args, **kwargs).localCheckpoint(eager=True)
            seen["blocks"], seen["cand"] = blocks, out
            return out

        dedup.candidate_pairs = candidate_pairs
        try:
            with Timed(self) as t:
                with tracer.span("dedup.minhash_near_dup_pairs"):
                    pairs, groups = self._pairs_and_groups()
                with tracer.span("cluster.cluster_assignments"):
                    groups = groups()
        finally:
            dedup.candidate_pairs = orig
        if "blocks" not in seen:
            raise RuntimeError("minhash_near_dup_pairs no longer calls candidate_pairs")
        tracer.group("bench.aux")
        pairs = pairs.toArrow()
        from pyspark.sql import functions as F

        sizes = seen["blocks"].groupBy("block_key").count()
        raw = sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0]
        cand = seen["cand"].count()
        self.trace_stats = {
            "rows": {"blocking.candidate_pairs": cand,
                     "dedup.minhash_near_dup_pairs": pairs.num_rows,
                     "cluster.cluster_assignments": groups.num_rows},
            "raw_pairs": float(raw or 0.0),
            "edges": pairs.num_rows,
            "bytes_written": 0,
        }
        return t.wall, (pairs, groups)

    def check(self, out) -> dict:
        if self._texts is None:
            t = pq.read_table(self.cfg["input"], columns=["doc_id", "text"])
            self._texts = dict(zip(t.column("doc_id").to_pylist(),
                                   t.column("text").to_pylist()))
        pairs, groups = out
        return check_docs(self.w, pairs, groups, self._texts)


# --------------------------------------------------------------- measure


def _layer_metrics(runner, tracer: Tracer, ev: dict, inside: dict, setup_s: float,
                   iters: list[dict]) -> dict:
    """``ev``: event-log totals per group over the run; ``inside``: the same
    over the jobs submitted during the traced iteration; ``iters``: the
    run's iterations, the traced one last."""
    traced_wall = iters[-1]["wall_s"]
    warm = [r["wall_s"] for r in iters if r["kind"] == "warm" and "wall_s" in r]
    warm_s = statistics.median(warm) if warm else 0.0
    walls = wall_by_group(tracer)
    walls["session"] = setup_s
    st = runner.trace_stats
    rows = dict(st["rows"], session=runner.records)
    out: dict[str, float] = {}
    for layer in LAYERS:
        e = ev.get(layer, {})
        out[f"{layer}.wall_s"] = walls.get(layer, 0.0)
        for m in ("task_s", "shuffle_write_mb", "spill_mb", "skew", "jobs", "failed_tasks"):
            out[f"{layer}.{m}"] = e.get(m, 0)
        if layer != "pipeline":
            out[f"{layer}.rows_out"] = rows.get(layer, 0)
    task_total = sum(g["task_s"] for g in inside.values())
    feat_wall = walls.get("scoring.pair_features", 0.0)
    cand = rows["blocking.candidate_pairs"]
    out.update({
        "pipeline.bytes_written_mb": st["bytes_written"] / 2**20,
        "blocking.candidate_pairs.distinct_ratio":
            cand / st["raw_pairs"] if st["raw_pairs"] else 0.0,
        "cluster.match_yield": st["edges"] / cand if cand else 0.0,
        "dedup.verify_yield":
            rows.get("dedup.minhash_near_dup_pairs", 0) / cand if cand else 0.0,
        "scoring.pair_features.pairs_per_s":
            rows.get("scoring.pair_features", 0) / feat_wall if feat_wall else 0.0,
        "pipeline.input_fingerprint_s": sum(
            s.dur for s in tracer.spans if s.name == "pipeline.input_fingerprint"),
        "iteration.first_cpu_s": iters[0].get("cpu_s", 0.0),
        "iteration.first_wall_s": iters[0].get("wall_s", 0.0),
        "iteration.warm_wall_s": warm_s,
        "trace.overhead_s": traced_wall - warm_s if warm else 0.0,
        # top-level layer spans against the iteration wall measured outside them
        "trace.span_coverage": sum(s.dur for s in tracer.children(None)) / traced_wall,
        # share of the traced iteration's task time that ran in a layer's group
        "trace.task_coverage": sum(g["task_s"] for k, g in inside.items() if k in LAYERS)
                               / task_total if task_total else 0.0,
    })
    return out


# "GC(3) Pause Young (Allocation Failure) 70M->20M(247M) 6.1ms"
_GC_LINE = re.compile(r"GC\((\d+)\) Pause (.*?) (\d+)M->(\d+)M\((\d+)M\) ([\d.]+)ms")


def gc_summary(path: Path) -> dict:
    """Pauses and heap sizes (MB) from the driver JVM's GC log."""
    rows = [m.groups() for m in map(_GC_LINE.search, path.read_text().splitlines()) if m]
    return {
        "pauses": len(rows),
        "full_pauses": sum("Full" in r[1] for r in rows),
        "pause_s": sum(float(r[5]) for r in rows) / 1e3,
        "peak_heap_committed_mb": max((int(r[4]) for r in rows), default=0),
        "peak_heap_after_gc_mb": max((int(r[3]) for r in rows), default=0),
    }


def measure(cfg: dict) -> dict:
    w = get_workload(cfg["workload"], cfg["smoke"])
    trace = cfg["trace"]
    extra = {}
    if trace:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": Path(cfg["event_dir"]).as_uri(),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    gc_log = Path(cfg["tmp_dir"]) / "gc.log"
    # The serial collector sizes the heap from the live data left after each
    # collection, not from pause times or GC overhead, so the JVM's resident
    # heap follows what the workload retains rather than the host's timing.
    spark = _spark(cfg, f"perfbench-{w.name}", extra,
                   f"-XX:+UseSerialGC -Xlog:gc:file={gc_log}")
    sc = spark.sparkContext
    tracer = Tracer(sc, f"{w.name}-seed{cfg['seed']}") if trace else None
    if tracer:
        tracer.group("session")
    runner = (ErRunner if w.kind == "er" else DocsRunner)(spark, w, cfg)
    setup_s = time.monotonic() - cfg["spawn_ts"]

    iters: list[dict] = []

    def one(kind: str, tr: Tracer | None = None) -> None:
        if tracer:
            tracer.group(f"bench.{kind}")
        timer = threading.Timer(cfg["iteration_timeout_s"], sc.cancelAllJobs)
        timer.start()
        rec = {"kind": kind, "ok": False}
        try:
            wall, out = runner.iterate(tr)
            rec["wall_s"], rec["cpu_s"] = wall, runner.cpu
            rec.update(runner.check(out))
            rec["ok"] = not rec["problems"]
        except Exception:  # a failed iteration is counted, the loop goes on
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            timer.cancel()
        iters.append(rec)

    one("first")
    t_warm = time.monotonic()
    while True:
        one("warm")
        if time.monotonic() - t_warm >= cfg["seconds"]:
            break
    result = {"setup_s": setup_s, "records": runner.records, "iterations": iters}
    if trace:
        one("traced", tracer)
    spark.stop()  # flushes and closes the event log
    result["gc"] = gc_summary(gc_log)
    if trace and "wall_s" in iters[-1]:
        log = event_log_file(Path(cfg["event_dir"]))
        ev = reduce_event_log(log)
        inside = reduce_event_log(log, window=runner.window)
        result["layers"] = layers = _layer_metrics(runner, tracer, ev, inside, setup_s,
                                                   iters)
        problems = iters[-1].setdefault("problems", [])
        cov = layers["trace.span_coverage"]
        if not 0.9 <= cov <= 1.1:
            problems.append(f"layer spans cover {cov:.3f} of the traced iteration's wall")
        cov = layers["trace.task_coverage"]
        if cov < 0.9:
            outside = sorted(k for k in inside if k not in LAYERS)
            problems.append(f"layer groups hold {cov:.3f} of the traced iteration's "
                            f"task time; the rest ran in {outside}")
        iters[-1]["ok"] = iters[-1]["ok"] and not problems
        result["event_groups"] = ev
        result["traced_event_groups"] = inside
        result["spans"] = tracer.dump()
    return result


def main() -> None:
    mode, cfg_path = sys.argv[1], sys.argv[2]
    cfg = json.loads(Path(cfg_path).read_text())
    if mode == "prepare":
        prepare(cfg)
        return
    result = measure(cfg)
    Path(cfg["result"]).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
