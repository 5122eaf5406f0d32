"""Spans recorded around the calls into each layer, and the reduction of
Spark's event log to per-layer task, shuffle, spill and failure totals.

A span sets the Spark job group to its layer for its duration, so every
job the layer's call fires lands in that group in the event log; the
reduction then sums the group's tasks. When a span ends, the group that
was set before it comes back, so a job fired outside every span lands in
a group that is not a layer. Spans live in memory and are written out
with the run's result.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

# layers, named after the modules that implement them
LAYERS = [
    "session",
    "pipeline",
    "normalize",
    "scoring.sha_features",
    "blocking.blocking_keys",
    "blocking.candidate_pairs",
    "scoring.pair_features",
    "scoring.score_pairs",
    "cluster.cluster_assignments",
    "dedup.minhash_near_dup_pairs",
]
LAYER_METRICS = {
    "wall_s": "s",
    "task_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
    "jobs": "count",
    "failed_tasks": "count",
    "rows_out": "count",
}
SPECIAL_METRICS = {
    "pipeline.bytes_written_mb": ("MB", "lower"),
    "blocking.candidate_pairs.distinct_ratio": ("ratio", "higher"),
    "cluster.match_yield": ("ratio", "higher"),
    "dedup.verify_yield": ("ratio", "higher"),
    "scoring.pair_features.pairs_per_s": ("1/s", "higher"),
    "pipeline.input_fingerprint_s": ("s", "lower"),
    "iteration.first_cpu_s": ("s", "lower"),
    "iteration.first_wall_s": ("s", "lower"),
    "iteration.warm_wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
    "trace.task_coverage": ("ratio", "higher"),
}
_HIGHER = {"rows_out"}


def per_layer_metric_specs() -> list[dict]:
    """Every per-layer metric, as listed in BENCHMARK.json."""
    out = []
    for layer in LAYERS:
        for m, unit in LAYER_METRICS.items():
            if layer == "pipeline" and m == "rows_out":
                continue
            out.append({"name": f"{layer}.{m}", "unit": unit,
                        "better": "higher" if m in _HIGHER else "lower"})
    for name, (unit, better) in SPECIAL_METRICS.items():
        out.append({"name": name, "unit": unit, "better": better})
    return out


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that also drives the Spark job group."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self.current: str | None = None  # the job group now set
        self._stack: list[int] = []

    def group(self, group: str) -> None:
        """Attribute the Spark jobs that follow to ``group``."""
        self.current = group
        self.sc.setJobGroup(group, f"{self.trace_id}:{group}")

    @contextmanager
    def span(self, name: str, group: str | None = None):
        group = group or name
        parent = self._stack[-1] if self._stack else None
        outer = self.current
        sp = Span(name, group, parent, time.monotonic())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.group(group)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if outer is not None:
                self.group(outer)

    def children(self, idx: int | None) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        return self.spans[idx].dur - sum(c.dur for c in self.children(idx))

    def dump(self) -> list[dict]:
        return [asdict(s) | {"dur": s.dur} for s in self.spans]


def wall_by_group(tracer: Tracer) -> dict[str, float]:
    """Self time of every span, summed per job group."""
    out: dict[str, float] = {}
    for i, s in enumerate(tracer.spans):
        out[s.group] = out.get(s.group, 0.0) + tracer.self_time(i)
    return out


def reduce_event_log(path: Path, window: tuple[float, float] | None = None
                     ) -> dict[str, dict]:
    """Per job group: jobs, task core-seconds, shuffle write, spill, failed
    tasks, and the max/median task-time ratio of the group's heaviest
    stage (the skew signal). With ``window`` (epoch seconds), only the jobs
    submitted inside it count."""
    stage_group: dict[int, str | None] = {}  # None: a job outside the window
    jobs: dict[str, int] = {}
    tasks: dict[int, list] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or "(none)"
                if window and not (window[0] <= ev.get("Submission Time", 0) / 1e3
                                   <= window[1]):
                    g = None
                else:
                    jobs[g] = jobs.get(g, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                tasks.setdefault(ev["Stage ID"], []).append((
                    m.get("Executor Run Time", 0),
                    sw,
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    bool(info.get("Failed")) or reason not in (None, "Success"),
                ))
    def totals(n_jobs: int) -> dict:
        return {"jobs": n_jobs, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "failed_tasks": 0, "skew": 0.0, "_heaviest": -1.0}

    out = {g: totals(n) for g, n in jobs.items()}
    for sid, ts in tasks.items():
        group = stage_group.get(sid, "(none)")
        if group is None:
            continue
        g = out.setdefault(group, totals(0))
        run_ms = [t[0] for t in ts]
        g["task_s"] += sum(run_ms) / 1e3
        g["shuffle_write_mb"] += sum(t[1] for t in ts) / 2**20
        g["spill_mb"] += sum(t[2] for t in ts) / 2**20
        g["failed_tasks"] += sum(t[3] for t in ts)
        if sum(run_ms) > g["_heaviest"]:
            g["_heaviest"] = sum(run_ms)
            g["skew"] = max(run_ms) / max(statistics.median(run_ms), 1)
    for g in out.values():
        del g["_heaviest"]
    return out


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]
