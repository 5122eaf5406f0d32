"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q            # everything, ~2 min
    python -m pytest perfbench/tests -q -m "not smoke"   # no Spark, seconds

The smoke tests run run.py end to end on tiny inputs (``--smoke``), which
covers every workload, the output checks and the event-log reduction.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from tracing import (  # noqa: E402
    Tracer, per_layer_metric_specs, reduce_event_log, wall_by_group,
)
from workloads import (  # noqa: E402
    SMOKE, WORKLOADS, ari, check_docs, components, make_documents, token_set,
)

E2E = ["setup_s", "warm_cpu_s", "peak_rss_mb", "ari"]


def test_benchmark_json_matches_the_harness():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["per_layer"] == per_layer_metric_specs()
    assert [m["name"] for m in spec["end_to_end"]] == E2E
    assert {w["name"] for w in spec["workloads"]} <= WORKLOADS.keys()
    assert spec["paths"] == [BENCH.name]


def test_ari_and_components():
    assert ari([1, 1, 2, 2], ["a", "a", "b", "b"]) == 1.0
    assert ari([1, 1, 1, 1], ["a", "a", "b", "b"]) == 0.0
    assert components([1, 2, 3, 4, 5], [(2, 1), (3, 2), (5, 4)]) == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_check_docs_rejects_a_pair_below_threshold():
    docs = make_documents(50, gen_seed=7)
    texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    # doc 0 plus one vocabulary word: still a near-duplicate (J >= 0.9)
    texts[50] = texts[0] + " spark"
    j_true = len(token_set(texts[0]) & token_set(texts[50])) / len(
        token_set(texts[0]) | token_set(texts[50]))
    good = pa.table({"left": [0], "right": [50], "jaccard": [j_true]})
    bad = pa.table({"left": [0, 1], "right": [50, 2], "jaccard": [j_true, 0.95]})
    groups = pa.table({"doc_id": list(texts), "cluster_id": [
        0 if i in (0, 50) else i for i in texts]})
    w = WORKLOADS["neardup_docs"]
    ok = check_docs(w, good, groups, texts)
    assert not any("Jaccard" in p for p in ok["problems"]) and ok["ari"] == 1.0
    assert any("Jaccard" in p for p in check_docs(w, bad, groups, texts)["problems"])


class FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc):
        self.groups.append(group)


def test_tracer_restores_the_outer_group_and_splits_self_time():
    sc = FakeSc()
    tr = Tracer(sc, "t")
    tr.group("bench.traced")
    with tr.span("pipeline"):
        pass
    with tr.span("normalize"):
        with tr.span("pipeline.input_fingerprint", group="pipeline"):
            pass
    # jobs between or after the spans land in the iteration's own group
    assert sc.groups == ["bench.traced", "pipeline", "bench.traced",
                         "normalize", "pipeline", "normalize", "bench.traced"]
    assert [s.name for s in tr.children(None)] == ["pipeline", "normalize"]
    walls = wall_by_group(tr)
    assert set(walls) == {"pipeline", "normalize"}
    assert sum(walls.values()) == pytest.approx(sum(s.dur for s in tr.children(None)))


def _task(stage, run_ms, shuffle=0, spill=0, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Failed": reason != "Success"},
            "Task Metrics": {"Executor Run Time": run_ms, "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_reduce_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "blocking.candidate_pairs"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(0, 100, shuffle=2**20), _task(0, 100), _task(0, 400, spill=2**20),
        _task(1, 50), _task(1, 60, reason="ExceptionFailure"),
        _task(2, 10),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = reduce_event_log(log)
    g = out["blocking.candidate_pairs"]
    assert g["jobs"] == 1 and g["failed_tasks"] == 1
    assert g["task_s"] == pytest.approx(0.71)
    assert g["shuffle_write_mb"] == pytest.approx(1.0) and g["spill_mb"] == pytest.approx(1.0)
    assert g["skew"] == pytest.approx(4.0)  # heaviest stage 0: max 400 / median 100
    assert out["(none)"]["jobs"] == 1


def test_reduce_event_log_window(tmp_path):
    """Only jobs submitted inside the window count; a stage first listed by
    a job outside it stays outside."""
    def job(jid, stages, group, at_ms):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Submission Time": at_ms, "Properties": {"spark.jobGroup.id": group}}

    events = [
        job(0, [0], "bench.warm", 1_000), _task(0, 500),
        job(1, [0, 1], "normalize", 5_000), _task(1, 100),
        job(2, [2], "bench.traced", 6_000), _task(2, 30),
        job(3, [3], "bench.aux", 9_000), _task(3, 70),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = reduce_event_log(log, window=(4.0, 8.0))
    assert set(out) == {"normalize", "bench.traced"}
    assert out["normalize"]["task_s"] == pytest.approx(0.1)
    assert out["bench.traced"]["task_s"] == pytest.approx(0.03)


def test_session_cpu_counts_this_process():
    from child import session_cpu_s

    c0, t0 = session_cpu_s(), time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert session_cpu_s() - c0 >= 0.25


def test_gc_summary(tmp_path):
    from child import gc_summary

    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using Serial\n"
        "[1.2s][info][gc] GC(0) Pause Young (Allocation Failure) 70M->20M(247M) 6.100ms\n"
        "[3.4s][info][gc] GC(1) Pause Full (Allocation Failure) 300M->150M(400M) 40.000ms\n")
    g = gc_summary(log)
    assert g == {"pauses": 2, "full_pauses": 1, "pause_s": pytest.approx(0.0461),
                 "peak_heap_committed_mb": 400, "peak_heap_after_gc_mb": 150}


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / BENCH.name)
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, f"{BENCH.name}/run.py", "--workload", "er_clone",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.smoke
@pytest.mark.parametrize("workload", ["er_clone", "neardup_docs"])
def test_smoke_traced(workload):
    line = _run(workload, trace=1)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] == 3
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert list(m) == [s["name"] for s in per_layer_metric_specs()]
    assert 0.9 <= m["trace.span_coverage"] <= 1.1
    assert m["trace.task_coverage"] >= 0.9
    touched = (["normalize", "scoring.pair_features", "pipeline"] if workload == "er_clone"
               else ["dedup.minhash_near_dup_pairs"])
    for layer in touched + ["session", "blocking.candidate_pairs", "cluster.cluster_assignments"]:
        assert m[f"{layer}.wall_s"] > 0 and m[f"{layer}.jobs"] > 0, layer
        assert m[f"{layer}.task_s"] > 0 and m[f"{layer}.failed_tasks"] == 0, layer


@pytest.mark.smoke
def test_smoke_end_to_end():
    line = _run("er_dup_heavy", trace=0)
    assert line["correct"] and line["attempted"] == 2
    assert list(line["metrics"]) == E2E
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert line["metrics"]["ari"]["value"] == SMOKE["er_dup_heavy"].expect["ari"]
