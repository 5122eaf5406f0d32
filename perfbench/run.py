"""Record-linkage benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload er_clone --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The run prepares its
inputs (the corpus is generated once and cached under .perfbench_work/),
starts a fresh Spark driver process (perfbench/child.py) on local[nproc]
with a private spark.local.dir, samples the RSS of that process tree, and
prints an environment line followed, as the last line of standard output,
by ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. ``--smoke`` uses
tiny inputs. The full record of the run (environment, calibration, every
iteration, spans, event-log totals) is written to
.perfbench_work/results/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from importlib import metadata
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from workloads import (  # noqa: E402
    ER_COLUMNS, WORKLOADS, corpus_key, get_workload, make_documents, write_permuted,
)

SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
PREPARE_TIMEOUT_S = 600
ITERATION_TIMEOUT_S = 60
# the measuring process may take --seconds plus this (set-up, first iteration,
# the iteration in flight when --seconds runs out, a traced iteration)
MEASURE_SLACK_S = 150


class RunError(Exception):
    pass


def calibrate() -> dict:
    """Same-moment host probes: a cache-resident CPU loop and a streaming
    memory-bandwidth pass. They inflate only under real contention."""
    a = np.random.default_rng(0).random(1_250_000)  # 10 MB
    (a * a).sum()
    t0 = time.perf_counter()
    for _ in range(40):
        (a * a).sum()
    cpu_ms = (time.perf_counter() - t0) * 1e3
    big = np.random.default_rng(1).random(18_750_000)  # 150 MB
    big.sum()
    t0 = time.perf_counter()
    for _ in range(3):
        big.sum()
    dt = time.perf_counter() - t0
    return {"cpu_ms": cpu_ms, "membw_ms": dt * 1e3, "membw_gb_s": 3 * big.nbytes / dt / 1e9}


def environment(nproc: int) -> dict:
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
        "spark": metadata.version("pyspark"),
        "pyarrow": metadata.version("pyarrow"),
        "loadavg": list(os.getloadavg()),
    }


class SessionWatch:
    """Samples the memory of every process in a session (the Spark driver, its
    JVM and the Python workers), and waits for all of them to end.

    Memory is the proportional set size (PSS): resident pages, with each
    page shared by n processes counted 1/n in each. Summed over the tree it
    is the tree's RSS without counting twice the pages that forked Python
    workers share, or that a JVM child holds between fork and exec."""

    def __init__(self, sid: int, period_s: float = 0.5):
        self.sid = sid
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_mix: dict[str, int] = {}  # RSS by command name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def procs(self) -> dict[int, tuple[str, int]]:
        """pid -> (command name, PSS bytes) for every process in the session."""
        out = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
                if int(stat[stat.rfind(")") + 2:].split()[3]) != self.sid:
                    continue
                pss = next(int(line.split()[1]) for line in
                           Path(f"/proc/{d}/smaps_rollup").read_text().splitlines()
                           if line.startswith("Pss:"))
            except (OSError, StopIteration):  # exited, or a zombie
                continue
            out[int(d)] = (stat[stat.find("(") + 1:stat.rfind(")")], pss * 1024)
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            procs = self.procs().values()
            total = sum(rss for _, rss in procs)
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_mix = {}
                for name, rss in procs:
                    self.peak_mix[name] = self.peak_mix.get(name, 0) + rss

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def reap(self, grace_s: float = 20.0) -> None:
        deadline = time.monotonic() + grace_s
        while self.procs() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in self.procs():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while self.procs():
            time.sleep(0.1)


def spawn(mode: str, cfg: dict, run_dir: Path, root: Path, timeout_s: float) -> SessionWatch:
    """Run child.py in its own session; returns its (stopped) RSS watch."""
    cfg_path = run_dir / f"{mode}.json"
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [str(root), env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cfg["nproc"]),
        "SPARK_GRAFT_LOCAL_DIR": cfg["local_dir"],
        "TMPDIR": cfg["tmp_dir"],
    })
    log = run_dir / f"{mode}.log"
    with open(log, "wb") as out:
        cfg["spawn_ts"] = time.monotonic()
        cfg_path.write_text(json.dumps(cfg))
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "child.py"), mode, str(cfg_path)],
            cwd=root, env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        watch = SessionWatch(proc.pid)
        try:
            with watch:
                code = proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            watch.reap()
    if code != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise RunError(f"{mode} process ended with {code}:\n{tail}")
    return watch


def prepare_inputs(w, root: Path, cache: Path, run_dir: Path, base: dict, seed: int) -> Path:
    """Cached corpus -> this seed's row order under run_dir/input."""
    cdir = cache / corpus_key(w)
    corpus = cdir / "corpus.parquet"
    if not corpus.exists():
        tmp = cache / f"{corpus_key(w)}.tmp-{os.getpid()}"
        tmp.mkdir(parents=True, exist_ok=True)
        if w.kind == "er":
            spawn("prepare", dict(base, corpus=str(tmp / "corpus.parquet")),
                  run_dir, root, PREPARE_TIMEOUT_S)
        else:
            pq.write_table(make_documents(w.params["n_docs"], w.params["gen_seed"]),
                           tmp / "corpus.parquet")
        os.replace(tmp, cdir)
    table = pq.read_table(corpus)
    if w.kind == "er":
        table = table.select(ER_COLUMNS)
    inp = run_dir / "input"
    write_permuted(table, inp, seed, w.in_files)
    return corpus


def metrics_of(result: dict, peak_rss: float, trace: bool) -> dict:
    if trace:
        if "layers" not in result:
            raise RunError("traced iteration failed; no per-layer numbers")
        from tracing import per_layer_metric_specs

        return {m["name"]: {"value": result["layers"][m["name"]], "unit": m["unit"]}
                for m in per_layer_metric_specs()}
    iters = result["iterations"]
    warm = [r["cpu_s"] for r in iters if r["kind"] == "warm" and "cpu_s" in r]
    if "cpu_s" not in iters[0] or not warm:
        raise RunError("no timed iteration completed")
    aris = [r["ari"] for r in iters if "ari" in r]
    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "warm_cpu_s": {"value": statistics.median(warm), "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        "ari": {"value": min(aris) if aris else 0.0, "unit": "ratio"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "record_matching_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a checkout that holds "
              "record_matching_spark/", file=sys.stderr)
        return 2
    w = get_workload(args.workload, args.smoke)
    nproc = len(os.sched_getaffinity(0))
    work = root / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    base = {
        "workload": w.name, "smoke": args.smoke, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "nproc": nproc,
        "shuffle_partitions": SHUFFLE_PARTITIONS, "driver_memory": DRIVER_MEMORY,
        "iteration_timeout_s": ITERATION_TIMEOUT_S,
        "local_dir": str(run_dir / "spark-local"), "tmp_dir": str(run_dir / "tmp"),
        "work_dir": str(run_dir / "work"), "event_dir": str(run_dir / "events"),
        "input": str(run_dir / "input"), "result": str(run_dir / "result.json"),
    }
    for key in ("local_dir", "tmp_dir", "work_dir", "event_dir"):
        Path(base[key]).mkdir(parents=True, exist_ok=True)
    try:
        env = environment(nproc)
        env["calibration_before"] = calibrate()
        corpus = prepare_inputs(w, root, work / "cache", run_dir, base, args.seed)
        watch = spawn("measure", dict(base, corpus=str(corpus)), run_dir, root,
                      args.seconds + MEASURE_SLACK_S)
        env["rss_at_peak_mb"] = {k: v / 2**20 for k, v in watch.peak_mix.items()}
        result = json.loads(Path(base["result"]).read_text())
        env["calibration_after"] = calibrate()
        env["loadavg_after"] = list(os.getloadavg())
        metrics = metrics_of(result, watch.peak_bytes, bool(args.trace))
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    iters = result["iterations"]
    failed = sum(not r["ok"] for r in iters)
    line = {"correct": failed == 0, "attempted": len(iters), "failed": failed,
            "metrics": metrics}
    record = {"workload": w.name, "params": w.params, "seed": args.seed,
              "smoke": args.smoke, "trace": args.trace, "env": env,
              "result": result, "line": line}
    out_dir = work / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{w.name}{'-smoke' if args.smoke else ''}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{tag}.json").write_text(json.dumps(record, indent=1))
    problems = [p for r in iters for p in r.get("problems", [])]
    errors = [r["error"] for r in iters if "error" in r]
    walls = [(r["kind"], r["wall_s"]) for r in iters if "wall_s" in r]
    print(json.dumps({"perfbench": {"workload": w.name, "records": result["records"],
                                    "wall_s": walls,
                                    "env": env, "problems": problems[:5],
                                    "errors": errors[:2]}}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
