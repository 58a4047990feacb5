"""PageRank time-to-solution on the path a user runs: ``pagerank_spark.cli pagerank``.

    python3 perfbench/run.py --workload csr_edge_heavy --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Each timed run is a fresh process
(``perfbench/child.py``) running the CLI on ``local[<cpus>]`` against
seeded parquet edges, so no JVM or Python-worker state carries over; its
ranks are checked against ``pagerank_spark.oracle.pagerank_numpy``. Runs
repeat while another one is expected to finish within ``--seconds`` (at
least one run). ``--trace 1`` makes one traced run and reports per-layer
metrics from it; the spans are written to ``.perfbench_work/trace/``.

Prints one line per metric (value, unit, sample count), then as the last
line a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Exits 1 when a run fails or its ranks are wrong.
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

import numpy as np

from layers import attach_status, iteration_costs, layer_metrics
from workloads import WORKLOADS, check_ranks, prepare

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# a whole invocation must end well inside 180 s
DEADLINE_S = 170.0
RSS_POLL_S = 0.2

END_TO_END = {
    "time_to_solution_s": "s",
    "setup_s": "s",
    "iter_s.p50": "s",
    "iter_s.p90": "s",
    "edges_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "pagerank.one_time_s": "s",
    "pagerank.setup_shuffle_write_bytes": "bytes",
    "pagerank.finalize_s": "s",
    "csr.broadcast_s": "s",
    "csr.spmv_job_s": "s",
    "csr.task_busy_s": "s",
    "csr.task_skew": "ratio",
    "csr.tasks_per_iter": "count",
    "csr.sched_wait_s": "s",
    "csr.pull_bytes_per_iter": "bytes",
    "csr.merge_s": "s",
    "csr.shuffle_write_records_per_iter": "count",
    "dataframe.iter_s": "s",
    "dataframe.jobs_per_iter": "count",
    "dataframe.shuffle_write_records_per_iter": "count",
    "dataframe.shuffle_write_bytes_per_iter": "bytes",
    "dataframe.task_skew": "ratio",
    "catalog.checkpoint_s": "s",
    "catalog.checkpoint_bytes": "bytes",
    "catalog.files_per_checkpoint": "count",
    "lineage.log_s": "s",
    "lineage.partition_counts_s": "s",
    "lineage.dirs_per_run": "count",
    "lineage.rows_shuffled_reported": "count",
    "cli.output_write_s": "s",
    "trace.overhead_pct": "%",
    "trace.unattributed_pct": "%",
    "trace.iter_unaccounted_pct": "%",
    "self_s.cli": "s",
    "self_s.session": "s",
    "self_s.pagerank": "s",
    "self_s.csr": "s",
    "self_s.dataframe": "s",
    "self_s.catalog": "s",
    "self_s.lineage": "s",
    "self_s.unattributed": "s",
}


def _proc_table() -> dict[int, tuple]:
    """pid -> (state, ppid, pgrp, rss pages, address-space key) for every
    process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[k] is field k + 3 of proc(5): rss, startcode, endcode and
        # startstack are 24, 26, 27 and 28
        mm = (fields[23], fields[24], fields[25])
        out[int(d)] = (fields[0], int(fields[1]), int(fields[2]), int(fields[21]), mm)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all of its descendants.

    A child that is still a copy of its parent's address space (same code
    and stack addresses, resident size within 2 %) holds no memory of its
    own and is not counted; its descendants are. That is a vfork child
    before it execs, as the JVM spawns helper processes: it shares the
    JVM's memory, and counting it would count the JVM twice."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, row in table.items():
        kids.setdefault(row[1], []).append(p)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        row = table.get(p)
        if row is None:
            continue
        parent = table.get(row[1])
        copy = (p != pid and parent is not None and parent[4] == row[4]
                and abs(parent[3] - row[3]) <= 0.02 * parent[3])
        if not copy:
            total += row[3] * page
        todo.extend(kids.get(p, ()))
    return total


class PeakRss(threading.Thread):
    """Polls the resident memory of a process tree until stopped."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            if self._stop_evt.wait(RSS_POLL_S):
                return

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the child left in its process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and any(
        row[2] == proc.pid and row[0] != "Z" for row in _proc_table().values()
    ):
        time.sleep(0.1)


def cli_args(w, edges_dir: str, out_dir: str, cpus: int) -> list[str]:
    args = ["--master", f"local[{cpus}]"]
    if not w.durable:
        args += ["--warehouse", "none"]
    return args + [
        "pagerank", "--edges", edges_dir, "--n", str(w.n), "--eps", repr(w.eps),
        "--run-id", "perfbench", "--output", out_dir, *w.cli_args,
    ]


def run_once(w, inputs, run_dir: str, cpus: int, trace: bool, timeout: float) -> dict:
    """One fresh CLI process. Returns its record, peak RSS and error (if any)."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(run_dir, "ranks")
    rec_path = os.path.join(run_dir, "record.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # no JVM writes outside the checkout: temp files go to the run's
        # tmp dir, and the hsperfdata file (always under /tmp) is not made
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData"])),
    })
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--record", rec_path]
    cmd += ["--trace"] if trace else []
    cmd += ["--", *cli_args(w, inputs.edges_dir, out_dir, cpus)]
    error = None
    with open(os.path.join(run_dir, "child.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        rss = PeakRss(proc.pid)
        rss.start()
        try:
            rc = proc.wait(timeout=timeout)
            if rc != 0:
                error = f"exit code {rc}"
        except subprocess.TimeoutExpired:
            error = f"timed out after {timeout:.0f} s"
        finally:
            peak = rss.stop()
            _stop_group(proc)
    record = None
    if error is None:
        try:
            with open(rec_path) as f:
                record = json.load(f)
            error = check_ranks(out_dir, inputs, record["result"]["iterations"])
        except (OSError, ValueError, KeyError) as e:  # missing or unreadable output
            error = f"output check raised {e!r}"
    if error is not None:
        print(f"run failed ({w.name}): {error}; log: {run_dir}/child.log",
              file=sys.stderr)
    return {"record": record, "peak_rss_mb": peak / 2**20, "error": error,
            "run_dir": run_dir, "out_dir": out_dir}


def _emit(metrics: dict, units: dict, samples: dict) -> dict:
    out = {}
    for name, unit in units.items():
        v = float(metrics[name])
        out[name] = {"value": v, "unit": unit}
        print(f"{name:42s} {v:16.6f} {unit:6s} n={samples.get(name, 1)}")
    return out


def end_to_end(w, runs: list[dict]) -> tuple[dict, dict]:
    tts = [r["record"]["time_to_solution_s"] for r in runs]
    costs = [iteration_costs(r["record"]) for r in runs]
    pooled = [c for cs in costs for c in cs]
    metrics = {
        "time_to_solution_s": statistics.median(tts),
        "setup_s": statistics.median(t - sum(cs) for t, cs in zip(tts, costs)),
        "iter_s.p50": float(np.percentile(pooled, 50)),
        "iter_s.p90": float(np.percentile(pooled, 90)),
        "edges_per_s": statistics.median(w.m * len(cs) / sum(cs) for cs in costs),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in runs),
    }
    samples = {k: len(runs) for k in metrics}
    samples["iter_s.p50"] = samples["iter_s.p90"] = len(pooled)
    return metrics, samples


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # on SIGTERM, unwind so the running child's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "pagerank_spark", "cli.py")):
        print(f"no pagerank_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the oracle comes from the checkout's package
    w = WORKLOADS.get(args.workload)
    if w is None:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    inputs = prepare(os.path.join(WORK, "cache"), w, args.seed)

    runs: list[dict] = []
    t_meas = time.time()
    plan = None
    if args.trace:
        # the overhead is taken against the untraced runs already made in
        # this checkout; without any, one is made first on the same inputs
        baseline = _untraced_tts(w.name, cpus)
        plan = [True] if baseline else [False, True]
    while True:
        trace = plan[len(runs)] if plan else False
        left = DEADLINE_S - (time.time() - t_start)
        run_dir = os.path.join(WORK, "runs", f"{w.name}-s{args.seed}-{len(runs)}")
        t0 = time.time()
        runs.append(run_once(w, inputs, run_dir, cpus, trace, timeout=left))
        last = time.time() - t0
        if plan:
            if len(runs) == len(plan) or runs[-1]["error"]:
                break
        elif (time.time() - t_meas + last > args.seconds
              or time.time() - t_start + 1.5 * last > DEADLINE_S):
            break
    ok = [r for r in runs if r["error"] is None]
    failed = len(runs) - len(ok)

    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({
            "workload": w.name, "seed": args.seed, "trace": args.trace,
            "cpus": cpus, "runs": [_raw(r) for r in runs],
        }) + "\n")

    metrics: dict = {}
    if not failed:
        if args.trace:
            if not baseline:
                baseline = [runs[0]["record"]["time_to_solution_s"]]
            metrics = trace_metrics(w, args.seed, runs[-1], statistics.median(baseline))
        else:
            vals, samples = end_to_end(w, ok)
            metrics = _emit(vals, END_TO_END, samples)
    for r in ok:
        shutil.rmtree(r["run_dir"], ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


def _raw(run: dict) -> dict:
    """One run's raw series, as appended to results.jsonl."""
    out = {"error": run["error"], "peak_rss_mb": run["peak_rss_mb"]}
    if run["error"] is None:
        rec = run["record"]
        out["time_to_solution_s"] = rec["time_to_solution_s"]
        out["iter_seconds"] = rec["result"]["iter_seconds"]
        out["iter_s"] = iteration_costs(rec)
    return out


def _untraced_tts(workload: str, cpus: int, last: int = 20) -> list[float]:
    """Time-to-solution of this workload's latest untraced runs in this checkout."""
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return []
    tts = []
    with open(path) as f:
        for line in f:
            d = json.loads(line)
            if d["workload"] == workload and not d["trace"] and d["cpus"] == cpus:
                tts += [r["time_to_solution_s"] for r in d["runs"] if r["error"] is None]
    return tts[-last:]


def trace_metrics(w, seed: int, traced: dict, untraced_tts: float) -> dict:
    rec = traced["record"]
    vals = layer_metrics(rec, cli_output=traced["out_dir"])
    vals["trace.overhead_pct"] = (rec["time_to_solution_s"] / untraced_tts - 1.0) * 100.0
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    spans_path = os.path.join(WORK, "trace", f"{w.name}-s{seed}.spans.json")
    with open(spans_path, "w") as f:
        json.dump(attach_status(rec), f)
    print(f"spans: {spans_path}")
    for name, limit in (("trace.unattributed_pct", 5.0),
                        ("trace.iter_unaccounted_pct", 5.0)):
        if vals[name] > limit:
            print(f"WARNING: {name} = {vals[name]:.2f} exceeds {limit} %",
                  file=sys.stderr)
    return _emit(vals, PER_LAYER, {})


if __name__ == "__main__":
    sys.exit(main())
