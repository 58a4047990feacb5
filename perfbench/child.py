"""Run ``pagerank_spark.cli.main`` once in this process and record where its time goes.

    python3 perfbench/child.py --record OUT.json [--trace] -- <cli arguments>

Spans are taken around calls into the program's public functions by wrapping
them from here; no program file is changed. Spans stay in memory and are
written to the record when the run ends.

Untraced runs wrap only what the end-to-end metrics need: ``PageRank.run``
(for the engine's per-iteration seconds), ``Catalog.write``,
``SparkSession.createDataFrame`` and the two ``LineageWriter`` calls (the
checkpoint and lineage work each iteration makes the user wait for).
``--trace`` adds the session, parquet I/O and the csr/dataframe iteration
calls, and after the run reads Spark's status store (jobs, stages and task
run times), which works with the Spark UI disabled.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import time


class Recorder:
    """Spans as dicts: name, layer, start, end (epoch s), parent index, attrs."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.result = None

    def open(self, name: str, layer: str | None, attrs: dict) -> dict:
        sp = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = time.time()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, layer: str | None = None,
             before=None, after=None) -> None:
        """Replace ``owner.attr`` with a version that records a span per call.
        ``before(*args, **kw)`` and ``after(result)`` return span attributes;
        ``after`` runs once the span is closed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            sp = self.open(name, layer, before(*args, **kw) if before else {})
            try:
                out = orig(*args, **kw)
            finally:
                self.close(sp)
            if after is not None:
                sp["attrs"].update(after(out))
            return out

        setattr(owner, attr, wrapper)


def _arg(args, kw, pos: int, key: str):
    return kw[key] if key in kw else (args[pos] if len(args) > pos else None)


def install(rec: Recorder, trace: bool) -> None:
    from pyspark import SparkContext
    from pyspark.sql import DataFrameReader, DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from pagerank_spark import lineage, session
    from pagerank_spark.algorithms import pagerank
    from pagerank_spark.tables import catalog

    def keep_result(res):
        rec.result = {
            "iterations": res.iterations,
            "iter_seconds": list(res.iter_seconds),
            "deltas": list(res.deltas),
            "run_id": res.run_id,
        }
        return {}

    def catalog_args(self, *args, **kw):
        summary = _arg(args, kw, 5, "summary") or {}
        return {"table": _arg(args, kw, 1, "table"),
                "iteration": summary.get("iteration"),
                "warehouse": self.warehouse}

    rec.wrap(pagerank.PageRank, "run", "pagerank.run", "pagerank", after=keep_result)
    rec.wrap(SparkSession, "createDataFrame", "spark.createDataFrame")
    rec.wrap(catalog.Catalog, "write", "catalog.write", "catalog",
             before=catalog_args, after=lambda meta: {"data_dir": meta.data_dir})
    rec.wrap(lineage.LineageWriter, "log_iteration", "lineage.log_iteration",
             "lineage",
             before=lambda self, *a, **kw: {
                 "iteration": _arg(a, kw, 1, "iteration"),
                 "rows_shuffled": _arg(a, kw, 2, "rows_shuffled")})
    rec.wrap(lineage.LineageWriter, "partition_counts",
             "lineage.partition_counts", "lineage")
    if not trace:
        return
    rec.wrap(session, "get_spark", "session.get_spark", "session")
    rec.wrap(DataFrameReader, "parquet", "io.read_parquet",
             before=lambda self, *paths, **kw: {"path": list(paths)})
    rec.wrap(DataFrameWriter, "parquet", "io.write_parquet",
             before=lambda self, *a, **kw: {"path": _arg(a, kw, 0, "path")})
    rec.wrap(SparkContext, "broadcast", "spark.broadcast")
    rec.wrap(DataFrame, "toArrow", "spark.toArrow",
             after=lambda t: {"bytes": t.nbytes, "rows": t.num_rows})
    rec.wrap(DataFrame, "localCheckpoint", "spark.localCheckpoint")


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc) -> tuple[list[dict], list[dict]]:
    """Every job and stage attempt the run made, with per-task run times."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    jobs, stage_ids = [], set()
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        sids = j.stageIds()
        ids = [sids.apply(k) for k in range(sids.size())]
        stage_ids.update(ids)
        jobs.append({
            "job_id": j.jobId(), "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()), "stage_ids": ids,
            "status": j.status().toString(),
        })
    stages = []
    for sid in sorted(stage_ids):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stages have no attempt
            continue
        if s.status().toString() != "COMPLETE":
            continue
        tasks = store.taskList(sid, s.attemptId(), 1 << 20)
        run_ms, dur_ms = [], []
        for k in range(tasks.size()):
            t = tasks.apply(k)
            if t.taskMetrics().isDefined():
                run_ms.append(t.taskMetrics().get().executorRunTime())
            if t.duration().isDefined():
                dur_ms.append(t.duration().get())
        stages.append({
            "stage_id": sid, "attempt": s.attemptId(), "num_tasks": s.numTasks(),
            "start": _opt_ms(s.submissionTime()), "end": _opt_ms(s.completionTime()),
            "executor_run_ms": s.executorRunTime(),
            "shuffle_write_records": s.shuffleWriteRecords(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_records": s.shuffleReadRecords(),
            "output_bytes": s.outputBytes(),
            "task_run_ms": run_ms, "task_duration_ms": dur_ms,
        })
    return jobs, stages


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for nm in names:
            if not nm.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, nm))
                files += 1
    return size, files


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("cli_args", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cli_args = args.cli_args[1:] if args.cli_args[:1] == ["--"] else args.cli_args

    from pagerank_spark import cli, session

    # the package zip shipped to Python workers goes to TMPDIR, not /tmp
    session.package_zip = functools.partial(
        session.package_zip, dest_dir=os.environ.get("TMPDIR", "/tmp"))

    rec = Recorder(run_id=os.path.basename(os.path.dirname(args.record)))
    install(rec, args.trace)
    root = rec.open("cli.main", "unattributed", {"argv": cli_args})
    try:
        rc = cli.main(cli_args)
    finally:
        rec.close(root)
    record = {
        "rc": rc,
        "time_to_solution_s": root["end"] - root["start"],
        "result": rec.result,
        "spans": rec.spans,
    }
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if args.trace:
        record["jobs"], record["stages"] = read_status_store(sc)
        for sp in rec.spans:
            if sp["name"] == "catalog.write" and "data_dir" in sp["attrs"]:
                a = sp["attrs"]
                a["bytes"], a["files"] = _dir_usage(
                    os.path.join(a["warehouse"], a["table"], a["data_dir"]))
    tmp = args.record + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, args.record)
    if sc is not None:
        sc.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
