"""Turn one run's record (spans, engine result, status store) into metrics.

A user-paid iteration is the engine's ``PageRankResult.iter_seconds[k]``
plus the checkpoint and lineage work the CLI path does after it, before the
next iteration can start:

- checkpoint: ``Catalog.write`` on the ``pagerank_ckpt_*`` table for
  iteration k, plus the ``createDataFrame`` that feeds it (csr builds the
  checkpoint from the driver vector);
- lineage: ``LineageWriter.log_iteration`` for iteration k, plus the
  ``partition_counts`` job evaluated for its arguments.

The traced decomposition places iteration k's engine window so it ends where
its checkpoint or lineage work starts (or, with neither, one engine
iteration after the iteration's first call: ``SparkContext.broadcast`` in
csr, ``DataFrame.localCheckpoint`` in dataframe mode). Spark jobs and
stages are attributed to a window by their submission time.
"""

from __future__ import annotations

import statistics

CKPT_PREFIX = "pagerank_ckpt_"
SLACK_S = 0.005  # status-store times are whole milliseconds


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _children(spans: list[dict], parent: dict) -> list[dict]:
    return sorted((s for s in spans if s["parent"] == parent["id"]),
                  key=lambda s: s["start"])


def _one(spans: list[dict], name: str) -> dict:
    found = [s for s in spans if s["name"] == name]
    if len(found) != 1:
        raise ValueError(f"expected one {name} span, found {len(found)}")
    return found[0]


def post_iteration(spans: list[dict]) -> dict[int, dict[str, list[dict]]]:
    """Iteration -> {"checkpoint": spans, "lineage": spans} among the
    direct children of ``PageRank.run``."""
    run = _one(spans, "pagerank.run")
    out: dict[int, dict[str, list[dict]]] = {}
    prev = None
    pending: list[dict] = []
    for sp in _children(spans, run):
        a = sp["attrs"]
        if sp["name"] == "catalog.write" and str(a.get("table")).startswith(CKPT_PREFIX):
            group = out.setdefault(a["iteration"], {"checkpoint": [], "lineage": []})
            if prev is not None and prev["name"] == "spark.createDataFrame":
                group["checkpoint"].append(prev)
            group["checkpoint"].append(sp)
        elif sp["name"] == "lineage.partition_counts":
            pending.append(sp)
        elif sp["name"] == "lineage.log_iteration":
            group = out.setdefault(a["iteration"], {"checkpoint": [], "lineage": []})
            group["lineage"].extend(pending + [sp])
            pending = []
        prev = sp
    return out


def iteration_costs(record: dict) -> list[float]:
    """User-paid seconds of each iteration of the run."""
    res = record["result"]
    first = res["iterations"] - len(res["iter_seconds"]) + 1
    post = post_iteration(record["spans"])
    costs = []
    for i, s in enumerate(res["iter_seconds"]):
        g = post.get(first + i, {"checkpoint": [], "lineage": []})
        costs.append(s + sum(_dur(x) for x in g["checkpoint"] + g["lineage"]))
    return costs


def _windows(record: dict):
    """Per iteration: engine window (lo, hi), user-paid window (lo, hi), and
    the post-iteration spans; plus the engine mode."""
    spans, res = record["spans"], record["result"]
    run = _one(spans, "pagerank.run")
    kids = _children(spans, run)
    iter_s = res["iter_seconds"]
    k_n = len(iter_s)
    first = res["iterations"] - k_n + 1
    mode = "csr" if any(s["name"] == "spark.broadcast" for s in kids) else "dataframe"
    marker = "spark.broadcast" if mode == "csr" else "spark.localCheckpoint"
    markers = [s for s in kids if s["name"] == marker][-k_n:]
    if not k_n or len(markers) != k_n:
        raise ValueError(f"found {len(markers)} {marker} calls for {k_n} iterations")
    post = post_iteration(spans)
    out = []
    for i, mk in enumerate(markers):
        g = post.get(first + i, {"checkpoint": [], "lineage": []})
        extra = sorted(g["checkpoint"] + g["lineage"], key=lambda s: s["start"])
        nxt = markers[i + 1]["start"] if i + 1 < k_n else run["end"]
        hi = extra[0]["start"] if extra else min(mk["start"] + iter_s[i], nxt)
        lo = hi - iter_s[i]
        user_hi = max([hi] + [s["end"] for s in extra])
        out.append({"engine": (lo, hi), "user": [lo, user_hi], "post": g})
    for i in range(len(out) - 1):
        out[i]["user"][1] = out[i + 1]["engine"][0]
    return mode, out


def _within(t: float | None, lo: float, hi: float) -> bool:
    return t is not None and lo - SLACK_S <= t <= hi + SLACK_S


def _self_times(spans: list[dict], windows: list[dict], mode: str) -> dict[str, float]:
    """Seconds of the run spent in each layer's own code: every instant goes
    to the innermost span covering it (engine windows sit between
    ``PageRank.run`` and its calls)."""
    by_id = {s["id"]: s for s in spans}
    root = _one(spans, "cli.main")
    run = _one(spans, "pagerank.run")
    fixed = {"session.get_spark": "session", "catalog.write": "catalog",
             "lineage.log_iteration": "lineage", "lineage.partition_counts": "lineage"}
    feeders = {s["id"] for w in windows for s in w["post"]["checkpoint"]}

    def in_engine(sp):
        return any(lo - SLACK_S <= sp["start"] <= hi for lo, hi in
                   (w["engine"] for w in windows))

    layer, depth = {}, {}
    for sp in sorted(spans, key=lambda s: s["id"]):  # parents precede children
        p = by_id.get(sp["parent"])
        engine_child = p is run and in_engine(sp)
        depth[sp["id"]] = 0 if p is None else depth[p["id"]] + 1 + engine_child
        if p is None:
            layer[sp["id"]] = "unattributed"
        elif sp["name"] in fixed:
            layer[sp["id"]] = fixed[sp["name"]]
        elif sp["id"] in feeders:
            layer[sp["id"]] = "catalog"
        elif sp is run:
            layer[sp["id"]] = "pagerank"
        elif p is root:
            layer[sp["id"]] = "cli"
        elif p is run:
            layer[sp["id"]] = mode if engine_child else "pagerank"
        else:
            layer[sp["id"]] = layer[p["id"]]
    intervals = [(s["start"], s["end"], depth[s["id"]], layer[s["id"]]) for s in spans]
    intervals += [(lo, hi, depth[run["id"]] + 1, mode)
                  for lo, hi in (w["engine"] for w in windows)]
    cuts = sorted({t for iv in intervals for t in iv[:2]
                   if root["start"] <= t <= root["end"]})
    totals: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        best = max((iv for iv in intervals if iv[0] <= mid < iv[1]),
                   key=lambda iv: (iv[2], iv[0]))
        totals[best[3]] = totals.get(best[3], 0.0) + (b - a)
    return totals


def layer_metrics(record: dict, cli_output: str) -> dict[str, float]:
    """Per-layer metrics of one traced run."""
    spans, res = record["spans"], record["result"]
    jobs, stages = record["jobs"], record["stages"]
    root = _one(spans, "cli.main")
    run = _one(spans, "pagerank.run")
    mode, windows = _windows(record)
    tts = record["time_to_solution_s"]
    iter_s = res["iter_seconds"]

    def stages_in(lo, hi):
        return [s for s in stages if _within(s["start"], lo, hi)]

    def skew(stage_list):
        runs = [t for s in stage_list for t in s["task_run_ms"]]
        med = _median(runs)
        return max(runs) / med if runs and med > 0 else 0.0

    kids = _children(spans, run)
    m = {}
    m["session.get_spark_s"] = sum(_dur(s) for s in spans if s["name"] == "session.get_spark")
    first_lo = windows[0]["engine"][0]
    m["pagerank.one_time_s"] = first_lo - run["start"]
    m["pagerank.setup_shuffle_write_bytes"] = sum(
        s["shuffle_write_bytes"] for s in stages_in(run["start"], first_lo))
    m["pagerank.finalize_s"] = run["end"] - windows[-1]["user"][1]

    per = {k: [] for k in ("bcast", "arrow", "busy", "skew", "tasks", "wait",
                           "pull", "merge", "swr", "swb", "jobs")}
    for i, w in enumerate(windows):
        lo, hi = w["engine"]
        inside = [s for s in kids if lo - SLACK_S <= s["start"] <= hi]
        eng_stages = stages_in(lo, hi)
        per["swr"].append(sum(s["shuffle_write_records"] for s in eng_stages))
        per["swb"].append(sum(s["shuffle_write_bytes"] for s in eng_stages))
        per["jobs"].append(sum(1 for j in jobs if _within(j["start"], lo, hi)))
        if mode == "csr":
            bc = sum(_dur(s) for s in inside if s["name"] == "spark.broadcast")
            arrows = [s for s in inside if s["name"] == "spark.toArrow"]
            ar = sum(_dur(s) for s in arrows)
            spmv = [st for a in arrows for st in stages_in(a["start"], a["end"])]
            longest = max((t for st in spmv for t in st["task_duration_ms"]), default=0)
            per["bcast"].append(bc)
            per["arrow"].append(ar)
            per["merge"].append(iter_s[i] - bc - ar)
            per["pull"].append(sum(a["attrs"].get("bytes", 0) for a in arrows))
            per["busy"].append(sum(st["executor_run_ms"] for st in spmv) / 1000.0)
            per["tasks"].append(sum(st["num_tasks"] for st in spmv))
            per["skew"].append(skew(spmv))
            per["wait"].append(ar - longest / 1000.0)
        else:
            busiest = max(eng_stages, key=lambda s: s["executor_run_ms"], default=None)
            per["skew"].append(skew([busiest]) if busiest else 0.0)
    csr, df = mode == "csr", mode == "dataframe"
    med = lambda key, on: _median(per[key]) if on else 0.0  # noqa: E731
    m["csr.broadcast_s"] = med("bcast", csr)
    m["csr.spmv_job_s"] = med("arrow", csr)
    m["csr.task_busy_s"] = med("busy", csr)
    m["csr.task_skew"] = med("skew", csr)
    m["csr.tasks_per_iter"] = med("tasks", csr)
    m["csr.sched_wait_s"] = med("wait", csr)
    m["csr.pull_bytes_per_iter"] = med("pull", csr)
    m["csr.merge_s"] = med("merge", csr)
    m["csr.shuffle_write_records_per_iter"] = med("swr", csr)
    m["dataframe.iter_s"] = _median(iter_s) if df else 0.0
    m["dataframe.jobs_per_iter"] = med("jobs", df)
    m["dataframe.shuffle_write_records_per_iter"] = med("swr", df)
    m["dataframe.shuffle_write_bytes_per_iter"] = med("swb", df)
    m["dataframe.task_skew"] = med("skew", df)

    ckpt_writes = [s for w in windows for s in w["post"]["checkpoint"]
                   if s["name"] == "catalog.write"]
    m["catalog.checkpoint_s"] = _median(
        sum(_dur(s) for s in w["post"]["checkpoint"]) for w in windows)
    m["catalog.checkpoint_bytes"] = _median(s["attrs"]["bytes"] for s in ckpt_writes)
    m["catalog.files_per_checkpoint"] = _median(s["attrs"]["files"] for s in ckpt_writes)
    logs = [s for s in spans if s["name"] == "lineage.log_iteration"]
    counts = [s for s in spans if s["name"] == "lineage.partition_counts"]
    m["lineage.log_s"] = _median(_dur(s) for s in logs)
    m["lineage.partition_counts_s"] = _median(_dur(s) for s in counts)
    m["lineage.dirs_per_run"] = sum(
        1 for s in spans if s["name"] == "catalog.write" and s["attrs"]["table"] == "lineage")
    m["lineage.rows_shuffled_reported"] = _median(s["attrs"]["rows_shuffled"] for s in logs)
    m["cli.output_write_s"] = sum(
        _dur(s) for s in _children(spans, root)
        if s["name"] == "io.write_parquet" and s["attrs"]["path"] == cli_output)

    # every user-paid iteration must be covered by engine + checkpoint +
    # lineage spans; report the worst gap
    gaps = []
    for i, w in enumerate(windows):
        g = w["post"]
        wall = w["user"][1] - w["user"][0]
        acct = iter_s[i] + sum(_dur(s) for s in g["checkpoint"] + g["lineage"])
        gaps.append(abs(wall - acct) / wall * 100.0 if wall > 0 else 0.0)
    m["trace.iter_unaccounted_pct"] = max(gaps)
    selfs = _self_times(spans, windows, mode)
    for lay in ("cli", "session", "pagerank", "csr", "dataframe", "catalog",
                "lineage", "unattributed"):
        m[f"self_s.{lay}"] = selfs.get(lay, 0.0)
    m["trace.unattributed_pct"] = selfs.get("unattributed", 0.0) / tts * 100.0
    return m


def attach_status(record: dict) -> dict:
    """The spans file: spans, plus each status-store job and stage as a child
    of the innermost span whose interval contains it."""
    spans = record["spans"]
    by_id = {s["id"]: s for s in spans}

    def depth(sp):
        d = 0
        while sp["parent"] is not None:
            sp, d = by_id[sp["parent"]], d + 1
        return d

    depths = {s["id"]: depth(s) for s in spans}

    def parent_of(ev):
        if ev["start"] is None or ev["end"] is None:
            return None
        holders = [s for s in spans if s["start"] - SLACK_S <= ev["start"]
                   and ev["end"] <= s["end"] + SLACK_S]
        return max(holders, key=lambda s: depths[s["id"]])["id"] if holders else None

    events = [{"kind": "job", **j, "parent": parent_of(j)} for j in record["jobs"]]
    events += [{"kind": "stage", **s, "parent": parent_of(s)} for s in record["stages"]]
    return {"time_to_solution_s": record["time_to_solution_s"],
            "result": record["result"], "spans": spans, "status": events}
