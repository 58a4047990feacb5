"""Benchmark workloads, their seeded inputs, and the oracle ranks they are checked against.

Every workload runs ``pagerank_spark.cli pagerank`` on a Zipf(1.5)
destination graph with 30 % dangling vertices, the shape
``pagerank_spark.sources.synthetic.synthetic_edges`` produces. The generator
lives here, not in the engine, so a change to ``synthetic_edges`` cannot
change what the benchmark measures.

Inputs (parquet edges) and oracle results are written once per
(graph, seed) under the cache directory and reused; neither step is timed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

ZIPF_A = 1.5
DANGLING_FRAC = 0.3
EDGE_FILES = 8
# graphs kept in the cache; the oldest are evicted beyond this
CACHE_KEEP = 24


@dataclass(frozen=True)
class Workload:
    name: str
    n: int
    m: int
    eps: float
    cli_args: tuple[str, ...]  # pagerank flags on top of --edges/--n/--eps/--output
    durable: bool  # True: the CLI default warehouse (checkpoint + lineage)

    @property
    def graph_key(self) -> str:
        return f"n{self.n}-m{self.m}"


WORKLOADS = {
    w.name: w
    for w in (
        # pack + SpMV kernel: O(m) work per iteration, 0.8 MB rank vector,
        # no checkpoint or lineage
        Workload("csr_edge_heavy", 100_000, 8_000_000, 7e-7,
                 ("--mode", "auto"), durable=False),
        # the CLI defaults: O(n) phases per iteration (broadcast, Arrow pull,
        # driver merge, vector checkpoint, lineage) dominate a small kernel
        Workload("csr_wide_durable", 200_000, 4_000_000, 5e-3,
                 ("--mode", "auto"), durable=True),
        # same graph and settings through the join/shuffle iteration
        Workload("df_wide_durable", 200_000, 4_000_000, 5e-3,
                 ("--mode", "dataframe"), durable=True),
    )
}


def generate_edges(n: int, m: int, seed: int) -> np.ndarray:
    """(m, 2) int64 edges: src uniform over the non-dangling prefix
    [0, 0.7 n), dst = (Zipf(1.5) - 1) mod n. Same (n, m, seed), same edges."""
    rng = np.random.default_rng([seed, n, m])
    src_hi = max(1, int(n * (1.0 - DANGLING_FRAC)))
    edges = np.empty((m, 2), dtype=np.int64)
    edges[:, 0] = rng.integers(0, src_hi, size=m, dtype=np.int64)
    edges[:, 1] = (rng.zipf(ZIPF_A, size=m).astype(np.int64) - 1) % n
    return edges


def _write_edges(edges: np.ndarray, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    bounds = np.linspace(0, edges.shape[0], EDGE_FILES + 1).astype(np.int64)
    for i in range(EDGE_FILES):
        part = edges[bounds[i] : bounds[i + 1]]
        pq.write_table(
            pa.table({"src": part[:, 0], "dst": part[:, 1]}),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


@dataclass
class Inputs:
    edges_dir: str
    oracle_ranks: np.ndarray
    oracle_iterations: int


def prepare(cache_dir: str, w: Workload, seed: int) -> Inputs:
    """Edges parquet + oracle ranks for (workload, seed), built on first use."""
    from pagerank_spark.oracle import pagerank_numpy

    gdir = os.path.join(cache_dir, f"{w.graph_key}-s{seed}")
    edges_dir = os.path.join(gdir, "edges")
    oracle_path = os.path.join(gdir, f"oracle-eps{w.eps:g}.npz")
    edges = None
    if not os.path.isdir(edges_dir):
        edges = generate_edges(w.n, w.m, seed)
        tmp = gdir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_edges(edges, os.path.join(tmp, "edges"))
        os.makedirs(os.path.dirname(gdir), exist_ok=True)
        os.replace(tmp, gdir)
        _evict(cache_dir, keep=gdir)
    if not os.path.exists(oracle_path):
        if edges is None:
            edges = generate_edges(w.n, w.m, seed)
        ranks, iterations, _ = pagerank_numpy(edges, w.n, eps=w.eps)
        tmp = oracle_path + ".tmp.npz"
        np.savez(tmp, ranks=ranks, iterations=iterations)
        os.replace(tmp, oracle_path)
    os.utime(gdir)
    with np.load(oracle_path) as z:
        return Inputs(edges_dir, z["ranks"].copy(), int(z["iterations"]))


def _evict(cache_dir: str, keep: str) -> None:
    dirs = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if not d.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[: max(0, len(dirs) - CACHE_KEEP)]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def check_ranks(out_dir: str, inputs: Inputs, iterations: int) -> str | None:
    """None when the CLI's ranks match the oracle, else why they do not."""
    import pyarrow.parquet as pq

    want = inputs.oracle_ranks
    if iterations != inputs.oracle_iterations:
        return f"iterations {iterations} != oracle {inputs.oracle_iterations}"
    tbl = pq.read_table(out_dir, columns=["id", "rank"])
    ids = tbl.column("id").to_numpy()
    rank = tbl.column("rank").to_numpy()
    order = np.argsort(ids, kind="stable")
    ids, rank = ids[order], rank[order]
    if ids.shape[0] != want.shape[0] or not np.array_equal(ids, np.arange(want.shape[0])):
        return f"ids are not exactly 0..{want.shape[0] - 1}"
    total = float(rank.sum())
    if abs(total - 1.0) > 1e-9:
        return f"ranks sum to {total!r}, not 1"
    n = want.shape[0]
    if not np.allclose(rank, want, rtol=1e-6, atol=1e-6 / n):
        worst = float(np.max(np.abs(rank - want)))
        return f"ranks differ from the oracle by up to {worst:.3g}"
    return None

