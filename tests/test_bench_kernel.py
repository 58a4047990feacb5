"""bench_kernel.py parity: the standalone attribution kernel must compute
byte-identical contributions to the engine's csr:files pack semantics.

The scaling attribution in BENCH/BASELINE.md rests on bench_kernel running
"the byte-identical spmv_files loop" — this pins that claim: pack a small
hub-skewed graph with the engine, replay the pack through
bench_kernel.run_shard_acc per block, reconstruct the full contribution
vector (interleaved stripes + hub partial sums, exactly like
PageRank._iterate_csr's driver merge), and compare against the numpy
ground truth contrib[dst] += pi[src]/outdeg[src].
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import bench_kernel
from pagerank_spark.algorithms.pagerank import PageRank


@pytest.fixture()
def packed_graph(spark, tmp_path):
    """Pack a deterministic graph with a planted hub (indeg 600 > the
    m/(4*nblocks) hub threshold) so the hub-slot routing path is exercised,
    plus enough repeated sources that some files take the RLE branch."""
    rng = np.random.default_rng(7)
    n = 500
    base = rng.integers(0, n, size=(5000, 2), dtype=np.int64)
    hub_src = rng.integers(0, n, size=600, dtype=np.int64)
    hub = np.stack([hub_src, np.full(600, 3, dtype=np.int64)], axis=1)
    arr = np.concatenate([base, hub])
    arr = arr[arr[:, 0] != arr[:, 1]]
    edges = spark.createDataFrame(
        [(int(s), int(d)) for s, d in arr], "src long, dst long"
    )
    scratch = str(tmp_path / "pack")
    PageRank(
        mode="csr", csr_storage="files", max_iter=1, eps=0.0,
        scratch_dir=scratch, num_blocks=8,
    ).run(edges, n)
    return arr, n, scratch


def test_kernel_contributions_match_numpy_ground_truth(packed_graph):
    arr, n, scratch = packed_graph
    with open(os.path.join(scratch, "manifest.json")) as fh:
        man = json.load(fh)
    nblocks = int(man["nblocks"])
    bs = int(man["block_size"])
    assert int(man["n"]) == n and int(man["m"]) == arr.shape[0]
    hub_ids = np.load(os.path.join(scratch, "hub_ids.npy"))
    assert hub_ids.shape[0] >= 1  # the planted hub must be split
    outdeg = np.load(os.path.join(scratch, "outdeg.npy"))

    # ground truth: contrib[dst] += pi[src] / outdeg[src], pi = 1/n
    pi = np.full(n, 1.0 / n)
    rw = pi / np.where(outdeg > 0, outdeg, 1.0)
    rw[outdeg == 0] = 0.0
    truth = np.zeros(n)
    np.add.at(truth, arr[:, 1], rw[arr[:, 0]])

    # replay the pack through the attribution kernel, block by block,
    # and reconstruct exactly like _iterate_csr's driver merge
    bench_kernel._init(scratch, None)
    by_block: dict[int, list[str]] = {}
    for b, p in man["files"]:
        by_block.setdefault(int(b), []).append(p)
    contrib = np.zeros(n)
    total_edges = 0
    for b, paths in by_block.items():
        edges_seen, _, a = bench_kernel.run_shard_acc(paths)
        total_edges += edges_seen
        stripe = contrib[b::nblocks]
        s_len = stripe.shape[0]
        stripe += a[:s_len]
        if hub_ids.shape[0]:
            contrib[hub_ids] += a[bs : bs + hub_ids.shape[0]]
    assert total_edges == arr.shape[0]
    np.testing.assert_allclose(contrib, truth, rtol=0, atol=1e-14)


def test_kernel_checksum_shard_api(packed_graph):
    _, _, scratch = packed_graph
    with open(os.path.join(scratch, "manifest.json")) as fh:
        man = json.load(fh)
    bench_kernel._init(scratch, None)
    paths = [p for _, p in man["files"]]
    edges, wall, checksum = bench_kernel._run_shard(paths)
    assert edges == int(man["m"])
    assert wall >= 0.0 and np.isfinite(checksum) and checksum > 0.0


def test_sub_chunk_override_is_honoured(packed_graph):
    """An explicit sub-chunk length is used as given (not dropped for being
    small) and gives the same accumulators as the default length."""
    _, _, scratch = packed_graph
    with open(os.path.join(scratch, "manifest.json")) as fh:
        man = json.load(fh)
    paths = [p for _, p in man["files"]]
    bench_kernel._init(scratch, None)
    _, _, want = bench_kernel.run_shard_acc(paths)
    bench_kernel._init(scratch, 7)
    _, _, got = bench_kernel.run_shard_acc(paths)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-15)


@pytest.mark.parametrize("value", ["0", "-3"])
def test_sub_chunk_below_one_rejected(value, capsys):
    with pytest.raises(SystemExit) as exc:
        bench_kernel.main(["--pack", "unused", "--sub-chunk", value])
    assert exc.value.code == 2
    assert "--sub-chunk: must be >= 1" in capsys.readouterr().err
