from __future__ import annotations

import contextlib
import json
import os

import numpy as np
import pyarrow as pa
import pytest

from pagerank_spark.algorithms.pagerank import PageRank
from pagerank_spark.lineage import LINEAGE_SCHEMA, LineageWriter
from pagerank_spark.oracle import pagerank_numpy
from pagerank_spark.sources.graphfile import edges_from_numpy
from pagerank_spark.tables import Catalog
from pagerank_spark.tables.catalog import CommitConflictError


@pytest.fixture
def cat(tmp_path):
    return Catalog(str(tmp_path / "wh"))


def test_write_read_roundtrip(spark, cat):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string")
    meta = cat.write(df, "t", bucket_by=(4, "id"))
    assert meta.snapshot_id == 0
    assert meta.partition_spec["bucket"] == {"n": 4, "column": "id"}
    back = cat.read(spark, "t")
    assert back.count() == 100
    assert sorted(r["id"] for r in back.collect()) == list(range(100))


def test_snapshot_isolation_and_time_travel(spark, cat):
    df1 = spark.createDataFrame([(1,)], "id long")
    df2 = spark.createDataFrame([(2,)], "id long")
    cat.write(df1, "t")
    cat.write(df2, "t")  # overwrite
    assert cat.read(spark, "t").collect()[0]["id"] == 2
    assert cat.read(spark, "t", snapshot_id=0).collect()[0]["id"] == 1
    assert cat.snapshots("t") == [0, 1]


def test_append_mode(spark, cat):
    cat.write(spark.createDataFrame([(1,)], "id long"), "t")
    cat.write(spark.createDataFrame([(2,)], "id long"), "t", mode="append")
    assert sorted(r["id"] for r in cat.read(spark, "t").collect()) == [1, 2]


def test_torn_commit_invisible(spark, cat):
    """A crash after data write but before pointer flip leaves the old
    snapshot current (commit protocol)."""
    cat.write(spark.createDataFrame([(1,)], "id long"), "t")
    # simulate a torn commit: orphan data dir + manifest, pointer untouched
    orphan = os.path.join(cat.warehouse, "t", "data", "snap-99-dead")
    os.makedirs(orphan)
    with open(os.path.join(cat.warehouse, "t", "metadata", "v99.json"), "w") as f:
        json.dump({"snapshot_id": 99, "schema_json": "{}", "data_dir": "data/snap-99-dead"}, f)
    assert cat.current_meta("t").snapshot_id == 0
    assert cat.read(spark, "t").collect()[0]["id"] == 1


def test_resume_matches_uninterrupted(spark, cat, golden):
    arr, n, expected = golden
    edges = edges_from_numpy(spark, arr)
    # run 1: stop after 3 iterations (simulated kill), checkpointing each one
    PageRank(max_iter=3, catalog=cat).run(edges, n, run_id="r1")
    assert cat.exists("pagerank_ckpt_r1")
    # run 2: resume -> continues from iteration 3, converges at 7
    res = PageRank(catalog=cat).run(edges, n, run_id="r1", resume=True)
    assert res.iterations == 7
    got = np.zeros(n)
    for r in res.ranks.collect():
        got[r["id"]] = r["rank"]
    np.testing.assert_allclose(got, expected, atol=1e-6)


def test_resume_rejects_vector_checkpoint_with_clear_error(spark, cat, golden):
    """A checkpoint written by a vector-mode run (csr: bare (id, rank),
    summary={iteration}) must make a dataframe/broadcast-mode resume fail
    LOUD with a mode-mismatch message — not a KeyError('dmass') deep inside
    _df_iteration (round-4 ADVICE)."""
    arr, n, _ = golden
    edges = edges_from_numpy(spark, arr)
    PageRank(max_iter=2, mode="csr", catalog=cat).run(edges, n, run_id="mix")
    with pytest.raises(ValueError, match="vector-mode"):
        PageRank(mode="dataframe", catalog=cat).run(
            edges, n, run_id="mix", resume=True
        )


def test_resume_vector_uses_arrow_not_collect(spark, cat, golden):
    """The csr/vector resume path must rebuild the rank vector via an Arrow
    batch transfer, never a per-row collect() (O(n) Row objects on the
    driver). collect() is poisoned for the duration; the resume must still
    succeed and return the checkpointed vector."""
    from pyspark.sql import DataFrame

    arr, n, expected = golden
    edges = edges_from_numpy(spark, arr)
    pr = PageRank(max_iter=3, mode="csr", catalog=cat)
    pr.run(edges, n, run_id="rv")

    def boom(self):
        raise AssertionError("per-row collect() on the resume path")

    orig = DataFrame.collect
    DataFrame.collect = boom
    try:
        resumed = pr._try_resume_vector(spark, "rv", n)
    finally:
        DataFrame.collect = orig
    assert resumed is not None
    pi, it = resumed
    assert it == 3
    assert pi.shape == (n,) and float(np.abs(pi).sum()) > 0.0


def test_lineage_rows(spark, cat, golden):
    arr, n, _ = golden
    edges = edges_from_numpy(spark, arr)
    lin = LineageWriter(spark, cat, per_partition=True)
    PageRank(catalog=cat, lineage=lin).run(edges, n, run_id="lrun")
    rows = lin.read("lrun").collect()
    aggs = [r for r in rows if r["partition_id"] == -1]
    assert len(aggs) == 7  # one per iteration
    assert all(r["rows_shuffled"] == 5000 for r in aggs)
    deltas = [r["residual_l1"] for r in sorted(aggs, key=lambda r: r["iteration"])]
    assert all(d2 < d1 for d1, d2 in zip(deltas, deltas[1:]))
    assert [r["snapshot"] for r in aggs] == [str(i) for i in range(7)] or all(
        r["snapshot"] is not None for r in aggs
    )
    # per-partition rows exist
    assert any(r["partition_id"] >= 0 for r in rows)


def test_expire_snapshots_keeps_referenced_data(spark, tmp_path):
    """Expiry deletes old manifests + unreferenced data dirs (including a
    planted crashed-commit orphan) but never anything a retained snapshot
    references — append chains keep their full file history; time travel
    within the retained window still works; current survives keep_last=1."""
    import os

    from pagerank_spark.tables.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    df = lambda lo: spark.range(lo, lo + 5)
    cat.write(df(0), "t")                      # snap 0 (overwrite)
    cat.write(df(10), "t", mode="append")      # snap 1 references snap 0's files
    cat.write(df(20), "t", mode="append")      # snap 2 references 0+1
    cat.write(df(30), "t")                     # snap 3 (fresh overwrite)
    cat.write(df(40), "t", mode="append")      # snap 4 references 3
    # planted orphan from a "crashed" commit (pointer never flipped)
    orphan = tmp_path / "wh" / "t" / "data" / "snap-99-deadbeef"
    os.makedirs(orphan)
    (orphan / "junk.parquet").write_bytes(b"x")

    # default TTL: the young orphan dir is indistinguishable from a
    # concurrent in-flight write and must survive; committed ancestors
    # beyond keep_last expire immediately regardless
    res0 = cat.expire_snapshots("t", keep_last=2)
    assert res0["expired_snapshots"] == [0, 1, 2]
    assert not any("snap-99" in d for d in res0["deleted_dirs"])
    assert (orphan / "junk.parquet").exists()

    # ttl=0 (explicit single-writer declaration): crash debris goes
    res = cat.expire_snapshots("t", keep_last=2, orphan_ttl_s=0)
    assert sorted(res["kept_snapshots"]) == [3, 4]
    assert any("snap-99" in d for d in res["deleted_dirs"])
    # retained snapshots fully readable (append chain intact)
    assert cat.read(spark, "t").count() == 10
    assert cat.read(spark, "t", snapshot_id=3).count() == 5
    # expired manifests gone
    assert cat.snapshots("t") == [3, 4]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.snapshot_meta("t", 0)
    with _pytest.raises(ValueError):
        cat.expire_snapshots("t", keep_last=0)

    # keep_last=1 never deletes current
    res2 = cat.expire_snapshots("t", keep_last=1)
    assert res2["kept_snapshots"] == [4]
    assert cat.read(spark, "t").count() == 10  # snap 4 still references snap 3's files


def test_expire_dangling_manifest_no_keep_slot(spark, tmp_path):
    """A manifest from a crash between manifest write and pointer flip has
    an id ABOVE current but was never committed: it must not consume a
    keep_last slot (retention walks the parent chain from current, not
    top-N ids), it survives expiry while young (concurrent-writer safety),
    and ttl=0 expires it together with its data dir."""
    import json as _json
    import os

    from pagerank_spark.tables.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    for lo in (0, 10, 20):
        cat.write(spark.range(lo, lo + 5), "t")  # committed snaps 0,1,2
    # dangling snapshot 99: data dir + manifest written, pointer never flipped
    dangling = tmp_path / "wh" / "t" / "data" / "snap-99-dead"
    os.makedirs(dangling)
    (dangling / "junk.parquet").write_bytes(b"x")
    with open(tmp_path / "wh" / "t" / "metadata" / "v99.json", "w") as f:
        _json.dump({
            "snapshot_id": 99, "parent_id": 2, "schema_json": "{}",
            "data_dir": "data/snap-99-dead",
            "timestamp_ms": 0,  # ancient: past any TTL
            "summary": {"data_dirs": _json.dumps(["data/snap-99-dead"])},
        }, f)

    res = cat.expire_snapshots("t", keep_last=2)
    # both committed keep slots go to the chain from current (1, 2) — the
    # dangling 99 takes none, and being ancient it is itself expired
    assert sorted(res["kept_snapshots"]) == [1, 2]
    assert 99 in res["expired_snapshots"] and 0 in res["expired_snapshots"]
    assert any("snap-99" in d for d in res["deleted_dirs"])
    assert cat.current_meta("t").snapshot_id == 2
    assert cat.read(spark, "t", snapshot_id=1).count() == 5

    # a YOUNG dangling manifest is retained along with its data dir
    with open(tmp_path / "wh" / "t" / "metadata" / "v100.json", "w") as f:
        _json.dump({
            "snapshot_id": 100, "parent_id": 2, "schema_json": "{}",
            "data_dir": "data/snap-100-live",
            "timestamp_ms": int(__import__("time").time() * 1000),
            "summary": {"data_dirs": _json.dumps(["data/snap-100-live"])},
        }, f)
    live = tmp_path / "wh" / "t" / "data" / "snap-100-live"
    os.makedirs(live)
    (live / "part.parquet").write_bytes(b"y")
    res2 = cat.expire_snapshots("t", keep_last=2)
    assert 100 not in res2["expired_snapshots"]
    assert (live / "part.parquet").exists()


def test_concurrent_write_conflict_detected(spark, cat):
    """Two writers that both read parent snapshot k must NOT both claim
    k+1: the second manifest create has to fail loudly (CommitConflictError)
    with the winner's committed manifest and pointer untouched — never a
    silent clobber where both callers report success (VERDICT r4 #8)."""
    from pagerank_spark.tables.catalog import CommitConflictError

    cat.write(spark.range(5), "t")  # snapshot 0, current -> 0
    # simulate the racing writer having claimed v1 first (manifest created,
    # pointer flip may or may not have landed yet — claim alone must win)
    winner = cat.write(spark.range(10, 15), "t")  # snapshot 1
    assert winner.snapshot_id == 1
    before = open(cat._pointer("t")).read()
    # force the loser to recompute id 1: point it at the stale parent by
    # racing through the real API — rewind the pointer to 0 as the loser
    # would have seen it before the winner's flip
    with open(cat._pointer("t"), "w") as f:
        json.dump({"current": 0}, f)
    with pytest.raises(CommitConflictError, match="snapshot 1"):
        cat.write(spark.range(99, 104), "t")
    # winner's manifest survived unclobbered; loser changed nothing
    assert cat.snapshot_meta("t", 1).snapshot_id == 1
    assert sorted(r["id"] for r in cat.read(spark, "t", snapshot_id=1).collect()) == [
        10, 11, 12, 13, 14,
    ]
    with open(cat._pointer("t"), "w") as f:
        f.write(before)
    assert cat.current_meta("t").snapshot_id == 1


def test_concurrent_write_threads_one_wins(spark, cat):
    """True interleaving: N threads commit to the same table at once.
    Every failure must be a CommitConflictError, at least one commit wins,
    snapshot ids of winners are distinct, and the final current snapshot
    reads back as exactly one thread's payload (no torn/merged state)."""
    import threading

    from pagerank_spark.tables.catalog import CommitConflictError

    cat.write(spark.range(1), "t")
    results: dict[int, object] = {}
    barrier = threading.Barrier(4)

    def commit(k: int):
        barrier.wait()
        try:
            results[k] = cat.write(
                spark.range(k * 100, k * 100 + 5), "t", summary={"writer": str(k)}
            ).snapshot_id
        except CommitConflictError as e:
            results[k] = e

    threads = [threading.Thread(target=commit, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = {k: v for k, v in results.items() if isinstance(v, int)}
    losses = {k: v for k, v in results.items() if not isinstance(v, int)}
    assert wins, f"no writer committed: {results}"
    assert all(isinstance(v, CommitConflictError) for v in losses.values())
    assert len(set(wins.values())) == len(wins)  # distinct snapshot ids
    cur = cat.current_meta("t")
    w = int(cur.summary["writer"])
    assert w in wins
    got = sorted(r["id"] for r in cat.read(spark, "t").collect())
    assert got == list(range(w * 100, w * 100 + 5))


# -- driver-side (pyarrow.Table) commits -------------------------------------

LINEAGE_DDL = (
    "run_id string, iteration int, partition_id int, rows_shuffled long, "
    "residual_l1 double, wall_time_s double, snapshot string, extra string"
)


@contextlib.contextmanager
def job_group(spark, name):
    """Run the body in Spark job group ``name``; yields a function returning
    the ids of the jobs started in the group so far."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def zipf_graph(n=400, m=3000, seed=5):
    """Small skewed graph with dangling sources (a third of the ids never
    appear as a source) and no self-loops."""
    rng = np.random.default_rng(seed)
    src = rng.integers(0, 2 * n // 3, size=m)
    dst = (rng.zipf(1.5, size=m) - 1) % n
    arr = np.stack([src, dst], axis=1).astype(np.int64)
    return arr[arr[:, 0] != arr[:, 1]], n


def test_arrow_write_roundtrip_same_schema_as_dataframe_path(spark, cat):
    tbl = pa.table({
        "id": np.arange(50, dtype=np.int64),
        "rank": np.linspace(0.0, 1.0, 50),
        "name": [f"v{i}" for i in range(50)],
    })
    meta = cat.write(tbl, "arrow", summary={"iteration": 4})
    assert meta.summary["iteration"] == 4 and meta.partition_spec == {}
    data_dir = os.path.join(cat.warehouse, "arrow", meta.data_dir)
    assert os.listdir(data_dir) == ["part-00000.parquet"]
    back = cat.read(spark, "arrow").toArrow().sort_by("id")
    assert back.equals(tbl)
    assert meta.schema_json == cat.write(spark.createDataFrame(tbl), "df").schema_json

    rows = [("r", 1, -1, 7, 0.5, 0.25, None, "{}")]
    lin = pa.Table.from_pylist(
        [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows], schema=LINEAGE_SCHEMA)
    assert (cat.write(lin, "lin_arrow").schema_json
            == cat.write(spark.createDataFrame(rows, LINEAGE_DDL), "lin_df").schema_json)


def test_arrow_write_and_log_iteration_start_no_spark_job(spark, cat):
    tbl = pa.table({"id": np.arange(10, dtype=np.int64), "rank": np.ones(10)})
    lin = LineageWriter(spark, cat)
    with job_group(spark, "arrow-commit-no-job") as jobs:
        cat.write(tbl, "t")
        cat.write(tbl, "t", mode="append")
        lin.log_iteration("r", 1, rows_shuffled=0, residual_l1=0.1, wall_time_s=0.2)
        lin.log_iteration("r", 2, rows_shuffled=0, residual_l1=0.01, wall_time_s=0.2,
                          snapshot="2", partition_counts=[(0, 3), (1, 4)])
        assert jobs() == []
        spark.range(3).count()  # the group does see a job that runs
        assert len(jobs()) >= 1
    assert cat.read(spark, "t").count() == 20


def test_lineage_spark_snapshot_then_arrow_appends_read_as_one(spark, cat):
    lin = LineageWriter(spark, cat)
    first = spark.createDataFrame(
        [("old", 1, -1, 100, 0.5, 1.5, "0", "{}")], LINEAGE_DDL)
    cat.write(first, "lineage")  # written by Spark, as older engines did
    lin.log_iteration("new", 1, rows_shuffled=0, residual_l1=0.25, wall_time_s=0.5,
                      snapshot="3", extra={"mode": "csr"})
    lin.log_iteration("new", 2, rows_shuffled=0, residual_l1=0.125, wall_time_s=0.5,
                      partition_counts=[(0, 9)])
    df = lin.read()
    assert df.schema == spark.createDataFrame([], LINEAGE_DDL).schema
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("new", 1, -1, 0, 0.25, 0.5, "3", '{"mode": "csr"}'),
        ("new", 2, -1, 0, 0.125, 0.5, None, "{}"),
        ("new", 2, 0, 9, 0.125, 0.5, None, "{}"),
        ("old", 1, -1, 100, 0.5, 1.5, "0", "{}"),
    ]
    assert lin.read("old").count() == 1
    assert len(json.loads(cat.current_meta("lineage").summary["data_dirs"])) == 3


@pytest.mark.parametrize("kw", [{"bucket_by": (4, "id")}, {"partition_by": ["id"]}])
def test_arrow_write_rejects_layout_options(cat, kw):
    tbl = pa.table({"id": np.arange(4, dtype=np.int64)})
    with pytest.raises(ValueError, match="pyarrow.Table"):
        cat.write(tbl, "t", **kw)
    assert not cat.exists("t")


def test_csr_resume_from_arrow_checkpoint_matches_oracle(spark, cat):
    arr, n = zipf_graph()
    want, want_iters, _ = pagerank_numpy(arr, n)
    edges = edges_from_numpy(spark, arr)
    first = PageRank(max_iter=3, mode="csr", catalog=cat).run(edges, n, run_id="cres")
    assert first.iterations == 3 < want_iters
    meta = cat.current_meta("pagerank_ckpt_cres")
    assert meta.summary["iteration"] == 3
    assert os.listdir(os.path.join(cat.warehouse, "pagerank_ckpt_cres", meta.data_dir)) == [
        "part-00000.parquet"]
    res = PageRank(mode="csr", catalog=cat).run(edges, n, run_id="cres", resume=True)
    assert res.iterations == want_iters
    got = res.ranks.toArrow().sort_by("id").column("rank").to_numpy()
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_lineage_rows_shuffled_csr_zero_dataframe_edge_count(spark, cat):
    arr, n = zipf_graph(seed=11)
    edges = edges_from_numpy(spark, arr)
    lin = LineageWriter(spark, cat)
    for mode in ("csr", "dataframe"):
        PageRank(mode=mode, max_iter=4, lineage=lin).run(edges, n, run_id=mode)
    rows = {mode: lin.read(mode).collect() for mode in ("csr", "dataframe")}
    assert [r["rows_shuffled"] for r in rows["csr"]] == [0] * 4
    assert [r["rows_shuffled"] for r in rows["dataframe"]] == [arr.shape[0]] * 4
    assert all(json.loads(r["extra"])["mode"] == "csr" for r in rows["csr"])


def test_resume_rejects_missing_non_dangling_before_any_spark_job(spark, cat):
    """A checkpoint whose summary looks like dataframe state but whose data
    lacks non_dangling fails before the O(V) repartition + localCheckpoint."""
    n = 20
    cat.write(
        pa.table({"id": np.arange(n, dtype=np.int64), "rank": np.full(n, 1.0 / n)}),
        "pagerank_ckpt_nd",
        summary={"iteration": 2, "dmass": 0.1, "total": 1.0},
    )
    with job_group(spark, "resume-non-dangling") as jobs:
        with pytest.raises(ValueError, match="non_dangling"):
            PageRank(mode="dataframe", catalog=cat)._try_resume(spark, "nd", 8)
        assert jobs() == []


def test_commit_conflict_message_names_orphan_remedy(cat):
    tbl = pa.table({"id": np.arange(3, dtype=np.int64)})
    cat.write(tbl, "t")
    # an orphaned claim: v1.json exists, its writer died before the flip
    with open(os.path.join(cat._meta_dir("t"), "v1.json"), "w") as f:
        json.dump({"snapshot_id": 1, "parent_id": 0, "schema_json": "{}",
                   "data_dir": "data/snap-1-dead", "timestamp_ms": 0}, f)
    with pytest.raises(CommitConflictError) as exc:
        cat.write(tbl, "t")
    msg = str(exc.value)
    assert "snapshot 1" in msg and "orphan" in msg
    assert "expire_snapshots('t')" in msg
    assert f"vacuum --warehouse-dir {cat.warehouse}" in msg
    # the remedy works: past the TTL the orphan goes and the retry commits
    cat.expire_snapshots("t", orphan_ttl_s=0)
    assert cat.write(tbl, "t").snapshot_id == 1
