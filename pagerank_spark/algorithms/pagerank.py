"""PageRank power iteration, Spark-first.

Semantics match the reference engine exactly (golden-validated; see
/root/reference/Pagerank/src/pagerank32c.c:413-533 and SURVEY.md §0):

    pi_0      = 1/n
    pi_{k+1}[i] = c * ( sum_{j->i} pi_k[j]/outdeg(j)  +  danglingMass_k / n )
                  + (1-c)/n * totalMass_k
    stop when L1(pi_{k+1} - pi_k) < eps   (reference `delta < eps`,
                                           src/pagerank32c.c:858)
    final L1 normalize                     (getPagrnk_*, :771-785)

The Google matrix is never materialized: dangling rows and the teleport
rank-1 term are the two scalars the reference folds algebraically
(srcUnroll/pagerank32c.c:455-459). totalMass is carried exactly (it is 1.0 in
exact arithmetic; tracking it reproduces the reference's matrix-vector product
bit-for-bit to within fp tolerance).

Three physical strategies:

- ``mode="dataframe"`` — the fully distributed path: the SpMV is the
  edges⋈ranks equi-join + groupBy(dst) sum (the distributed analog of the
  reference's column-strided `getVectorPik` kernel). Scales to any vertex
  count; ONE shuffle per iteration: the per-iteration state checkpoint is
  compiled with AQE disabled (util.static_plan) so the LogicalRDD records
  its hash(id) partitioning — under AQE, localCheckpoint captures
  UnknownPartitioning (the adaptive wrapper has no final plan yet), which
  silently costs 2 extra O(V) exchanges per iteration. With the
  partitioning kept, the contribution join reuses the edge cache's
  hash(src) × the state checkpoint's hash(id), the rank-update left join
  reuses hash(id) × the aggregate's hash(dst), and only the contribution
  groupBy exchanges data (map-side-combined partials). Per-iteration
  residual/dangling/total scalars come from ONE cheap scan over the
  checkpointed state (delta, next dangling mass, and total mass are fused
  into a single aggregate, mirroring the reference's fused `getDelta`
  copy+residual kernel).

- ``mode="broadcast"`` — the zero-shuffle path, all JVM-side: weighted
  edges are hash-partitioned by ``dst`` once and persisted; each iteration
  broadcast-hash-joins the non-dangling rank rows against them, aggregates
  by ``dst`` with NO exchange (the persisted partitioning already satisfies
  the aggregate's distribution requirement), and the rank-update join
  consumes hash(id) × hash(dst) — zero shuffle exchanges per iteration,
  entirely inside whole-stage codegen (audited by
  tests/test_plans.py::test_pagerank_broadcast_iteration_zero_shuffle).
  The rank state stays JVM-side (same checkpointed-state machinery as the
  dataframe mode); the driver pulls only the 3 per-iteration scalars
  (delta, dangling mass, total mass). Appropriate while the rank relation
  fits in a broadcast (~1e8 vertices); kept for API parity — csr dominates
  on throughput and is what `mode="auto"` picks at that vertex scale.

- ``mode="csr"`` — the throughput path: edges are blocked by interleaved
  destination stripes (``dst % nblocks``; hubs further split by src — see
  ``split_blocks``), packed once into binary cells (JVM cache) or
  executor-local files, then each iteration is a single map-only stage in
  which every task runs a NumPy scatter-add (partition-local CSR SpMV) over
  a broadcast rank vector, emitting one packed float64 partial block per
  task. Driver assembles the next vector. This is the SIMD analog of the
  reference's NASM kernels (getVectorPik_*.nasm): vectorized inner loop, no
  per-iteration shuffle. Measured 590M edges/s/iter on 8 cores at 1B edges.
  Appropriate while the rank vector fits in executor memory (~1e8-1e9
  vertices at 8 bytes each); beyond that, use "dataframe".
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from pagerank_spark import util as _util
from pagerank_spark.lineage import LineageWriter


# bump when the packed block-file layout changes: reuse_pack refuses to
# iterate over files written by an incompatible packer
PACK_FORMAT_VERSION = 2


def _read_exact(f, mv: memoryview) -> None:
    """Fill ``mv`` completely from ``f`` or raise.

    Raw (unbuffered) file objects may return short reads; a silent short read
    would leave stale bytes from the previous chunk in a reused buffer and
    corrupt the SpMV, so loop until full and fail loudly on EOF."""
    need = len(mv)
    got = 0
    while got < need:
        k = f.readinto(mv[got:])
        if not k:
            raise IOError(f"short read: wanted {need} bytes, got {got}")
        got += k


def _read_bytes(f, n: int) -> bytes:
    buf = bytearray(n)
    _read_exact(f, memoryview(buf))
    return bytes(buf)


def _block_aligned(df: DataFrame, nblocks: int, spark) -> DataFrame:
    """Repartition (block, ...) rows so partition i holds EXACTLY block i.

    Why not the obvious calls: hash repartition by "block" collides for a
    small key domain (several blocks on one task, others empty — iteration
    latency = the worst task), and repartitionByRange SAMPLES its child to
    pick boundaries, re-executing it — the pack stage writes block files as
    a side effect and must run exactly once. Instead, probe Spark's own
    Murmur3 to find, for each block b, a preimage key x_b with
    pmod(hash(x_b), nblocks) == b, and hash-repartition on the remapped key:
    one shuffle, no sampling, perfect one-block-per-task placement."""
    probe = (
        spark.range(0, max(4096, nblocks * 64))
        .select(
            F.col("id").alias("x"),
            F.pmod(F.hash(F.col("id")), F.lit(nblocks)).alias("p"),
        )
        .groupBy("p")
        .agg(F.min("x").alias("x"))
        .collect()
    )
    remap = {int(r["p"]): int(r["x"]) for r in probe}
    if len(remap) < nblocks:  # astronomically unlikely at 64x oversampling;
        return df.repartition(nblocks, "block")  # degrade to collisions
    mapping = F.create_map(
        *[
            lit
            for b in range(nblocks)
            for lit in (F.lit(b).cast("long"), F.lit(remap[b]).cast("long"))
        ]
    )
    return (
        df.withColumn("pkey", mapping[F.col("block")])
        .repartition(nblocks, "pkey")
        .drop("pkey")
    )


def _balanced(df: DataFrame, nblocks: int) -> DataFrame:
    """Round-robin repartition ONLY when the input partitioning is far from
    the target task count — a full shuffle of the edge set is the most
    expensive step of the pack phase, and pack is partition-agnostic (any
    task can emit chunks for any block), so an already-balanced input goes
    straight through as one pipelined stage."""
    p = df.rdd.getNumPartitions()
    if p < max(1, nblocks // 2) or p > nblocks * 4:
        return df.repartition(nblocks)
    return df


@dataclass
class PageRankResult:
    ranks: DataFrame          # (id: long, rank: double)
    iterations: int
    deltas: list[float]       # L1 residual per iteration
    run_id: str
    edges_per_sec_per_iter: float = 0.0
    iter_seconds: list[float] = field(default_factory=list)


class PageRank:
    def __init__(
        self,
        c: float = 0.85,
        eps: float = 1e-5,
        max_iter: int = 200,
        mode: str = "dataframe",
        checkpoint_interval: int = 1,
        catalog=None,
        lineage: LineageWriter | None = None,
        num_blocks: int | None = None,
        salt_partitions: int | None = None,
        csr_storage: str = "cells",
        scratch_dir: str | None = None,
        reuse_pack: bool = False,
        pack_key: str | None = None,
        initial_ranks: DataFrame | None = None,
        rank_dtype: str = "float64",
    ):
        self.c = c
        self.eps = eps
        self.max_iter = max_iter
        self.mode = mode
        self.checkpoint_interval = checkpoint_interval
        self.catalog = catalog
        self.lineage = lineage
        self.num_blocks = num_blocks
        # hub-skew mitigation: when set, the per-iteration contrib aggregation
        # runs as a salted two-stage sum (graph/skew.py) so no reduce task
        # owns more than 1/salt_partitions of a hot dst key's rows.
        self.salt_partitions = salt_partitions
        # csr_storage="cells": packed binary cells cached in the JVM (default;
        # no external storage needed). "files": blocks spilled once to .npy
        # files under scratch_dir — per-iteration data movement is then ONLY
        # the rank vector, the analog of executor-local shuffle files; demands
        # storage shared/local to executors (trivially true in local mode).
        self.csr_storage = csr_storage
        self.scratch_dir = scratch_dir
        # reuse_pack=True + scratch_dir: if scratch_dir holds a manifest from a
        # previous pack of the SAME graph, skip generation/degree/pack entirely
        # and iterate over the existing packed files (pack once, run many —
        # what the scaling bench uses so lo- and hi-parallelism configs read
        # identical bytes). The manifest records format version, n and
        # nblocks, which are validated; the edge CONTENT cannot be verified
        # without scanning it (which reuse exists to avoid), so callers who
        # can name their graph should pass pack_key (a seed/edge-count/
        # checksum string): it is stored in the manifest and a
        # present-but-different key on reuse is a hard error instead of
        # silently computing the wrong graph's ranks. A manifest without a
        # key (pre-key pack) triggers a one-time re-pack when a key is now
        # supplied.
        self.reuse_pack = reuse_pack
        self.pack_key = pack_key
        # warm start: (id, rank) to initialize the power iteration from —
        # the recrawl/delta-update path (re-rank an updated graph starting
        # from the previous crawl's ranks instead of 1/n). Ids absent from
        # the table (new pages) start at 1/n. The iteration conserves total
        # mass and the result is L1-normalized, so the fixed point is
        # IDENTICAL to a cold start — warm starting only changes how many
        # iterations convergence takes (1 when the graph didn't change).
        # catalog resume, when it fires, takes precedence (it is a later
        # snapshot of the same run). In the vector modes the table is
        # pulled to the driver via Arrow — the same O(n) footprint as the
        # rank vector those modes already hold.
        self.initial_ranks = initial_ranks
        # rank_dtype="float32" (csr modes only): the per-iteration rank
        # broadcast, the SpMV gather source, AND the contribution partials
        # pulled back from the executors are fp32 — half the O(V) vector
        # traffic in BOTH directions per iteration (the dominant cost once
        # the rank vector outgrows cache). ACCUMULATION STAYS fp64: the rank
        # vector itself, the per-block bincount partials, the driver-side
        # stripe merge, and the residual / dangling-mass scalars are all
        # double. Per iteration each value suffers one fp32 quantization of
        # r/outdeg plus one per contributing TASK partial — hub ids merge up
        # to nblocks independently quantized nonnegative partials, which
        # keeps the same ~6e-8 RELATIVE error (nonnegative terms can't
        # cancel) though not a literal single quantization — and the
        # test1.graph golden stays within its 1e-6 tolerance (parity test
        # pins this). This is the practical half of the reference's -single
        # mode (src/pagerank32c.c:933-938): its fp32 ACCUMULATION under
        # nondeterministic reduce order is what breaks 1e-6 reproducibility
        # (SURVEY §1.2), not the fp32 operand width. Ignored by the
        # dataframe/broadcast modes (their ranks live in Spark doubles).
        if rank_dtype not in ("float32", "float64"):
            raise ValueError(f"rank_dtype must be float32|float64, got {rank_dtype!r}")
        self.rank_dtype = np.float32 if rank_dtype == "float32" else np.float64

    def _init_vector(self, n: int) -> np.ndarray:
        """Initial rank vector for the driver-vector modes: uniform, or
        initial_ranks scattered over uniform (missing ids stay 1/n)."""
        pi = np.full(n, 1.0 / n)
        if self.initial_ranks is not None:
            t = self.initial_ranks.select(
                F.col("id").cast("long").alias("id"),
                F.col("rank").cast("double").alias("rank"),
            ).toArrow()
            ids = t.column("id").to_numpy()
            if len(ids) and (ids.min() < 0 or ids.max() >= n):
                raise ValueError("initial_ranks ids outside [0, n)")
            if len(ids) != len(np.unique(ids)):
                raise ValueError("initial_ranks contains duplicate ids")
            pi[ids] = t.column("rank").to_numpy()
        return pi

    def _validated_initial_ranks(self, n: int) -> DataFrame:
        """initial_ranks with the same hard errors the vector modes raise
        (out-of-range or duplicate ids) — a duplicate would silently emit
        two state rows through the warm-start left join and double-count
        that vertex's mass."""
        ir = self.initial_ranks.select(
            F.col("id").cast("long").alias("id"),
            F.col("rank").cast("double").alias("r0"),
        )
        st = ir.agg(
            F.count(F.lit(1)).alias("k"),
            F.count_distinct("id").alias("kd"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        ).first()
        if st["k"]:
            if st["lo"] < 0 or st["hi"] >= n:
                raise ValueError("initial_ranks ids outside [0, n)")
            if st["k"] != st["kd"]:
                raise ValueError("initial_ranks contains duplicate ids")
        return ir

    # ------------------------------------------------------------------ API
    def run(
        self,
        edges: DataFrame,
        n: int,
        run_id: str | None = None,
        resume: bool = False,
    ) -> PageRankResult:
        """edges: (src: long, dst: long), dense 0-based ids in [0, n)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        mode = self.mode
        if mode == "auto":
            mode = self.dispatch_mode(n)
        if mode == "csr":
            return self._run_csr(edges, n, run_id, resume)
        if mode == "broadcast":
            return self._run_broadcast(edges, n, run_id, resume)
        return self._run_dataframe(edges, n, run_id, resume)

    # vertices above which the driver-resident rank vector (8 B/vertex, plus
    # the same again broadcast per iteration) stops being sensible; beyond it
    # only the fully distributed dataframe path scales. 2^27 = 128M vertices
    # = ~1 GiB of float64 on the driver.
    AUTO_CSR_MAX_VERTICES = 1 << 27

    @classmethod
    def dispatch_mode(cls, n: int) -> str:
        """mode="auto" resolution: csr (driver-assembled rank vector, fastest
        measured throughput) while the vector comfortably fits driver/executor
        memory; dataframe (nothing driver-resident, 1 shuffle/iter) beyond.
        The broadcast mode is never auto-chosen: it is dominated by csr on
        throughput and by dataframe on scalability (kept for API parity and
        as the JVM-only execution path)."""
        return "csr" if n <= cls.AUTO_CSR_MAX_VERTICES else "dataframe"

    # vertex count above which the O(n) sides of the setup/iteration joins
    # (degrees, src_ids, contribs) must not be broadcast: their COMPRESSED
    # shuffle size can pass autoBroadcastJoinThreshold while the in-memory
    # hash relation blows the driver (reproduced at n=2e7 on 8g driver) —
    # force shuffle-hash joins instead. 2M rows ~ 32MB hash relation.
    # Shared gate with CC/LP/triangles (util.BROADCAST_SAFE_ROWS); kept as a
    # class attribute so tests can monkeypatch it.
    BROADCASTABLE_N = _util.BROADCAST_SAFE_ROWS

    # ------------------------------------------------------- dataframe path
    def _df_iteration(
        self, ew, state, n: int, dmass: float, total: float, no_bcast,
        bcast: bool = False,
    ):
        """One power-iteration step as a DataFrame plan.

        ``bcast=False`` (dataframe mode): physical cost is a SINGLE shuffle
        exchange (the contribution aggregation): the contribution join
        consumes the edge cache's hash(src) and the state checkpoint's
        hash(id) partitionings, and the rank-update left join consumes
        hash(id) × the aggregation output's hash(dst) — EnsureRequirements
        inserts no exchange for either, PROVIDED the state checkpoint was
        compiled under util.static_plan (AQE-compiled checkpoints record
        UnknownPartitioning and regress this plan to 3 exchanges). Audited
        by tests/test_plans.py::test_pagerank_df_iteration_single_exchange.

        ``bcast=True`` (broadcast mode): ZERO shuffle exchanges — the
        contribution join broadcasts the non-dangling rank rows against the
        hash(dst)-partitioned edge cache, the groupBy(dst) aggregates on the
        cache's partitioning in place (broadcast joins preserve the streamed
        side's partitioning), and the rank-update join consumes hash(id) ×
        hash(dst) as above. Dangling rows never match an edge src, so they
        are filtered out of the broadcast relation rather than shipped.
        Audited by test_pagerank_broadcast_iteration_zero_shuffle."""
        c = self.c
        if bcast:
            ranks_in = F.broadcast(
                state.filter(F.col("non_dangling")).select("id", "rank")
            )
        else:
            ranks_in = no_bcast(state.select("id", "rank"))
        joined = ew.join(ranks_in, ew.src == F.col("id"))
        if self.salt_partitions and not bcast:
            from pagerank_spark.graph.skew import salted_sum

            contribs = salted_sum(
                joined, "dst", F.col("rank") * F.col("w"),
                self.salt_partitions, salt_source="src", out="contrib",
            )
        else:
            contribs = joined.groupBy("dst").agg(
                F.sum(F.col("rank") * F.col("w")).alias("contrib")
            )
        return (
            state.join(no_bcast(contribs), state.id == contribs.dst, "left")
            .select(
                state.id,
                (
                    F.lit(c)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(dmass / n))
                    + F.lit((1.0 - c) / n * total)
                ).alias("rank"),
                state.rank.alias("old_rank"),
                "non_dangling",
            )
        )

    def _run_dataframe(
        self, edges: DataFrame, n: int, run_id: str, resume: bool,
        bcast: bool = False,
    ) -> PageRankResult:
        spark = edges.sparkSession
        eps = self.eps
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))

        def no_bcast(df: DataFrame) -> DataFrame:
            return df if n <= self.BROADCASTABLE_N else df.hint("shuffle_hash")

        # outdegree + edge weights, built once. Dataframe mode partitions
        # edges by src so the per-iteration contribution join only shuffles
        # the (small) rank side; broadcast mode partitions by dst so the
        # contribution groupBy(dst) aggregates on the cache's partitioning
        # with no exchange at all (the rank side arrives via broadcast).
        degrees = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ew = (
            edges.join(no_bcast(degrees), "src")
            .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
            .repartition(shuffle_p, "dst" if bcast else "src")
            .persist()
        )
        m = ew.count()  # materialize; also the per-iteration shuffle volume

        # state: (id, rank, dangling). dangling carried as a column so the
        # per-iteration stats need no join (fused like getDelta_*.nasm).
        src_ids = degrees.select(F.col("src").alias("id"))
        # every state checkpoint is compiled under static_plan so the
        # LogicalRDD keeps the hash(id) partitioning — the 1-shuffle/iter
        # contract (see _df_iteration and the module docstring)
        # NOTE: spark.range already emits `id: long` — a no-op cast here is
        # NOT harmless: the optimizer collapses it and the checkpoint then
        # records its partitioning against the pre-cast attribute, which no
        # longer matches the LogicalRDD output → every downstream join would
        # re-exchange the state (guarded by the plan test).
        base = spark.range(0, n, 1, shuffle_p).join(
            no_bcast(src_ids.withColumn("nd", F.lit(True))), "id", "left"
        )
        if self.initial_ranks is not None:
            # warm start: previous ranks ride in via one more size-gated
            # O(V) join; ids absent from the table (new pages) start at 1/n
            ir = self._validated_initial_ranks(n)
            base = base.join(no_bcast(ir), "id", "left")
            rank_col = F.coalesce(F.col("r0"), F.lit(1.0 / n))
        else:
            rank_col = F.lit(1.0 / n)
        with _util.static_plan(spark):
            state = (
                base.select(
                    "id",
                    rank_col.alias("rank"),
                    F.coalesce(F.col("nd"), F.lit(False)).alias("non_dangling"),
                )
                .repartition(shuffle_p, "id")
                .localCheckpoint(eager=True)
            )
        start_iter = 0
        init = state.agg(
            F.sum(F.when(~F.col("non_dangling"), F.col("rank"))).alias("dmass"),
            F.sum("rank").alias("total"),
        ).first()
        dmass = float(init["dmass"] or 0.0)
        total = float(init["total"])

        if resume and self.catalog is not None:
            resumed = self._try_resume(spark, run_id, shuffle_p)
            if resumed is not None:
                state, start_iter, dmass, total = resumed

        deltas: list[float] = []
        iter_secs: list[float] = []
        it = start_iter
        for it in range(start_iter + 1, self.max_iter + 1):
            t0 = time.time()
            # statically planned checkpoint: materializes the new state as a
            # LogicalRDD that KEEPS hash(id) — the next iteration's joins and
            # this iteration's rank-update join plan no state re-exchange
            with _util.static_plan(spark):
                new_state = self._df_iteration(
                    ew, state, n, dmass, total, no_bcast, bcast=bcast
                ).localCheckpoint(eager=True)
            # single fused scan over the checkpoint: residual + next
            # dangling/total mass (getDelta analog)
            stats = new_state.agg(
                F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta"),
                F.sum(F.when(~F.col("non_dangling"), F.col("rank"))).alias("dmass"),
                F.sum("rank").alias("total"),
            ).first()
            delta = float(stats["delta"])
            dmass = float(stats["dmass"] or 0.0)
            total = float(stats["total"])
            state = new_state.select("id", "rank", "non_dangling")
            deltas.append(delta)
            wall = time.time() - t0
            iter_secs.append(wall)
            self._checkpoint_and_log(
                spark, run_id, it, state, delta, dmass, total, m, wall,
                mode="broadcast" if bcast else "dataframe",
            )
            if delta < eps:
                break

        ranks = self._normalize(state.select("id", "rank"))
        ew.unpersist()
        tput = m / (sum(iter_secs) / len(iter_secs)) if iter_secs else 0.0
        return PageRankResult(ranks, it, deltas, run_id, tput, iter_secs)

    # -------------------------------------------------------- broadcast path
    def _run_broadcast(
        self, edges: DataFrame, n: int, run_id: str, resume: bool
    ) -> PageRankResult:
        """Broadcast mode = the dataframe driver with the broadcast physical
        strategy (see _df_iteration bcast=True): edges cached hash(dst), the
        rank rows shipped per iteration via a JVM broadcast exchange, zero
        shuffle exchanges per iteration, and the driver pulling only the 3
        per-iteration scalars (delta, dangling mass, total mass).

        Earlier versions kept the rank vector driver-resident (numpy) and
        pulled the full O(V) contribution table back through Arrow every
        iteration — measured at 0.785x dataframe-mode per-iteration
        throughput at sf0.1 and a scale ceiling by construction. The rank
        state now stays JVM-side end to end; only the broadcast of the O(V)
        rank relation bounds the mode (~1e8 vertices at 16 B/row), which is
        the same bound the old design had, without the per-iteration driver
        round-trip."""
        return self._run_dataframe(edges, n, run_id, resume, bcast=True)

    # -------------------------------------------------------------- csr path
    def _run_csr(
        self, edges: DataFrame, n: int, run_id: str, resume: bool
    ) -> PageRankResult:
        spark = edges.sparkSession
        sc = spark.sparkContext
        c, eps = self.c, self.eps

        import json as _json
        import os as _os

        scratch = None
        manifest = None
        man_path = None
        if self.csr_storage == "files":
            import tempfile as _tempfile

            scratch = self.scratch_dir or _tempfile.mkdtemp(prefix=f"prcsr_{run_id}_")
            _os.makedirs(scratch, exist_ok=True)
            man_path = _os.path.join(scratch, "manifest.json")
            if self.reuse_pack and _os.path.exists(man_path):
                with open(man_path) as fh:
                    manifest = _json.load(fh)
                if manifest.get("version") != PACK_FORMAT_VERSION:
                    # stale layout: remove the old pack's artifacts before
                    # falling through to re-pack, so a persistent scratch dir
                    # (e.g. the bench cache) doesn't accumulate orphaned GBs
                    import glob as _glob

                    for pth in _glob.glob(_os.path.join(scratch, "b*.bin")):
                        _os.remove(pth)
                    for name in ("hub_ids.npy", "outdeg.npy", "manifest.json"):
                        p_ = _os.path.join(scratch, name)
                        if _os.path.exists(p_):
                            _os.remove(p_)
                    manifest = None
                elif int(manifest["n"]) != n:
                    raise ValueError(
                        f"packed manifest at {scratch} is for n={manifest['n']}, "
                        f"requested n={n}"
                    )
                elif (
                    self.num_blocks is not None
                    and int(manifest["nblocks"]) != self.num_blocks
                ):
                    raise ValueError(
                        f"packed manifest at {scratch} has nblocks="
                        f"{manifest['nblocks']}, requested {self.num_blocks}"
                    )
                elif (
                    self.pack_key is not None
                    and manifest.get("key") is not None
                    and manifest["key"] != self.pack_key
                ):
                    # graph-identity mismatch: silently reusing would return
                    # the OTHER graph's ranks — hard error (reuse_pack doc)
                    raise ValueError(
                        f"packed manifest at {scratch} was packed with "
                        f"key={manifest['key']!r}, requested "
                        f"{self.pack_key!r} — wrong graph for this scratch dir"
                    )
                elif self.pack_key is not None and manifest.get("key") is None:
                    # pre-key pack: identity unverifiable — re-pack once so
                    # the key is recorded from here on
                    manifest = None
                # NOTE: with no pack_key the edge CONTENT remains the
                # caller's responsibility — it cannot be cross-checked
                # without scanning the source (which reuse exists to avoid)
            if manifest is None and self.scratch_dir is not None:
                # about to (re-)pack into a persistent scratch dir: remove
                # any block files from earlier packs first — they are about
                # to be orphaned (new packs use fresh uuid names and rewrite
                # the manifest), and repeated runs would otherwise leak GBs
                import glob as _glob

                for pth in _glob.glob(_os.path.join(scratch, "b*.bin")):
                    _os.remove(pth)

        idx_t = np.int32 if n < 2**31 else np.int64

        if manifest is not None:
            # Pack-once / iterate-many: everything the iterations need was
            # persisted by a previous pack of the SAME graph. ``edges`` is
            # never evaluated on this path.
            nblocks = int(manifest["nblocks"])
            block_size = bs = int(manifest["block_size"])
            m = int(manifest["m"])
            hub_ids = np.load(_os.path.join(scratch, "hub_ids.npy"))
            n_hubs = int(hub_ids.shape[0])
            outdeg = np.load(_os.path.join(scratch, "outdeg.npy"))
            packed = (
                spark.createDataFrame(
                    [(int(b), str(p)) for b, p in manifest["files"]],
                    "block long, path string",
                )
                .localCheckpoint(eager=True)
            )
            # co-locate each block's files on ONE task (see the pack-path
            # comment on the O(P*n) -> O(n) contribution transport)
            packed = _block_aligned(packed, nblocks, spark).localCheckpoint(
                eager=True
            )
            return self._iterate_csr(
                spark, sc, run_id, resume, n, m, nblocks, block_size, n_hubs,
                hub_ids, outdeg, idx_t, packed, scratch, keep_scratch=True,
            )

        nblocks = self.num_blocks or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        block_size = (n + nblocks - 1) // nblocks

        # One-time layout: block edges by dst range, then PACK each block's
        # (src, dst_local) arrays into raw binary cells (<=64 MiB chunks).
        # Iterations then stream a handful of memcpy-able blobs through Arrow
        # instead of millions of rows — per-row serde was measured at ~5M
        # rows/s/core, the packed path is ~2 GB/s/core. This is the
        # "partition-local CSR" layout: build once, reuse every iteration.
        degrees = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        m = edges.count()

        # Hub splitting: a power-law top destination can hold 30%+ of all
        # edges, so no dst-blocking scheme alone balances tasks. Destinations
        # whose in-degree exceeds m/(4*nblocks) are "hubs": their edges route
        # by src%nblocks into reserved per-block accumulator slots and the
        # driver sums the partials — the map-side analog of the salted
        # two-stage aggregate (graph/skew.py). Collected driver-side because
        # the hub set is tiny by construction (< 4*nblocks ids above the
        # threshold, capped at 65536).
        hub_threshold = max(65, m // (4 * nblocks))
        hub_rows = (
            edges.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("indeg"))
            .filter(F.col("indeg") > hub_threshold)
            .orderBy(F.desc("indeg"))
            .limit(65536)
            .toArrow()
        )
        hub_ids = np.sort(hub_rows.column("dst").to_numpy().astype(np.int64))
        n_hubs = int(hub_ids.shape[0])

        idx_t = np.int32 if n < 2**31 else np.int64
        # 8 MiB cells: big enough to amortize per-row serde, small enough to
        # stay GC-friendly in the JVM block cache (64 MiB cells measured 2-4x
        # noisier iteration times under memory pressure)
        chunk_edges = (8 << 20) // (2 * np.dtype(idx_t).itemsize)
        bs = block_size

        def split_blocks(src: np.ndarray, dst: np.ndarray):
            """Route a batch of edges to (block, src, local_slot) groups.

            INTERLEAVED blocking (dst % nblocks, local = dst // nblocks):
            web graphs put hubs at low dense ids, so contiguous ranges would
            dump nearly all edges into block 0 (measured: one task did 99% of
            the work). Hub destinations (top in-degree, see hub_ids) are
            further split: routed by src % nblocks into reserved slots
            bs+hub_pos, partial-summed per block, finalized driver-side.
            """
            if n_hubs:
                pos = np.clip(np.searchsorted(hub_ids, dst), 0, n_hubs - 1)
                is_hub = hub_ids[pos] == dst
            else:
                is_hub = None
            groups = []
            nh_src, nh_dst = (src, dst) if is_hub is None else (
                src[~is_hub], dst[~is_hub]
            )
            if nh_src.shape[0]:
                blk = nh_dst % nblocks
                for b in np.unique(blk):
                    sel = blk == b
                    groups.append((int(b), nh_src[sel], nh_dst[sel] // nblocks))
            if is_hub is not None and is_hub.any():
                h_src = src[is_hub]
                h_slot = bs + np.clip(
                    np.searchsorted(hub_ids, dst[is_hub]), 0, n_hubs - 1
                )
                blk = h_src % nblocks
                for b in np.unique(blk):
                    sel = blk == b
                    groups.append((int(b), h_src[sel], h_slot[sel]))
            return groups

        def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            acc: dict[int, list[np.ndarray]] = {}
            pending = 0

            def emit(b: int, srcs: np.ndarray, dsts: np.ndarray) -> pa.RecordBatch:
                return pa.RecordBatch.from_arrays(
                    [
                        pa.array([b], type=pa.int64()),
                        pa.array([srcs.astype(idx_t).tobytes()]),
                        pa.array([dsts.astype(idx_t).tobytes()]),
                    ],
                    names=["block", "src_bin", "dst_bin"],
                )

            def drain():
                for b, lst in list(acc.items()):
                    if lst:
                        cat = np.concatenate(lst, axis=1)
                        yield emit(b, cat[0], cat[1])
                        acc[b] = []

            for batch in batches:
                src = batch.column("src").to_numpy(zero_copy_only=False)
                dst = batch.column("dst").to_numpy(zero_copy_only=False)
                for b, s_arr, l_arr in split_blocks(src, dst):
                    acc.setdefault(b, []).append(np.stack([s_arr, l_arr]))
                    pending += s_arr.shape[0]
                if pending >= chunk_edges:
                    yield from drain()
                    pending = 0
            yield from drain()

        packed_schema = StructType(
            [
                StructField("block", LongType(), False),
                StructField("src_bin", BinaryType(), False),
                StructField("dst_bin", BinaryType(), False),
            ]
        )

        if self.csr_storage == "files":
            # spill blocks once to binary files; iterations move only the rank
            # vector (the executor-local-storage analog of shuffle files)
            import uuid as _uuid

            def pack_files(
                batches: Iterator[pa.RecordBatch],
            ) -> Iterator[pa.RecordBatch]:
                # Accumulate raw batches untouched; ALL routing happens once
                # per flush as a single vectorized lexsort over ~17M edges
                # (the previous per-batch 32-way mask split did nblocks
                # passes over every 64k-row Arrow batch and dominated pack
                # time ~4:1 over generation+transfer).
                acc_parts: list[np.ndarray] = []
                out_blocks: list[int] = []
                out_paths: list[str] = []
                pending = 0
                u16 = (bs + n_hubs) < 65536

                def write_file(b: int, src_s: np.ndarray, slot_s: np.ndarray) -> str:
                    # src_s is already sorted (lexsort minor key): the rank
                    # gather rwv[src] is (near-)sequential at read time — the
                    # cache-locality analog of the reference's srcSparse
                    # reduced-matrix layout (one-time cost at pack time).
                    # Chunk layout (per-edge DRAM traffic is the scaling
                    # ceiling for SpMV; 8 B/edge raw -> ~2-3 B/edge):
                    #   int64 k | int64 n_uniq (0 = plain src) | int32 u16dst
                    #   [rle: n_uniq src idx_t, n_uniq counts int32 | plain:
                    #    k src idx_t] | k dst (uint16 when slots fit, idx_t)
                    # Read back via readinto() into REUSED buffers (np.load/
                    # mmap would re-fault every page every iteration).
                    k = src_s.shape[0]
                    path = _os.path.join(
                        scratch, f"b{b:06d}_{_uuid.uuid4().hex[:10]}.bin"
                    )
                    uniq, counts = np.unique(src_s, return_counts=True)
                    use_rle = uniq.shape[0] <= k // 4
                    with open(path, "wb") as f:
                        f.write(np.int64(k).tobytes())
                        f.write(np.int64(uniq.shape[0] if use_rle else 0).tobytes())
                        f.write(np.int32(1 if u16 else 0).tobytes())
                        if use_rle:
                            f.write(uniq.astype(idx_t).tobytes())
                            f.write(counts.astype(np.int32).tobytes())
                        else:
                            f.write(src_s.astype(idx_t).tobytes())
                        f.write(slot_s.astype(np.uint16 if u16 else idx_t).tobytes())
                    return path

                def flush_all() -> None:
                    nonlocal acc_parts, pending
                    if not pending:
                        return
                    cat = np.concatenate(acc_parts, axis=1)
                    acc_parts = []
                    pending = 0
                    src, dst = cat[0], cat[1]
                    if n_hubs:
                        pos = np.clip(np.searchsorted(hub_ids, dst), 0, n_hubs - 1)
                        is_hub = hub_ids[pos] == dst
                        blk = np.where(is_hub, src % nblocks, dst % nblocks)
                        slot = np.where(is_hub, bs + pos, dst // nblocks)
                    else:
                        blk = dst % nblocks
                        slot = dst // nblocks
                    order = np.lexsort((src, blk))
                    blk_s = blk[order]
                    src_s = src[order]
                    slot_s = slot[order]
                    bounds = np.searchsorted(blk_s, np.arange(nblocks + 1))
                    for b in range(nblocks):
                        lo_i, hi_i = int(bounds[b]), int(bounds[b + 1])
                        if hi_i > lo_i:
                            out_blocks.append(b)
                            out_paths.append(
                                write_file(b, src_s[lo_i:hi_i], slot_s[lo_i:hi_i])
                            )

                for batch in batches:
                    src = batch.column("src").to_numpy(zero_copy_only=False)
                    dst = batch.column("dst").to_numpy(zero_copy_only=False)
                    acc_parts.append(np.stack([src, dst]))
                    pending += src.shape[0]
                    # ~17M pending edges -> ~500k-edge per-block chunks (RLE
                    # engages), ~1 GB transient per task during the flush
                    if pending >= chunk_edges * 16:
                        flush_all()
                flush_all()
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_blocks, type=pa.int64()), pa.array(out_paths)],
                    names=["block", "path"],
                )

            # _block_aligned: co-locate each block's files on ONE task.
            # Every source partition emits partials for every block it
            # touches, so without this the iteration's contribution transport
            # is O(P * n) — each of P tasks ships a full O(n) accumulator set
            # (measured: 7.7 GB/iteration at n=3e7, P=32; Java heap OOM).
            # Block-aligned tasks merge a block's partials locally and ship
            # each block ONCE: O(n + P * n_hubs) per iteration. Explicit
            # numPartitions keeps AQE from coalescing the tiny path rows.
            packed = _block_aligned(
                _balanced(edges.select("src", "dst"), nblocks).mapInArrow(
                    pack_files, "block long, path string"
                ),
                nblocks,
                spark,
            ).localCheckpoint(eager=True)
        else:
            # same block co-location for in-JVM cells: the binary cells
            # shuffle ONCE here (pack time) so each iteration task owns one
            # block outright — O(n) contribution transport (see above)
            packed = _block_aligned(
                _balanced(edges.select("src", "dst"), nblocks).mapInArrow(
                    pack, packed_schema
                ),
                nblocks,
                spark,
            ).persist()
            packed.count()

        # outdeg vector -> dangling mask, collected once via Arrow.
        deg_tbl = degrees.toArrow()
        outdeg = np.zeros(n)
        outdeg[deg_tbl.column("src").to_numpy()] = deg_tbl.column("outdeg").to_numpy()

        # persist the manifest only when the scratch dir can outlive this run
        # (explicit scratch_dir); a throwaway mkdtemp is deleted at the end,
        # so writing outdeg/hub arrays there would be pure overhead
        if self.scratch_dir is None:
            man_path = None

        if man_path is not None:
            # persist everything the iterations need so a later run with
            # reuse_pack=True skips generation/degrees/pack entirely
            files = [[int(r["block"]), r["path"]] for r in packed.collect()]
            np.save(_os.path.join(scratch, "hub_ids.npy"), hub_ids)
            np.save(_os.path.join(scratch, "outdeg.npy"), outdeg)
            tmp = man_path + ".tmp"
            with open(tmp, "w") as fh:
                _json.dump(
                    {"version": PACK_FORMAT_VERSION, "n": n, "m": m,
                     "nblocks": nblocks, "block_size": block_size,
                     "key": self.pack_key, "files": files},
                    fh,
                )
            _os.replace(tmp, man_path)

        return self._iterate_csr(
            spark, sc, run_id, resume, n, m, nblocks, block_size, n_hubs,
            hub_ids, outdeg, idx_t, packed, scratch,
            keep_scratch=self.scratch_dir is not None,
        )

    def _iterate_csr(
        self, spark, sc, run_id, resume, n, m, nblocks, block_size, n_hubs,
        hub_ids, outdeg, idx_t, packed, scratch, keep_scratch,
    ) -> PageRankResult:
        """Power-iterate over an already-packed block layout (see _run_csr)."""
        c, eps = self.c, self.eps
        dangling = outdeg == 0.0

        pi = self._init_vector(n)
        start_iter = 0
        if resume and self.catalog is not None:
            resumed = self._try_resume_vector(spark, run_id, n)
            if resumed is not None:
                pi, start_iter = resumed

        out_schema = StructType(
            [
                StructField("block", LongType(), False),
                StructField("off", LongType(), False),
                StructField("contrib", BinaryType(), False),
            ]
        )
        # per-row contribution payload cap, in VALUES (2 MB fp64 / 1 MB
        # fp32), one Arrow batch per chunk: a block's partial vector is
        # O(n/nblocks) and shipping it as ONE binary cell makes the Arrow
        # writer allocate whole-blob direct buffers — 32 concurrent tasks x
        # multi-MB blobs blew netty's 8 GiB MaxDirectMemorySize at n=3e7
        # (reproduced). Bounded chunks keep direct-memory use flat no matter
        # how big n/nblocks grows; the driver reassembles by (block, off).
        chunk_vals = 1 << 18

        def emit_contrib_chunks(acc, out_dtype):
            """Yield each block's partial vector as bounded Arrow batches
            (block, off, contrib) — transported in rank_dtype (fp32 halves
            the O(V) pull; accumulation in the tasks and the driver merge
            stay fp64). Quantization count per value: a destination id can
            receive one fp32-quantized partial from EACH task that holds
            in-edges to its stripe, so hub ids accumulate up to nblocks
            independently quantized nonnegative partials — each carrying the
            same ~6e-8 relative error, so the merged sum keeps that relative
            bound (errors on nonnegative terms can't cancel the magnitude);
            it is NOT a single quantization per value. Grows with nblocks
            only in count, not in relative error — revisit the golden 1e-6 /
            1e-7 tolerances if the bound or nblocks regime changes."""
            for b, a in acc.items():
                av = a.astype(out_dtype, copy=False)
                for lo in range(0, av.shape[0], chunk_vals):
                    seg = av[lo : lo + chunk_vals]
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([b], type=pa.int64()),
                            pa.array([lo], type=pa.int64()),
                            pa.array([seg.tobytes()]),
                        ],
                        names=["block", "off", "contrib"],
                    )

        deltas: list[float] = []
        iter_secs: list[float] = []
        it = start_iter
        for it in range(start_iter + 1, self.max_iter + 1):
            t0 = time.time()
            rw = pi / np.where(outdeg > 0, outdeg, 1.0)
            rw[dangling] = 0.0
            # rank_dtype=float32 halves the broadcast and the gather source;
            # astype(copy=False) is a no-op for the default float64
            b_rw = sc.broadcast(rw.astype(self.rank_dtype, copy=False))

            def spmv(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
                acc: dict[int, np.ndarray] = {}
                rwv = b_rw.value
                # L2-resident chunking (see spmv_files): bound the per-call
                # expand/convert working set so DRAM only streams the cell.
                # Each bincount also zeroes+adds an O(ml) output, so sub must
                # grow with ml or tiny chunks pay O(ml) per 64k edges when
                # blocks are large (review finding, round 2).
                ml = block_size + n_hubs
                sub = min(1 << 21, max(1 << 16, 4 * ml))
                wbuf = np.empty(sub, dtype=rwv.dtype)  # matches rank_dtype
                for batch in batches:
                    blocks = batch.column("block").to_pylist()
                    srcs = batch.column("src_bin")
                    dsts = batch.column("dst_bin")
                    for i, b in enumerate(blocks):
                        src = np.frombuffer(srcs[i].as_py(), dtype=idx_t)
                        dstl = np.frombuffer(dsts[i].as_py(), dtype=idx_t)
                        a = acc.get(b)
                        if a is None:
                            a = acc.setdefault(b, np.zeros(ml))
                        # np.bincount = vectorized scatter-add (the NumPy
                        # analog of the reference's SIMD getVectorPik kernel)
                        k = src.shape[0]
                        for lo in range(0, k, sub):
                            clen = min(sub, k - lo)  # chunk length (NOT the
                            # damping factor c from the enclosing scope)
                            w = wbuf[:clen]
                            np.take(rwv, src[lo : lo + clen], out=w)
                            a += np.bincount(
                                dstl[lo : lo + clen], weights=w, minlength=ml
                            )
                if acc:
                    yield from emit_contrib_chunks(acc, rwv.dtype)

            def spmv_files(
                batches: Iterator[pa.RecordBatch],
            ) -> Iterator[pa.RecordBatch]:
                acc: dict[int, np.ndarray] = {}
                rwv = b_rw.value
                # L2-resident chunking: at 64k edges the weight/dst working
                # set is ~0.7 MB, so the expand+bincount traffic stays in
                # cache and the only DRAM stream is the ~2.5 B/edge file
                # read. Measured on this host with bench_kernel.py (this
                # exact loop, multiprocessing, the 1B-edge bench pack,
                # round 5): 2M-edge chunks run 0.95B edges/s aggregate at
                # 32 procs; 64k chunks run 2.7-2.8B edges/s at 32 procs
                # (1p 0.15B / 4p 0.58B / 8p ~1.0B), kernel-only scaling
                # 1->4 ~0.93 and 8->32 ~0.6-0.7 (the box's DRAM wall —
                # even plain memcpy scales 8->32 at 0.18-0.42 here, see
                # BENCH/BASELINE.md).
                # bincount zeroes+adds an O(ml) output per call, so sub also
                # scales with ml to keep that amortized when blocks are big.
                ml = block_size + n_hubs
                sub = min(1 << 21, max(1 << 16, 4 * ml))
                wbuf = np.empty(sub, dtype=rwv.dtype)  # matches rank_dtype
                sbuf = np.empty(sub, dtype=idx_t)
                d16 = np.empty(sub, dtype=np.uint16)
                dxx = np.empty(sub, dtype=idx_t)
                isz = np.dtype(idx_t).itemsize
                for batch in batches:
                    blocks = batch.column("block").to_pylist()
                    paths = batch.column("path").to_pylist()
                    for b, path in zip(blocks, paths):
                        a = acc.get(b)
                        if a is None:
                            a = acc.setdefault(b, np.zeros(ml))
                        with open(path, "rb", buffering=0) as f:
                            hdr = _read_bytes(f, 20)
                            k = int(np.frombuffer(hdr, np.int64, 1, 0)[0])
                            nu = int(np.frombuffer(hdr, np.int64, 1, 8)[0])
                            u16 = bool(np.frombuffer(hdr, np.int32, 1, 16)[0])
                            if nu:
                                uniq = np.frombuffer(_read_bytes(f, nu * isz), idx_t)
                                counts = np.frombuffer(_read_bytes(f, nu * 4), np.int32)
                                w_runs = rwv[uniq]
                                ends = np.cumsum(counts)
                                dst_off = 20 + nu * (isz + 4)
                            else:
                                dst_off = 20 + k * isz
                            dsz = 2 if u16 else isz
                            dbuf = d16 if u16 else dxx
                            for lo in range(0, k, sub):
                                clen = min(sub, k - lo)  # chunk length (NOT
                                # the damping factor c)
                                if nu:
                                    # expand the RLE runs covering [lo, lo+clen)
                                    i0 = int(np.searchsorted(ends, lo, "right"))
                                    i1 = int(np.searchsorted(ends, lo + clen, "left"))
                                    cw = counts[i0 : i1 + 1].astype(np.int64)
                                    start0 = int(ends[i0]) - int(counts[i0])
                                    cw[0] -= lo - start0
                                    over = int(ends[i1]) - (lo + clen)
                                    if over > 0:
                                        cw[-1] -= over
                                    w = np.repeat(w_runs[i0 : i1 + 1], cw)
                                else:
                                    f.seek(20 + lo * isz)
                                    _read_exact(f, memoryview(sbuf)[:clen].cast("B"))
                                    w = wbuf[:clen]
                                    np.take(rwv, sbuf[:clen], out=w)
                                f.seek(dst_off + lo * dsz)
                                _read_exact(f, memoryview(dbuf)[:clen].cast("B"))
                                a += np.bincount(dbuf[:clen], weights=w, minlength=ml)
                if acc:
                    yield from emit_contrib_chunks(acc, rwv.dtype)

            fn = spmv_files if scratch is not None else spmv
            # Arrow batch pull, NOT collect(): the contribution payload is
            # O(V) (nblocks x ml values/iter — 240 MB fp64 at n=3e7) and Row
            # materialization of binary columns serializes it through the
            # driver one object at a time. Same convention as
            # _try_resume_vector / _checkpoint_vector.
            tbl = packed.mapInArrow(fn, out_schema).toArrow()
            contrib = np.zeros(n)
            blk_col = tbl.column("block").to_pylist()
            off_col = tbl.column("off").to_pylist()
            bin_col = tbl.column("contrib")
            for i, b in enumerate(blk_col):
                arr = np.frombuffer(bin_col[i].as_py(), dtype=self.rank_dtype)
                off = off_col[i]
                # interleaved blocks: block b owns global ids b, b+nblocks, ...
                stripe = contrib[b::nblocks]
                s_len = stripe.shape[0]  # <= block_size (tail padding unused)
                if off < s_len:
                    e = min(off + arr.shape[0], s_len)
                    # upcast add: driver merge stays fp64
                    stripe[off:e] += arr[: e - off]
                if n_hubs and off + arr.shape[0] > block_size:
                    # hub partial sums live in slots [bs, bs+n_hubs)
                    h0 = max(off, block_size) - block_size
                    a0 = max(off, block_size) - off
                    hseg = arr[a0:]
                    contrib[hub_ids[h0 : h0 + hseg.shape[0]]] += hseg
            b_rw.destroy()

            dmass = pi[dangling].sum()
            new = c * (contrib + dmass / n) + (1.0 - c) / n * pi.sum()
            delta = float(np.abs(new - pi).sum())
            pi = new
            deltas.append(delta)
            wall = time.time() - t0
            iter_secs.append(wall)
            if self.catalog is not None and it % self.checkpoint_interval == 0:
                self._checkpoint_vector(run_id, it, pi)
            if self.lineage is not None:
                # one map-only stage per iteration: nothing is shuffled
                self.lineage.log_iteration(
                    run_id, it, rows_shuffled=0, residual_l1=delta, wall_time_s=wall,
                    extra={"dangling_mass": dmass, "mode": "csr"},
                )
            if delta < eps:
                break

        pi = pi / np.abs(pi).sum()
        packed.unpersist()
        if scratch is not None and not keep_scratch:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
        tbl = pa.table({"id": np.arange(n, dtype=np.int64), "rank": pi})
        ranks = spark.createDataFrame(tbl)
        tput = m / (sum(iter_secs) / len(iter_secs)) if iter_secs else 0.0
        return PageRankResult(ranks, it, deltas, run_id, tput, iter_secs)

    # ------------------------------------------------------------- helpers
    def _normalize(self, ranks: DataFrame) -> DataFrame:
        total = float(ranks.agg(F.sum(F.abs(F.col("rank")))).first()[0])
        return ranks.select("id", (F.col("rank") / F.lit(total)).alias("rank"))

    def _checkpoint_and_log(
        self, spark, run_id, it, state, delta, dmass, total, m, wall,
        mode: str = "dataframe",
    ) -> None:
        snap = None
        if self.catalog is not None and it % self.checkpoint_interval == 0:
            meta = self.catalog.write(
                state,
                f"pagerank_ckpt_{run_id}",
                summary={
                    "iteration": it,
                    "delta": delta,
                    "dmass": dmass,
                    "total": total,
                },
            )
            snap = meta.snapshot_id
        if self.lineage is not None:
            self.lineage.log_iteration(
                run_id, it, rows_shuffled=m, residual_l1=delta, wall_time_s=wall,
                snapshot=str(snap) if snap is not None else None,
                extra={"dangling_mass": dmass, "total_mass": total, "mode": mode},
                partition_counts=self.lineage.partition_counts(state)
                if self.lineage.per_partition
                else None,
            )

    def _try_resume(self, spark: SparkSession, run_id: str, shuffle_p: int):
        table = f"pagerank_ckpt_{run_id}"
        meta = self.catalog.current_meta(table)
        if meta is None:
            return None
        s = meta.summary
        # dataframe/broadcast state is (id, rank, non_dangling) + dmass/total
        # in the summary; csr (and pre-round-4 broadcast) checkpoints are the
        # bare vector (id, rank) with only {iteration}. Resuming the wrong
        # format used to surface as KeyError('dmass') / missing-column errors
        # deep inside _df_iteration (round-4 ADVICE) — fail loud instead.
        if "dmass" not in s or "total" not in s:
            raise ValueError(
                f"checkpoint '{table}' was written by a vector-mode run "
                "(csr, or a pre-0.4 broadcast engine): its summary has no "
                "dmass/total. Resume it with mode='csr', or restart the run "
                "(delete the checkpoint table) to use dataframe/broadcast "
                "mode."
            )
        # the manifest's schema, not the DataFrame's columns: reading the
        # parquet schema is a Spark job, and this check must come before
        # any O(V) work
        cols = [f["name"] for f in json.loads(meta.schema_json)["fields"]]
        if "non_dangling" not in cols:
            raise ValueError(
                f"checkpoint '{table}' is missing the non_dangling column "
                "expected by dataframe/broadcast state — it was written by "
                "a vector-mode run; resume with mode='csr' or restart."
            )
        # statically planned checkpoint keeps the hash(id) partitioning so
        # the resumed iteration chain stays 1-shuffle (see _df_iteration)
        with _util.static_plan(spark):
            df = (
                self.catalog.read(spark, table)
                .repartition(shuffle_p, "id")
                .localCheckpoint(eager=True)
            )
        return df, int(s["iteration"]), float(s["dmass"]), float(s["total"])

    def _checkpoint_vector(self, run_id: str, it: int, pi: np.ndarray):
        # the vector is already on the driver: the catalog writes the Arrow
        # table itself, with no Spark job
        tbl = pa.table({"id": np.arange(pi.shape[0], dtype=np.int64), "rank": pi})
        self.catalog.write(tbl, f"pagerank_ckpt_{run_id}", summary={"iteration": it})

    def _try_resume_vector(self, spark: SparkSession, run_id: str, n: int):
        table = f"pagerank_ckpt_{run_id}"
        meta = self.catalog.current_meta(table)
        if meta is None:
            return None
        # Arrow batch transfer, not per-row Row materialization: the resumed
        # vector is O(n) and collect() would build n Row objects on the
        # driver (same convention as _checkpoint_vector's pa.table path).
        tbl = self.catalog.read(spark, table).select("id", "rank").toArrow()
        pi = np.zeros(n)
        pi[tbl.column("id").to_numpy()] = tbl.column("rank").to_numpy()
        return pi, int(meta.summary["iteration"])
