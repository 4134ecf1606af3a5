"""Monte Carlo PageRank: distributed random walks with walk coalescing.

Re-expresses MonteCarloPageRank.scala:23-133 (Das Sarma et al. 2013,
Basic-PageRank-Algorithm) Spark-first:

* every vertex starts K coupons (reference default 10000, Conf.scala:15;
  ζ initialized to K, MonteCarloPageRank.scala:106);
* per superstep each coupon survives w.p. 1−ε (ε=0.15,
  MonteCarloPageRank.scala:28,63-64) and moves to a uniformly random
  out-neighbour; coupons at dangling vertices die
  (MonteCarloPageRank.scala:73);
* arrivals are *coalesced* — (dst, count) not one row per walk — inside
  the Arrow kernel (the reference coalesces only at reduceByKey,
  MonteCarloPageRank.scala:119; we additionally pre-coalesce per block,
  so shuffle volume is O(distinct dst per block), not O(walks));
* ζ accumulates arrivals (MonteCarloPageRank.scala:122) and the final
  rank is ζ_v / Σζ (MonteCarloPageRank.scala:126-132 — the code
  normalizes by total observed visits, not the paper's closed form).

Intentional fixes vs the reference (SURVEY.md §2.6): exactly c trials per
vertex (the reference's ``0 to currentCount`` inclusive loop inflates by
one trial per occupied vertex per step) and exactly ``iterations``
supersteps.

Scale shape — ONE superstep loop, checkpointed or not: the loop runs in
segments of ``FUSE_STEPS`` supersteps, each compiled into ONE Spark job
with EXACTLY ONE shuffle per superstep:

1. each superstep is ONE stage: [complete (block_id, rkey) coalescing
   agg → sort → grouped-map walk kernel → expression route → exchange
   by block_id]. The agg and the kernel both run on the hash(block_id)
   partitioning established by the step's single exchange (clustering
   by a subset of the grouping keys needs no second exchange), and each
   step's exchange is consumed twice in the same plan — next step's agg
   and the segment's ζ union — deduped to one shuffle by
   ReusedExchange. No per-step job gap, no per-step localCheckpoint
   store/rescan (the round-2 per-step-job design lost ~22% of the
   4N-core legs to exactly those barriers). The loop runs with AQE off:
   adaptive planning hides checkpointed partitionings and would
   re-exchange the segment carry-over state; the loop is fully static
   so AQE has nothing to add. The graph itself is
   **host-resident**: the setup job that packs the CSR writes each
   block's arrays ONCE as ``.npy`` files (``_write_block``), the only
   copy of the graph, and every worker serves its blocks from them as
   ``np.memmap`` views (``_CSR_CACHE``) — one page-cache copy per block
   per HOST, not per worker; a DFS root's files are first copied to
   host-local disk, once per host. A worker loads a block on first
   touch; there is no separate warm job. Earlier designs cogrouped a
   JVM-cached CSR table into the kernel, which re-shipped the whole
   graph JVM→Arrow→Python EVERY superstep — measured 429 MB/step at
   100M edges, pure memory-bandwidth burn that capped N-vs-4N scaling
   efficiency at ~0.71 (the contended 4N side pays more per byte).
   Pregel-style resident graph state is also the honest 10^12-edge
   design: on a real cluster each executor's workers converge on their
   partition's blocks (stable hash partitioning), so the block read is
   one-time per host, amortized across all supersteps. The kernel is
   ``applyInArrow`` with int32 neighbour ids when the vertex space fits;
2. arrivals route to THEIR OWN blocks — a vertex's block is a pure
   chained-comparison **expression** over the block boundaries
   (``route_expr``, no routing-table join) — and the step's one exchange
   by block_id pre-positions them for the next superstep's kernel.
   Per-step surviving-walk totals ride the segment job as
   ``CollectMetrics`` on the ζ branches (extinction check without an
   ``isEmpty`` job, at segment granularity).

Each segment ends in ONE write of a tagged ``(tag, block_id, rkey, c)``
table: the segment's ζ accumulator (tag 1) and the carry-over coupon
state (tag 0), committed by the run's one store as ``save_step(seg[-1],
...)``: a scratch slot without ``checkpoint_dir``, a durable step with
it — so a resumable run commits once per SEGMENT (up to
``FUSE_STEPS`` supersteps), and ``resume=True`` reads the last committed
table back and continues at ``seg[-1] + 1``. Segment boundaries never
change the walks (the RNG is seeded per logical (block, step)), so
checkpointed, scratch and resumed runs give byte-identical ranks.

ζ is NOT re-aggregated per step (the reference's ``union+reduceByKey``
over the full visit history, MonteCarloPageRank.scala:122, doubles
per-step shuffle volume); each step's routed arrivals feed a ζ branch of
the same segment job (reading the step's already-written shuffle), and
the segment folds them into one (rkey, c) accumulator — rows with equal
rkey share a block hence a partition, so the partial agg fully coalesces
each branch before the one hash(rkey) exchange. v = rkey >> REPLICA_BITS
folds hub replicas back together at finalize.

Skew (north_star "hub vertices split across ≥2 blocks"): the block plan
(operators/adjacency.py::plan_walk_blocks) splits any vertex whose
out-degree exceeds ``edges_per_block`` into replicas carrying disjoint
neighbour subsets. The walk kernel that produces a block's arrivals at
a hub also splits them across the hub's replicas with an exact
multinomial draw ∝ replica size (``_split_hubs``, from the block's own
(seed, block_id, step) generator; hubs are few by definition, so their
replica table rides in the kernel closure). Each replica walks its
slice uniformly, so totals are conserved exactly and P(dst) = 1/deg
exactly — and replica rkeys route through the same boundary expression
as every other coupon: a hub adds no branch, join or exchange to the
superstep plan.

Randomness is **parallelism-invariant**: one ``numpy.random.Generator``
per (seed, block_id, superstep) — a stable *logical* block id, not the
reference's physical partition index (MonteCarloPageRank.scala:50-52) —
so any fixed (seed, edges_per_block) produces byte-identical ranks at
local[8] and local[32]. That property is what lets the N-vs-4N scaling
run double as a determinism check. The default ``edges_per_block``
derives from the cluster's core count, so pass an explicit value when
outputs must match across different cluster sizes.

The walk step pays per EDGE, not per walk (``_walk_kernel``): a row's
survivors are one binomial draw, and its arrivals are drawn over its
edge slots exactly — one multinomial when the survivors cover the row
(s ≥ k), else s uniform integer picks. Arrivals coalesce with one
bincount over block-local destination ids, so work and temporaries are
O(Σ min(s, k)) ≤ O(block edges) at any walk count: the per-edge form of
sampling the coupons ⋈ adjacency join (Zhao et al., SIGMOD 2018).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
import uuid
from functools import reduce
from typing import Any, Callable

import numpy as np
import pyarrow as pa
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.adjacency import (
    REPLICA_BITS,
    plan_walk_blocks,
)
from montecarlopagerank_spark.operators.propagate import fill, hash_by
# both store classes stay bound here for perfbench/tracing.py's wrappers
from montecarlopagerank_spark.operators.checkpoint import (  # noqa: F401
    CheckpointManager,
    open_store,
)
from montecarlopagerank_spark.operators.state import (  # noqa: F401
    StateStore,
    _resolve_fs,
)

EPS = 0.15

# above this many blocks a chained-WHEN routing expression stops being
# codegen-friendly; fall back to an interpreted array fold (O(B) per row
# either way, but the WHEN chain compiles to straight-line comparisons)
MAX_CHAINED_BOUNDS = 512

# supersteps compiled into ONE Spark job (a segment) and, with
# ``checkpoint_dir``, committed together: the resume granularity. It
# bounds logical-plan size, not correctness: any value ≥ 1 gives
# identical ranks (the RNG is seeded per logical (block, step), never
# per job). The fused plan is a logical TREE, not a DAG: each step's
# exchange is consumed by the next step's agg AND the segment's ζ
# branch (×2/step); ReusedExchange dedups execution but the ANALYZER
# walks the un-deduped tree, so DeduplicateRelations pays O(2^k) per
# segment. k=6 is ~seconds of driver CPU at any data size (hub splits
# add no plan branches: they happen inside the walk kernel). Read at
# call time.
FUSE_STEPS = 6


def route_expr(
    rkey_col: Column, bounds: list[int], block_ids: list[int] | None = None
) -> Column:
    """ACTUAL block_id for a coupon rkey. ``bounds[i]`` is the min rkey of
    the block whose id is ``block_ids[i]`` (both ascending). Blocks pack
    contiguous rkey ranges (plan_walk_blocks), so this single expression
    replaces the routing-table join — the routing stage is a narrow map
    over the coupon scan.

    ``block_ids`` matters because planner ids can SKIP values (row weight
    rsize+1 → the prefix floor-division jumps an id when out_deg ==
    edges_per_block, and hub replicas can jump further): the CSR
    block files are named by the actual ids, so routing by the
    positional boundary index would address nonexistent block dirs and
    silently kill those walks (tests/test_pagerank.py::
    test_route_expr_skipped_block_ids). ``None`` = dense ids 0..B-1."""
    if block_ids is None:
        block_ids = list(range(len(bounds)))
    inner = bounds[1:]
    if not inner:
        return F.lit(block_ids[0] if block_ids else 0)
    if len(inner) <= MAX_CHAINED_BOUNDS:
        # FLAT CaseWhen (chained .when on one Column), not nested
        # when().otherwise(when()...): a nested chain recurses once per
        # branch during expression conversion and overflows the JVM stack
        # near ~500 branches (found by test_route_expr_both_paths)
        expr = F.when(rkey_col < F.lit(inner[0]), F.lit(block_ids[0]))
        for i in range(1, len(inner)):
            expr = expr.when(rkey_col < F.lit(inner[i]), F.lit(block_ids[i]))
        return expr.otherwise(F.lit(block_ids[len(inner)])).cast("int")
    # interpreted fallback: count boundaries ≤ rkey, then map the
    # positional index through the actual-id array literal
    pos = F.aggregate(
        F.lit(inner),
        F.lit(0),
        lambda acc, b: acc + F.when(rkey_col >= b, 1).otherwise(0),
    )
    return F.element_at(F.lit(block_ids), pos + 1).cast("int")


# Host-resident CSR blocks: (csr_path, block_id) → (vids, indptr,
# indices) np.memmap triples of the ``.npy`` files the pack job wrote
# under ``<csr_path>/_decoded/b<block_id>`` (``_write_block``; the
# underscore prefix hides them from Spark/pyarrow dataset discovery).
# Every worker on a host shares ONE page-cache copy per block and keeps
# ~0 resident bytes (the earlier per-worker in-memory caches held
# N_workers copies: the anti-scaling warm phase of BENCH/scaling.json,
# 8 s at 2 cores vs 48 s at 8 on 100M edges). A local root's files are
# mapped where the pack wrote them; a non-local root's (hdfs://, s3://)
# are first staged to host-local disk (``_stage_block``), because mmap
# needs a local file.
_CSR_CACHE: dict[tuple[str, int], tuple] = {}
_CSR_ARRAYS = ("vids", "indptr", "indices")

# Block-local destination ids for the walk kernel's bincount coalescing:
# (csr_path, block_id) → (indices, dsts, local), where ``dsts`` are the
# block's sorted distinct neighbour ids and ``indices[j] ==
# dsts[local[j]]``. Computed once per block per worker. An entry keeps
# the ``indices`` array it was computed from and is recomputed when the
# cached block holds a different one, so a replaced ``_CSR_CACHE`` entry
# never gets another block's ids. These are the only resident per-block
# arrays: 4 B per edge plus 8 B per distinct destination, for the blocks
# of ONE pack that this worker served (``_purge_other_roots``), so at
# most ~12 B per edge of that pack's graph, uncapped.
_LOCAL_IDS: dict[tuple[str, int], tuple] = {}


def _is_local(csr_path: str) -> bool:
    return csr_path.startswith("file:") or "://" not in csr_path


def _block_dir(root: str, block_id: int) -> str:
    return f"{root.rstrip('/')}/_decoded/b{block_id}"


def _publish_dir(dest: str, fill: Callable[[str], None]) -> None:
    """Atomically publish a block dir: ``fill(tmp)`` writes its files to
    a pid-suffixed tmp dir, renamed into place. A racer that finds the
    dir published (a retried or speculative task, another worker on the
    host) discards its tmp dir; the winner's is complete and immutable.
    Any other failure raises: the task must fail, not lose the block."""
    tmp = f"{dest}.tmp.{os.getpid()}"
    try:
        os.makedirs(tmp, exist_ok=True)
        fill(tmp)
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(dest):
            raise


def _publish_block(root: str, block_id: int, entry: tuple) -> None:
    """Publish a block's arrays as mmap-able ``.npy`` files under a local
    root (``_publish_dir``): the files are the only copy of the block."""

    def save(tmp: str) -> None:
        for name, arr in zip(_CSR_ARRAYS, entry):
            np.save(os.path.join(tmp, f"{name}.npy"), arr)

    _publish_dir(_block_dir(root, block_id), save)


def _mmap_block(root: str, block_id: int):
    """Published block dir → memmap triple."""
    dest = _block_dir(root, block_id)
    return tuple(
        np.load(os.path.join(dest, f"{name}.npy"), mmap_mode="r")
        for name in _CSR_ARRAYS
    )


def _write_block(csr_path: str, block_id: int, entry: tuple) -> None:
    """The pack kernel's write of one block's arrays: local roots publish
    through ``_publish_block``'s atomic rename, other roots write the same
    ``.npy`` files through ``pyarrow.fs``."""
    fs, root = _resolve_fs(csr_path)
    if _is_local(csr_path):
        _publish_block(root, block_id, entry)
        return
    dest = _block_dir(root, block_id)
    fs.create_dir(dest, recursive=True)
    for name, arr in zip(_CSR_ARRAYS, entry):
        with fs.open_output_stream(f"{dest}/{name}.npy") as f:
            np.save(f, arr)


def _stage_root(csr_path: str) -> str:
    """This host's stage root for a non-local pack: under the first
    ``SPARK_LOCAL_DIRS`` entry — which Spark sets in each Python worker to
    the executor's block-manager dirs, deleted when the executor stops —
    else the temp dir, keyed by csr_path (one pack)."""
    base = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    return os.path.join(base or tempfile.gettempdir(), "mc_csr",
                        hashlib.sha1(csr_path.encode()).hexdigest())


def _stage_block(fs: pafs.FileSystem, root: str, csr_path: str,
                 block_id: int) -> str:
    """Copy a non-local block's three files, byte for byte, to this
    host's stage root once (the first worker to miss publishes them via
    ``_publish_dir``; a racer discards its copy) and return that root."""
    local = _stage_root(csr_path)
    src, dest = _block_dir(root, block_id), _block_dir(local, block_id)

    def copy(tmp: str) -> None:
        for name in _CSR_ARRAYS:
            with fs.open_input_file(f"{src}/{name}.npy") as f:
                f.download(os.path.join(tmp, f"{name}.npy"))

    if not os.path.isdir(dest):
        _publish_dir(dest, copy)
    return local


def _load_block(csr_path: str, block_id: int):
    """Cached memmap triple for a block. Every routed block id has files
    (the pack job's own rows are the routing bounds), so a missing or
    unreadable block raises — the task fails and is retried — rather
    than silently killing the block's walks."""
    key = (csr_path, block_id)
    hit = _CSR_CACHE.get(key)
    if hit is not None:
        return hit
    _purge_other_roots(csr_path)  # stale runs' graphs must not pile up
    fs, root = _resolve_fs(csr_path)
    if not _is_local(csr_path):
        root = _stage_block(fs, root, csr_path, block_id)
    entry = _CSR_CACHE[key] = _mmap_block(root, block_id)
    return entry


def _drop(key: tuple[str, int]) -> None:
    """Remove a block and its local destination ids from the caches."""
    _CSR_CACHE.pop(key, None)
    _LOCAL_IDS.pop(key, None)


def _purge_other_roots(csr_path: str) -> None:
    """Drop cached blocks belonging to OTHER runs' csr_paths. A long-lived
    Python worker serving many pagerank_monte_carlo calls would otherwise
    keep every run's local destination ids resident and its maps open
    (distinct csr_path keys never hit again → unbounded growth), and the
    host every staged pack. Removing a stage dir is safe: open maps
    outlive the unlink, and a later miss stages the block again (a local
    root has no stage dir). ``_load_block`` calls it on every miss."""
    stale = {k for k in (*_CSR_CACHE, *_LOCAL_IDS) if k[0] != csr_path}
    for key in stale:
        _drop(key)
    for path in {k[0] for k in stale}:
        shutil.rmtree(_stage_root(path), ignore_errors=True)


def _local_ids(key: tuple[str, int], indices: np.ndarray):
    """(dsts, local) for the block cached at ``key`` (see ``_LOCAL_IDS``)."""
    hit = _LOCAL_IDS.get(key)
    if hit is not None and hit[0] is indices:
        return hit[1], hit[2]
    dsts, local = np.unique(indices, return_inverse=True)
    local = local.astype(np.int32)  # a block holds < 2^31 edges
    _LOCAL_IDS[key] = (indices, dsts, local)
    return dsts, local


def _split_hubs(dst: np.ndarray, cnt: np.ndarray, hubs: tuple | None, rng):
    """Coalesced arrivals (dst, cnt) → (rkey, cnt). A non-hub vertex keeps
    its one row at rkey = dst << REPLICA_BITS; a hub's count is split
    across its replicas with an exact multinomial ∝ replica size (each
    walk picks replica r w.p. rsize_r / deg, then a uniform neighbour of
    that replica: P(dst) = 1/deg, and the count is conserved exactly).
    ``hubs`` = (vids, offsets, rkeys, probs): sorted hub ids, and per hub
    i its replicas' rkeys/probabilities at ``offsets[i]:offsets[i + 1]``."""
    rkey = dst.astype(np.int64) << REPLICA_BITS
    if hubs is None:
        return rkey, cnt
    vids, offsets, rkeys, probs = hubs
    pos = np.minimum(np.searchsorted(vids, dst), len(vids) - 1)
    is_hub = vids[pos] == dst
    out_rkey, out_cnt = [rkey[~is_hub]], [cnt[~is_hub]]
    for i in np.flatnonzero(is_hub):
        lo, hi = offsets[pos[i]], offsets[pos[i] + 1]
        parts = rng.multinomial(cnt[i], probs[lo:hi])
        keep = parts > 0
        out_rkey.append(rkeys[lo:hi][keep])
        out_cnt.append(parts[keep])
    return np.concatenate(out_rkey), np.concatenate(out_cnt)


def _walk_kernel(csr_path: str, eps: float, seed: int, step: int,
                 hubs: tuple | None = None):
    """Grouped-map Arrow kernel: routed coupons of ONE block → coalesced
    arrivals (rkey, cnt), hub arrivals already split across replicas
    (``_split_hubs``). The block's CSR slice comes from the worker-
    resident cache (see ``_CSR_CACHE``), NOT through the Arrow exchange.
    Deterministic in (seed, block_id, step). Coupons are keyed by rkey
    (= v << REPLICA_BITS | replica); rkeys not present in the block's CSR
    rows (dangling vertices routed here by the pure-expression router)
    contribute nothing — their walks die, which is the reference's
    dangling semantics (MonteCarloPageRank.scala:73).

    A row's c coupons survive as one binomial draw s; the s survivors then
    move to uniformly random edge slots of the row's k edges, drawn
    exactly and per edge slot, never per walk: a row with s ≥ k takes one
    ``multinomial(s, [1/k] * k)`` (rows grouped by degree, one draw per
    group), a row with s < k takes s integer picks in [0, k). A duplicated
    neighbour owns two slots, so it gets twice the mass. Arrivals
    coalesce with one bincount over the block-local destination ids
    (``_LOCAL_IDS``), so the call's work and temporaries are
    O(Σ min(s, k)) ≤ O(block edges) however many walks it moves."""

    def kernel(coupons_t: pa.Table) -> pa.Table:
        empty = pa.table(
            {"rkey": pa.array([], pa.int64()), "cnt": pa.array([], pa.int64())}
        )
        if coupons_t.num_rows == 0:
            return empty
        block_id = int(coupons_t.column("block_id")[0].as_py())
        vids, indptr, indices = _load_block(csr_path, block_id)
        rk = coupons_t.column("rkey").to_numpy(zero_copy_only=False)
        c = coupons_t.column("c").to_numpy(zero_copy_only=False)
        order = np.argsort(rk)  # rkeys unique per block → total order
        rk = rk[order]
        c = c[order]
        loc = np.searchsorted(vids, rk)
        locc = np.minimum(loc, max(len(vids) - 1, 0))
        valid = vids[locc] == rk if len(vids) else np.zeros(len(rk), dtype=bool)
        k = np.where(valid, indptr[locc + 1] - indptr[locc], 0)

        rng = np.random.default_rng(np.random.SeedSequence([seed, block_id, step]))
        survivors = rng.binomial(c, 1.0 - eps)  # exactly c trials, not c+1
        live = np.flatnonzero((k > 0) & (survivors > 0))  # dangling walks die
        if len(live) == 0:
            return empty
        s, deg, start = survivors[live], k[live], indptr[locc[live]]
        dsts, local = _local_ids((csr_path, block_id), indices)
        # s ≥ k: one multinomial over the row's k edge slots per row, one
        # call per distinct degree
        dense = np.flatnonzero(s >= deg)
        dense = dense[np.argsort(deg[dense], kind="stable")]
        degs, first = np.unique(deg[dense], return_index=True)
        slots, counts = [], []
        for d, rows in zip(degs.tolist(), np.split(dense, first[1:])):
            slots.append((start[rows, None] + np.arange(d)).ravel())
            counts.append(rng.multinomial(s[rows], np.full(d, 1.0 / d)).ravel())
        # s < k: s exact uniform picks among the row's k edge slots
        sparse = s < deg
        picks = np.repeat(start[sparse], s[sparse])
        picks += rng.integers(0, np.repeat(deg[sparse], s[sparse]))
        cnt = np.bincount(local[picks], minlength=len(dsts))
        if slots:  # float64 weights sum integer counts exactly (< 2^53)
            cnt += np.bincount(
                local[np.concatenate(slots)], np.concatenate(counts),
                minlength=len(dsts),
            ).astype(np.int64)
        hit = np.flatnonzero(cnt)
        rkey, cnt = _split_hubs(dsts[hit], cnt[hit], hubs, rng)
        return pa.table(
            {"rkey": pa.array(rkey, pa.int64()), "cnt": pa.array(cnt, pa.int64())}
        )

    return kernel


def pagerank_monte_carlo(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    walks_per_vertex: int = 10,
    iterations: int = 10,
    eps: float = EPS,
    seed: int = 1234,  # reference's RNG base seed, MonteCarloPageRank.scala:52
    edges_per_block: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    state_root: str | None = None,
) -> tuple[DataFrame, dict[str, Any]]:
    """Returns (``ranks(v:long, rank:double)``, info). Rank = ζ_v / Σζ.

    ``edges_per_block`` controls walk-kernel parallelism (one CSR block =
    one Arrow task) AND the hub-split threshold (out_deg > edges_per_block
    → the vertex is split across replicas). Default sizes blocks so there
    are ≈ 2 blocks per core slot (min 4k edges/block); the default
    therefore varies with cluster size — pass an explicit value when
    outputs must be identical across different clusters.

    ``state_root`` relocates the scratch state (CSR blocks + segment
    state tables). It may be a filesystem URI (``file://``, ``hdfs://``,
    ``s3://``): the CSR writes and the workers' block reads resolve it
    through ``pyarrow.fs`` (``_resolve_fs``), so superstep state can live
    on DFS — the real-cluster deployment shape; each host copies a DFS
    root's blocks to its local disk once and maps them. Every call clears
    ``<state_root>/csr`` and packs into a fresh ``csr/<uuid4 hex>`` dir,
    so no call reads another call's graph. Caller owns cleanup of a given
    root; the default mkdtemp scratch is reclaimed at interpreter exit."""
    t_setup = time.time()
    K = max(walks_per_vertex, 1)  # MonteCarloPageRank.scala:101
    # ONE superstep store (state.py; durable with checkpoint_dir): its
    # scratch root also holds the CSR blocks the pack job writes (module
    # docstring, item 1), so the graph never re-crosses the JVM→Arrow
    # boundary per superstep. The committed block_ids depend on
    # edges_per_block, and format 2 is the per-segment (tag, block_id,
    # rkey, c) table: a checkpoint of any other run configuration or
    # layout is refused on resume — before the csr dir is cleared and the
    # O(E) pack runs. An auto edges_per_block is known only after
    # planning, so it alone is checked then.
    store, last = open_store(
        spark, checkpoint_dir,
        {"algo": "pagerank_mc", "format": 2, "K": K, "eps": eps,
         "seed": seed, "edges_per_block": edges_per_block},
        resume, root=state_root,
        ignore=("edges_per_block",) if edges_per_block is None else (),
    )
    # re-packed on every call: a reused root's old packs are cleared, and
    # the pack goes to a fresh dir, so no worker's cache or stage entry
    # for an earlier call's csr_path can serve this call's blocks
    fs, csr_dir = _resolve_fs(store.root.rstrip("/") + "/csr")
    fs.delete_dir_contents(csr_dir, missing_dir_ok=True)
    csr_path = f"{store.root.rstrip('/')}/csr/{uuid.uuid4().hex}"
    # edges_per_block=None → the planner derives the ≈2-blocks-per-slot
    # default from the degree aggregate it computes anyway (no extra pass)
    blocks_assign, plan_meta = plan_walk_blocks(
        edges, csr_path, edges_per_block=edges_per_block,
    )
    if checkpoint_dir and edges_per_block is None:
        store.run_config["edges_per_block"] = plan_meta["edges_per_block"]
        if resume:
            last = store.last_complete_step()
    edges_per_block = plan_meta["edges_per_block"]
    bounds = plan_meta["bounds"]
    block_ids = plan_meta["block_ids"]
    has_hubs = plan_meta["has_hubs"]
    hubs = None
    if has_hubs:
        # hub replicas are few by definition (out_deg > edges_per_block):
        # their table rides in the walk kernel's closure (_split_hubs)
        rows = blocks_assign.filter("n_rep > 1").select("v", "rkey", "rsize")
        hub_v, hub_rkeys, rsize = np.array(sorted(rows.collect()), np.int64).T
        hub_ids, first = np.unique(hub_v, return_index=True)
        offsets = np.append(first, len(hub_v))
        probs = rsize / np.repeat(np.add.reduceat(rsize, first), np.diff(offsets))
        hubs = (hub_ids, offsets, hub_rkeys, probs)
    # vertex set: srcs come free from the planner's cached O(V) degree
    # table; only the dst side pays a distinct over the cached
    # src-partitioned edges — the raw edge source is never re-read
    verts = (
        vertices.select(F.col("vid").alias("v"))
        if vertices is not None
        else plan_meta["out_deg"].select("v")
        .unionByName(
            plan_meta["edges_src_partitioned"].select(F.col("dst").alias("v"))
        )
        .distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # the routing expression is loop-invariant: built once, not once per
    # superstep (a B-block chain is ~3B py4j calls)
    route = route_expr(F.col("rkey"), bounds, block_ids).alias("block_id")

    def _build_state(r: DataFrame) -> DataFrame:
        """Init state: routed init coupons → ONE exchange by block_id; the
        (block_id, rkey) coalescing aggregate runs on that same
        partitioning (hash(block_id) clusters every (block_id, rkey)
        pair — no second exchange). The caller materializes the result to
        scratch PARQUET, not ``localCheckpoint``: a checkpointed RDD's
        preserved hashpartitioning holds attribute ids that go stale when
        the analyzer's DeduplicateRelations re-ids the scan's copies (the
        fused segment plan references the state once per ζ branch), and a
        canonically-unequal leaf poisons every exchange above it — no
        ReusedExchange, O(steps²) kernel recompute. A parquet scan
        canonicalizes cleanly; the one hash(block_id) exchange the kernel
        inserts above it is itself reused across all consumers."""
        return (
            hash_by(r, "block_id")
            .groupBy("block_id", "rkey")
            .agg(F.sum("c").alias("c"))
        )

    def _unpack(seg_out: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Segment table → (ζ accumulator (rkey, c), carry-over coupon
        state (block_id, rkey, c))."""
        return (
            seg_out.filter("tag = 1").select("rkey", "c"),
            seg_out.filter("tag = 0").select("block_id", "rkey", "c"),
        )

    start_step = 0 if last is None else last + 1
    # the loop plan is fully static (see the module docstring), and AQE
    # would hide the checkpointed partitionings it relies on
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    steps_run = start_step
    step_secs: list[float] = []  # per-SEGMENT wall
    step_totals: list[int] = []  # surviving walks per superstep (observed)
    try:
        if last is None:
            init = verts.select(
                F.shiftleft("v", REPLICA_BITS).alias("rkey"),
                F.lit(int(K)).cast("long").alias("c"),
            )
            if hubs is not None:  # a hub's K coupons start on its replicas
                rk, c = _split_hubs(
                    hub_ids, np.full(len(hub_ids), K, np.int64), hubs,
                    np.random.default_rng(np.random.SeedSequence([seed, 0x517])),
                )
                init = init.filter(
                    ~F.shiftright("rkey", REPLICA_BITS).isin(hub_ids.tolist())
                ).unionByName(spark.createDataFrame(
                    list(zip(rk.tolist(), c.tolist())), "rkey long, c long"
                ))
            state = store.materialize(
                _build_state(init.select(route, "rkey", "c")), "state"
            )
            z_acc, agged = state.select("rkey", "c"), state  # ζ = K
        else:
            z_acc, agged = _unpack(store.load_tables(last, ["state"])["state"])
        for df in plan_meta["cached"]:  # planner pins (edges exchange,
            df.unpersist()  # degree table, block assignment) end with
            # setup — the loop reads only the CSR blocks and bounds
        t_loop = time.time()
        # WHOLE-LOOP FUSION: ``FUSE_STEPS`` supersteps compile into ONE
        # Spark job. Per step the plan is [complete (block_id, rkey) agg →
        # sort → walk kernel (hub splits included) → expression route →
        # exchange by block_id] — a single stage, because the agg and the
        # grouped-map kernel both run on the hash(block_id) partitioning
        # the step's one exchange established (clustering by a subset of
        # the grouping keys needs no second exchange). Each step's
        # exchange is consumed TWICE in the same plan — by the next step's
        # agg and by the segment's ζ union — which costs one shuffle, not
        # two: ReusedExchange dedupes the identical subtree (asserted by
        # tests/test_pagerank.py fused-plan test). Versus the round-2
        # per-step-job design this removes, per superstep: one stage
        # barrier, one job submit/teardown gap, and one localCheckpoint
        # store+rescan — fixed costs that dominated the 4N-core legs of
        # the scaling run (measured utilization 0.78 at 8 cores vs 0.98 at
        # 2 with per-step jobs). Per-step surviving-walk totals ride the
        # segment job as CollectMetrics on the ζ branches; extinction
        # therefore short-circuits at segment granularity (a
        # post-extinction step inside a segment walks an empty state — a
        # no-op).
        step = start_step
        # an edgeless graph packs no blocks: every walk is dangling and
        # dies in the first superstep, so there is nothing to walk (and
        # no block files for the kernel to load)
        while step < iterations and block_ids:
            t_seg = time.time()
            seg = list(range(step, min(step + FUSE_STEPS, iterations)))
            obs_by_step: dict[int, Observation] = {}
            branches = [z_acc]
            for s in seg:
                moved = agged.groupBy("block_id").applyInArrow(
                    _walk_kernel(csr_path, eps, seed, s, hubs),
                    schema="rkey long, cnt long",
                )
                exch = hash_by(
                    moved.select(route, "rkey", F.col("cnt").alias("c")),
                    "block_id",
                )
                obs = Observation(f"mc_step_{s}")
                obs_by_step[s] = obs
                branches.append(
                    exch.observe(obs, F.sum("c").alias("total"))
                    .select("rkey", "c")
                )
                agged = exch.groupBy("block_id", "rkey").agg(
                    F.sum("c").alias("c")
                )
            # ζ partial: rows with equal rkey share a block, hence a
            # partition — the partial agg fully coalesces each branch
            # before the hash(rkey) exchange
            z_seg = (
                reduce(DataFrame.unionByName, branches)
                .groupBy("rkey").agg(F.sum("c").alias("c"))
            )
            # ONE action materializes the segment: ζ partial plus the
            # carry-over state, tagged into one table so a single job
            # computes every kernel exactly once. A scratch run's last
            # segment drops the carry-over; a checkpointed run keeps it so
            # the committed run can later be resumed to more supersteps
            seg_out = z_seg.select(
                F.lit(1).alias("tag"), F.lit(-1).alias("block_id"),
                "rkey", "c",
            )
            if checkpoint_dir or seg[-1] != iterations - 1:
                seg_out = seg_out.unionByName(
                    agged.select(F.lit(0).alias("tag"), "block_id", "rkey", "c")
                )
            seg_out = store.save_step(
                seg[-1], {"state": seg_out}, {"segment": seg}
            )["state"]
            # parquet erases partitioning, so the next segment's first
            # kernel re-exchanges the carry-over state — one small
            # (O(occupied vertices)) exchange per SEGMENT, the price of
            # bounding plan size (see _build_state for why parquet, not
            # localCheckpoint, backs the segment boundary)
            z_acc, agged = _unpack(seg_out)
            step_secs.append(round(time.time() - t_seg, 3))
            extinct = False
            for s in seg:
                tot = int(obs_by_step[s].get["total"] or 0)
                step_totals.append(tot)
                steps_run = s + 1
                if tot == 0:  # extinction — nothing left to walk
                    extinct = True
                    break
            if extinct:
                break
            step = seg[-1] + 1
    finally:  # never leak AQE-off into the caller's session
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)

    t_loop_end = time.time()
    # ζ = K + Σ arrivals: the segment jobs already folded every step's
    # arrivals into the (rkey, c) accumulator — finalize only folds hub
    # replicas (v = rkey >> REPLICA_BITS) and normalizes. Never a
    # per-step re-aggregation (the reference union+reduceByKey's doubled
    # shuffle, MonteCarloPageRank.scala:122).
    all_arrivals = z_acc.select(
        F.shiftright("rkey", REPLICA_BITS).alias("v"),
        F.col("c").alias("z"),
    )
    visits, row = store.observe(
        all_arrivals.groupBy("v").agg(F.sum("z").alias("z")),
        "visits", F.sum("z").alias("t"),
    )
    total = row["t"]
    if total is None:  # empty graph: no vertices at all
        verts.unpersist()
        empty = spark.createDataFrame([], "v long, rank double")
        return empty, {
            "iterations": 0, "K": K, "seed": seed, "total_visits": 0,
            "eps": eps, "setup_secs": round(t_loop - t_setup, 3),
            "loop_secs": 0.0,
        }
    ranks = visits.select("v", (F.col("z") / F.lit(float(total))).alias("rank"))
    # pin; the scratch root (ranks' recompute source) is reclaimed at
    # interpreter exit (state.py atexit registry)
    ranks = fill(ranks.persist(StorageLevel.MEMORY_AND_DISK))
    verts.unpersist()
    info = {
        "iterations": steps_run, "K": K, "seed": seed,
        "total_visits": int(total), "eps": eps,
        "has_hub_splits": bool(has_hubs),
        "n_blocks": len(bounds),
        "setup_secs": round(t_loop - t_setup, 3),
        "loop_secs": round(t_loop_end - t_loop, 3),
        "step_secs": step_secs,
        "step_walk_totals": step_totals,
        "fuse_steps": FUSE_STEPS,
        # setup breakdown: plan = the degree job (+ the replica totals
        # with hubs); csr_write = the pack job — edge shuffle, assign
        # kernel and Arrow pack writing the blocks (the O(E) part); warm
        # = 0.0, there is no warm job any more (the key stays for
        # existing readers); rest = everything else (scratch and
        # checkpoint setup, hub collect, init-coupon write)
        "setup_phases": {
            "plan": plan_meta["plan_secs"],
            "csr_write": plan_meta["pack_secs"],
            "warm": 0.0,
            "rest": round(t_loop - t_setup - plan_meta["plan_secs"]
                          - plan_meta["pack_secs"], 3),
        },
    }
    return ranks, info
