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
segments of ``fuse_steps`` supersteps, each compiled into ONE Spark job
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
   **host-resident**: CSR blocks are written ONCE at setup as parquet
   side-files partitioned by block_id, and the PACK KERNEL ITSELF
   publishes each block's decoded numpy arrays as ``.npy`` files under
   ``_decoded/`` at pack time (atomic dir rename; it has the arrays in
   hand at that moment, so the warm pass never re-reads the parquet it
   just wrote — measured sub-second at any core count). Every worker
   serves from ``np.memmap`` views of those files (``_CSR_CACHE``) —
   one decode and one page-cache copy per block per HOST, not per
   worker. On a multi-host cluster the packing host is pre-published;
   other hosts lazily decode+publish on first touch (the earlier
   per-worker in-memory caches decoded the graph N_workers× and held
   N_workers copies: the anti-scaling warm phase of round 3's
   BENCH/scaling.json — 8 s at 2 cores vs 48 s at 8 on 100M edges).
   Earlier still, designs cogrouped a JVM-cached CSR table into the
   kernel, which re-shipped the whole graph JVM→Arrow→Python EVERY
   superstep — measured 429 MB/step at 100M edges, pure memory-bandwidth
   burn that capped N-vs-4N scaling efficiency at ~0.71 (the contended
   4N side pays more per byte). Pregel-style resident graph state is
   also the honest 10^12-edge design: on a real cluster each executor's
   workers converge on their partition's blocks (stable hash
   partitioning), so the side-file fetch+decode is one-time per host,
   amortized across all supersteps of all queries. The kernel is
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
state (tag 0). Without ``checkpoint_dir`` it goes to the scratch
``StateStore``; with it, ``CheckpointManager.save_step`` commits it as
step ``seg[-1]`` — so a resumable run commits once per SEGMENT (up to
``fuse_steps`` supersteps), and ``resume=True`` reads the last committed
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

import os
import time
from collections import OrderedDict
from functools import reduce
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.operators.adjacency import (
    REPLICA_BITS,
    plan_walk_blocks,
)
from montecarlopagerank_spark.operators.checkpoint import CheckpointManager
from montecarlopagerank_spark.operators.state import StateStore

EPS = 0.15

# above this many blocks a chained-WHEN routing expression stops being
# codegen-friendly; fall back to an interpreted array fold (O(B) per row
# either way, but the WHEN chain compiles to straight-line comparisons)
MAX_CHAINED_BOUNDS = 512


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
    side-files are partitioned by the actual ids, so routing by the
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
# indices) numpy triples. For a LOCAL csr root the triples are np.memmap
# views of decoded ``.npy`` side-files under ``<root>/_decoded`` (the
# underscore prefix hides them from Spark/pyarrow dataset discovery):
# the FIRST worker to need a block decodes it and publishes the arrays
# with an atomic dir rename; every other worker on the host mmaps the
# same files, so the host pays ONE decode per block and ONE page-cache
# copy total, regardless of worker count. The earlier per-worker
# in-memory caches decoded the full graph N_workers times — measured as
# the anti-scaling warm phase of BENCH/scaling.json (8 s at 2 cores vs
# 48 s at 8 on 100M edges: more cores meant strictly more decode work
# and N× the resident bytes). For non-local roots (hdfs://, s3://) the
# in-memory decode path remains (mmap needs a local file), LRU-bounded.
_CSR_CACHE: OrderedDict[tuple[str, int], tuple] = OrderedDict()
_CSR_CACHE_BYTES = [0]  # in-memory (non-mmap) entries + _LOCAL_IDS arrays
_CSR_CACHE_CAP = int(os.environ.get("SPARK_GRAFT_CSR_CACHE_BYTES", 4 << 30))
_CSR_ARRAYS = ("vids", "indptr", "indices")

# Block-local destination ids for the walk kernel's bincount coalescing:
# (csr_path, block_id) → (indices, dsts, local), where ``dsts`` are the
# block's sorted distinct neighbour ids and ``indices[j] ==
# dsts[local[j]]``. Computed once per block per worker. An entry keeps
# the ``indices`` array it was computed from and is recomputed when the
# cached block holds a different one, so a replaced ``_CSR_CACHE`` entry
# never gets another block's ids. The arrays are resident even for mmap
# blocks, so they count in ``_CSR_CACHE_BYTES`` and leave with their
# block.
_LOCAL_IDS: dict[tuple[str, int], tuple] = {}


def _strip_file_scheme(path: str) -> str | None:
    """``file:`` URI → plain local path, else None. Accepts the absolute
    forms ``file:///p``, ``file://localhost/p`` and the Hadoop/Spark-
    normalized single-slash ``file:/p`` (``Path.toString`` emits that
    form), which has no ``://`` and once fell through both
    ``_resolve_fs`` and the publish-root stripping — so ``_publish_block``
    os.makedirs'd a literal cwd-relative ``file:`` directory (the r4
    junk-dir bug). Raises ``ValueError`` for a remote authority
    (``file://host/p``) and a relative path (``file:rel/p``) instead of
    silently turning them into ``/host/p`` and ``/rel/p``."""
    if not path.startswith("file:"):
        return None
    rest = path[5:]
    if rest.startswith("//"):
        host, _, rest = rest[2:].partition("/")
        if host not in ("", "localhost"):
            raise ValueError(f"file URI names a remote host {host!r}: {path}")
        return "/" + rest.lstrip("/")
    if not rest.startswith("/"):
        raise ValueError(f"file URI with a relative path: {path}")
    return "/" + rest.lstrip("/")


def _resolve_fs(path: str) -> tuple[pafs.FileSystem, str]:
    """Resolve a CSR root to (pyarrow FileSystem, fs-local path). Plain
    paths and ``file:`` URIs (any slash count) stay on the local FS;
    other URIs (``hdfs://``, ``s3://``) go through
    ``FileSystem.from_uri`` — this is what makes the worker-resident CSR
    design work when state lives on DFS (the 10^12-edge deployment
    shape), not only when executors share the driver's disk."""
    local = _strip_file_scheme(path)
    if local is not None:
        return pafs.LocalFileSystem(), local
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _is_local(csr_path: str) -> bool:
    return csr_path.startswith("file:") or "://" not in csr_path


def _decode_part(fs, part: str):
    """One block's parquet dir → (vids, indptr, indices) numpy triple, or
    None for an empty/missing block."""
    if fs.get_file_info(part).type != pafs.FileType.Directory:
        return None  # block exists for every routed id by construction;
        # missing dir => dangling-only range
    tbl = pq.read_table(part, columns=list(_CSR_ARRAYS), filesystem=fs)
    if tbl.num_rows == 0:
        return None
    return tuple(
        tbl.column(c).combine_chunks().values.to_numpy(zero_copy_only=False)
        for c in _CSR_ARRAYS
    )


def _publish_block(root: str, block_id: int, entry: tuple) -> None:
    """Atomically publish a decoded block as mmap-able ``.npy`` files:
    write to a pid-suffixed tmp dir, rename into place. If another worker
    already won the race the rename fails and the tmp dir is discarded —
    both outcomes leave a complete, immutable published dir."""
    import shutil

    dest = f"{root.rstrip('/')}/_decoded/b{block_id}"
    tmp = f"{dest}.tmp.{os.getpid()}"
    try:
        os.makedirs(tmp, exist_ok=True)
        for name, arr in zip(_CSR_ARRAYS, entry):
            np.save(os.path.join(tmp, f"{name}.npy"), arr)
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _mmap_block(root: str, block_id: int):
    """Published-decoded-block dir → memmap triple, or None if absent."""
    dest = f"{root.rstrip('/')}/_decoded/b{block_id}"
    try:
        return tuple(
            np.load(os.path.join(dest, f"{name}.npy"), mmap_mode="r")
            for name in _CSR_ARRAYS
        )
    except (FileNotFoundError, OSError, ValueError):
        return None


def _load_block(csr_path: str, block_id: int):
    key = (csr_path, block_id)
    hit = _CSR_CACHE.get(key)
    if hit is not None:
        _CSR_CACHE.move_to_end(key)
        return hit
    fs, root = _resolve_fs(csr_path)
    local = _is_local(csr_path)
    entry = _mmap_block(root, block_id) if local else None
    if entry is None:
        entry = _decode_part(fs, f"{root.rstrip('/')}/block_id={block_id}")
        if entry is None:
            return None
        if local:
            # publish for the host's other workers, then serve the mmap
            # (keeps this worker's resident bytes at ~0 too)
            _publish_block(root, block_id, entry)
            entry = _mmap_block(root, block_id) or entry
    if isinstance(entry[0], np.memmap):
        _CSR_CACHE[key] = entry  # address space, not RSS: never counted
    else:
        _CSR_CACHE[key] = entry
        _CSR_CACHE_BYTES[0] += sum(a.nbytes for a in entry)
        _evict_lru()
    return entry


def _entry_bytes(entry: tuple) -> int:
    """RSS cost of a cache entry — memmap views cost address space, not
    resident bytes, and were never counted in."""
    return 0 if isinstance(entry[0], np.memmap) else sum(a.nbytes for a in entry)


def _drop_ids(key: tuple[str, int]) -> None:
    ids = _LOCAL_IDS.pop(key, None)
    if ids is not None:
        _CSR_CACHE_BYTES[0] -= ids[1].nbytes + ids[2].nbytes


def _drop(key: tuple[str, int]) -> None:
    """Remove a block and its local destination ids from the caches."""
    old = _CSR_CACHE.pop(key, None)
    if old is not None:
        _CSR_CACHE_BYTES[0] -= _entry_bytes(old)
    _drop_ids(key)


def _evict_lru() -> None:
    while _CSR_CACHE_BYTES[0] > _CSR_CACHE_CAP and len(_CSR_CACHE) > 1:
        _drop(next(iter(_CSR_CACHE)))


def _purge_other_roots(csr_path: str) -> None:
    """Drop cached blocks belonging to OTHER runs' csr_paths. A long-lived
    Python worker serving many pagerank_monte_carlo calls would otherwise
    keep every run's full decoded graph resident (distinct csr_path keys
    never hit again → unbounded growth past the cap between warm passes;
    mmap entries cost only fds/address space but are dropped too)."""
    for key in {k for k in (*_CSR_CACHE, *_LOCAL_IDS) if k[0] != csr_path}:
        _drop(key)


def _local_ids(key: tuple[str, int], indices: np.ndarray):
    """(dsts, local) for the block cached at ``key`` (see ``_LOCAL_IDS``)."""
    hit = _LOCAL_IDS.get(key)
    if hit is not None and hit[0] is indices:
        return hit[1], hit[2]
    _drop_ids(key)  # computed for a block that has since been replaced
    dsts, local = np.unique(indices, return_inverse=True)
    local = local.astype(np.int32)  # a block holds < 2^31 edges
    _LOCAL_IDS[key] = (indices, dsts, local)
    _CSR_CACHE_BYTES[0] += dsts.nbytes + local.nbytes
    _evict_lru()
    return dsts, local


def _preload_all(csr_path: str) -> None:
    """Warm this worker's resident cache with every CSR block of
    ``csr_path``. LOCAL roots use the shared decoded side-files: each
    block is decoded ONCE on the host by whichever worker reaches it
    first (workers iterate the block list rotated by their pid so
    concurrent warm tasks start on DIFFERENT blocks) and published under
    ``_decoded/``; every other worker just mmaps the published arrays.
    Total host work ≈ one decode of the graph + N_workers× mmap setup —
    this is what makes the warm phase scale with cores instead of
    against them (the old per-worker bulk decode was N× the work AND N×
    the resident bytes; measured 8 s at 2 cores vs 48 s at 8 on 100M
    edges). Non-local (DFS) roots keep the ONE vectorized per-worker
    parquet read, cap-guarded, since mmap needs a local file. On a real
    cluster the dataset dir holds only the executor's shard (stable hash
    partitioning), so either way this is the Pregel graph-load phase,
    amortized over all supersteps."""
    _purge_other_roots(csr_path)  # stale runs' graphs must not pile up
    fs, root = _resolve_fs(csr_path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(root, recursive=False))
    except (FileNotFoundError, OSError):
        infos = []
    dir_ids = sorted(
        int(i.base_name.split("=", 1)[1])
        for i in infos
        if i.type == pafs.FileType.Directory
        and i.base_name.startswith("block_id=")
    )
    if not dir_ids and _is_local(csr_path):
        # defensive hardening only: the parquet CSR write is
        # unconditional, so block_id= dirs should always exist — but if
        # the listing failed or came back empty (partial purge, racing
        # filesystem), the pack-time-published mmap dirs are a usable
        # fallback block list on local roots
        try:
            dir_ids = sorted(
                int(d[1:])
                for d in os.listdir(f"{root.rstrip('/')}/_decoded")
                if d.startswith("b") and d[1:].isdigit()
            )
        except (FileNotFoundError, OSError):
            return
    if not dir_ids:
        return
    if all((csr_path, b) in _CSR_CACHE for b in dir_ids):
        return  # already warm: a repeat warm pass (or a warm task landing
        # on an already-warm worker) must not re-walk the dataset
    if _is_local(csr_path):
        off = os.getpid() % len(dir_ids)
        for b in dir_ids[off:] + dir_ids[:off]:
            if (csr_path, b) not in _CSR_CACHE:
                _load_block(csr_path, b)  # mmap-if-published else
                # decode+publish — at most ~one decode per block per host
        return
    total = sum(
        i.size or 0
        for i in fs.get_file_info(pafs.FileSelector(root, recursive=True))
        if i.is_file and not i.base_name.startswith("_")
    )
    if total == 0 or total * 3 > _CSR_CACHE_CAP:  # empty graph, or the
        return  # decoded arrays (≈2-3× zstd parquet) would thrash the LRU
    try:
        tbl = pq.read_table(
            root,
            columns=["block_id", *_CSR_ARRAYS],
            filesystem=fs,
        )
    except (pa.lib.ArrowInvalid, KeyError, OSError):
        # e.g. a zero-row write leaves a schema-only part file with no
        # block_id= hive dirs; the lazy per-block path serves instead
        return
    for i in range(tbl.num_rows):
        bid = int(tbl.column("block_id")[i].as_py())
        key = (csr_path, bid)
        if key in _CSR_CACHE:
            continue
        entry = tuple(
            tbl.column(c)[i].values.to_numpy(zero_copy_only=False)
            for c in _CSR_ARRAYS
        )
        _CSR_CACHE[key] = entry
        _CSR_CACHE_BYTES[0] += sum(a.nbytes for a in entry)
    _evict_lru()  # same bound as the lazy path (the 3× estimate above is
    # a heuristic; actual decoded bytes must respect the cap too)


def warm_csr_workers(spark: SparkSession, csr_path: str) -> None:
    """One ~simultaneous Arrow task per core slot: each reused Python
    worker preloads the CSR side-files before superstep 0. Without this,
    every worker pays its cold block reads inside the first superstep —
    a cost proportional to workers × blocks that anti-scales with the
    cluster (measured: step 0 at 8 cores ran 3.9× the steady-state step,
    and only 1.65× at 2 cores). Warm wall-time is ≈ constant in core
    count: all slots load concurrently. Workers the pass happens to miss
    (or later evictions) fall back to lazy per-block loads."""
    # ONE task per actual core slot — NOT defaultParallelism, which the
    # session pins to the shuffle-partition count independent of cluster
    # size. With defaultParallelism tasks the warm job cost was
    # slots-invariant (32 tasks × full-graph decode at every cluster
    # size: a pure anti-scaling term measured at 23-38s of MC setup on a
    # 100M-edge graph); with totalCores tasks it is one decode wave at
    # any size (~2s, and the repeat-warm guard in _preload_all makes
    # tasks that land on an already-warm worker near-free).
    sc = spark.sparkContext
    try:
        n_slots = int(sc._jsc.sc().schedulerBackend().totalCores())
    except Exception:  # non-standard backend: fall back, over-warming is
        n_slots = sc.defaultParallelism  # correct (just slower)

    def warm(batches):
        _preload_all(csr_path)
        yield from batches  # pass-through; one tiny row per task

    spark.range(0, n_slots, 1, n_slots).mapInArrow(warm, "id long").count()


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
        blk = _load_block(csr_path, block_id)
        if blk is None:
            return empty
        vids, indptr, indices = blk
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
    fuse_steps: int = 6,
) -> tuple[DataFrame, dict[str, Any]]:
    """Returns (``ranks(v:long, rank:double)``, info). Rank = ζ_v / Σζ.

    ``edges_per_block`` controls walk-kernel parallelism (one CSR block =
    one Arrow task) AND the hub-split threshold (out_deg > edges_per_block
    → the vertex is split across replicas). Default sizes blocks so there
    are ≈ 2 blocks per core slot (min 4k edges/block); the default
    therefore varies with cluster size — pass an explicit value when
    outputs must be identical across different clusters.

    ``fuse_steps`` is how many supersteps are compiled into ONE Spark job
    (a segment) before the superstep chain is materialized — and, with
    ``checkpoint_dir``, committed, so it is also the resume granularity;
    it bounds logical-plan size, not correctness — any value ≥ 1 produces
    identical ranks (the RNG is seeded per logical (block, step), never
    per job). The fused plan is a logical TREE, not a DAG: each step's
    exchange is consumed by the next step's agg AND the segment's ζ
    branch (×2/step) — ReusedExchange dedups execution but the ANALYZER
    walks the un-deduped tree, so DeduplicateRelations pays O(2^k) per
    segment. The default k=6 is ~seconds of driver CPU at any data size
    (hub splits add no plan branches: they happen inside the walk
    kernel). Raise it only for graphs whose per-step work dwarfs the
    per-job fixed cost.

    ``state_root`` relocates the scratch state (CSR side-files + segment
    state tables). It may be a filesystem URI (``file://``, ``hdfs://``,
    ``s3://``): the workers' resident-CSR reads resolve it through
    ``pyarrow.fs`` (``_resolve_fs``), so superstep state can live on DFS —
    the real-cluster deployment shape. Caller owns cleanup of a given
    root; the default mkdtemp scratch is reclaimed at interpreter exit."""
    t_setup = time.time()
    K = max(walks_per_vertex, 1)  # MonteCarloPageRank.scala:101
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t_plan0 = time.time()
    # flat per-superstep materializer (state.py) — created BEFORE the
    # block plan so the pack kernel knows the CSR root and can publish
    # each block's decoded arrays at pack time (mmap side-files under
    # <csr>/_decoded): the warm pass then only mmaps, never re-decodes
    store = StateStore(spark, root=state_root)
    # the loop-invariant CSR goes to block_id-partitioned parquet ONCE;
    # the walk kernel's workers load + cache their blocks from these
    # side-files (DFS on a real cluster), so the graph never re-crosses
    # the JVM→Arrow boundary per superstep (module docstring, item 2)
    csr_path = store.root.rstrip("/") + "/csr"
    # edges_per_block=None → the planner derives the ≈2-blocks-per-slot
    # default from the degree aggregate it computes anyway (no extra pass)
    blocks_assign, csr, plan_meta = plan_walk_blocks(
        edges,
        edges_per_block=edges_per_block,
        n_partitions=n_parts,
        # pack-time publication needs a local (host-shared) root; DFS
        # roots keep the lazy decode+publish path on first touch. The
        # SCHEME-STRIPPED path is what _publish_block/_mmap_block key on
        # (a raw file:// URI would os.makedirs a literal "file:" dir)
        publish_root=_resolve_fs(csr_path)[1] if _is_local(csr_path) else None,
    )
    edges_per_block = plan_meta["edges_per_block"]
    ckpt = None
    last = None
    if checkpoint_dir:
        # the committed block_ids depend on edges_per_block, and format 2
        # is the per-segment (tag, block_id, rkey, c) table: a checkpoint
        # of any other run configuration or layout is refused on resume,
        # before the CSR write
        ckpt = CheckpointManager(
            spark, checkpoint_dir,
            {"algo": "pagerank_mc", "format": 2, "K": K, "eps": eps,
             "seed": seed, "edges_per_block": edges_per_block},
        )
        if resume:
            last = ckpt.last_complete_step()
        else:
            ckpt.clear()
    t_plan1 = time.time()
    # NO repartition before the write: the pack kernel's own groupBy
    # exchange already produced block_id-partitioned output (64 fat rows),
    # and re-exchanging them shuffles the entire packed CSR (~4.3 GB/TB of
    # edges) a second time for zero layout benefit — the dynamic-partition
    # writer handles the ~2 blocks per task directly
    # snappy for the side-files: they're scratch (read back by every
    # worker's resident-cache load), and snappy halves the encode CPU in
    # the 32 pack tasks for ~1.33× bytes — the right trade for a file
    # whose lifetime is one run and whose read path is decode-bound.
    # (A noop-sink variant that skipped this parquet write on single-host
    # scratch runs was measured at 100M edges and bought nothing: the
    # csr_write phase is the edge exchange + Arrow pack + publication,
    # not the parquet encode — so the durable side-files stay
    # unconditional.)
    csr.write.option("compression", "snappy").partitionBy(
        "block_id"
    ).mode("overwrite").parquet(csr_path)
    t_write = time.time()
    warm_csr_workers(spark, csr_path)  # Pregel graph-load: resident
    # caches fill once per worker here, not inside superstep 0
    t_csr = time.time()
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
            r.repartition(n_parts, "block_id")
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
                _build_state(init.select(route, "rkey", "c")), "mcstate"
            )
            z_acc, agged = state.select("rkey", "c"), state  # ζ = K
        else:
            z_acc, agged = _unpack(ckpt.load_tables(last, ["state"])["state"])
        for df in plan_meta["cached"]:  # planner pins (edges exchange,
            df.unpersist()  # degree table, block assignment) end with
            # setup — the loop reads only the CSR side-files and bounds
        t_loop = time.time()
        # WHOLE-LOOP FUSION: ``fuse_steps`` supersteps compile into ONE
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
        while step < iterations:
            t_seg = time.time()
            seg = list(range(step, min(step + fuse_steps, iterations)))
            obs_by_step: dict[int, Observation] = {}
            branches = [z_acc]
            for s in seg:
                moved = agged.groupBy("block_id").applyInArrow(
                    _walk_kernel(csr_path, eps, seed, s, hubs),
                    schema="rkey long, cnt long",
                )
                exch = moved.select(
                    route, "rkey", F.col("cnt").alias("c")
                ).repartition(n_parts, "block_id")
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
            if ckpt or seg[-1] != iterations - 1:
                seg_out = seg_out.unionByName(
                    agged.select(F.lit(0).alias("tag"), "block_id", "rkey", "c")
                )
            if ckpt:
                seg_out = ckpt.save_step(
                    seg[-1], {"state": seg_out}, {"segment": seg}
                )["state"]
            else:
                seg_out = store.materialize(seg_out, "mcstate")
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
    obs_total = Observation("mc_total")
    visits = store.materialize(
        all_arrivals.groupBy("v")
        .agg(F.sum("z").alias("z"))
        .observe(obs_total, F.sum("z").alias("t")),
        "visits",
    )
    total = obs_total.get["t"]
    if total is None:  # empty graph: no vertices at all
        verts.unpersist()
        empty = spark.createDataFrame([], "v long, rank double")
        return empty, {
            "iterations": 0, "K": K, "seed": seed, "total_visits": 0,
            "eps": eps, "setup_secs": round(t_loop - t_setup, 3),
            "loop_secs": 0.0,
        }
    ranks = visits.select("v", (F.col("z") / F.lit(float(total))).alias("rank"))
    ranks = ranks.persist(StorageLevel.MEMORY_AND_DISK)
    ranks.count()  # pin; the scratch root (ranks' recompute source) is
    # reclaimed at interpreter exit (state.py atexit registry)
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
        "fuse_steps": fuse_steps,
        # setup breakdown: plan = out_deg agg + bounds collect jobs;
        # csr_write = the edge shuffle + Arrow pack + parquet side-files
        # (the O(E) part); rest = hub collect + init-coupon write
        "setup_phases": {
            "plan": round(t_plan1 - t_plan0, 3),
            "csr_write": round(t_write - t_plan1, 3),
            "warm": round(t_csr - t_write, 3),
            "rest": round(t_loop - t_csr, 3),
        },
    }
    return ranks, info
