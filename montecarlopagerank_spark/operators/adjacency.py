"""Adjacency structures: relational adjacency + CSR-blocked partitions.

Two forms (SURVEY.md §1.4):

* relational ``adj(src:long, neighbours:array<long>, deg:int)`` via
  ``groupBy(src).agg(sort_array(collect_list(dst)))`` — partial-aggregable,
  unlike the reference's ``groupByKey``
  (ConvertNodeLinksToAdjacencyList.scala:40);

* **CSR blocks** for the Arrow walk kernels:
  ``blocks(block_id:int, vids:array<long>, indptr:array<long>,
  indices:array<long>)`` — one row per vertex-range block, holding a
  compressed-sparse-row slice of the graph. Block boundaries are
  **degree-aware**: vids are packed so each block carries ≈ equal *edge*
  count (not vertex count), so a hub-dense vid range is split into many
  small blocks while sparse ranges coalesce — this is the "degree-aware
  block splits" skew handling from BASELINE.json's north_star.

Assigning blocks by cumulative degree needs a prefix sum over vid order;
a single global window would serialize on one task at 10^12 scale, so we
use the same two-level trick as the vertex dictionary: coarse vid ranges →
per-range sums → broadcast offsets → within-range window.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

CSR_BLOCK_SCHEMA = (
    "block_id int, vids array<long>, indptr array<long>, indices array<long>"
)
# walk blocks carry int32 neighbour ids when the vertex space fits — halves
# the Arrow volume shipped into the walk kernel every superstep
CSR_BLOCK_SCHEMA_I32 = (
    "block_id int, vids array<long>, indptr array<long>, indices array<int>"
)

# replica id lives in the low bits of the CSR row key: rkey = v << 20 | r.
# 2^20 replicas bounds a single hub at edges_per_block * 2^20 out-edges
# (≥ 2^40 at the smallest sane block size); vids stay < 2^43 — fine for
# dense dictionary-assigned ids.
REPLICA_BITS = 20


def build_adjacency(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """``edges(src,dst)`` → ``adj(src, neighbours sorted, deg)``; when
    ``vertices`` is given, dangling vertices get empty arrays (the
    reference's ``new Array[Int](0)``, MonteCarloPageRank.scala:34-35) so
    the vertex set is closed (SURVEY.md J2 semantics note)."""
    adj = edges.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("neighbours")
    )
    if vertices is not None:
        adj = (
            vertices.select(F.col("vid").alias("src"))
            .join(adj, "src", "left")
            .withColumn(
                "neighbours",
                F.coalesce("neighbours", F.array().cast("array<long>")),
            )
        )
    return adj.withColumn("deg", F.size("neighbours"))


def _prefix_offsets(per_key: DataFrame, key: str, val: str, coarse: int) -> DataFrame:
    """Deterministic scalable prefix sum of ``val`` in ``key`` order.

    Returns per-key ``prefix`` (sum of val for all keys strictly before).
    Two-level: coarse range = key // coarse; per-range totals (small) get a
    driver-size window, then a within-range window finishes the job.
    """
    ranged = per_key.withColumn("rng", (F.col(key) / coarse).cast("long"))
    range_tot = ranged.groupBy("rng").agg(F.sum(val).alias("tot"))
    range_off = range_tot.withColumn(
        "rng_off",
        F.coalesce(
            F.sum("tot").over(
                Window.orderBy("rng").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("rng", "rng_off")
    w_in = (
        Window.partitionBy("rng").orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(range_off), "rng")
        .withColumn("prefix", F.col("rng_off") + F.coalesce(F.sum(val).over(w_in), F.lit(0)))
        .drop("rng", "rng_off")
    )


def assign_blocks(
    degrees_df: DataFrame, edges_per_block: int = 1 << 20, coarse: int = 1 << 16
) -> DataFrame:
    """``deg(v, out_deg)`` → ``(v, block_id)`` by cumulative out-degree:
    block_id = floor(prefix_edges / edges_per_block). Each vertex also
    counts 1 so empty-degree runs still split. Deterministic in vid order."""
    weighted = degrees_df.select(
        F.col("v"), (F.col("out_deg") + F.lit(1)).alias("w")
    )
    pre = _prefix_offsets(weighted, "v", "w", coarse)
    return pre.select(
        "v", (F.col("prefix") / F.lit(edges_per_block)).cast("int").alias("block_id")
    )


def plan_walk_blocks(
    edges: DataFrame,
    edges_per_block: int | None = 1 << 20,
    coarse: int = 1 << 16,
    n_partitions: int | None = None,
    publish_root: str | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """Degree-aware block plan WITH hub-vertex splitting (north_star:
    "hub vertices split across ≥2 blocks, partial-aggregated then
    re-reduced").

    Any vertex with out_deg > the hub threshold is split into
    R = ceil(out_deg / threshold) *replicas* (threshold = edges_per_block
    when given explicitly; under auto sizing it is floored at 2^18 —
    see the inline comment); each out-edge is
    assigned to replica pmod(xxhash64(dst), R), so replicas carry disjoint
    neighbour subsets of ≈equal size and no single Arrow task ever holds
    more than ~edges_per_block edges of one hub. Replicas are addressed by
    ``rkey = v << REPLICA_BITS | replica`` and packed into blocks by
    cumulative edge count exactly like unsplit vertices.

    Returns ``(blocks_assign, csr_blocks, meta)``:

    * ``blocks_assign(v, replica, rkey, rsize, n_rep, block_id)`` — one row
      per non-empty replica; ``n_rep`` is the planned replica count R
      (1 = unsplit), so a split vertex may have fewer than R rows. Walk
      drivers route a vertex's coupons to its replicas with an exact
      multinomial split ∝ rsize (see pagerank_mc), so the per-destination
      distribution stays exactly uniform over out-edges:
      P(dst) = (rsize/deg) · (1/rsize) = 1/deg.
    * ``csr_blocks(block_id, vids=rkeys, indptr, indices)`` — CSR rows keyed
      by rkey. Totals are exact because the multinomial split conserves
      coupon counts (the "partial-aggregated then re-reduced" step is the
      ordinary groupBy(dst) coalescing downstream of the kernel).
    * ``meta = {"has_hubs": bool, "max_out_deg": int}``.

    Fast path: when max(out_deg) ≤ edges_per_block (no hubs — the common
    case once blocks are sized for the cluster), the per-edge replica
    assignment, recount, and per-vertex window are skipped entirely; the
    plan is one groupBy + the prefix-sum + one src-keyed join, and the
    one-row max() aggregate that picks the path is the only extra job.
    """
    cached: list[DataFrame] = []  # pinned plans; meta["cached"] — the
    # caller unpersists after materializing the CSR blocks
    if n_partitions:
        # ONE up-front exchange by src, then PINNED: the degree
        # aggregation, the replica recount, and the edge⋈assignment join
        # are all separate Spark *actions*, and exchanges are not reused
        # across jobs — unpinned, each action re-shuffled the full edge
        # table from source (measured: setup at 100M edges paid the edge
        # exchange ~5×, ~290 s of a 308 s MC setup at 2 cores). At 100 TB
        # the edge exchange IS the setup cost; it must happen exactly once.
        edges = edges.repartition(n_partitions, "src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cached.append(edges)
    # (v, out_deg) is O(V) — pin it too; bounds/hub/default-sizing reads
    # then never touch the edge table again
    out_deg = (
        edges.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("out_deg"), F.max("dst").alias("_mx_dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cached.append(out_deg)
    mrow = out_deg.agg(  # ONE job fills the edge + degree caches and
        F.max("out_deg").alias("d"),  # returns every planning scalar
        F.max("_mx_dst").alias("mx"),  # only dst feeds the int32 indices
        F.sum("out_deg").alias("e"),
        F.count("*").alias("nsrc"),
    ).collect()[0]
    out_deg = out_deg.drop("_mx_dst")
    max_deg = mrow["d"] or 0
    hub_threshold = edges_per_block
    if edges_per_block is None:
        # default block sizing ≈ 2 blocks per core slot (min 4k edges):
        # derived from the degree table already in hand — no extra pass.
        # Vertex weight uses the src count (dangling-only vertices carry
        # no edges, so their exclusion barely moves this heuristic).
        total_w = int(mrow["e"] or 0) + int(mrow["nsrc"] or 0)
        slots = edges.sparkSession.sparkContext.defaultParallelism
        edges_per_block = max(total_w // max(2 * slots, 1) + 1, 1 << 12)
        # DECOUPLED hub threshold under auto sizing: block size answers
        # "how many kernel tasks" (a parallelism question that shrinks
        # with the graph), hub splitting answers "can one task hold one
        # vertex's edges" (an absolute memory/latency question). Tying
        # hubs to the parallelism-derived size made a 20k-degree vertex
        # on a 230k-edge graph a "hub", dragging the per-step multinomial
        # router into every superstep for zero skew benefit. 256k edges
        # (~4 MB of int32 CSR) is far below any task budget, so only
        # genuinely pathological vertices split. An EXPLICIT
        # edges_per_block keeps the coupled behavior (tests force hubs
        # with tiny explicit sizes; clusters that need a lower split
        # point pass it directly).
        hub_threshold = max(edges_per_block, 1 << 18)
    has_hubs = max_deg > hub_threshold

    if not has_hubs:
        replicas = out_deg.select(
            "v",
            F.lit(0).alias("replica"),
            F.shiftleft(F.col("v"), REPLICA_BITS).alias("rkey"),
            F.col("out_deg").alias("rsize"),
            F.lit(1).alias("n_rep"),
        )
    else:
        nrep = out_deg.select(
            "v",
            F.when(
                F.col("out_deg") > hub_threshold,
                F.ceil(F.col("out_deg") / hub_threshold).cast("int"),
            )
            .otherwise(F.lit(1))
            .alias("n_rep"),
        )
        edge_rep = edges.join(
            nrep.withColumnRenamed("v", "src").hint("shuffle_hash"), "src"
        ).select(
            "src",
            "dst",
            "n_rep",
            F.when(
                F.col("n_rep") > 1,
                F.pmod(F.xxhash64("dst", F.lit(7)), F.col("n_rep")).cast("int"),
            )
            .otherwise(F.lit(0))
            .alias("replica"),
        )
        # actual replica sizes (hash assignment → recount; empty replicas
        # never materialize and get no coupons routed). n_rep stays the
        # PLANNED count: a split vertex whose out-edges all hash into one
        # replica r != 0 must still be routed as a hub — a recount to 1
        # would send its coupons to replica 0, which has no CSR row
        replicas = edge_rep.groupBy(
            F.col("src").alias("v"), "replica", "n_rep"
        ).agg(F.count("*").alias("rsize")).withColumn(
            "rkey",
            F.shiftleft(F.col("v"), REPLICA_BITS) + F.col("replica"),
        )

    weighted = replicas.select(
        "v", "replica", "rkey", "rsize", "n_rep",
        (F.col("rsize") + F.lit(1)).alias("w"),
    )
    pre = _prefix_offsets(weighted, "rkey", "w", coarse * (1 << REPLICA_BITS))
    blocks_assign = pre.select(
        "v", "replica", "rkey", "rsize", "n_rep",
        (F.col("prefix") / F.lit(edges_per_block)).cast("int").alias("block_id"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # O(V·replicas); read by the
    cached.append(blocks_assign)  # CSR join, bounds collect, hub lookup

    # shuffle_hash on the O(V·replicas) assignment side: sort-merge would
    # sort the full (cached) edge table; the hint streams edges in place
    # and hash-builds the per-partition assignment slice
    if not has_hubs:
        joined = edges.join(
            blocks_assign.select(F.col("v").alias("src"), "rkey", "block_id")
            .hint("shuffle_hash"),
            "src",
        ).select("block_id", "rkey", "dst")
    else:
        joined = edge_rep.join(
            blocks_assign.select(
                F.col("v").alias("src"), "replica", "rkey", "block_id"
            ).hint("shuffle_hash"),
            ["src", "replica"],
        ).select("block_id", "rkey", "dst")

    # int32 neighbour ids when the id space fits (dense dictionary ids
    # always do until ~2.1B vertices); halves per-superstep Arrow volume.
    # The max-dst scalar rode the degree aggregation above — no extra scan.
    use_i32 = (mrow["mx"] or 0) < (1 << 31)
    idx_np = np.int32 if use_i32 else np.int64
    idx_pa = pa.int32() if use_i32 else pa.int64()

    def pack(tbl: pa.Table) -> pa.Table:
        # Arrow-native pack: zero pandas, list columns built straight from
        # offset/value buffers
        rkeys = tbl.column("rkey").to_numpy(zero_copy_only=False)
        dsts = tbl.column("dst").to_numpy(zero_copy_only=False)
        order = np.lexsort((dsts, rkeys))
        rkeys = rkeys[order]
        indices = dsts[order].astype(idx_np)
        vids, counts = np.unique(rkeys, return_counts=True)
        indptr = np.concatenate(([0], np.cumsum(counts)))
        bid = int(tbl.column("block_id")[0].as_py())
        if publish_root is not None:
            # pack-time publication: the decoded arrays are in hand RIGHT
            # NOW — publish them as the host's mmap side-files so the warm
            # pass never re-reads + re-decodes the parquet it just wrote
            # (the decode half of the anti-scaling warm phase in
            # BENCH/scaling.json). Best-effort locality: on a multi-host
            # cluster only the packing host is pre-published; other hosts
            # fall back to the lazy decode+publish path. Runtime import —
            # pagerank_mc imports this module at load time.
            from montecarlopagerank_spark.algos.pagerank_mc import (
                _publish_block,
            )

            _publish_block(publish_root, bid, (vids, indptr, indices))

        def one_list(values: np.ndarray, typ) -> pa.ListArray:
            return pa.ListArray.from_arrays(
                pa.array([0, len(values)], pa.int32()), pa.array(values, typ)
            )

        return pa.table(
            {
                "block_id": pa.array([bid], pa.int32()),
                "vids": one_list(vids, pa.int64()),
                "indptr": one_list(indptr, pa.int64()),
                "indices": one_list(indices, idx_pa),
            }
        )

    schema = CSR_BLOCK_SCHEMA_I32 if use_i32 else CSR_BLOCK_SCHEMA
    csr = joined.groupBy("block_id").applyInArrow(pack, schema=schema)
    # block boundaries: blocks pack CONTIGUOUS rkey ranges (block_id is a
    # monotone step function of rkey by construction of the prefix sum), so
    # the per-superstep coupon→block routing is a pure expression over these
    # boundaries (see pagerank_mc.route_expr) — no routing-table join and no
    # extra shuffle per step. One small collect at plan time; the boundary
    # count is the block count (sized ~2-3x total cores, so ≤ ~10^4 even on
    # a 1000-executor cluster — fine as a driver list / literal).
    # NOTE: block ids can SKIP values — row weight is rsize+1, so a vertex
    # with out_deg == edges_per_block advances the prefix by epb+1 and the
    # floor-division jumps past an id (hub replicas can jump further via
    # xxhash64 imbalance). Routing must therefore map a coupon to the
    # ACTUAL id of its block (these literals), never to the positional
    # index of its boundary — a positional id would address a nonexistent
    # CSR side-file and the walks would silently die.
    brows = (
        blocks_assign.groupBy("block_id")
        .agg(F.min("rkey").alias("lo"))
        .orderBy("block_id")
        .collect()
    )
    bounds = [r["lo"] for r in brows]
    block_ids = [int(r["block_id"]) for r in brows]
    meta = {
        "has_hubs": has_hubs,
        "max_out_deg": int(max_deg),
        "bounds": bounds,
        "block_ids": block_ids,
        "int32_indices": use_i32,
        "edges_per_block": edges_per_block,
        # src-partitioned cached edge table + O(V) degree table, for
        # callers that need further graph passes (e.g. the vertex set)
        # without re-paying the source exchange
        "edges_src_partitioned": edges,
        "out_deg": out_deg,
        # pinned plans backing blocks_assign/csr; callers unpersist these
        # once the CSR blocks are materialized
        "cached": cached,
    }
    return blocks_assign, csr, meta


def build_csr_blocks_from_edges(
    edges: DataFrame, block_assign: DataFrame
) -> DataFrame:
    """Edge pairs + block assignment → CSR block rows, skipping the
    relational adjacency intermediate (one shuffle less than
    ``build_adjacency`` → ``build_csr_blocks``).

    Only vertices WITH out-edges get CSR rows: walk kernels inner-join
    coupons against the block assignment first, so coupons at dangling
    vertices never reach a kernel — they die, which is exactly the
    reference's dangling-walk semantics (MonteCarloPageRank.scala:73).
    """
    joined = edges.join(
        block_assign.withColumnRenamed("v", "src"), "src"
    ).select("block_id", "src", "dst")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        src = pdf["src"].to_numpy(dtype=np.int64)
        indices = pdf["dst"].to_numpy(dtype=np.int64)
        vids, counts = np.unique(src, return_counts=True)
        indptr = np.concatenate(([0], np.cumsum(counts)))
        return pd.DataFrame(
            {
                "block_id": [int(pdf["block_id"].iloc[0])],
                "vids": [vids],
                "indptr": [indptr],
                "indices": [indices],
            }
        )

    return joined.groupBy("block_id").applyInPandas(pack, schema=CSR_BLOCK_SCHEMA)


def build_csr_blocks(
    adj: DataFrame, block_assign: DataFrame, n_shuffle: int | None = None
) -> DataFrame:
    """Adjacency + block assignment → CSR block rows (one per block).

    ``applyInPandas`` per block packs (vids sorted, indptr, indices) into
    numpy-backed arrays; downstream kernels slice with zero copies. The
    result should be ``.persist()``-ed by callers — it is the loop-invariant
    structure the reference cached (MonteCarloPageRank.scala:98).
    """
    joined = adj.join(block_assign, adj.src == block_assign.v).select(
        "block_id", "src", "neighbours"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("src")
        vids = pdf["src"].to_numpy(dtype=np.int64)
        lens = pdf["neighbours"].map(len).to_numpy(dtype=np.int64)
        indptr = np.concatenate(([0], np.cumsum(lens)))
        if len(pdf) and indptr[-1] > 0:
            indices = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["neighbours"]]
            )
        else:
            indices = np.array([], dtype=np.int64)
        return pd.DataFrame(
            {
                "block_id": [int(pdf["block_id"].iloc[0])],
                "vids": [vids],
                "indptr": [indptr],
                "indices": [indices],
            }
        )

    out = joined.groupBy("block_id").applyInPandas(pack, schema=CSR_BLOCK_SCHEMA)
    if n_shuffle:
        out = out.repartition(n_shuffle, "block_id")
    return out
