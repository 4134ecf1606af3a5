"""MC walk-kernel microbenchmark outside Spark.

Calls ``algos.pagerank_mc._walk_kernel`` directly on one CSR block cut from
the workload's own graph, the way ``tools/bus_counterfactual.py`` does: the
block is put into the worker-resident cache under a private key and the
kernel is fed a superstep-0 coupon table (``walks`` coupons per row).
"""

from __future__ import annotations

import importlib
import statistics
import time
import tracemalloc

import numpy as np
import pyarrow as pa


def csr_block(src: np.ndarray, dst: np.ndarray, block_edges: int):
    """The lowest-id source vertices holding about ``block_edges`` out-edges,
    packed as ``plan_walk_blocks`` packs a block: rkey-sorted int64 row keys,
    int64 offsets, int32 neighbour ids sorted within each row."""
    from montecarlopagerank_spark.operators.adjacency import REPLICA_BITS

    order = np.lexsort((dst, src))
    s, d = src[order], dst[order]
    vids, counts = np.unique(s, return_counts=True)
    rows = int(np.searchsorted(np.cumsum(counts), block_edges)) + 1
    indptr = np.concatenate(([0], np.cumsum(counts[:rows])))
    indices = d[: indptr[-1]].astype(np.int32)
    return vids[:rows] << REPLICA_BITS, indptr, indices


def microbench(src, dst, block_edges: int, walks: int, seconds: float,
               eps: float = 0.15, seed: int = 1) -> dict:
    """Times kernel calls for about ``seconds``. Returns the median call
    time, surviving walks per second, distinct destinations per surviving
    walk, and the peak bytes of the call's temporaries per surviving walk
    (numpy reports its buffers to ``tracemalloc``; computed from the
    allocated array sizes, not a measure of DRAM traffic)."""
    mc = importlib.import_module("montecarlopagerank_spark.algos.pagerank_mc")

    block = csr_block(src, dst, block_edges)
    key = "perfbench-kernel"
    mc._CSR_CACHE[(key, 0)] = block
    try:
        rows = len(block[0])
        coupons = pa.table({
            "block_id": pa.array(np.zeros(rows, np.int32)),
            "rkey": pa.array(block[0]),
            "c": pa.array(np.full(rows, walks, dtype=np.int64)),
        })
        kernel = mc._walk_kernel(key, eps, seed, 0)
        out = kernel(coupons)  # warm: page in the block and numpy paths
        tracemalloc.start()
        base = tracemalloc.get_traced_memory()[0]
        kernel(coupons)
        peak = tracemalloc.get_traced_memory()[1] - base
        tracemalloc.stop()
        times = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(times) < 5:
            t0 = time.perf_counter()
            kernel(coupons)
            times.append(time.perf_counter() - t0)
    finally:
        mc._CSR_CACHE.pop((key, 0), None)
    survivors = int(np.asarray(out.column("cnt")).sum())
    call_s = statistics.median(times)
    return {
        "block_edges": int(block[1][-1]),
        "block_rows": rows,
        "calls": len(times),
        "call_s": call_s,
        "walks_per_s": survivors / call_s,
        "coalesce_ratio": out.num_rows / survivors,
        "bytes_per_walk": peak / survivors,
    }
