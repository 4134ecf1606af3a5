"""DRAM-bus counterfactual for the MC loop scaling-efficiency gap.

BENCH/scaling.json shows the MC walk-kernel stage's summed task time
inflating ~2.0x from 2 to 8 cores on the 100M-edge graph while every
other stage inflates <=1.2x. The claim (BENCH/BASELINE.md) is that this
is shared-DRAM-bus contention of one host pretending to be two cluster
sizes, not an engine defect. This experiment makes that claim
dispositive by removing Spark entirely:

  * Run the EXACT production kernel body (``pagerank_mc._walk_kernel``)
    on identical synthetic CSR blocks, as 1 process vs P concurrent
    processes, each process doing the SAME per-process work.
  * Two working-set sizes: DRAM-sized (blocks + kernel temps far
    exceed L3) and cache-sized (everything fits comfortably in L3).
  * Report per-process kernel seconds and the inflation ratio
    time(P procs) / time(1 proc). Perfect hardware scaling = 1.0.

If the inflation appears ONLY at the DRAM-sized working set and
disappears at the cache-sized one, the contention is in the memory
system, not the code: on a real N-vs-4N cluster each executor's kernels
stream against their own DRAM, so the inflation term does not exist.
A serial/algorithmic bottleneck would inflate both sizes alike.

Usage::

    python tools/bus_counterfactual.py [--procs 4] [--out BENCH/bus_counterfactual.json]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

import numpy as np
import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_block(n_vertices: int, avg_degree: int, seed: int):
    """Deterministic synthetic CSR block shaped like the production pack
    output (int64 vids, int64 indptr, int32 indices — adjacency.py)."""
    rng = np.random.default_rng(seed)
    degs = rng.geometric(1.0 / avg_degree, n_vertices).astype(np.int64)
    indptr = np.concatenate(([0], np.cumsum(degs)))
    n_edges = int(indptr[-1])
    vids = np.arange(n_vertices, dtype=np.int64)
    indices = rng.integers(0, n_vertices, n_edges, dtype=np.int64).astype(
        np.int32
    )
    return vids, indptr, indices


def run_steps(args):
    """One process's leg: `steps` full kernel invocations over its own
    private copy of the block (as each Spark worker owns its mmap view),
    with a per-vertex coupon table like superstep 0's."""
    (n_vertices, avg_degree, walks, steps, seed, barrier) = args
    from montecarlopagerank_spark.algos import pagerank_mc as mc

    blk = make_block(n_vertices, avg_degree, seed)
    # inject the block into the worker-resident cache under a fake path
    path = f"_counterfactual_{os.getpid()}"
    mc._CSR_CACHE[(path, 0)] = blk
    coupons = pa.table(
        {
            "block_id": pa.array(np.zeros(n_vertices, np.int64)),
            "rkey": pa.array(np.arange(n_vertices, dtype=np.int64)),
            "c": pa.array(np.full(n_vertices, walks, dtype=np.int64)),
        }
    )
    kernel = mc._walk_kernel(path, 0.15, seed, 0)
    kernel(coupons)  # warm: page in the block, JIT numpy import costs
    barrier.wait()  # all processes start the timed region together
    t0 = time.time()
    for s in range(steps):
        kernel(coupons)
    dt = time.time() - t0
    mc._CSR_CACHE.pop((path, 0), None)
    return dt


def leg(n_procs: int, n_vertices: int, avg_degree: int, walks: int,
        steps: int) -> float:
    """Mean per-process kernel seconds with n_procs running concurrently,
    each on its own block copy (identical per-process work at every
    n_procs — inflation therefore measures interference only)."""
    ctx = mp.get_context("spawn")
    with ctx.Manager() as man:
        barrier = man.Barrier(n_procs)
        with ctx.Pool(n_procs) as pool:
            times = pool.map(
                run_steps,
                [(n_vertices, avg_degree, walks, steps, 1000 + i, barrier)
                 for i in range(n_procs)],
            )
    return float(np.mean(times))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--low-procs", type=int, default=2,
                    help="low level — matches the scaling windows' local[2]")
    ap.add_argument("--high-procs", type=int, default=8,
                    help="high level — matches the windows' local[8]")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out",
                    default=os.path.join(REPO, "BENCH",
                                         "bus_counterfactual.json"))
    # DRAM-sized: ~2M vertices x 16 avg deg = 32M edges/block copy
    # (~128MB indices + ~16MB indptr + ~128MB cached local destination
    # ids + O(block edges) kernel temps: far beyond the 260MB shared L3
    # at 4 copies). Cache-sized: 40K vertices x 16 = 640K edges (~2.5MB
    # indices; everything ~10MB per copy — inside L3).
    ap.add_argument("--big-vertices", type=int, default=2_000_000)
    ap.add_argument("--small-vertices", type=int, default=40_000)
    ap.add_argument("--walks", type=int, default=16)
    args = ap.parse_args()

    configs = {
        "dram_sized": dict(n_vertices=args.big_vertices, steps=6),
        "cache_sized": dict(n_vertices=args.small_vertices, steps=300),
    }
    report = {"low_procs": args.low_procs, "high_procs": args.high_procs,
              "l3_bytes": None, "legs": {}}
    try:  # record the cache size the sizing argument rests on
        with open("/sys/devices/system/cpu/cpu0/cache/index3/size") as f:
            report["l3_bytes"] = f.read().strip()
    except OSError:
        pass
    for name, cfg in configs.items():
        # interleave low/high repeats so host drift hits both sides
        lows, highs = [], []
        for _ in range(args.repeats):
            lows.append(leg(args.low_procs, cfg["n_vertices"], 16,
                            args.walks, cfg["steps"]))
            highs.append(leg(args.high_procs, cfg["n_vertices"], 16,
                             args.walks, cfg["steps"]))
        s, m = float(np.median(lows)), float(np.median(highs))
        report["legs"][name] = {
            "low_median_s": round(s, 3),
            "high_median_s": round(m, 3),
            # per-process work is identical at both levels, so perfect
            # hardware scaling = 1.0; this is the interference term the
            # Spark-level MC loop ratio divides by
            "inflation": round(m / s, 3),
            "low_all": [round(x, 3) for x in lows],
            "high_all": [round(x, 3) for x in highs],
            **cfg,
        }
        print(f"{name}: {args.low_procs}-proc {s:.3f}s  "
              f"{args.high_procs}-proc {m:.3f}s  inflation {m / s:.3f}")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
