"""The MC walk kernel's sampling, tested without Spark: a CSR block goes
into the worker-resident cache under a private key and
``pagerank_mc._walk_kernel`` is called directly, as perfbench/kernel.py
does. Also the CSR root's ``file:`` URI parsing."""

from __future__ import annotations

import math
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from montecarlopagerank_spark.algos import pagerank_mc as mc
from montecarlopagerank_spark.operators.adjacency import REPLICA_BITS

EPS = 0.15
# every chi-square below must clear this p-value; the seeds are fixed, so
# a pass is deterministic, and a kernel that drops or favours edges lands
# many orders of magnitude below it
P_FLOOR = 1e-3


def chi2_sf(x: float, df: int) -> float:
    """Upper tail of the chi-square distribution (Wilson-Hilferty cube-
    root normal approximation; relative error well under 1% at the
    df >= 99 used here)."""
    h = 2.0 / (9.0 * df)
    z = ((x / df) ** (1.0 / 3.0) - (1.0 - h)) / math.sqrt(h)
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def chi2_p(counts: np.ndarray, probs: np.ndarray) -> float:
    expected = counts.sum() * probs
    return chi2_sf(float(((counts - expected) ** 2 / expected).sum()), len(counts) - 1)


@pytest.fixture
def block():
    """Install CSR rows (one neighbour list per row; vertex i gets rkey
    i << REPLICA_BITS) as block 0 of a private csr_path. Yields the
    path; the cache entries are removed afterwards."""
    keys = []

    def install(rows: list[list[int]], path: str = "test-mc-kernel"):
        indptr = np.concatenate(([0], np.cumsum([len(r) for r in rows])))
        indices = np.concatenate([np.sort(r) for r in rows]).astype(np.int32)
        vids = np.arange(len(rows), dtype=np.int64) << REPLICA_BITS
        mc._CSR_CACHE[(path, 0)] = (vids, indptr.astype(np.int64), indices)
        keys.append((path, 0))
        return path

    yield install
    for key in keys:
        mc._drop(key)


def coupons(c) -> pa.Table:
    c = np.asarray(c, np.int64)
    return pa.table({
        "block_id": pa.array(np.zeros(len(c), np.int32)),
        "rkey": pa.array(np.arange(len(c), dtype=np.int64) << REPLICA_BITS),
        "c": pa.array(c),
    })


def survivors(c, seed, step=0) -> np.ndarray:
    """The kernel's survivor draw for block 0: its generator's first draw."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0, step]))
    return rng.binomial(np.asarray(c, np.int64), 1 - EPS)


def arrivals(path, c, seeds, n_dst: int, step: int = 0) -> np.ndarray:
    """Arrivals per destination id, summed over ``seeds``; also checks
    that each call moves exactly the survivors (every row has edges)."""
    total = np.zeros(n_dst, np.int64)
    for seed in seeds:
        out = mc._walk_kernel(path, EPS, seed, step)(coupons(c))
        v = np.asarray(out.column("rkey")) >> REPLICA_BITS
        cnt = np.asarray(out.column("cnt"))
        assert (cnt > 0).all() and len(np.unique(v)) == len(v)
        np.add.at(total, v, cnt)
        assert cnt.sum() == survivors(c, seed, step).sum()
    return total


def test_dense_row_uniform_over_edges(block):
    """k=1000 edges, ~10^5 survivors per call: the multinomial path."""
    k, seeds = 1000, range(4)
    path = block([list(range(1, k + 1))])
    c = [117_650]
    assert all(survivors(c, s)[0] >= k for s in seeds)
    got = arrivals(path, c, seeds, k + 1)
    assert got[0] == 0
    assert chi2_p(got[1:], np.full(k, 1 / k)) >= P_FLOOR


def test_sparse_row_uniform_over_edges(block):
    """k=5000 edges, ~10^3 survivors per call: the integer-pick path."""
    k, seeds = 5000, range(40)
    path = block([list(range(1, k + 1))])
    c = [1_200]
    assert all(survivors(c, s)[0] < k for s in seeds)
    got = arrivals(path, c, seeds, k + 1)
    assert chi2_p(got[1:], np.full(k, 1 / k)) >= P_FLOOR


@pytest.mark.parametrize("c, seeds", [(20_000, range(8)), (50, range(400))],
                         ids=["multinomial", "integer-pick"])
def test_duplicated_neighbour_gets_twice_the_mass(block, c, seeds):
    """A row of 100 edge slots over 99 distinct neighbours, neighbour 7
    listed twice: 7 must get 2/100 of the arrivals, the others 1/100."""
    row = [*range(1, 100), 7]
    path = block([row])
    got = arrivals(path, [c], seeds, 100)[1:]
    probs = np.bincount(np.array(row) - 1, minlength=99) / len(row)
    assert chi2_p(got, probs) >= P_FLOOR
    ratio = got[6] / np.delete(got, 6).mean()
    assert 1.7 < ratio < 2.3, ratio


def test_same_seed_block_step_same_output(block):
    rng = np.random.default_rng(0)
    rows = [list(rng.integers(0, 500, rng.integers(1, 40))) for _ in range(60)]
    rows[5] = []  # a dangling row: its walks die
    path = block(rows)
    c = rng.integers(0, 300, len(rows))
    out = [mc._walk_kernel(path, EPS, 11, step)(coupons(c)) for step in (3, 3, 4)]
    assert out[0].equals(out[1])
    assert not out[0].equals(out[2])


def test_replaced_block_never_gets_stale_local_ids(block):
    """The local-id cache is keyed by the block's cache key; replacing the
    cached block under the same key must not reuse the old ids."""
    path = block([[1, 2, 3]])
    mc._walk_kernel(path, EPS, 1, 0)(coupons([1000]))
    block([[40, 50]], path)
    out = mc._walk_kernel(path, EPS, 1, 0)(coupons([1000]))
    assert set(np.asarray(out.column("rkey")) >> REPLICA_BITS) == {40, 50}
    mc._purge_other_roots("another-root")
    assert (path, 0) not in mc._LOCAL_IDS and (path, 0) not in mc._CSR_CACHE


def test_temporaries_do_not_grow_with_walks(block):
    """Peak traced temporaries of one kernel call are O(block edges), not
    O(walks): K=2^16 coupons per row stays within 2x of K=2^6."""
    rng = np.random.default_rng(1)
    rows = [list(rng.integers(0, 1000, rng.integers(1, 32))) for _ in range(64)]
    path = block(rows)
    peaks = []
    for K in (1 << 6, 1 << 16):
        kernel = mc._walk_kernel(path, EPS, 2, 0)
        table = coupons(np.full(len(rows), K))
        kernel(table)  # warm the block's caches
        tracemalloc.start()
        base = tracemalloc.get_traced_memory()[0]
        kernel(table)
        peaks.append(tracemalloc.get_traced_memory()[1] - base)
        tracemalloc.stop()
    assert peaks[1] <= 2 * peaks[0], peaks


@pytest.mark.parametrize("uri, path", [
    ("file:/p/x", "/p/x"),
    ("file:///p/x", "/p/x"),
    ("file://localhost/p/x", "/p/x"),
])
def test_strip_file_scheme_local_forms(uri, path):
    assert mc._strip_file_scheme(uri) == path


@pytest.mark.parametrize("uri", ["file://host/p", "file:rel/p"])
def test_strip_file_scheme_rejects_host_and_relative(uri):
    with pytest.raises(ValueError):
        mc._strip_file_scheme(uri)
