"""The MC walk kernel's sampling, tested without Spark: a CSR block goes
into the worker-resident cache under a private key and
``pagerank_mc._walk_kernel`` is called directly, as perfbench/kernel.py
does. Also the CSR root's ``file:`` URI parsing, and the host-local
staging of a non-local root's block files."""

from __future__ import annotations

import hashlib
import math
import os
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest
from pyarrow import fs as pafs

from montecarlopagerank_spark.algos import pagerank_mc as mc
from montecarlopagerank_spark.operators import state
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
    assert state._strip_file_scheme(uri) == path


@pytest.mark.parametrize("uri", ["file://host/p", "file:rel/p"])
def test_strip_file_scheme_rejects_host_and_relative(uri):
    with pytest.raises(ValueError):
        state._strip_file_scheme(uri)


# one block as the pack kernel writes it (vids, indptr, indices)
ENTRY = (
    np.array([3, 7], np.int64) << REPLICA_BITS,
    np.array([0, 2, 3], np.int64),
    np.array([7, 9, 3], np.int32),
)


@pytest.fixture
def dfs_root(monkeypatch, tmp_path):
    """A DFS-style root, ``mock://csr-test/run``, holding block 4 as the
    pack's non-local write leaves it. Every ``FileSystem.from_uri(
    "mock://…")`` is a fresh, empty filesystem, so ``_resolve_fs`` is
    patched to hand out one shared instance; ``SPARK_LOCAL_DIRS`` puts
    the host's stage root under ``tmp_path``. Yields (root filesystem,
    root, stage dir); the root's cache entries are dropped afterwards."""
    shared = pafs._MockFileSystem()
    monkeypatch.setattr(
        mc, "_resolve_fs", lambda p: (shared, p.split("://", 1)[1]))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{tmp_path}/ld0,{tmp_path}/ld1")
    root = "mock://csr-test/run"
    mc._write_block(root, 4, ENTRY)
    stage = os.path.join(tmp_path, "ld0", "mc_csr",
                         hashlib.sha1(root.encode()).hexdigest(), "_decoded")
    yield shared, root, stage
    for key in [k for k in mc._CSR_CACHE if k[0] == root]:
        mc._drop(key)


def test_non_local_root_stages_host_local_copy(dfs_root):
    """The pack's non-local write puts the block's ``.npy`` files on the
    root's filesystem; ``_load_block`` copies them to the host's stage
    root and maps them like a local root's, a hit returns the same
    triple, and ``_purge_other_roots`` drops the entry."""
    shared, root, stage = dfs_root
    names = shared.get_file_info(pafs.FileSelector("csr-test/run/_decoded/b4"))
    assert sorted(i.base_name for i in names) == [
        "indices.npy", "indptr.npy", "vids.npy"]
    with pytest.raises(FileNotFoundError):  # no files: a fault, no entry
        mc._load_block(root, 5)
    assert (root, 5) not in mc._CSR_CACHE
    assert not os.path.exists(stage) or os.listdir(stage) == []
    got = mc._load_block(root, 4)
    for name, a, b in zip(mc._CSR_ARRAYS, got, ENTRY):
        assert isinstance(a, np.memmap)
        assert a.filename == os.path.join(stage, "b4", f"{name}.npy")
        assert a.dtype == b.dtype and np.array_equal(a, b)
    assert os.listdir(stage) == ["b4"]
    assert mc._CSR_CACHE[(root, 4)] is got
    assert mc._load_block(root, 4) is got  # a hit, not a second read
    mc._purge_other_roots("mock://csr-test/other")
    assert (root, 4) not in mc._CSR_CACHE


def test_purge_removes_other_packs_stage_dirs(dfs_root, tmp_path):
    """A miss on a new pack drops the older pack's cache entries AND its
    host-local stage dir: a host keeps the staged copy of one pack."""
    packs = ["mock://csr-test/st/csr/a", "mock://csr-test/st/csr/b"]
    stages = os.path.join(tmp_path, "ld0", "mc_csr")
    try:
        for p in packs:
            mc._write_block(p, 0, ENTRY)
            mc._load_block(p, 0)
        assert (packs[0], 0) not in mc._CSR_CACHE
        assert os.listdir(stages) == [
            hashlib.sha1(packs[1].encode()).hexdigest()]
    finally:
        mc._drop((packs[1], 0))


def test_staged_block_serves_other_workers_on_the_host(dfs_root, monkeypatch):
    """After one worker staged a block, another worker on the same host
    (an empty cache: ``_drop``) maps the staged copy and opens nothing
    on the root filesystem."""
    shared, root, stage = dfs_root
    mc._load_block(root, 4)
    mc._drop((root, 4))
    opened = []

    class CountingFS:
        def open_input_file(self, path):
            opened.append(path)
            return shared.open_input_file(path)

    monkeypatch.setattr(
        mc, "_resolve_fs", lambda p: (CountingFS(), p.split("://", 1)[1]))
    got = mc._load_block(root, 4)
    assert opened == []
    assert all(np.array_equal(a, b) for a, b in zip(got, ENTRY))


def test_stage_race_loser_discards_copy(dfs_root, monkeypatch, tmp_path):
    """Two workers on a host miss the same block: the one whose rename
    lands second discards its copy, leaves no tmp dir, and maps the
    winner's files."""
    shared, root, stage = dfs_root
    won = (ENTRY[0], ENTRY[1], ENTRY[2] + 100)
    mc._publish_block(str(tmp_path / "winner"), 4, won)

    class RacedFS:
        """The root filesystem, except that the winner's rename lands
        while this worker is copying."""

        def open_input_file(self, path):
            if not os.path.isdir(os.path.join(stage, "b4")):
                os.rename(tmp_path / "winner" / "_decoded" / "b4",
                          os.path.join(stage, "b4"))
            return shared.open_input_file(path)

    monkeypatch.setattr(
        mc, "_resolve_fs", lambda p: (RacedFS(), p.split("://", 1)[1]))
    got = mc._load_block(root, 4)
    assert all(np.array_equal(a, b) for a, b in zip(got, won))
    assert os.listdir(stage) == ["b4"]


def _stage_racer(root: str, local_dirs: str, barrier, results) -> None:
    """One worker process of ``test_stage_race_many_workers``: a root on
    the local disk addressed as a DFS URI, so ``_load_block`` stages it."""
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    mc._resolve_fs = lambda p: (pafs.LocalFileSystem(), p.split("://", 1)[1])
    barrier.wait(timeout=60)
    try:
        got = mc._load_block(root, 4)
        results.put([np.asarray(a).tolist() for a in got])
    except Exception:  # reported to the parent, which fails the test
        import traceback

        results.put(traceback.format_exc())


def test_stage_race_many_workers(tmp_path):
    """Six worker processes (more than a 4-core host's cores) miss the
    same block at once: every one maps the block's exact arrays, and the
    host keeps one staged copy and no tmp dir."""
    import multiprocessing as mp

    mc._publish_block(str(tmp_path / "root"), 4, ENTRY)
    root = f"dfs://{tmp_path}/root"
    n = 6
    ctx = mp.get_context("spawn")
    barrier, results = ctx.Barrier(n), ctx.Queue()
    procs = [ctx.Process(target=_stage_racer,
                         args=(root, str(tmp_path / "ld"), barrier, results))
             for _ in range(n)]
    for p in procs:
        p.start()
    got = [results.get(timeout=120) for _ in procs]  # drain, then join
    for p in procs:
        p.join(timeout=60)
        assert not p.is_alive()
    want = [a.tolist() for a in ENTRY]
    assert got == [want] * n
    stage = os.path.join(tmp_path, "ld", "mc_csr",
                         hashlib.sha1(root.encode()).hexdigest(), "_decoded")
    assert os.listdir(stage) == ["b4"]
    assert sorted(os.listdir(os.path.join(stage, "b4"))) == [
        "indices.npy", "indptr.npy", "vids.npy"]


@pytest.mark.parametrize("fail", ["save", "rename"])
def test_failed_publish_raises(tmp_path, monkeypatch, fail):
    """The pack's ``.npy`` files are the only copy of a block, so a save
    that fails (ENOSPC) or a rename that fails with no published dir
    must fail the pack task — and leave no tmp or half-written dir."""
    import errno

    def boom(*_a, **_k):
        raise OSError(errno.ENOSPC, "No space left on device")

    if fail == "save":
        monkeypatch.setattr(np, "save", boom)
    else:
        monkeypatch.setattr(os, "rename", boom)
    entry = (np.array([1 << REPLICA_BITS]), np.array([0, 1]), np.array([2]))
    with pytest.raises(OSError, match="No space"):
        mc._write_block(str(tmp_path), 3, entry)
    assert os.listdir(tmp_path / "_decoded") == []


def test_failed_read_fails_kernel(tmp_path, monkeypatch):
    """A routed block always has files, so a block that cannot be read
    fails the kernel call (the task is retried) instead of returning no
    arrivals: a missing local block, and a non-local read error."""
    coupons = pa.table({
        "block_id": pa.array([7], pa.int32()),
        "rkey": pa.array([1 << REPLICA_BITS], pa.int64()),
        "c": pa.array([10], pa.int64()),
    })
    with pytest.raises(FileNotFoundError):
        mc._walk_kernel(str(tmp_path), EPS, 1, 0)(coupons)

    class FlakyFS:
        def open_input_file(self, path):
            raise OSError(f"transient read error: {path}")

    monkeypatch.setattr(
        mc, "_resolve_fs", lambda p: (FlakyFS(), p.split("://", 1)[1]))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))  # the stage root
    root = "mock://csr-test/flaky"
    with pytest.raises(OSError, match="transient"):
        mc._walk_kernel(root, EPS, 1, 0)(coupons)
    assert (root, 7) not in mc._CSR_CACHE
