"""Hub-vertex block splitting (north_star: "hub vertices split across ≥2
blocks, partial-aggregated then re-reduced").

A vertex with out_deg > edges_per_block is split into replicas carrying
disjoint neighbour subsets (operators/adjacency.py::plan_walk_blocks);
the walk kernel splits its arrivals at a hub across the replicas by an
exact multinomial ∝ replica size (algos/pagerank_mc.py::_split_hubs),
so totals are conserved exactly and the per-destination law stays
uniform: these tests pin conservation, block spread, statistical
agreement with PI, and parallelism invariance of the split path.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.pagerank_mc import (
    _load_block,
    _split_hubs,
    pagerank_monte_carlo,
)
from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
from montecarlopagerank_spark.operators.adjacency import (
    REPLICA_BITS,
    plan_walk_blocks,
)


def ranks_dict(df):
    return {r["v"]: r["rank"] for r in df.collect()}


@pytest.fixture(scope="module")
def hub_graph(spark):
    """Mega-hub 0 with 400 out-spokes; every spoke points back at the hub,
    plus a chain among spokes so the graph isn't purely bipartite."""
    rows = [(0, i) for i in range(1, 401)]
    rows += [(i, 0) for i in range(1, 401)]
    rows += [(i, i + 1) for i in range(1, 400)]
    return spark.createDataFrame(rows, "src long, dst long").persist()


def test_plan_walk_blocks_splits_hub(spark, hub_graph, tmp_path):
    csr_root = str(tmp_path / "csr")
    assign, meta = plan_walk_blocks(hub_graph, csr_root, edges_per_block=64)
    assert meta["has_hubs"] and meta["max_out_deg"] == 400
    hub = assign.filter("v = 0").collect()
    assert len(hub) >= 2, "hub must be split across >=2 replicas"
    assert sum(r["rsize"] for r in hub) == 400  # disjoint + exhaustive
    assert len({r["block_id"] for r in hub}) >= 2, "replicas span >=2 blocks"
    assert all(r["n_rep"] == len(hub) for r in hub)
    # non-hub vertices stay unsplit
    assert assign.filter("v > 0 and n_rep > 1").count() == 0
    # CSR rows are keyed by rkey and partition the hub's neighbours
    hub_neighbours = []
    for r in hub:
        vids, indptr, indices = _load_block(csr_root, r["block_id"])
        i = list(vids).index(r["rkey"])
        hub_neighbours += list(indices[indptr[i]:indptr[i + 1]])
    assert sorted(hub_neighbours) == list(range(1, 401))


def test_mc_single_nonzero_replica_hub_keeps_walks(spark, tmp_path):
    """A split vertex whose out-edges all hash into ONE replica r != 0 is
    still a hub: its coupons must reach replica r, which holds the edges.
    10 parallel edges 0→d (out_deg 10 > edges_per_block 4 → 3 planned
    replicas): with K=1000 and one superstep, dangling d collects its own
    1000 plus ~850 arrivals. Regression: recounting n_rep as non-empty
    replicas (1) dropped vertex 0 from the hub list, its coupons went to
    rkey 0<<REPLICA_BITS|0 (no CSR row), and d got exactly 1000."""
    reps = spark.range(1, 64).select(
        "id", F.pmod(F.xxhash64("id", F.lit(7)), F.lit(3)).alias("r")
    ).filter("r != 0").orderBy("id").first()
    d = int(reps["id"])
    e = spark.createDataFrame([(0, d)] * 10, "src long, dst long")
    ranks, info = pagerank_monte_carlo(
        spark, e, walks_per_vertex=1000, iterations=1, seed=1,
        edges_per_block=4)
    assert info["has_hub_splits"]
    visits_d = round(ranks_dict(ranks)[d] * info["total_visits"])
    assert 1780 <= visits_d <= 1920  # 1000 + Binomial(1000, 0.85) ± 6σ
    assign, meta = plan_walk_blocks(e, str(tmp_path), edges_per_block=4)
    row = assign.filter("v = 0").collect()
    assert len(row) == 1 and row[0]["replica"] == reps["r"]
    assert row[0]["n_rep"] == 3  # the planned count, not the recount
    for df in meta["cached"]:
        df.unpersist()


def test_plan_walk_blocks_no_split_below_threshold(spark, hub_graph, tmp_path):
    assign, meta = plan_walk_blocks(
        hub_graph, str(tmp_path), edges_per_block=10_000)
    assert not meta["has_hubs"]
    assert assign.filter("n_rep > 1").count() == 0
    assert assign.filter("v = 0").count() == 1


def test_split_hubs_exact_conservation():
    """Hub 7 (replica sizes 100/50/25) and hub 9 (one replica, r=2) split
    their arrival counts exactly; non-hub arrivals keep one row at
    replica 0."""
    hubs = (
        np.array([7, 9]),
        np.array([0, 3, 4]),
        np.array([(7 << REPLICA_BITS) + r for r in range(3)]
                 + [(9 << REPLICA_BITS) + 2]),
        np.array([100 / 175, 50 / 175, 25 / 175, 1.0]),
    )
    dst, cnt = np.array([3, 7, 9]), np.array([5, 1000, 40])

    def split(seed):
        rk, c = _split_hubs(dst, cnt, hubs, np.random.default_rng(seed))
        return dict(zip(rk.tolist(), c.tolist()))

    out = split(1234)
    assert out == split(1234)  # deterministic in the generator
    assert out != split(1235)  # a new draw per generator
    assert out[3 << REPLICA_BITS] == 5
    assert out[(9 << REPLICA_BITS) + 2] == 40
    hub7 = [out.get((7 << REPLICA_BITS) + r, 0) for r in range(3)]
    assert sum(hub7) == 1000 and len(out) == 2 + sum(x > 0 for x in hub7)
    # expectation proportional to replica sizes (loose 5-sigma check)
    assert abs(hub7[0] / 1000 - 100 / 175) < 5 * np.sqrt(0.57 * 0.43 / 1000)
    assert _split_hubs(dst, cnt, None, None)[0].tolist() == [
        v << REPLICA_BITS for v in (3, 7, 9)]


def test_mc_hub_split_agrees_with_pi(spark, hub_graph):
    """Split (edges_per_block=64 → hub over ~7 replicas) and unsplit runs
    are both unbiased estimators of the same PI fixpoint. K=200, 25 steps:
    hub visit share ~0.33, stderr ~0.002 → tol 0.02 is ~10 sigma."""
    pi, _ = pagerank_power(spark, hub_graph, tol=1e-10, max_iters=300)
    pi_d = ranks_dict(pi)
    split, info_s = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=200, iterations=25,
        edges_per_block=64, seed=11)
    assert info_s["has_hub_splits"]
    unsplit, info_u = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=200, iterations=25,
        edges_per_block=10_000, seed=11)
    assert not info_u["has_hub_splits"]
    s_d, u_d = ranks_dict(split), ranks_dict(unsplit)
    assert set(s_d) == set(pi_d) == set(u_d)
    assert s_d[0] == pytest.approx(pi_d[0], abs=0.02)
    assert u_d[0] == pytest.approx(pi_d[0], abs=0.02)
    assert s_d[0] == pytest.approx(u_d[0], abs=0.03)
    for v in [1, 100, 400]:  # spot-check spokes
        assert s_d[v] == pytest.approx(pi_d[v], abs=0.01)


def test_mc_hub_split_parallelism_invariance(spark, hub_graph):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        r1, i1 = pagerank_monte_carlo(
            spark, hub_graph.repartition(3), walks_per_vertex=50,
            iterations=6, seed=42, edges_per_block=64)
        d1 = ranks_dict(r1)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        r2, i2 = pagerank_monte_carlo(
            spark, hub_graph.repartition(13), walks_per_vertex=50,
            iterations=6, seed=42, edges_per_block=64)
        d2 = ranks_dict(r2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert i1["has_hub_splits"] and i2["has_hub_splits"]
    assert d1 == d2  # byte-identical through the split path


def test_auto_hub_threshold_decoupled_from_block_size(spark, tmp_path):
    """Under AUTO block sizing the hub-split trigger is floored at 2^18
    edges: a 6k-degree vertex on a small graph must NOT be treated as a
    hub (the auto block size lands far below its degree), while an
    EXPLICIT edges_per_block below the degree still forces the split.
    Regression: the coupled default made moderate-degree vertices hubs on
    small graphs, dragging the per-step multinomial router (and a 3^k
    analyzer tree in the fused loop) into every superstep."""
    pairs = [(0, d) for d in range(1, 6001)] + [(d, 0) for d in range(1, 50)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    _, meta = plan_walk_blocks(
        e, str(tmp_path / "a"), edges_per_block=None, n_partitions=4)
    assert not meta["has_hubs"]
    assert meta["edges_per_block"] < 6000  # auto size IS below the degree
    _, meta2 = plan_walk_blocks(
        e, str(tmp_path / "b"), edges_per_block=512, n_partitions=4)
    assert meta2["has_hubs"]
    for m in (meta, meta2):
        for df in m["cached"]:
            df.unpersist()


def test_auto_fuse_steps_follows_hub_plan(spark, hub_graph, gnutella_mini):
    """The default segment length is 6 with or without split hubs: the
    walk kernel splits hub arrivals itself, so hubs add no router
    branches to the fused plan (no 3^k analyzer tree)."""
    _, i_hub = pagerank_monte_carlo(
        spark, hub_graph, walks_per_vertex=4, iterations=3, seed=7,
        edges_per_block=64)
    assert i_hub["has_hub_splits"] and i_hub["fuse_steps"] == 6
    _, i_flat = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=4, iterations=3, seed=7)
    assert not i_flat["has_hub_splits"] and i_flat["fuse_steps"] == 6


def test_plan_block_ids_match_numpy_prefix_sum(spark, tmp_path):
    """The planner's block ids equal a numpy cumsum over the whole rkey
    order: block_id = floor(Σ(rsize + 1) of earlier replicas /
    edges_per_block). With coarse=4 every coarse range is a few vertices,
    so blocks straddle range boundaries and every range's offset is used;
    the graph has a split hub (out_deg 30 > 8) and an out_deg == 8
    vertex whose weight 9 skips a block id. The packed blocks' ids and
    min rkeys are the reference's too."""
    gen = np.random.default_rng(5)
    degs = {v: int(gen.integers(1, 7)) for v in range(41) if v % 7 != 3}
    degs.update({10: 8, 21: 30, 33: 8})
    pairs = [(v, int(d)) for v, k in degs.items()
             for d in gen.choice(60, size=k, replace=False)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    csr_root = str(tmp_path / "csr")
    assign, meta = plan_walk_blocks(e, csr_root, edges_per_block=8, coarse=4)
    rows = sorted((r["rkey"], r["v"], r["replica"], r["rsize"], r["block_id"])
                  for r in assign.collect())
    for df in meta["cached"]:
        df.unpersist()
    rkey, v, replica, rsize, got = (np.array(c, np.int64) for c in zip(*rows))
    assert meta["has_hubs"] and (v == 21).sum() >= 2  # the hub split
    assert np.array_equal(rkey, (v << REPLICA_BITS) + replica)
    for u, k in degs.items():  # replicas partition each vertex's edges
        assert rsize[v == u].sum() == k
    w = rsize + 1
    want = (np.cumsum(w) - w) // 8
    assert np.array_equal(got, want)
    ids = np.unique(want)
    assert len(ids) < ids[-1] + 1, "premise: some block id is skipped"
    assert any(len(np.unique(v[want == b] // 4)) > 1 for b in ids), (
        "premise: some block straddles a coarse range boundary")
    assert meta["block_ids"] == ids.tolist()
    assert meta["bounds"] == [int(rkey[want == b].min()) for b in ids]
    for b in ids:
        vids = _load_block(csr_root, int(b))[0]
        assert vids.tolist() == rkey[want == b].tolist()
