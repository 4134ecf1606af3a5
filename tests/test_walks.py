"""Unit tests for the DeepWalk-style random-walk corpus generator
(algos/walks.py): exact replay on tiny graphs, determinism across
parallelism, chooser uniformity, dead-end termination."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.walks import (
    _LCG_A,
    _LCG_B,
    _LCG_M,
    random_walks,
)
from tests.conftest import edges_df, shuffle_partitions


def starts_df(spark, vs):
    return spark.createDataFrame([(int(v),) for v in vs], "v long")


def _lcg_pick(rep: int, step: int, nbrs: list[int]) -> int:
    mix = ((rep + 1) * _LCG_A + step * _LCG_B) % _LCG_M
    return sorted(nbrs)[mix % len(nbrs)]


def test_lcg_walk_exact_replay(spark):
    # triangle 0-1-2 (undirected): replay the chooser in pure Python
    pairs = [(0, 1), (1, 2), (2, 0)]
    e = edges_df(spark, pairs)
    walks, info = random_walks(
        spark, e, starts_df(spark, [0]), walk_length=5,
        walks_per_vertex=3, chooser="lcg",
    )
    got = {
        (r["start"], r["rep"], r["step"]): r["v"] for r in walks.collect()
    }
    adj = {0: [1, 2], 1: [0, 2], 2: [0, 1]}
    for rep in range(3):
        cur = 0
        assert got[(0, rep, 0)] == 0
        for step in range(1, 6):
            cur = _lcg_pick(rep, step, adj[cur])
            assert got[(0, rep, step)] == cur
    assert info["rows"] == 3 * 6


def test_walks_dead_end_terminates(spark):
    # directed path 0→1→2: every walk from 0 ends at 2 after 2 steps
    e = edges_df(spark, [(0, 1), (1, 2)])
    walks, _ = random_walks(
        spark, e, starts_df(spark, [0]), walk_length=9,
        walks_per_vertex=2, directed=True, chooser="lcg",
    )
    rows = walks.collect()
    assert max(r["step"] for r in rows) == 2
    assert {r["v"] for r in rows if r["step"] == 2} == {2}
    assert len(rows) == 2 * 3  # 2 reps × steps {0,1,2}


def test_walks_multigraph_weights_pick(spark):
    # 0 has neighbors [1, 1, 1, 2] (parallel edges): under the xxhash
    # chooser ~3/4 of first steps go to 1
    e = edges_df(spark, [(0, 1), (0, 1), (0, 1), (0, 2)])
    walks, _ = random_walks(
        spark, e, starts_df(spark, [0]), walk_length=1,
        walks_per_vertex=400, directed=True, chooser="xxhash",
    )
    c = Counter(r["v"] for r in walks.collect() if r["step"] == 1)
    assert c[1] + c[2] == 400
    assert 240 <= c[1] <= 360  # binomial(400, 0.75) ± ~5σ


def test_walks_deterministic_across_parallelism(spark, gnutella_mini):
    srcs = starts_df(spark, range(10))
    with shuffle_partitions(spark, 2):
        a, _ = random_walks(
            spark, gnutella_mini, srcs, walk_length=6, walks_per_vertex=2,
        )
        ra = sorted(map(tuple, a.collect()))
    with shuffle_partitions(spark, 16):
        b, _ = random_walks(
            spark, gnutella_mini, srcs, walk_length=6, walks_per_vertex=2,
        )
        rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0


def test_walks_seed_changes_corpus(spark, gnutella_mini):
    srcs = starts_df(spark, range(10))
    a, _ = random_walks(spark, gnutella_mini, srcs, seed=1)
    b, _ = random_walks(spark, gnutella_mini, srcs, seed=2)
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, b.collect()))


def test_walks_xxhash_roughly_uniform(spark):
    # star: hub 0 with spokes 1..8; 800 one-step walks from the hub
    e = edges_df(spark, [(0, i) for i in range(1, 9)])
    walks, _ = random_walks(
        spark, e, starts_df(spark, [0]), walk_length=1,
        walks_per_vertex=800, directed=True,
    )
    c = Counter(r["v"] for r in walks.collect() if r["step"] == 1)
    assert sum(c.values()) == 800
    for i in range(1, 9):
        assert 60 <= c[i] <= 140  # E=100, ±4σ


def test_walks_bad_chooser_raises(spark):
    e = edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError):
        random_walks(spark, e, starts_df(spark, [0]), chooser="mt19937")
