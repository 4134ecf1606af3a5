"""Unit tests for node2vec biased walks (algos/node2vec.py): exact
transition distributions on closed-form graphs, p/q limits, dead ends,
determinism across parallelism."""

from __future__ import annotations

from collections import Counter

import pytest

from montecarlopagerank_spark.algos.node2vec import node2vec_walks
from tests.conftest import edges_df, shuffle_partitions


def starts_df(spark, vs):
    return spark.createDataFrame([(int(v),) for v in vs], "v long")


def _step_counts(walks, step):
    return Counter(r["v"] for r in walks.collect() if r["step"] == step)


def test_uniform_when_p_q_one(spark):
    # star hub 0 with spokes 1..8, one-step walks: uniform over spokes
    e = edges_df(spark, [(0, i) for i in range(1, 9)])
    w, _ = node2vec_walks(
        spark, e, starts_df(spark, [0]), walk_length=1,
        walks_per_vertex=800, directed=True,
    )
    c = _step_counts(w, 1)
    assert sum(c.values()) == 800
    for i in range(1, 9):
        assert 60 <= c[i] <= 140  # E=100, ±4σ


def test_low_p_biases_backtracking(spark):
    # path 0-1-2 (undirected). From 1 (arrived 0→1): candidates {0, 2}.
    # p=0.1: w(0)=10, w(2)=1/q=1 → P(return)=10/11 ≈ 0.91
    e = edges_df(spark, [(0, 1), (1, 2)])
    w, _ = node2vec_walks(
        spark, e, starts_df(spark, [0]), walk_length=2,
        walks_per_vertex=600, p=0.1, q=1.0,
    )
    c = _step_counts(w, 2)
    assert c[0] + c[2] == 600
    assert c[0] >= 480  # E≈545, generous band


def test_high_p_blocks_backtracking(spark):
    # p=100: w(0)=0.01 vs w(2)=1 → P(return) ≈ 1%
    e = edges_df(spark, [(0, 1), (1, 2)])
    w, _ = node2vec_walks(
        spark, e, starts_df(spark, [0]), walk_length=2,
        walks_per_vertex=600, p=100.0, q=1.0,
    )
    c = _step_counts(w, 2)
    assert c[2] >= 560


def test_low_q_biases_exploration_vs_triangle(spark):
    # triangle 0-1-2 plus pendant 3 on vertex 2: walk 0→2 at step 1 (or
    # 0→1). Condition on walks at 2 with prev=0: candidates {0 (1/p),
    # 1 (triangle: edge(0,1) exists → 1), 3 (1/q)}. q=0.05 → w(3)=20 ≫.
    e = edges_df(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    w, _ = node2vec_walks(
        spark, e, starts_df(spark, [0]), walk_length=2,
        walks_per_vertex=900, p=1.0, q=0.05,
    )
    rows = w.collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["rep"], {})[r["step"]] = r["v"]
    went_02 = [wk for wk in by_walk.values() if wk.get(1) == 2]
    assert len(went_02) > 300  # ~half the walks
    dist3 = sum(1 for wk in went_02 if wk.get(2) == 3)
    # weights at 2 from 0: {0: 1, 1: 1, 3: 20} → P(3) = 20/22 ≈ 0.909
    assert dist3 / len(went_02) >= 0.82


def test_directed_stay_local_ignores_labels(spark):
    """Directed {s→1, 1→2, 1→3, s→3}, walked s → 1: candidate 3 is
    adjacent to prev s (s→3), so it weighs 1 against 2's 1/q = 100 and
    is picked ~1% of the time, whether s sorts before 3 (s=0) or after
    it (s=5). Adjacency counts either direction (module docstring)."""
    share = {}
    for s in (0, 5):
        e = edges_df(spark, [(s, 1), (1, 2), (1, 3), (s, 3)])
        w, _ = node2vec_walks(
            spark, e, starts_df(spark, [s]), walk_length=2,
            walks_per_vertex=400, p=1.0, q=0.01, directed=True,
        )
        c = _step_counts(w, 2)  # only walks at 1 take a second step
        assert set(c) <= {2, 3} and c[2] + c[3] >= 150
        share[s] = c[3] / (c[2] + c[3])
    assert share[0] <= 0.05 and share[5] <= 0.05  # E = 1/101 for both
    assert abs(share[0] - share[5]) <= 0.04


def test_dead_end_stops(spark):
    e = edges_df(spark, [(0, 1), (1, 2)])
    w, _ = node2vec_walks(
        spark, e, starts_df(spark, [0]), walk_length=9,
        walks_per_vertex=3, directed=True,
    )
    rows = w.collect()
    assert max(r["step"] for r in rows) == 2
    assert len(rows) == 9  # 3 reps × steps {0,1,2}


def test_deterministic_across_parallelism(spark, gnutella_mini):
    srcs = starts_df(spark, range(8))
    with shuffle_partitions(spark, 2):
        a, _ = node2vec_walks(
            spark, gnutella_mini, srcs, walk_length=5, walks_per_vertex=2,
            p=0.5, q=2.0,
        )
        ra = sorted(map(tuple, a.collect()))
    with shuffle_partitions(spark, 16):
        b, _ = node2vec_walks(
            spark, gnutella_mini, srcs, walk_length=5, walks_per_vertex=2,
            p=0.5, q=2.0,
        )
        rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_rejects_bad_pq(spark):
    e = edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError):
        node2vec_walks(spark, e, starts_df(spark, [0]), p=0.0)
