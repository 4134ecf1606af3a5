"""Unit tests for HyperANF (algos/hyperanf.py): exactness on tiny
graphs (HLL sparse mode is lossless at small cardinalities), error
bands vs the exact BFS closure on the power-law fixture, determinism
across parallelism, effective-diameter interpolation."""

from __future__ import annotations

import numpy as np

from montecarlopagerank_spark.algos.hyperanf import (
    _effective_diameter,
    neighborhood_function,
)
from tests.conftest import edges_df, shuffle_partitions


def _exact_nf(pairs, n_max_h, directed=False):
    """Exact ordered-pairs-within-h via boolean matrix closure."""
    n = max(max(a, b) for a, b in pairs) + 1
    A = np.zeros((n, n), dtype=bool)
    for a, b in pairs:
        if a == b:
            continue
        A[a, b] = True
        if not directed:
            A[b, a] = True
    verts = sorted({x for p in pairs for x in p})
    mask = np.zeros(n, dtype=bool)
    mask[verts] = True
    reach = np.eye(n, dtype=bool) & mask[:, None]
    counts = [int(reach[mask][:, mask].sum())]
    for _ in range(n_max_h):
        nxt = reach | (reach @ A)
        counts.append(int(nxt[mask][:, mask].sum()))
        if (nxt == reach).all():
            break
        reach = nxt
    return counts


def test_anf_exact_on_path(spark):
    # path 0-1-2-3: N(0)=4, N(1)=4+6=10, N(2)=14, N(3)=16 (all pairs)
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3)])
    nf, info = neighborhood_function(spark, e, max_h=8)
    got = {r["h"]: r["npairs"] for r in nf.collect()}
    assert got[0] == 4 and got[1] == 10 and got[2] == 14
    assert got[max(got)] == 16
    assert info["reachable_pairs"] == 16


def test_anf_directed_path(spark):
    e = edges_df(spark, [(0, 1), (1, 2)])
    nf, info = neighborhood_function(spark, e, max_h=8, directed=True)
    got = {r["h"]: r["npairs"] for r in nf.collect()}
    # ordered reachable pairs: h0: 3 self; h1: +2; h2: +1
    assert got[0] == 3 and got[1] == 5 and got[max(got)] == 6


def test_anf_stops_at_fixpoint(spark, cycle5):
    nf, info = neighborhood_function(spark, cycle5, max_h=50)
    # cycle of 5: eccentricity 2, fixpoint detected at h=3 (no growth)
    assert info["rounds"] <= 4
    assert info["reachable_pairs"] == 25


def test_anf_error_band_on_power_law(spark, gnutella_mini_pairs, gnutella_mini):
    nf, info = neighborhood_function(spark, gnutella_mini, max_h=16)
    got = {r["h"]: r["npairs"] for r in nf.collect()}
    exact = _exact_nf(gnutella_mini_pairs, 16)
    for h, want in enumerate(exact):
        if h in got:
            assert abs(got[h] - want) <= max(4, 0.05 * want), (h, got[h], want)


def test_anf_deterministic_across_parallelism(spark, gnutella_mini):
    with shuffle_partitions(spark, 2):
        a, ia = neighborhood_function(spark, gnutella_mini, max_h=8)
        ra = sorted(map(tuple, a.collect()))
    with shuffle_partitions(spark, 16):
        b, ib = neighborhood_function(spark, gnutella_mini, max_h=8)
        rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    assert ia["effective_diameter_90"] == ib["effective_diameter_90"]


def test_effective_diameter_interpolation():
    counts = [(0, 10), (1, 55), (2, 100), (3, 100)]
    # target 90 lands between h=1 (55) and h=2 (100): 1 + 35/45
    assert abs(_effective_diameter(counts, 100, 0.9) - (1 + 35 / 45)) < 1e-9
    assert _effective_diameter([(0, 5)], 5, 0.9) == 0.0
