"""Tests: Jones-Plassmann greedy coloring (algos/coloring.py) — proper-
coloring invariant, exact equality against a pure-Python replay of the
identical deterministic rules, fixtures, parallelism invariance."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.coloring import greedy_coloring
from tests.conftest import shuffle_partitions
from tests.oracle import random_powerlaw_digraph


def _pri(v) -> str:
    return hashlib.md5(str(v).encode()).hexdigest()


def coloring_py(edge_list, max_rounds=64):
    """Reference replay: same md5 priorities, same frontier rule, same
    mex — plain dicts instead of DataFrames."""
    und = {(min(a, b), max(a, b)) for a, b in edge_list if a != b}
    nbrs: dict = {}
    verts = {v for e in edge_list for v in e}
    for x, y in und:
        nbrs.setdefault(x, set()).add(y)
        nbrs.setdefault(y, set()).add(x)
    color: dict = {}
    live = set(verts)
    rounds = 0
    for _ in range(max_rounds):
        if not live:
            break
        frontier = {
            v
            for v in live
            if all(_pri(w) < _pri(v) for w in nbrs.get(v, ()) if w in live)
        }
        for v in frontier:
            used = {color[w] for w in nbrs.get(v, ()) if w in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
        live -= frontier
        rounds += 1
    return color, rounds


def _cmap(df):
    return {r["v"]: r["color"] for r in df.collect()}


def test_matches_python_replay_and_is_proper(spark):
    el = random_powerlaw_digraph(n=80, seed=7)
    df = spark.createDataFrame(el, "src long, dst long")
    out, info = greedy_coloring(spark, df)
    got = _cmap(out)
    want, want_rounds = coloring_py(el)
    assert got == want
    assert info["converged"] and info["rounds"] == want_rounds
    # proper: no monochromatic edge
    assert all(got[a] != got[b] for a, b in el if a != b)
    # greedy bound: n_colors <= max degree + 1
    deg: dict = {}
    for a, b in {(min(a, b), max(a, b)) for a, b in el if a != b}:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert info["n_colors"] <= max(deg.values()) + 1


def test_fixtures(spark):
    # triangle needs 3 colors; pendant and isolated self-loop reuse 0
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (7, 7)], "src long, dst long"
    )
    out, info = greedy_coloring(spark, e)
    got = _cmap(out)
    assert sorted(got[v] for v in (0, 1, 2)) == [0, 1, 2]
    assert got[3] == 0 and got[7] == 0
    assert info["n_colors"] == 3 and info["converged"]
    # even path is 2-colorable and greedy-JP achieves it on a path
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    pout, pinfo = greedy_coloring(spark, path)
    pc = _cmap(pout)
    assert all(pc[i] != pc[i + 1] for i in range(6))
    assert pinfo["n_colors"] <= 3  # greedy on a path can use 3, never more


def test_parallelism_invariance(spark):
    el = random_powerlaw_digraph(n=50, seed=13)
    df = spark.createDataFrame(el, "src long, dst long")
    with shuffle_partitions(spark, 2):
        a = _cmap(greedy_coloring(spark, df)[0])
    with shuffle_partitions(spark, 17):
        b = _cmap(greedy_coloring(spark, df)[0])
    assert a == b


def test_empty_and_isolated(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    out, info = greedy_coloring(spark, empty)
    assert out.count() == 0 and info["n_colors"] == 0
    solo = spark.createDataFrame([("x", "x")], "src string, dst string")
    sout, sinfo = greedy_coloring(spark, solo)
    assert _cmap(sout) == {"x": 0} and sinfo["converged"]
