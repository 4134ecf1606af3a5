"""Tests: synchronous gated Louvain (algos/louvain.py) — exact equality
against a pure-Python replay of the identical deterministic rules, plus
structural fixtures and the modularity contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.louvain import louvain
from montecarlopagerank_spark.algos.modularity import modularity
from tests.conftest import shuffle_partitions
from tests.oracle import random_powerlaw_digraph


def louvain_py(edge_list, rounds_per_level=6, max_levels=3):
    """Reference replay: the same synchronous direction-alternating
    local moves (even round → smaller labels only, odd → larger),
    exact-long aggregates, double gain scores, smallest-id tie break,
    and contraction — plain dicts instead of DataFrames."""
    und = {
        (min(a, b), max(a, b)) for a, b in edge_list if a != b
    }
    sym: dict[tuple, int] = {}
    for x, y in und:
        sym[(x, y)] = 1
        sym[(y, x)] = 1
    selfw: dict = {}
    assign = None
    moves_per_level = []
    for _level in range(max_levels):
        k: dict = {}
        for (u, _w), wt in sym.items():
            k[u] = k.get(u, 0) + wt
        for v, sw in selfw.items():
            k[v] = k.get(v, 0) + 2 * sw
        two_m = sum(k.values())
        if not two_m:
            break
        nbrs: dict = {}
        for (u, w), wt in sym.items():
            nbrs.setdefault(u, []).append((w, wt))
        lab = {v: v for v in k}
        total_moves = 0
        for r in range(rounds_per_level):
            tot: dict = {}
            for v, c in lab.items():
                tot[c] = tot.get(c, 0) + k[v]
            new_lab = {}
            for v in k:
                cv = lab[v]
                kvc = {cv: 0}
                for w, wt in nbrs.get(v, []):
                    c = lab[w]
                    kvc[c] = kvc.get(c, 0) + wt
                scores = {
                    c: float(kv)
                    - float(k[v])
                    * float(tot[c] - (k[v] if c == cv else 0))
                    / float(two_m)
                    for c, kv in kvc.items()
                    if c == cv or (c < cv if r % 2 == 0 else c > cv)
                }
                best_c = min((-s, c) for c, s in scores.items())[1]
                if scores[best_c] > scores[cv]:
                    new_lab[v] = best_c
                    if best_c != cv:
                        total_moves += 1
                else:
                    new_lab[v] = cv
            lab = new_lab
        moves_per_level.append(total_moves)
        if assign is None:
            assign = dict(lab)
        else:
            assign = {o: lab[c] for o, c in assign.items()}
        if total_moves == 0:
            break
        new_sym: dict = {}
        intra: dict = {}
        for (u, w), wt in sym.items():
            cu, cw = lab[u], lab[w]
            if cu != cw:
                new_sym[(cu, cw)] = new_sym.get((cu, cw), 0) + wt
            else:
                intra[cu] = intra.get(cu, 0) + wt
        nsw = {c: w // 2 for c, w in intra.items()}
        for v, sw in selfw.items():
            c = lab[v]
            nsw[c] = nsw.get(c, 0) + sw
        sym, selfw = new_sym, nsw
    return (assign or {}), moves_per_level


def _assign_map(df):
    return {r["v"]: r["community"] for r in df.collect()}


def test_two_cliques_one_bridge(spark):
    a = [f"a{i}" for i in range(4)]
    b = [f"b{i}" for i in range(4)]
    el = [(x, y) for g in (a, b) for x in g for y in g if x < y]
    el.append(("a0", "b0"))
    df = spark.createDataFrame(el, "src string, dst string")
    out, info = louvain(spark, df, rounds_per_level=8, max_levels=3)
    got = _assign_map(out)
    assert got == louvain_py(el, rounds_per_level=8, max_levels=3)[0]
    # each clique collapses to one community; the bridge doesn't merge them
    assert len({got[v] for v in a}) == 1
    assert len({got[v] for v in b}) == 1
    assert got["a0"] != got["b0"]
    assert info["n_communities"] == 2
    q = modularity(df, out.select("v", F.col("community").alias("label")))
    assert q.collect()[0]["modularity_r6"] > 0.3


def test_matches_python_replay_on_random_graph(spark):
    el = random_powerlaw_digraph(n=60, seed=3)
    df = spark.createDataFrame(el, "src long, dst long")
    out, info = louvain(spark, df, rounds_per_level=6, max_levels=3)
    want, want_moves = louvain_py(el, rounds_per_level=6, max_levels=3)
    assert _assign_map(out) == want
    assert info["moves"] == want_moves


def test_parallelism_invariance(spark):
    el = random_powerlaw_digraph(n=50, seed=9)
    df = spark.createDataFrame(el, "src long, dst long")
    with shuffle_partitions(spark, 2):
        a = _assign_map(louvain(spark, df)[0])
    with shuffle_partitions(spark, 17):
        b = _assign_map(louvain(spark, df)[0])
    assert a == b


def test_improves_on_singletons_and_empty_input(spark):
    el = random_powerlaw_digraph(n=40, seed=5)
    df = spark.createDataFrame(el, "src long, dst long")
    out, _ = louvain(spark, df)
    lab = out.select("v", F.col("community").alias("label"))
    q = modularity(df, lab).collect()[0]["modularity_r6"]
    assert q > 0.0  # singleton partition scores < 0 on any graph
    empty = spark.createDataFrame([], "src string, dst string")
    eout, einfo = louvain(spark, empty)
    assert eout.count() == 0 and einfo["n_communities"] == 0


def test_adjacent_pair_merges_not_swaps(spark):
    """Regression: vertices 0 and 1 share md5 parity, so a hash-parity
    move gate lets them swap labels every round and never merge (the
    bug this test pinned down); the direction-alternating rule merges
    them in round 0."""
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    assign, info = louvain(spark, e, rounds_per_level=2, max_levels=1)
    comm = _assign_map(assign)
    assert comm[0] == comm[1] == 0
    assert info["moves"] == [1]


def test_weighted_two_triangles_weak_bridge(spark):
    """Heavy intra-triangle weights vs a weight-1 bridge: weighted
    Louvain separates the triangles; vertex sets are exact."""
    tri1 = [(0, 1, 10), (1, 2, 10), (0, 2, 10)]
    tri2 = [(3, 4, 10), (4, 5, 10), (3, 5, 10)]
    e = spark.createDataFrame(
        tri1 + tri2 + [(2, 3, 1)], "src long, dst long, weight long"
    )
    assign, info = louvain(spark, e, weight_col="weight")
    comm = _assign_map(assign)
    assert comm[0] == comm[1] == comm[2]
    assert comm[3] == comm[4] == comm[5]
    assert comm[0] != comm[3]


def test_weighted_unit_equals_unweighted(spark):
    """weight_col of all-1s on a SIMPLE graph is exactly the unweighted
    run (same closure, same longs, same gated moves). The input is
    pre-deduped to the undirected simple closure because the weighted
    path sums parallel pairs while the unweighted path collapses them."""
    edges = random_powerlaw_digraph(seed=11, n=60)
    e = (
        spark.createDataFrame(edges, "src long, dst long")
        .filter("src != dst")
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .withColumn("one", F.lit(1))
    )
    a1, _ = louvain(spark, e, rounds_per_level=4, max_levels=2)
    a2, _ = louvain(
        spark, e, rounds_per_level=4, max_levels=2, weight_col="one"
    )
    assert _assign_map(a1) == _assign_map(a2)


def test_weighted_parallel_pairs_sum(spark):
    """Duplicate weighted rows for a pair behave exactly like one
    pre-summed row (the multigraph convention): deterministic engine ⇒
    assignments are identical."""
    dup = spark.createDataFrame(
        [(0, 1, 2), (0, 1, 1), (1, 2, 2), (2, 0, 1), (3, 0, 4)],
        "src long, dst long, weight long",
    )
    summed = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 2), (0, 2, 1), (0, 3, 4)],
        "src long, dst long, weight long",
    )
    a1, _ = louvain(spark, dup, weight_col="weight")
    a2, _ = louvain(spark, summed, weight_col="weight")
    assert _assign_map(a1) == _assign_map(a2)
