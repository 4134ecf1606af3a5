"""``operators/propagate.py`` holds the link-analysis rankers' propagation
core (power-iteration PageRank, Katz/eigenvector, HITS, SALSA) and the
undirected simple closure the other graph modules share. These tests pin
what it must keep: the Spark jobs of a superstep (rankers and LPA), PI's
one state exchange per step, the empty-graph contract, and the closure's
pair set, two-way view and pinned neighbour cache."""

from __future__ import annotations

import pytest
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.algos.hits import hits
from montecarlopagerank_spark.algos.katz import eigenvector_centrality, katz
from montecarlopagerank_spark.algos.labelprop import label_propagation
from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
from montecarlopagerank_spark.algos.salsa import salsa
from montecarlopagerank_spark.operators.propagate import both_ways, neighbours, pairs
from montecarlopagerank_spark.operators.state import StateStore

RANKERS = {
    "pagerank_power": lambda s, e, k: pagerank_power(s, e, tol=0.0, max_iters=k),
    "katz": lambda s, e, k: katz(s, e, iters=k),
    "eigenvector_centrality": lambda s, e, k: eigenvector_centrality(s, e, iters=k),
    "hits": lambda s, e, k: hits(s, e, iters=k),
    "salsa": lambda s, e, k: salsa(s, e, iters=k),
}

STEPPED = {
    **RANKERS,
    "label_propagation": lambda s, e, k: label_propagation(s, e, max_iters=k),
}

# Spark jobs per superstep (a HITS/SALSA iteration is two half-steps),
# (AQE on, AQE off): 2 adaptive query-stage jobs + the write per step or
# half-step with AQE on, the write alone with it off. LPA's (5, 2) are
# measured; it never converges on the path below, so every step runs.
JOBS_PER_STEP = {
    "pagerank_power": (3, 1), "katz": (3, 1), "hits": (6, 2), "salsa": (6, 2),
    "label_propagation": (5, 2),
}


@pytest.fixture(scope="module")
def path41(spark):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long")


@pytest.fixture
def aqe(spark, request):
    """Run the test with ``spark.sql.adaptive.enabled`` set to the param."""
    key = "spark.sql.adaptive.enabled"
    orig = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    yield request.param
    spark.conf.set(key, orig)


@pytest.mark.parametrize("aqe", [True, False], indirect=True)
@pytest.mark.parametrize("algo", sorted(JOBS_PER_STEP))
def test_jobs_per_superstep(spark, path41, algo, aqe):
    """The jobs that supersteps 3-4 add to a 2-step run, counted per job
    group with the status tracker."""
    sc = spark.sparkContext

    def jobs(steps):
        group = f"propagate-{algo}-{aqe}-{steps}"
        sc.setJobGroup(group, group)
        try:
            STEPPED[algo](spark, path41, steps)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    on, off = JOBS_PER_STEP[algo]
    assert jobs(4) - jobs(2) == 2 * (on if aqe else off)


@pytest.mark.parametrize("aqe", [False], indirect=True)
def test_pi_step_shares_one_state_exchange(spark, gnutella_mini, monkeypatch,
                                           aqe):
    """PI's push and its update join consume the identical state subtree,
    so each step's write plan exchanges the state once and reuses it."""
    plans = []
    save = StateStore.save_step

    def spy(self, step, tables, metrics):
        plans.append(
            tables["state"]._jdf.queryExecution().executedPlan().toString())
        return save(self, step, tables, metrics)

    monkeypatch.setattr(StateStore, "save_step", spy)
    pagerank_power(spark, gnutella_mini, tol=0.0, max_iters=3)
    assert [p.count("ReusedExchange") for p in plans] == [1, 1, 1]


@pytest.mark.parametrize("name", sorted(RANKERS))
def test_empty_graph(spark, name):
    """An edgeless input gives no rows, the one-edge graph's schema, and
    leaves no cached table behind."""
    run = RANKERS[name]
    one, _ = run(spark, spark.createDataFrame([(0, 1)], "src long, dst long"), 2)
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    before = rdds.size()
    out, _ = run(spark, spark.createDataFrame([], "src long, dst long"), 2)
    assert out.count() == 0
    assert out.schema.simpleString() == one.schema.simpleString()
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == before


# a multigraph: parallel and reversed duplicates, self-loops, and vertex 3
# with nothing but a self-loop; 10 sorts before 2 as a string id
MULTI = [(0, 1), (1, 0), (0, 1), (1, 10), (10, 10), (3, 3), (10, 0), (4, 1),
         (1, 4), (2, 4), (4, 2), (2, 2)]


@pytest.mark.parametrize("ids", ["long", "string"])
def test_closure(spark, ids):
    """``pairs``, ``both_ways`` and ``neighbours`` against Python sets, on
    vid (long) and ``kind#key`` (string) ids."""
    key = (lambda i: i) if ids == "long" else (lambda i: f"turn#{i}")
    rows = [(key(a), key(b)) for a, b in MULTI]
    e = spark.createDataFrame(rows, f"src {ids}, dst {ids}")
    und = {(min(a, b), max(a, b)) for a, b in rows if a != b}
    two_way = und | {(b, a) for a, b in und}
    p = pairs(e)
    assert sorted(tuple(r) for r in p.collect()) == sorted(und)
    assert sorted(tuple(r) for r in both_ways(p, "a", "b").collect()) == sorted(
        two_way)
    for directed, want in ((False, two_way),
                           (True, {(a, b) for a, b in rows if a != b})):
        n = neighbours(e, directed=directed)
        try:
            assert n.columns == ["u", "x"]
            assert sorted(tuple(r) for r in n.collect()) == sorted(want)
            assert n.storageLevel == StorageLevel.MEMORY_AND_DISK
            # pinned by u: a later groupBy("u") adds no exchange above
            # the cached scan
            deg = n.groupBy("u").count()
            deg.collect()
            plan = deg._jdf.queryExecution().executedPlan().toString()
            above, _, _ = plan.partition("InMemoryTableScan")
            assert above != plan and "Exchange" not in above
        finally:
            n.unpersist()
