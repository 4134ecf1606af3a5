"""Adjacency / CSR block / skew-helper unit tests (SURVEY.md §5.2 item 1)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from montecarlopagerank_spark.algos.pagerank_mc import _load_block
from montecarlopagerank_spark.operators.adjacency import (
    REPLICA_BITS,
    build_adjacency,
    plan_walk_blocks,
)
from montecarlopagerank_spark.operators.skew import salted_sum


def test_build_adjacency_closed_and_sorted(spark):
    e = spark.createDataFrame(
        [(0, 2), (0, 1), (1, 0)], "src long, dst long"
    )
    v = spark.createDataFrame([(0,), (1,), (2,)], "vid long")
    adj = {r["src"]: (r["neighbours"], r["deg"]) for r in
           build_adjacency(e, v).collect()}
    assert adj[0] == ([1, 2], 2)  # sorted
    assert adj[1] == ([0], 1)
    assert adj[2] == ([], 0)  # dangling -> empty array (ref :34-35)


def test_plan_walk_blocks_deterministic_under_repartition(
    spark, gnutella_mini, tmp_path
):
    """Block ids are a function of the graph, not of its partitioning:
    the edge table and its 5-way repartition get the same degree-aware
    (rkey → block_id) plan."""
    plans = []
    for i, e in enumerate((gnutella_mini, gnutella_mini.repartition(5))):
        assign, meta = plan_walk_blocks(
            e, str(tmp_path / f"csr{i}"), edges_per_block=50)
        plans.append({r["rkey"]: r["block_id"] for r in assign.collect()})
        for df in meta["cached"]:
            df.unpersist()
    assert plans[0] == plans[1]
    assert len(set(plans[0].values())) > 1


def test_plan_walk_blocks_pins_edges_by_src(spark, gnutella_mini, tmp_path):
    """``meta["edges_src_partitioned"]`` is what its name says: the edge
    table persisted and hash-partitioned by src, so a later groupBy("src")
    adds no exchange above the cached scan."""
    _, meta = plan_walk_blocks(gnutella_mini, str(tmp_path), edges_per_block=64)
    try:
        e = meta["edges_src_partitioned"]
        assert e.storageLevel == StorageLevel.MEMORY_AND_DISK
        deg = e.groupBy("src").count()
        deg.collect()
        plan = deg._jdf.queryExecution().executedPlan().toString()
        above, _, _ = plan.partition("InMemoryTableScan")
        assert above != plan and "Exchange" not in above
    finally:
        for df in meta["cached"]:
            df.unpersist()


def test_csr_blocks_roundtrip(spark, gnutella_mini, gnutella_mini_pairs, tmp_path):
    """The walk kernel's CSR blocks — plan_walk_blocks' ``.npy`` files,
    read back with _load_block — hold every edge exactly once, with row
    keys sorted within a block and one indptr entry per row plus one."""
    csr_root = str(tmp_path / "csr")
    _, meta = plan_walk_blocks(gnutella_mini, csr_root, edges_per_block=64)
    rebuilt = Counter()
    for b in meta["block_ids"]:
        vids, indptr, indices = _load_block(csr_root, b)
        assert len(indptr) == len(vids) + 1
        assert list(vids) == sorted(vids)  # sorted within block
        for i, rkey in enumerate(vids):
            for d in indices[indptr[i]:indptr[i + 1]]:
                rebuilt[(int(rkey) >> REPLICA_BITS, int(d))] += 1
    assert rebuilt == Counter(map(tuple, gnutella_mini_pairs))
    for df in meta["cached"]:
        df.unpersist()


def test_salted_sum_equals_plain_sum(spark):
    # skewed input: one hot key with 10k rows
    df = spark.range(0, 10000).select(
        (F.col("id") % 7 == 0).cast("long").alias("k"),
        F.lit(1).alias("val"),
        F.col("id"),
    )
    plain = {r["k"]: r["s"] for r in
             df.groupBy("k").agg(F.sum("val").alias("s")).collect()}
    salted = {r["k"]: r["sum_val"] for r in
              salted_sum(df, "k", "val", n_salts=8).collect()}
    assert plain == salted


def test_salted_sum_deterministic(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("val"))
    a = sorted(map(tuple, salted_sum(df, "k", "val").collect()))
    b = sorted(map(tuple, salted_sum(df.repartition(9), "k", "val").collect()))
    assert a == b
