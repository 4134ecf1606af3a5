"""Fast driver-contract gate: a representative subset of
__spark_entry__ queries vs their DuckDB oracles at sf0.001 (the full
set runs via tools/check_oracles.py at sf0.01 — this keeps pytest quick
while still failing on oracle drift)."""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

SUBSET = [
    "edge_counts_by_kind",
    "degree_top20",
    "token_stats",
    "doc_fingerprint",
    "exact_dedup_groups",
    "langid_heuristic",
    "embedding_topk",
    "triangle_count",
    # string-keyed LPA: exercises the argmax tie-break on a non-numeric
    # label type, which the vid-graph tests can't catch
    "label_propagation_fixed2",
    "k_core_2",
    # the streaming edge builder, hash-equal to the batch SQL twin
    "edges_streaming_counts",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ["events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, ddb, name):
    import __spark_entry__ as entry

    got = canon(entry.queries()[name](spark, SF_DIR).toPandas())
    want = canon(ddb.sql(entry.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_entry_smoke(spark):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) == 20
    assert df.columns == ["v", "rank_scaled"]
    # best-first and hub tools on top of the transcript graph
    ranks = [r["rank_scaled"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)


def test_every_oracle_has_query():
    import __spark_entry__ as entry

    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_mc_pi_agreement_floor(spark):
    """Pins the floor promised by contract.q_mc_pi_agreement's docstring:
    the mc_pi_agreement driver query has no SQL oracle (stochastic), so a
    silent MC quality regression on the transcript graph would otherwise
    sail through both pytest and the driver. Floor: top-20 overlap ≥ 12,
    rank correlation ≥ 0.9 at sf0.001 (the reference's own validation
    methodology, Project Paper/McPageRankSpark.tex:155-167)."""
    import __spark_entry__ as entry

    row = entry.queries()["mc_pi_agreement"](spark, SF_DIR).collect()[0]
    assert row["overlap_at_20"] >= 12, row
    assert row["rank_corr"] >= 0.9, row


def test_mat_materializes_every_cte_idempotently():
    """contract._mat must materialize every named CTE (the driver-OOM
    fix for the unrolled twins), skip self-referencing recursive CTE
    heads, and be idempotent — double application must not stack
    MATERIALIZED keywords."""
    from montecarlopagerank_spark.contract import _mat

    sql = (
        "WITH a AS (SELECT 1),\n"
        "b AS (SELECT * FROM a),\n"
        "reach(src, dst) AS (SELECT 1, 2 UNION SELECT src, dst FROM reach)\n"
        "SELECT * FROM b"
    )
    out = _mat(sql)
    assert "WITH a AS MATERIALIZED (" in out
    assert "\nb AS MATERIALIZED (" in out
    assert "reach(src, dst) AS (" in out  # recursive head untouched
    assert _mat(out) == out  # idempotent
    assert "MATERIALIZED MATERIALIZED" not in _mat(out)

    # _unroll applies _mat itself: every CTE head a round emits (several
    # per round, leading/trailing newlines or not) comes out materialized
    from montecarlopagerank_spark.contract import _unroll

    def round_fn(r):
        return (f"\nm{r} AS (SELECT SUM(x) AS m FROM s{r}),\n"
                f"s{r + 1} AS (SELECT x + m AS x FROM s{r} CROSS JOIN m{r})\n")

    out = _unroll(["s0 AS (SELECT 1 AS x)"], round_fn, 3, "SELECT x FROM s3")
    heads = re.findall(r"(\w+) AS (MATERIALIZED )?\(", out)
    assert [h for h, _ in heads] == ["s0", "m0", "s1", "m1", "s2", "m2", "s3"]
    assert all(m for _, m in heads), out
    assert out.endswith("\nSELECT x FROM s3")
    assert _mat(out) == out


def test_registry_window_covers_oracled_queries():
    """The driver's CORRECTNESS gate windows the first 50 registry
    entries — every one of those slots must carry a hash-checkable
    oracle (a rows-only query in the window mostly wastes a slot).
    One documented exception for the r5 rotation:
    pca_project_embeddings is rows-only BY DESIGN (numpy-exact pytest
    oracle, no SQL twin) and is the single registered query that has
    never had a driver row of any kind — one window slot buys its
    first driver rows-check so the r01-r05 window union covers the
    whole registry."""
    from montecarlopagerank_spark.contract import ORACLE_SQL, QUERIES

    allowed_rows_only = {"pca_project_embeddings"}
    head = list(QUERIES)[:50]
    missing = [k for k in head
               if k not in ORACLE_SQL and k not in allowed_rows_only]
    assert not missing, missing


def test_pca_project_embeddings_scalar_rows(spark):
    """The PCA query returns one scalar (vec_id, dim, val_r4) row per
    component: no Array/Map/Struct column (a typed row canonicalizer
    cannot hash them) and 8 rows per vector."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = entry.queries()["pca_project_embeddings"](spark, SF_DIR)
    assert df.columns == ["vec_id", "dim", "val_r4"]
    assert not [f for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    per_vec = df.groupBy("vec_id").agg(
        F.count("*").alias("n"), F.countDistinct("dim").alias("dims"),
        F.min("dim").alias("lo"), F.max("dim").alias("hi"),
    ).collect()
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(per_vec) == n_vecs > 0
    assert {(r.n, r.dims, r.lo, r.hi) for r in per_vec} == {(8, 8, 0, 7)}


TRIANGLES = "montecarlopagerank_spark.algos.triangles"
CONTRACT = "montecarlopagerank_spark.contract"


@pytest.mark.parametrize("name, module, attr", [
    pytest.param(q, m, a, id=q) for q, m, a in [
        ("triangle_count", TRIANGLES, "triangle_count"),
        ("null_model_triangles", TRIANGLES, "triangle_count"),
        ("degree_top20", CONTRACT, "degrees"),
        ("degree_distribution", CONTRACT, "degrees"),
        ("degree_quantiles", CONTRACT, "degrees"),
        ("degree_assortativity", CONTRACT, "pairs"),
        ("rich_club", CONTRACT, "pairs"),
    ]
])
def test_registry_query_runs_the_engine(spark, monkeypatch, name, module, attr):
    """A registry graph query computes through its engine operator, not a
    copy of it: with the operator replaced, where the query resolves it,
    by a spy that raises, the query raises."""
    import importlib

    from montecarlopagerank_spark.contract import QUERIES

    class Reached(Exception):
        pass

    def spy(*args, **kwargs):
        raise Reached(attr)

    monkeypatch.setattr(importlib.import_module(module), attr, spy,
                        raising=False)
    with pytest.raises(Reached):
        QUERIES[name](spark, SF_DIR)
