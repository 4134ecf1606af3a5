"""Shared fixtures: one session-scoped SparkSession + golden graphs
(FIXTURES.md F2) as DataFrames."""

from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from montecarlopagerank_spark.session import get_spark  # noqa: E402
from tests.oracle import random_powerlaw_digraph  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/wh"},
    )
    yield s
    s.stop()


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


@contextmanager
def shuffle_partitions(spark, n):
    """Run the block with ``spark.sql.shuffle.partitions`` = ``n`` — the
    partition count every graph module reads — and restore it after."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture(scope="session")
def cycle5(spark):
    return edges_df(spark, [(i, (i + 1) % 5) for i in range(5)])


@pytest.fixture(scope="session")
def star5(spark):
    # hub 0 is dangling; spokes 1..4 point at it
    return edges_df(spark, [(i, 0) for i in range(1, 5)])


@pytest.fixture(scope="session")
def two_triangles_bridge(spark):
    return edges_df(
        spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    )


@pytest.fixture(scope="session")
def gnutella_mini_pairs():
    return random_powerlaw_digraph(n=200, seed=42)


@pytest.fixture(scope="session")
def gnutella_mini(spark, gnutella_mini_pairs):
    return edges_df(spark, gnutella_mini_pairs)
