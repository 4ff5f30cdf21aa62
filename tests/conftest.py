"""Shared pytest fixtures: one SparkSession for the whole run and the
reference's canonical golden graph (FIXTURES.md §A,
TestGraphUtils.java ~L20-60).
"""

from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_graph_spark.plans.session import get_spark  # noqa: E402
from flink_graph_spark.sources.graphs import golden_graph  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("flink-graph-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def golden(spark):
    return golden_graph(spark)


@contextmanager
def job_count(spark):
    """Run the block under a Spark job group of its own and yield a
    callable returning how many jobs the group has launched so far
    (read inside the block, or after it for the total)."""
    sc = spark.sparkContext
    group = f"test-job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def rows_as_dict(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def rows_as_set(df):
    return {tuple(r) for r in df.collect()}
