"""Strongly-connected-components checks: known SCC decomposition on
the registry fixture and on hand graphs, plus the GraphAlgorithm
packaging."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_graph_spark.graph import Graph
from flink_graph_spark.library.scc import StronglyConnectedComponents, scc

EXPECTED = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 9, 10: 10, 11: 11}


def _fixture_graph(spark):
    from flink_graph_spark.registry import SCC_FIXTURE_EDGES

    return Graph.from_edges(
        spark.createDataFrame(
            [(s, d, 1) for s, d in SCC_FIXTURE_EDGES],
            "src long, dst long, value long",
        )
    )


# ``scc`` has one mode; the one-value parameter keeps the item id
@pytest.mark.parametrize("delta", [True])
def test_scc_fixture_decomposition(spark, delta):
    out = scc(_fixture_graph(spark), max_rounds=3, max_iter=5)
    assert {r.id: r.scc for r in out.collect()} == EXPECTED


@pytest.mark.slow
def test_scc_two_cycles_bridged(spark):
    # 20→21→20 and 1→2→1 with a bridge 21→1: two SCCs, min-id reps
    e = spark.createDataFrame(
        [(20, 21), (21, 20), (1, 2), (2, 1), (21, 1)],
        "src long, dst long",
    ).withColumn("value", F.lit(1).cast("long"))
    out = scc(Graph.from_edges(e), max_rounds=3, max_iter=4)
    assert {r.id: r.scc for r in out.collect()} == {20: 20, 21: 20, 1: 1, 2: 1}


@pytest.mark.slow
def test_scc_algorithm_packaging(spark):
    g = StronglyConnectedComponents(max_rounds=3, max_iter=5).run(
        _fixture_graph(spark)
    )
    assert {r.id: r.value for r in g.vertices.collect()} == EXPECTED


def test_scc_empty_graph_returns_empty(spark):
    """Empty graph: the first peel round leaves no vertex unpeeled and
    the loop stops; the result is the empty component table, not an
    assertion failure."""
    g = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long, value long")
    )
    out = scc(g)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "scc"]
