"""Library-algorithm tests on the golden fixture with hand-computed
answers (reference: library/*.java algorithm tests, SURVEY.md §2.7/§5).

Golden graph: edges (1,2,12),(1,3,13),(2,3,23),(3,4,34),(3,5,35),
(4,5,45),(5,1,51) — single strongly connected component via 5→1.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, job_count, rows_as_dict
from flink_graph_spark.graph import Graph
from flink_graph_spark.library.connected_components import (
    ConnectedComponents,
    connected_components,
    is_weakly_connected,
)
from flink_graph_spark.library.jaccard import jaccard_similarity
from flink_graph_spark.library.label_propagation import label_propagation
from flink_graph_spark.library.pagerank import PageRank, page_rank
from flink_graph_spark.library.sssp import SingleSourceShortestPaths, shortest_paths
from flink_graph_spark.operators.pregel import pregel
from flink_graph_spark.plans.explain import superstep_plans


def test_sssp_exact_distances(golden):
    # from 1: 2 via (1,2)=12; 3 via (1,3)=13; 4 via 3=47; 5 via 3=48
    d = rows_as_dict(shortest_paths(golden, 1, max_iter=5), "id", "dist")
    assert d == {1: 0, 2: 12, 3: 13, 4: 47, 5: 48}


def test_sssp_unreachable_is_null(spark):
    g = Graph.from_collection(spark, [(1, 1), (2, 2), (3, 3)], [(1, 2, 7)])
    d = rows_as_dict(shortest_paths(g, 1, max_iter=3), "id", "dist")
    assert d == {1: 0, 2: 7, 3: None}


def test_sssp_algorithm_packaging(golden):
    g = golden.run(SingleSourceShortestPaths(1, max_iter=5))
    assert rows_as_dict(g.vertices, "id", "value")[4] == 47


def test_connected_components_single(golden):
    c = rows_as_dict(connected_components(golden, max_iter=6), "id", "comp")
    assert c == {i: 1 for i in range(1, 6)}


def test_connected_components_two_islands(spark):
    g = Graph.from_collection(
        spark,
        [(i, i) for i in range(1, 7)],
        [(1, 2, 0), (2, 3, 0), (5, 4, 0), (6, 5, 0)],
    )
    # collected after return, so after the loop-scoped symmetrized edge
    # table is unpersisted: no result may read it, including max_iter=0
    # (the caller's vertices) and a single superstep
    want = {
        0: {i: i for i in range(1, 7)},
        1: {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 5},
        6: {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4},
    }
    for max_iter, comps in want.items():
        c = rows_as_dict(connected_components(g, max_iter=max_iter), "id", "comp")
        assert c == comps, max_iter


def test_is_weakly_connected(golden, spark):
    assert is_weakly_connected(golden, max_iter=6).collect()[0]["connected"] is True
    g2 = Graph.from_collection(spark, [(1, 1), (2, 2), (3, 3)], [(1, 2, 0)])
    assert is_weakly_connected(g2, max_iter=4).collect()[0]["connected"] is False


def test_cc_algorithm_packaging(golden):
    g = golden.run(ConnectedComponents(max_iter=6))
    assert rows_as_dict(g.vertices, "id", "value") == {i: 1 for i in range(1, 6)}


def test_pagerank_mass_conserved(golden):
    # every golden vertex has an out-edge (no dangling) → ranks sum to 1
    ranks = page_rank(golden, beta=0.85, max_iter=20)
    total = ranks.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    assert total == pytest.approx(1.0, abs=1e-4)
    r = rows_as_dict(ranks, "id", "rank")
    assert all(v > 0 for v in r.values())
    # fixed-point (numpy twin): 5 ≻ 3 ≻ 1 ≻ 4 ≻ 2
    assert r[5] == max(r.values())
    assert r[5] == pytest.approx(0.2479, abs=1e-3)
    assert r[3] == pytest.approx(0.2449, abs=1e-3)


def test_pagerank_empty_graph_returns_empty_not_div_zero(spark):
    """An empty graph has no 1/n seeding — the result is the empty
    ranking (same schema), never a driver-side ZeroDivisionError;
    the PPR seed-set analogue fails loudly with a ValueError."""
    from flink_graph_spark.library.pagerank import (
        personalized_page_rank,
        weighted_page_rank,
    )

    g = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long, value long")
    )
    empty = page_rank(g, 0.85, 3)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "rank"]
    assert weighted_page_rank(g, 0.85, 3).count() == 0
    with pytest.raises(ValueError, match="seed"):
        personalized_page_rank(g, seeds=())


def test_incremental_pagerank_empty_base_graph(spark):
    from flink_graph_spark.library.incremental import incremental_pagerank

    g = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long, value long")
    )
    added = spark.createDataFrame([(1, 2, 1)], "src long, dst long, value long")
    assert incremental_pagerank(g, added).count() == 0


def test_pagerank_algorithm_packaging(golden):
    g = golden.run(PageRank(max_iter=5))
    assert g.vertices.count() == 5


def test_label_propagation_converges_to_one_label(golden):
    labels = rows_as_dict(
        label_propagation(golden.get_undirected(), max_iter=8), "id", "label"
    )
    # dense single community → all adopt one label; ties break to max
    assert len(set(labels.values())) == 1


def test_jaccard_similarity(spark):
    # square 1-2, 1-3, 2-4, 3-4 undirected-canonical (src<dst):
    # N(1)={2,3} N(2)={1,4} N(3)={1,4} N(4)={2,3}
    # J(1,2)=|{}|/|{1,2,3,4}|=0; J(2,3): N∩={1,4} N∪={1,4} → 1.0 but edge
    # (2,3) absent → only scored for existing edges.
    g = Graph.from_edges(
        spark.createDataFrame(
            [(1, 2, 1), (1, 3, 1), (2, 4, 1), (3, 4, 1)],
            "src long, dst long, value long",
        )
    )
    j = {(r["src"], r["dst"]): r["jaccard"] for r in jaccard_similarity(g).collect()}
    assert j == {(1, 2): 0.0, (1, 3): 0.0, (2, 4): 0.0, (3, 4): 0.0}
    # triangle 1-2,1-3,2-3: J(2,3)-neighbors share {1}, union {1,2,3} → 1/3
    g2 = Graph.from_edges(
        spark.createDataFrame(
            [(1, 2, 1), (1, 3, 1), (2, 3, 1)], "src long, dst long, value long"
        )
    )
    j2 = {(r["src"], r["dst"]): r["jaccard"] for r in jaccard_similarity(g2).collect()}
    assert j2[(2, 3)] == pytest.approx(1 / 3, abs=1e-6)


def test_pregel_convergence_early_stop(golden):
    # min-id propagation converges on the golden cycle in ≤5 supersteps
    res = pregel(
        golden.get_undirected(),
        initial=F.col("id"),
        msg_to_dst=F.col("src_state"),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("state"), F.col("__agg")),
        max_iter=30,
        delta=True,
    )
    assert res.converged
    assert res.iterations < 30
    assert rows_as_dict(res.vertices, "id", "state") == {i: 1 for i in range(1, 6)}


def test_pregel_deep_iteration_lineage(golden):
    # 25 fixed supersteps — exercises the localCheckpoint lineage cap
    res = pregel(
        golden,
        initial=F.col("id"),
        msg_to_dst=F.col("src_state"),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("state"), F.col("__agg")),
        max_iter=25,
    )
    assert res.iterations == 25
    assert rows_as_dict(res.vertices, "id", "state") == {i: 1 for i in range(1, 6)}


def test_pregel_hub_skew_star_graph(spark):
    # one hub with 5000 spokes — the skew shape that breaks naive
    # per-key processing; min-propagation must still converge fast
    n = 5000
    edges = spark.range(2, n + 2).selectExpr(
        "1L as src", "id as dst", "1L as value"
    )
    g = Graph.from_edges(edges)
    res = pregel(
        g.get_undirected(),
        initial=F.col("id"),
        msg_to_dst=F.col("src_state"),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("state"), F.col("__agg")),
        max_iter=10,
        delta=True,
    )
    assert res.converged
    assert res.iterations <= 4
    comps = res.vertices.select("state").distinct().collect()
    assert [r["state"] for r in comps] == [1]


def test_graph_pregel_method(golden):
    res = golden.pregel(
        initial=F.col("id"),
        msg_to_dst=F.col("src_state"),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("state"), F.col("__agg")),
        max_iter=6,
        delta=True,
    )
    assert res.vertices.count() == 5


def test_pregel_superstep_job_shape(spark, golden):
    # On a graph laid out for the pull (edges by dst, vertices by id,
    # both counted, as the cs_und builder lays them out) a delta
    # superstep is the frontier broadcast and the checkpoint job that
    # also returns the changed count: <= 2 jobs, and none before
    # superstep 1
    g = golden.get_undirected()
    ue = g.edges.repartition(2, "dst").persist()
    v = g.vertices.repartition(2, "id").persist()
    ue.count()
    v.count()
    g = Graph(v, ue)
    try:
        for max_iter in (1, 2):
            with job_count(spark) as jobs:
                comps = connected_components(
                    g, max_iter=max_iter, symmetrized_edges=True
                )
            assert 0 < jobs() <= 2 * max_iter, (max_iter, jobs())
        assert rows_as_dict(comps, "id", "comp") == {i: 1 for i in range(1, 6)}
    finally:
        ue.unpersist()
        v.unpersist()


def _nodes(plan) -> list:
    """The physical operators of ``plan``, inside its result stage but
    not inside any other query stage (a cache scan's build plan, a
    broadcast's input)."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        if node.getClass().getSimpleName() == "ResultQueryStageExec":
            todo.append(node.plan())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def test_cc_cs_superstep_moves_no_row_but_the_broadcast(spark):
    # the cs_und layout (edges by dst, vertices by id) makes a cc_cs
    # superstep the state broadcast plus exchange-free joins and groups
    from flink_graph_spark.sources.graphs import (
        customer_supplier_undirected_graph,
    )

    und = customer_supplier_undirected_graph(spark, SF_DIR)
    with superstep_plans() as plans:
        connected_components(und, max_iter=3, symmetrized_edges=True).collect()
    assert plans
    for plan in plans:
        kinds = [n.getClass().getSimpleName() for n in _nodes(plan)]
        assert any(k.startswith("Broadcast") for k in kinds), kinds
        moved = [k for k in kinds if "Shuffle" in k and "Join" not in k]
        assert not moved, plan.toString()


def _min_label_pregel(graph, **kw):
    return pregel(
        graph,
        initial=F.col("id"),
        msg_to_dst=F.col("src_state"),
        msg_to_dst_reads=("src",),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("state"), F.col("__agg")),
        **kw,
    )


@pytest.mark.parametrize("delta", [False, True])
def test_pregel_drops_messages_to_missing_vertices(spark, delta):
    # edge 1→3 points at an id absent from the vertex frame: its message
    # must not create a row, exactly as under a left join from the state
    v = spark.createDataFrame([(1, 0), (2, 0)], "id long, value long")
    e = spark.createDataFrame([(1, 2, 0), (1, 3, 0)], "src long, dst long, value long")
    res = _min_label_pregel(Graph(v, e), max_iter=2, delta=delta)
    assert rows_as_dict(res.vertices, "id", "state") == {1: 1, 2: 1}


def test_pregel_struct_agg_is_null_on_empty_inbox(spark):
    # struct(min, min) over no messages is a non-NULL struct of NULLs in
    # a plain aggregate; the loop must still hand update a NULL __agg
    # for a vertex nobody messages (vertex 1 has no in-edge)
    v = spark.createDataFrame([(1, 0), (2, 0)], "id long, value long")
    e = spark.createDataFrame([(1, 2, 0)], "src long, dst long, value long")
    res = pregel(
        Graph(v, e),
        initial=F.col("id"),
        msg_to_dst=F.struct(
            F.col("src_state").alias("f"), F.lit(None).cast("long").alias("b")
        ),
        msg_to_dst_reads=("src",),
        agg=F.struct(
            F.min("__msg.f").alias("f"), F.min("__msg.b").alias("b")
        ).alias("__agg"),
        update=F.when(F.col("__agg").isNull(), F.lit(-1).cast("long")).otherwise(
            F.col("__agg.f")
        ),
        max_iter=1,
    )
    assert rows_as_dict(res.vertices, "id", "state") == {1: -1, 2: 1}


def test_pregel_struct_state_keeps_null_struct_and_null_fields(spark):
    # a struct state is carried through the grouping field by field: a
    # NULL struct and a struct holding a NULL field must both survive
    v = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "id long, value long")
    e = spark.createDataFrame([(1, 2, 0), (2, 3, 0)], "src long, dst long, value long")
    res = pregel(
        Graph(v, e),
        initial=F.when(
            F.col("id") != 3,
            F.struct(
                F.col("id").alias("a"),
                F.when(F.col("id") == 1, F.lit(0.5)).alias("b"),
            ),
        ),
        msg_to_dst=F.col("src_state.a"),
        msg_to_dst_reads=("src",),
        agg=F.sum("__msg").alias("__agg"),
        update=F.col("state"),
        max_iter=2,
    )
    got = {r["id"]: r["state"] for r in res.vertices.collect()}
    assert got[3] is None
    assert (got[1]["a"], got[1]["b"]) == (1, 0.5)
    assert (got[2]["a"], got[2]["b"]) == (2, None)


def test_pregel_without_a_visible_layout_matches_the_pull(spark, monkeypatch):
    # CC and SSSP give the laid-out run's results on a copy of cs_und
    # whose caches are not materialized (the planner sees no layout, so
    # pregel lays one out per call), and with no broadcast (the planner
    # shuffles, AQE coalesces the state, and its checkpoints declare
    # nothing)
    import flink_graph_spark.operators.iterate as imod
    from flink_graph_spark.plans.layout import partitions_by
    from flink_graph_spark.sources.graphs import (
        customer_supplier_undirected_graph,
    )

    und = customer_supplier_undirected_graph(spark, SF_DIR)

    def both(g):
        return (
            sorted(connected_components(g, 8, symmetrized_edges=True).collect()),
            sorted(shortest_paths(g, 1, 6).collect()),
        )

    want = both(und)
    e = und.edges.select("src", "dst", "value").repartition(3, "dst").persist()
    v = und.vertices.repartition(3, "id").persist()
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    try:
        assert partitions_by(e, "dst") is None and partitions_by(v, "id") is None
        assert both(Graph(v, e)) == want
        e.count()
        v.count()
        assert partitions_by(e, "dst") == 3 and partitions_by(v, "id") == 3
        declared = []
        written = imod.checkpoint

        def record(df, *a, **kw):
            out = written(df, *a, **kw)
            declared.append(
                out._jdf.queryExecution().analyzed().outputPartitioning().toString()
            )
            return out

        monkeypatch.setattr(imod, "checkpoint", record)
        spark.conf.set(key, "-1")
        assert both(Graph(v, e)) == want
        assert declared and set(declared) == {"UnknownPartitioning(0)"}, declared
    finally:
        spark.conf.set(key, threshold)
        e.unpersist()
        v.unpersist()


def test_pagerank_superstep_aggregates_messages_only(spark, golden):
    # the (rank, od) struct state rides the update join; the superstep's
    # aggregate groups the messages alone, as a hash aggregate (a struct
    # in an aggregation buffer would make it a sort or object aggregate)
    with superstep_plans() as plans:
        page_rank(golden, max_iter=2).collect()
    assert len(plans) == 2
    for plan in plans:
        nodes = _nodes(plan)
        kinds = {n.getClass().getSimpleName() for n in nodes}
        assert "HashAggregateExec" in kinds, kinds
        assert not kinds & {"SortAggregateExec", "ObjectHashAggregateExec"}, kinds
        for node in nodes:
            if node.getClass().getSimpleName() == "HashAggregateExec":
                aggs = node.aggregateExpressions()
                for i in range(aggs.size()):
                    assert "__msg" in aggs.apply(i).toString(), node.toString()
        joins = [n for n in nodes if n.getClass().getSimpleName() == "ShuffledHashJoinExec"]
        assert [j.joinType().toString() for j in joins] == ["LeftOuter"], kinds
        assert "st" in joins[0].left().output().toString()


@pytest.mark.parametrize("delta", [True])
def test_pregel_empty_graph_converges(spark, delta):
    # the observed changed-count must arrive (not block) when the
    # checkpoint job has no rows at all
    import threading

    v = spark.createDataFrame([], "id long, value long")
    e = spark.createDataFrame([], "src long, dst long, value long")
    out = {}
    t = threading.Thread(
        target=lambda: out.update(
            res=_min_label_pregel(
                Graph(v, e), max_iter=5, delta=delta
            )
        ),
        daemon=True,
    )
    t.start()
    t.join(300)
    assert not t.is_alive(), "pregel hung on an empty graph"
    res = out["res"]
    assert res.converged
    assert res.iterations == 1
    assert res.vertices.count() == 0


def test_hits_matches_numpy_twin(golden):
    import numpy as np

    from flink_graph_spark.library.hits import HITS, hits
    from flink_graph_spark.sources.graphs import GOLDEN_EDGES

    got = {r["id"]: (r["hub"], r["auth"]) for r in hits(golden, max_iter=5).collect()}

    A = np.zeros((5, 5))
    for s, d, _ in GOLDEN_EDGES:
        A[s - 1, d - 1] = 1.0
    hub = np.ones(5)
    for _ in range(5):
        auth = A.T @ hub
        hub = A @ auth
    auth /= auth.sum()
    hub /= hub.sum()
    for i in range(5):
        assert got[i + 1][0] == pytest.approx(hub[i], abs=1e-6)
        assert got[i + 1][1] == pytest.approx(auth[i], abs=1e-6)
    # both vectors L1-normalized
    assert sum(v[0] for v in got.values()) == pytest.approx(1.0, abs=1e-5)
    assert sum(v[1] for v in got.values()) == pytest.approx(1.0, abs=1e-5)


def test_hits_algorithm_packaging(golden):
    from flink_graph_spark.library.hits import HITS

    g = golden.run(HITS(3))
    assert g.vertices.count() == 5
    assert set(g.vertices.select("value.hub", "value.auth").columns) == {"hub", "auth"}


def test_adamic_adar_hand_computed(spark):
    import math

    from flink_graph_spark.library.adamic_adar import adamic_adar

    # square 1-2-3-4-1 plus diagonal 1-3: common nbrs of (1,3) are {2,4}
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    g = Graph.from_collection(
        spark, [(i, i) for i in range(1, 5)], [(s, d, 0) for s, d in edges]
    )
    got = {(r["src"], r["dst"]): r["aa"] for r in adamic_adar(g).collect()}
    # deg: 1->3, 2->2, 3->3, 4->2
    assert got[(1, 3)] == pytest.approx(2 / math.log(2), abs=1e-6)
    # (1,2): common nbr {3} (deg 3)
    assert got[(1, 2)] == pytest.approx(1 / math.log(3), abs=1e-6)
    # every edge in a 4-cycle-with-chord has >=1 common neighbor
    assert all(v > 0 for v in got.values())


def test_adamic_adar_single_wave_does_not_drain(spark, monkeypatch):
    """A graph below the wave threshold runs one wave, the r7 plan:
    no shuffle-scratch drain (on a box with < 40 GB free scratch each
    drain call sleeps through its 15 s evidence probe)."""
    from flink_graph_spark.library.adamic_adar import adamic_adar
    from flink_graph_spark.operators import iterate as iterate_mod

    calls = []
    monkeypatch.setattr(
        iterate_mod, "drain_shuffle_scratch", lambda *a, **k: calls.append(a)
    )
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    g = Graph.from_collection(
        spark, [(i, i) for i in range(1, 5)], [(s, d, 0) for s, d in edges]
    )
    assert len(adamic_adar(g).collect()) == len(edges)
    assert calls == []


def test_adamic_adar_symmetrized_distinct_edges_not_doubled(spark):
    """r7 regression (ADVICE high): a symmetrized graph carries both
    orientations as DISTINCT directed rows, so distinct_edges=True holds
    — but after the least/greatest canonical projection those rows are
    exact duplicates. Skipping dedup on distinct_edges doubled every AA
    score 2x; the skip must gate on canonical_edges instead."""
    import math

    from flink_graph_spark.library.adamic_adar import adamic_adar as adamic_adar_fn

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    sym = edges + [(d, s) for s, d in edges]
    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    e = spark.createDataFrame(sym, "src long, dst long")
    g = Graph(v, e, distinct_edges=True)  # true for DIRECTED rows only
    got = {(r["src"], r["dst"]): r["aa"] for r in adamic_adar_fn(g).collect()}
    # same scores as the canonical graph — NOT doubled
    assert got[(1, 3)] == pytest.approx(2 / math.log(2), abs=1e-6)
    assert got[(3, 1)] == pytest.approx(2 / math.log(2), abs=1e-6)
    assert got[(1, 2)] == pytest.approx(1 / math.log(3), abs=1e-6)
    # a genuinely canonical graph still takes the dedup-free fast path
    gc = Graph(
        v,
        spark.createDataFrame(edges, "src long, dst long"),
        canonical_edges=True,
    )
    fast = {(r["src"], r["dst"]): r["aa"] for r in adamic_adar_fn(gc).collect()}
    assert fast[(1, 3)] == pytest.approx(2 / math.log(2), abs=1e-6)


def test_k_core_peels_tail(spark):
    from flink_graph_spark.library.kcore import k_core

    # triangle 1-2-3 (2-core) with a pendant path 3-4-5
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    g = Graph.from_collection(
        spark, [(i, i) for i in range(1, 6)], [(s, d, 0) for s, d in edges]
    )
    core2 = {r["id"]: r["core_deg"] for r in k_core(g, k=2, max_iter=8).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}  # 4,5 peeled (pendant chain)
    core3 = k_core(g, k=3, max_iter=8).collect()
    assert core3 == []                   # no 3-core in a triangle+tail


def test_self_loops_match_duckdb_twins(spark):
    """k-core, MIS and random walks build their neighbor table from
    ``Graph.simple_undirected_edges``, which drops a self-loop in both
    directions — as their DuckDB twins do."""
    import duckdb
    import pandas as pd

    from flink_graph_spark.library import kcore, mis, sampling

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (1, 1), (4, 4)]
    g = Graph.from_collection(
        spark, [(i, i) for i in range(1, 5)], [(s, d, 0) for s, d in edges]
    )
    con = duckdb.connect()
    con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
    con.register("v", pd.DataFrame({"id": range(1, 5)}))

    def oracle(ctes_final):
        ctes, final = ctes_final
        return [tuple(r) for r in con.execute(f"WITH {ctes}\n{final}").fetchall()]

    def spark_rows(df):
        return [tuple(r) for r in df.collect()]

    assert spark_rows(kcore.k_core(g, k=2, max_iter=4)) == oracle(
        kcore.oracle_ctes("e", k=2, max_iter=4)
    )
    assert spark_rows(mis.maximal_independent_set(g, max_iter=4)) == oracle(
        mis.oracle_ctes("e", "v", max_iter=4)
    )
    assert spark_rows(sampling.random_walks(g, length=3)) == oracle(
        sampling.oracle_ctes("e", "v", length=3)
    )


def test_weighted_pagerank_matches_numpy_twin(golden):
    import numpy as np

    from flink_graph_spark.library.pagerank import weighted_page_rank
    from flink_graph_spark.sources.graphs import GOLDEN_EDGES

    got = rows_as_dict(weighted_page_rank(golden, 0.85, 10), "id", "rank")

    W = np.zeros((5, 5))
    for s, d, w in GOLDEN_EDGES:
        W[s - 1, d - 1] = float(w)
    P = W / W.sum(axis=1, keepdims=True)
    r = np.full(5, 0.2)
    for _ in range(10):
        r = 0.15 / 5 + 0.85 * (P.T @ r)
    for i in range(5):
        assert got[i + 1] == pytest.approx(r[i], abs=1e-6)
    # no dangling vertices in the golden graph -> mass conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


@pytest.mark.slow
def test_mis_independent_and_maximal(spark):
    from flink_graph_spark.library.mis import maximal_independent_set
    from flink_graph_spark.sources.graphs import user_cooccurrence_graph

    g = user_cooccurrence_graph(spark, "/root/testdata/sf0.001")
    mis = {r["id"] for r in maximal_independent_set(g, max_iter=8).collect()}
    assert mis
    edges = {(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()}
    sym = edges | {(d, s) for s, d in edges}
    # independence: no edge inside the set
    assert not any((a, b) in sym for a in mis for b in mis if a != b)
    # maximality: every vertex outside the set has a neighbor inside
    verts = {r["id"] for r in g.vertices.select("id").collect()}
    nbrs = {}
    for s, d in sym:
        nbrs.setdefault(s, set()).add(d)
    assert all(nbrs.get(v, set()) & mis for v in verts - mis)


def test_mis_path_graph_exact(spark):
    from flink_graph_spark.library.mis import maximal_independent_set

    # path 1-2-3-4-5: deterministic priorities fix the exact MIS
    g = Graph.from_collection(
        spark,
        [(i, i) for i in range(1, 6)],
        [(1, 2, 0), (2, 3, 0), (3, 4, 0), (4, 5, 0)],
    )
    mis = {r["id"] for r in maximal_independent_set(g, max_iter=8).collect()}
    # verify independence + maximality on the path
    assert not any(a + 1 in mis for a in mis)
    assert all(v in mis or (v - 1 in mis or v + 1 in mis) for v in range(1, 6))


@pytest.mark.slow
def test_random_walks_valid_and_deterministic(spark):
    from flink_graph_spark.library.sampling import random_walks
    from flink_graph_spark.sources.graphs import user_cooccurrence_graph

    g = user_cooccurrence_graph(spark, "/root/testdata/sf0.001")
    w1 = random_walks(g, length=3).collect()
    w2 = random_walks(g, length=3).collect()
    assert w1 == w2                       # replay-deterministic
    edges = {(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()}
    sym = edges | {(d, s) for s, d in edges}
    for r in w1:
        path = [r["start_id"], r["v1"], r["v2"], r["v3"]]
        for a, b in zip(path, path[1:]):
            if b is not None:
                assert (a, b) in sym      # every hop is a real edge


@pytest.mark.slow
def test_round2_algorithm_packaging(golden):
    from flink_graph_spark.library.adamic_adar import AdamicAdar
    from flink_graph_spark.library.kcore import KCore
    from flink_graph_spark.library.mis import MaximalIndependentSet

    core = golden.run(KCore(2, 6))
    assert core.vertices.count() > 0
    assert set(core.vertices.columns) == {"id", "value"}

    mis_g = golden.run(MaximalIndependentSet(6))
    flags = rows_as_dict(mis_g.vertices, "id", "value")
    assert set(flags) == {1, 2, 3, 4, 5} and any(flags.values())

    aa_g = golden.run(AdamicAdar())
    assert set(aa_g.edges.columns) == {"src", "dst", "value"}
    assert aa_g.edges.count() == golden.edges.count()


# ---- community detection (hop-attenuated label scores) ----------------

def test_community_detection_hand_computed(spark):
    """Path 1-(w1)-2-(w2)-3, two supersteps, delta=0.5 — worked by hand:
    s1: 1←(2,1.0)→(2,0.5); 2 picks 3 (w2 vote 2.0 beats 1.0)→(3,1.5);
        3←(2,2.0)→(2,1.5)
    s2: 1←(3,1.5)→(3,1.0); 2: label2 sum 0.5+3.0, mx 3.0→(2,2.5);
        3←(3,3.0)→(3,2.5)
    """
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.community import community_detection

    g = Graph.from_edges(
        spark.createDataFrame(
            [(1, 2, 1), (2, 3, 2)], "src long, dst long, value long"
        )
    )
    got = {
        r["id"]: (r["label"], r["score"])
        for r in community_detection(g, max_iter=2).collect()
    }
    assert got == {1: (3, 1.0), 2: (2, 2.5), 3: (3, 2.5)}


def test_community_detection_attenuation_localizes_labels(spark):
    """Two triangles bridged by one weak edge: each triangle keeps a
    label internal to itself (attenuation stops the flood across the
    bridge), and the GraphAlgorithm packaging preserves the graph."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.community import CommunityDetection

    edges = [(1, 2, 3), (2, 3, 3), (1, 3, 3),
             (4, 5, 3), (5, 6, 3), (4, 6, 3),
             (3, 4, 1)]
    g = Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long, value long")
    )
    out = CommunityDetection(max_iter=4).run(g)
    lab = {r["id"]: r["value"] for r in out.vertices.collect()}
    assert len({lab[1], lab[2], lab[3]}) == 1
    assert len({lab[4], lab[5], lab[6]}) == 1
    assert lab[1] != lab[4]
    assert out.edges.count() == len(edges)


# ---- incremental SSSP -------------------------------------------------

@pytest.mark.slow
def test_incremental_sssp_equals_full_recompute(spark):
    """Remove a TIGHT edge (one on a shortest path) from the cs graph:
    the tight-DAG invalidation + delta repair must land on exactly the
    full-recompute answer; removing a NON-tight edge must be a no-op."""
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.incremental import (
        incremental_sssp_remove_edge,
    )
    from flink_graph_spark.library.sssp import shortest_paths
    from flink_graph_spark.sources.graphs import (
        customer_supplier_undirected_graph,
    )

    g = customer_supplier_undirected_graph(spark, SF_DIR)
    src = g.edges.select(F.min("src")).collect()[0][0]
    prior = shortest_paths(g, src, max_iter=8)

    d = prior
    tight = (
        g.edges.join(d.select(F.col("id").alias("src"), F.col("dist").alias("sd")), "src")
        .join(d.select(F.col("id").alias("dst"), F.col("dist").alias("dd")), "dst")
        .filter(F.col("sd") + F.col("value") == F.col("dd"))
        .filter(F.col("sd") > 0)  # not source-adjacent: forces a real reroute
        .orderBy("src", "dst")
        .limit(1)
        .collect()
    )
    assert tight, "cs graph should have a non-trivial tight edge"
    u, v = tight[0]["src"], tight[0]["dst"]

    got = {
        r["id"]: r["dist"]
        for r in incremental_sssp_remove_edge(g, prior, src, u, v, max_iter=8).collect()
    }
    g2 = Graph(
        g.vertices,
        g.edges.filter(~((F.col("src") == u) & (F.col("dst") == v))),
    )
    want = {r["id"]: r["dist"] for r in shortest_paths(g2, src, max_iter=8).collect()}
    assert got == want

    # non-tight removal: nothing invalidated, result equals the prior
    non_tight = (
        g.edges.join(d.select(F.col("id").alias("src"), F.col("dist").alias("sd")), "src")
        .join(d.select(F.col("id").alias("dst"), F.col("dist").alias("dd")), "dst")
        .filter(F.col("sd") + F.col("value") != F.col("dd"))
        .orderBy("src", "dst")
        .limit(1)
        .collect()
    )
    u2, v2 = non_tight[0]["src"], non_tight[0]["dst"]
    got2 = {
        r["id"]: r["dist"]
        for r in incremental_sssp_remove_edge(g, prior, src, u2, v2, max_iter=8).collect()
    }
    assert got2 == {r["id"]: r["dist"] for r in prior.collect()}


def test_closeness_sample_path_graph(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.closeness import closeness_sample
    import pyspark.sql.functions as F
    # path 1-2-3-4 (undirected BFS): dists from seeds (1, 4)
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "src long, dst long, value long"
    )
    got = {r["id"]: r for r in
           closeness_sample(Graph(v, e), (1, 4), max_iter=5).collect()}
    # vertex 2: d(1)=1, d(4)=2 -> harmonic 1 + 0.5
    assert got[2]["n_reached"] == 2
    assert abs(got[2]["closeness"] - 1.5) < 1e-6
    # vertex 1: d(1)=0 (self, contributes 0), d(4)=3
    assert abs(got[1]["closeness"] - (1 / 3)) < 1e-6


def test_k_truss_peels_tail_edge(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.triangles import k_truss
    # triangle 1-2-3 plus tail 3-4: 3-truss (thresh 1) drops the tail,
    # survivors keep support 1
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {(r["src"], r["dst"]): r["support"]
           for r in k_truss(Graph(v, e), k=3, max_rounds=2).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_personalized_pagerank_restarts_at_seeds(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.pagerank import personalized_page_rank
    # star: 1 -> 2,3 ; 2 -> 1 ; 3 -> 1. Seed {1}.
    v = spark.createDataFrame([(i,) for i in (1, 2, 3)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (2, 1, 1), (3, 1, 1)],
        "src long, dst long, value long",
    )
    got = {r["id"]: r["rank"] for r in
           personalized_page_rank(Graph(v, e), (1,), max_iter=20).collect()}
    # symmetric non-seeds split the out-mass of 1 equally
    assert abs(got[2] - got[3]) < 1e-9
    # seed holds the restart mass: strictly the largest rank
    assert got[1] > got[2]
    # walk-with-restart conserves mass (no dangling vertices here)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_neighborhood_function_monotone(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.neighborhood import neighborhood_function
    # path graph of 6 vertices
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    got = {r["r"]: r["avg_ball_est"] for r in
           neighborhood_function(Graph(v, e), max_r=2).collect()}
    assert set(got) == {0, 1, 2}
    # ball sizes grow with radius (sketch estimates preserve monotonicity
    # because registers only ever increase)
    assert got[0] <= got[1] <= got[2]
    # radius-0 ball is a single vertex; m=16 sketch error is bounded
    assert 0.4 < got[0] < 2.5


def test_bipartite_projection_shared_counts(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.bipartite import project_top
    # customers 1,2,3 ; suppliers 10,11: 1&2 share both, 1&3 share one
    e = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 11)],
        "src long, dst long",
    )
    v = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11)], "id long"
    )
    got = {(r["u"], r["v"]): r["shared"]
           for r in project_top(Graph(v, e)).collect()}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_bipartite_projection_cap_bounds_hub(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.bipartite import project_top
    # hub supplier 99 with 10 customers, cap=3 -> only the 3 lowest ids
    # join through it: C(3,2)=3 pairs
    e = spark.createDataFrame(
        [(c, 99) for c in range(10)], "src long, dst long"
    )
    v = spark.createDataFrame([(i,) for i in range(10)] + [(99,)], "id long")
    got = project_top(Graph(v, e), cap=3).collect()
    assert {(r["u"], r["v"]) for r in got} == {(0, 1), (0, 2), (1, 2)}


def test_assortativity_star_is_negative(spark):
    # star graphs are maximally disassortative (hub deg n-1 joins leaves
    # deg 1); compute via the registry's expressions on a local frame
    import pyspark.sql.functions as F
    e = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    sym = e.unionByName(e.selectExpr("dst AS src", "src AS dst"))
    deg = (e.selectExpr("src AS id").unionByName(e.selectExpr("dst AS id"))
           .groupBy("id").agg(F.count("*").alias("deg")))
    pairs = (sym.join(deg.selectExpr("id AS src", "deg AS du"), "src")
             .join(deg.selectExpr("id AS dst", "deg AS dv"), "dst"))
    r = pairs.agg(F.corr("du", "dv").alias("a")).collect()[0]["a"]
    assert abs(r - (-1.0)) < 1e-9


def test_betweenness_path_graph(spark):
    """Path 1-2-3: only vertex 2 is interior; ordered pairs (1,3),(3,1)
    each pass through it -> bc(2) = 2, endpoints 0."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.betweenness import betweenness

    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness(Graph(v, e), max_depth=2).collect()
    }
    assert got == {1: 0.0, 2: 2.0, 3: 0.0}


def test_betweenness_square_splits_paths(spark):
    """4-cycle: each opposite-corner pair has TWO shortest paths, so
    every vertex carries 2 * (1/2 + 1/2) / ... = 1.0 in the ordered-pair
    convention (pairs (0,2),(2,0) split across 1 and 3, etc.)."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.betweenness import betweenness

    v = spark.createDataFrame([(i,) for i in range(4)], "id long")
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness(Graph(v, e), max_depth=2).collect()
    }
    assert got == {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0}


def test_dag_longest_path_chain(spark):
    """Chain 0->1->2 with weights 5, 7: longest at 2 is 12, levels are
    the topological depth."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.dag import dag_longest_path

    v = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    e = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 7)], "src long, dst long, value long"
    )
    got = {
        r["id"]: (r["level"], r["longest"])
        for r in dag_longest_path(Graph(v, e), max_rounds=3).collect()
    }
    assert got == {0: (0, 0), 1: (1, 5), 2: (2, 12)}


def test_dag_longest_path_cycle_saturates_level(spark):
    """On a 2-cycle the bounded run reports K-hop maxima: level hits
    max_rounds — the standard bounded-relaxation cycle detector."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.dag import dag_longest_path

    v = spark.createDataFrame([(0,), (1,)], "id long")
    e = spark.createDataFrame(
        [(0, 1, 1), (1, 0, 1)], "src long, dst long, value long"
    )
    got = {
        r["id"]: r["level"]
        for r in dag_longest_path(Graph(v, e), max_rounds=4).collect()
    }
    assert got[0] == 4 and got[1] == 4


@pytest.mark.slow
def test_effective_diameter_cycle(spark):
    """On an 8-cycle the ball keeps growing through r=4, so the 90%
    readout lands at the curve's tail; the readout row is well-formed
    and reach_est equals the r=4 curve point."""
    from flink_graph_spark.library.neighborhood import (
        effective_diameter,
        neighborhood_function,
    )
    from flink_graph_spark.sources.generators import cycle_graph

    g = cycle_graph(spark, 8)
    row = effective_diameter(g, max_r=4).collect()[0]
    curve = {r["r"]: r["avg_ball_est"] for r in neighborhood_function(g, 4).collect()}
    assert 0 <= row["eff_diameter"] <= 4
    assert row["reach_est"] == curve[4]
    # eff_diameter is the FIRST r whose ball reaches 90% of the tail
    assert curve[row["eff_diameter"]] >= 0.9 * curve[4]
    if row["eff_diameter"] > 0:
        assert curve[row["eff_diameter"] - 1] < 0.9 * curve[4]


def test_coloring_is_proper_and_complete_on_grid(spark):
    """Every vertex colored within the fixture round budget and no edge
    joins two same-colored endpoints."""
    from flink_graph_spark.library.coloring import color_graph
    from flink_graph_spark.sources.generators import grid_graph

    g = grid_graph(spark, 4, 4)
    colors = {r["id"]: r["color"] for r in color_graph(g, 6).collect()}
    assert all(c is not None for c in colors.values())
    for e in g.edges.select("src", "dst").collect():
        assert colors[e["src"]] != colors[e["dst"]]


def test_coloring_respects_round_budget(spark):
    """A triangle needs 3 rounds; with max_rounds=1 only the global
    priority winner is colored, the rest stay NULL (reported, not
    hidden)."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.coloring import color_graph

    v = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"
    )
    colors = [r["color"] for r in color_graph(Graph(v, e), 1).collect()]
    assert sorted(colors, key=lambda x: (x is None, x)) == [1, None, None]


def test_bipartite_matching_resolves_conflicts(spark):
    """Lefts 1,2 both prefer right 20; 2 wins round 1 (max proposer),
    1 falls back to 10 in round 2 -> perfect matching in 2 rounds.
    Zero rounds match nothing: an empty (src, dst) frame."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.matching import bipartite_matching

    v = spark.createDataFrame([(1,), (2,), (10,), (20,)], "id long")
    e = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 20)], "src long, dst long"
    )
    got = {(r["src"], r["dst"])
           for r in bipartite_matching(Graph(v, e), 2).collect()}
    assert got == {(2, 20), (1, 10)}
    none = bipartite_matching(Graph(v, e), 0)
    assert none.collect() == []
    assert none.schema.simpleString() == "struct<src:bigint,dst:bigint>"


def test_bipartite_matching_is_a_matching(spark):
    """On the sf0.001 customer-supplier graph: no vertex appears twice,
    and the matching is maximal for the round budget actually needed."""
    from flink_graph_spark.library.matching import bipartite_matching
    from flink_graph_spark.sources.graphs import customer_supplier_graph

    m = bipartite_matching(
        customer_supplier_graph(spark, SF_DIR), max_rounds=5
    ).collect()
    srcs = [r["src"] for r in m]
    dsts = [r["dst"] for r in m]
    assert len(srcs) == len(set(srcs))
    assert len(dsts) == len(set(dsts))
    assert len(m) > 0


@pytest.mark.slow
def test_walk_skipgram_pairs_symmetric_counts(spark):
    """Pairs are emitted in both orders, so the count matrix is
    symmetric; all pairs respect the window bound on a path walk."""
    from flink_graph_spark.library.sampling import walk_skipgram_pairs
    from flink_graph_spark.sources.generators import cycle_graph

    out = walk_skipgram_pairs(cycle_graph(spark, 6), length=3, window=2)
    counts = {(r["center"], r["context"]): r["n"] for r in out.collect()}
    assert counts, "cycle walks must produce pairs"
    for (c, x), n in counts.items():
        assert counts.get((x, c)) == n


@pytest.mark.slow
def test_boruvka_empty_and_edge_free_graphs(spark):
    """No component ever picks an edge → the forest is EMPTY with the
    (src, dst, w) schema, not a NoneType crash (isolated vertices and
    the empty graph are both legal inputs)."""
    from flink_graph_spark.library.mst import boruvka_mst

    empty = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long, value long")
    )
    out = boruvka_mst(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["src", "dst", "w"]
    # vertices but zero usable edges (self-loops only)
    loops = Graph.create(
        spark.createDataFrame([(1, 0), (2, 0)], "id long, value long"),
        spark.createDataFrame([(1, 1, 9)], "src long, dst long, value long"),
    )
    assert boruvka_mst(loops).count() == 0


@pytest.mark.slow
def test_boruvka_matches_kruskal_on_grid(spark):
    """The distributed Boruvka forest equals a driver-side Kruskal run
    over the identical hash weights — spanning, acyclic, minimal."""
    from flink_graph_spark.functions.hashing import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )
    from flink_graph_spark.library.mst import W_MOD, boruvka_mst
    from flink_graph_spark.sources.generators import grid_graph

    rows, cols = 4, 5
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in boruvka_mst(grid_graph(spark, rows, cols)).collect()
    }
    # reference Kruskal in plain Python on the same weights
    edges = []
    for rr in range(rows):
        for c in range(cols):
            v = rr * cols + c
            if c < cols - 1:
                edges.append((v, v + 1))
            if rr < rows - 1:
                edges.append((v, v + cols))
    def w(cs, cd):
        return 1 + ((MINHASH_A[2] * (cs * 1000 + cd) + MINHASH_B[2])
                    % MINHASH_P) % W_MOD
    parent = list(range(rows * cols))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    want = {}
    for cs, cd in sorted(edges, key=lambda e: (w(*e), e)):
        a, b = find(cs), find(cd)
        if a != b:
            parent[a] = b
            want[(cs, cd)] = w(cs, cd)
    assert got == want
    assert len(got) == rows * cols - 1


def test_wl_classes_match_grid_orbits(spark):
    """4x4 grid automorphism orbits: 4 corners, 8 edge vertices, 4
    interior — 1-WL separates exactly these; a cycle (vertex-
    transitive) collapses to ONE class."""
    from flink_graph_spark.library.wl import wl_color_classes
    from flink_graph_spark.sources.generators import cycle_graph, grid_graph

    sizes = sorted(
        r["n"] for r in wl_color_classes(grid_graph(spark, 4, 4)).collect()
    )
    assert sizes == [4, 4, 8]
    cyc = wl_color_classes(cycle_graph(spark, 8)).collect()
    assert len(cyc) == 1 and cyc[0]["n"] == 8


def test_spectral_radius_bounds(spark):
    """Complete graph K5: lambda_1 = 4 exactly; star S5: lambda_1 =
    sqrt(5) — power iteration with Rayleigh readout converges to both
    within rounding at 5 rounds... K5 is exact in ONE round (uniform
    vector is the eigenvector); the star needs the bound check."""
    from flink_graph_spark.library.neighborhood import spectral_radius
    from flink_graph_spark.sources.generators import (
        complete_graph,
        star_graph,
    )

    k5 = spectral_radius(complete_graph(spark, 5)).collect()[0]
    assert k5["lambda_1_est"] == 4.0
    s6 = spectral_radius(star_graph(spark, 6)).collect()[0]
    import math

    # star with 5 spokes: lambda_1 = sqrt(5) ~ 2.2360679
    assert abs(s6["lambda_1_est"] - math.sqrt(5)) < 0.05


def test_rmat_degree_zipf_is_negative_and_steeper_than_uniform(spark):
    """RMat degrees are right-skewed: the ln-ln slope is negative; a
    regular graph (cycle: all degrees equal) has slope exactly 0."""
    import __spark_entry__ as m

    row = m.queries()["rmat_degree_zipf"](spark, SF_DIR).collect()[0]
    assert row["zipf_slope"] < -0.1
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from flink_graph_spark.sources.generators import cycle_graph

    deg = (
        cycle_graph(spark, 16).edges.groupBy("src").agg(F.count("*").alias("od"))
    )
    ranked = deg.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("od"), F.asc("src")))
    )
    flat = ranked.agg(
        F.round(F.expr("regr_slope(ln(od * 1.0), ln(r * 1.0))"), 6).alias("s")
    ).collect()[0]["s"]
    assert flat == 0.0


@pytest.mark.slow
def test_incremental_pagerank_converges_to_full_recompute(spark):
    """The warm restart must land where a full run on the modified
    graph lands (power iteration has a unique fixed point): after
    enough resume supersteps the two agree to 6 decimals."""
    from flink_graph_spark.library import pagerank as pr_mod
    from flink_graph_spark.library.incremental import incremental_pagerank
    from flink_graph_spark.sources.graphs import golden_graph
    from flink_graph_spark.graph import Graph

    g = golden_graph(spark)
    added = spark.createDataFrame(
        [(2, 5, 25)], "src long, dst long, value long"
    )
    warm = {
        r["id"]: r["rank"]
        for r in incremental_pagerank(
            g, added, pre_iter=6, post_iter=12
        ).collect()
    }
    g2 = Graph(g.vertices, g.edges.unionByName(added))
    full = {
        r["id"]: r["rank"]
        for r in pr_mod.page_rank(g2, max_iter=18).collect()
    }
    assert set(warm) == set(full)
    for k in warm:
        assert abs(warm[k] - full[k]) < 1e-3


def test_adamic_adar_packing_guard_fires(spark):
    """The r7 packed-long plan: the id-domain guard must fail LOUDLY
    (not silently corrupt) on an id outside [0, 2^40)."""
    import pytest as _pt

    from flink_graph_spark.library.adamic_adar import adamic_adar

    big = 1 << 41
    bad = Graph.from_collection(
        spark, [(1, 1), (big, 1)], [(1, big, 0)]
    )
    with _pt.raises(Exception, match="packed-long domain"):
        adamic_adar(bad).collect()
