"""Golden-fixture operator tests — mirrors the reference's JUnit suite
(SURVEY.md §5: TestGraphOperations / TestMapVertices / TestJoinWith* /
TestReduceOn* / TestGraphMutations / TestDegrees, all on the
TestGraphUtils 5-vertex fixture), order-insensitive row comparison.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import rows_as_dict, rows_as_set
from flink_graph_spark.graph import EdgeDirection, Graph, InvalidGraphError

EDGES = {(1, 2, 12), (1, 3, 13), (2, 3, 23), (3, 4, 34), (3, 5, 35), (4, 5, 45), (5, 1, 51)}


# --- §2.1 construction / accessors -----------------------------------

def test_golden_shape(golden):
    assert golden.vertices.count() == 5
    assert golden.edges.count() == 7
    assert rows_as_set(golden.edges) == EDGES


def test_from_edges_derives_endpoints(spark, golden):
    g = Graph.from_edges(golden.edges)
    assert rows_as_dict(g.vertices, "id", "value") == {i: i for i in range(1, 6)}


def test_from_collection_and_ids(spark):
    g = Graph.from_collection(spark, [(1, 10), (2, 20)], [(1, 2, 99)])
    assert rows_as_set(g.vertex_ids()) == {(1,), (2,)}
    assert rows_as_set(g.edge_ids()) == {(1, 2)}
    assert g.num_vertices().collect()[0]["n_vertices"] == 2
    assert g.num_edges().collect()[0]["n_edges"] == 1


def test_schema_asserts(spark):
    v = spark.createDataFrame([(1,)], "wrong long")
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(InvalidGraphError):
        Graph(v, e)
    with pytest.raises(InvalidGraphError):
        Graph(v.withColumnRenamed("wrong", "id"), e.withColumnRenamed("dst", "d2"))


# --- §2.2 transforms ---------------------------------------------------

def test_map_vertices(golden):
    g = golden.map_vertices(F.col("value") * 2)
    assert rows_as_dict(g.vertices, "id", "value") == {i: 2 * i for i in range(1, 6)}


def test_map_edges(golden):
    g = golden.map_edges(F.col("value") + 1)
    assert rows_as_set(g.edges) == {(s, d, v + 1) for s, d, v in EDGES}


def test_reverse(golden):
    assert rows_as_set(golden.reverse().edges) == {(d, s, v) for s, d, v in EDGES}


def test_reverse_is_involution(golden):
    assert rows_as_set(golden.reverse().reverse().edges) == EDGES


def test_get_undirected_keeps_duplicates(golden):
    e = golden.get_undirected().edges
    assert e.count() == 14
    assert rows_as_set(e) == EDGES | {(d, s, v) for s, d, v in EDGES}


# --- §2.3 subgraph / filters ------------------------------------------

def test_subgraph_both_endpoints_must_survive(golden):
    g = golden.subgraph(F.col("value") >= 3, F.lit(True))
    assert rows_as_set(g.vertices.select("id")) == {(3,), (4,), (5,)}
    assert rows_as_set(g.edges) == {(3, 4, 34), (3, 5, 35), (4, 5, 45)}


def test_subgraph_edge_pred(golden):
    g = golden.subgraph(F.col("value") >= 3, F.col("value") > 34)
    assert rows_as_set(g.edges) == {(3, 5, 35), (4, 5, 45)}


def test_filter_on_vertices(golden):
    g = golden.filter_on_vertices(F.col("value") % 2 == 1)  # keep 1,3,5
    assert rows_as_set(g.edges) == {(1, 3, 13), (3, 5, 35), (5, 1, 51)}


def test_filter_on_edges_keeps_vertices(golden):
    g = golden.filter_on_edges(F.col("value") > 40)
    assert g.vertices.count() == 5
    assert rows_as_set(g.edges) == {(4, 5, 45), (5, 1, 51)}


# --- §2.4 joins --------------------------------------------------------

def test_join_with_vertices_left_outer(spark, golden):
    other = spark.createDataFrame([(1, 100), (3, 300)], "id long, t long")
    g = golden.join_with_vertices(other, lambda v, t: v + t)
    assert rows_as_dict(g.vertices, "id", "value") == {1: 101, 2: 2, 3: 303, 4: 4, 5: 5}


def test_join_with_edges(spark, golden):
    other = spark.createDataFrame([(1, 2, 1000), (3, 4, 3000)], "src long, dst long, t long")
    g = golden.join_with_edges(other, lambda v, t: v + t)
    got = rows_as_set(g.edges)
    assert (1, 2, 1012) in got and (3, 4, 3034) in got
    assert (2, 3, 23) in got  # unmatched keeps old value


def test_join_with_edges_on_source_and_target(spark, golden):
    other = spark.createDataFrame([(3, 7)], "id long, t long")
    gs = golden.join_with_edges_on_source(other, lambda v, t: v * t)
    assert rows_as_set(gs.edges) >= {(3, 4, 238), (3, 5, 245), (1, 2, 12)}
    gt = golden.join_with_edges_on_target(other, lambda v, t: v * t)
    assert rows_as_set(gt.edges) >= {(1, 3, 91), (2, 3, 161), (3, 4, 34)}


def test_triplets(golden):
    t = golden.triplets()
    assert t.count() == 7
    row = t.filter((F.col("src") == 1) & (F.col("dst") == 2)).collect()[0]
    assert (row["value"], row["src_value"], row["dst_value"]) == (12, 1, 2)


# --- §2.5 degrees / neighborhood aggs ---------------------------------

def test_out_degrees(golden):
    assert rows_as_dict(golden.out_degrees(), "id", "degree") == {1: 2, 2: 1, 3: 2, 4: 1, 5: 1}


def test_in_degrees(golden):
    assert rows_as_dict(golden.in_degrees(), "id", "degree") == {1: 1, 2: 1, 3: 2, 4: 1, 5: 2}


def test_degrees_total(golden):
    assert rows_as_dict(golden.degrees(), "id", "degree") == {1: 3, 2: 2, 3: 4, 4: 2, 5: 3}


def test_degrees_zero_for_isolated(spark):
    g = Graph.from_collection(spark, [(1, 1), (2, 2), (9, 9)], [(1, 2, 0)])
    assert rows_as_dict(g.degrees(), "id", "degree")[9] == 0


def test_reduce_on_edges_out_sum(golden):
    got = golden.reduce_on_edges([F.sum("value").alias("s")], EdgeDirection.OUT)
    assert rows_as_dict(got, "id", "s") == {1: 25, 2: 23, 3: 69, 4: 45, 5: 51}


def test_reduce_on_edges_in_min(golden):
    got = golden.reduce_on_edges([F.min("value").alias("m")], EdgeDirection.IN)
    assert rows_as_dict(got, "id", "m") == {1: 51, 2: 12, 3: 13, 4: 34, 5: 35}


def test_reduce_on_edges_all_count(golden):
    got = golden.reduce_on_edges([F.count("*").alias("c")], EdgeDirection.ALL)
    assert rows_as_dict(got, "id", "c") == {1: 3, 2: 2, 3: 4, 4: 2, 5: 3}


def test_reduce_on_neighbors_out(golden):
    got = golden.reduce_on_neighbors([F.sum("nbr_value").alias("s")], EdgeDirection.OUT)
    assert rows_as_dict(got, "id", "s") == {1: 5, 2: 3, 3: 9, 4: 5, 5: 1}


def test_reduce_on_neighbors_in(golden):
    got = golden.reduce_on_neighbors([F.sum("nbr_value").alias("s")], EdgeDirection.IN)
    assert rows_as_dict(got, "id", "s") == {1: 5, 2: 1, 3: 3, 4: 3, 5: 7}


def test_reduce_on_neighbors_all(golden):
    got = golden.reduce_on_neighbors([F.sum("nbr_value").alias("s")], EdgeDirection.ALL)
    assert rows_as_dict(got, "id", "s") == {1: 10, 2: 4, 3: 12, 4: 8, 5: 8}


def test_aggregate_messages_matches_neighbors(golden):
    got = golden.aggregate_messages(
        [F.sum("__msg").alias("s")], msg_to_dst=F.col("src_value")
    )
    assert rows_as_dict(got, "id", "s") == {1: 5, 2: 1, 3: 3, 4: 3, 5: 7}


def test_aggregate_messages_explicit_reads(golden):
    got = golden.aggregate_messages(
        [F.sum("__msg").alias("s")],
        msg_to_dst=F.col("src_value"),
        msg_to_dst_reads=("src",),
    )
    assert rows_as_dict(got, "id", "s") == {1: 5, 2: 1, 3: 3, 4: 3, 5: 7}


def test_aggregate_messages_expr_built_message(golden):
    # F.expr-built message whose repr defeats the substring heuristic:
    # Spark resolves SRC_VALUE case-insensitively, but "src_value" never
    # appears in the repr, so the inferred join side set is empty — the
    # analysis check must catch it and fall back to joining both sides,
    # not silently deliver nothing.
    got = golden.aggregate_messages(
        [F.sum("__msg").alias("s")], msg_to_dst=F.expr("SRC_VALUE")
    )
    assert rows_as_dict(got, "id", "s") == {1: 5, 2: 1, 3: 3, 4: 3, 5: 7}


def test_aggregate_messages_bad_reads_raises(golden):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        golden.aggregate_messages(
            [F.sum("__msg").alias("s")],
            msg_to_dst=F.col("src_value"),
            msg_to_dst_reads=("source",),
        )


# --- §2.6 mutations ----------------------------------------------------

def test_union_dedups_vertices_keeps_edge_duplicates(spark, golden):
    other = Graph.from_collection(spark, [(5, 5), (6, 6)], [(5, 1, 51), (6, 5, 65)])
    u = golden.union(other)
    assert u.vertices.count() == 6
    assert u.edges.count() == 9  # (5,1,51) duplicated — union all


def test_add_vertex_and_edges(spark, golden):
    g = golden.add_vertex((6, 6), [(6, 1, 61)])
    assert g.vertices.count() == 6
    assert (6, 1, 61) in rows_as_set(g.edges)
    g2 = g.add_vertex((6, 6))  # duplicate id deduped
    assert g2.vertices.count() == 6


def test_add_edge(golden):
    g = golden.add_edge((6, 6), (7, 7), (6, 7, 67))
    assert g.vertices.count() == 7
    assert (6, 7, 67) in rows_as_set(g.edges)


def test_remove_vertex_drops_incident_edges(golden):
    g = golden.remove_vertex(3)
    assert rows_as_set(g.vertices.select("id")) == {(1,), (2,), (4,), (5,)}
    assert rows_as_set(g.edges) == {(1, 2, 12), (4, 5, 45), (5, 1, 51)}


def test_remove_vertices_bulk(spark, golden):
    ids = spark.createDataFrame([(3,), (4,)], "id long")
    g = golden.remove_vertices(ids)
    assert rows_as_set(g.edges) == {(1, 2, 12), (5, 1, 51)}


def test_remove_edge(golden):
    g = golden.remove_edge(5, 1)
    assert rows_as_set(g.edges) == EDGES - {(5, 1, 51)}
    g2 = golden.remove_edge(5, 1, value=99)  # value mismatch → no-op
    assert g2.edges.count() == 7


# --- §2.8 validation ---------------------------------------------------

def test_validate_ok(golden):
    assert golden.validate() is True


def test_validate_detects_dangling_endpoint(spark, golden):
    bad = Graph(
        golden.vertices,
        golden.edges.unionByName(spark.createDataFrame([(1, 99, 0)], "src long, dst long, value long")),
    )
    assert bad.validate() is False
    assert rows_as_set(bad.invalid_edge_endpoints()) == {(99,)}


def test_pluggable_validator(spark, golden):
    from flink_graph_spark.graph import InvalidVertexIdsValidator

    assert golden.validate(InvalidVertexIdsValidator()) is True
    bad = Graph(
        golden.vertices.filter(F.col("id") != 5),
        golden.edges,
    )
    assert bad.validate(InvalidVertexIdsValidator()) is False


def test_reduce_on_edges_with_vertex_value(spark):
    g = Graph.from_collection(spark, [(1, 10), (2, 20), (9, 90)], [(1, 2, 5)])
    got = {r["id"]: (r["value"], r["s"]) for r in
           g.reduce_on_edges_with_vertex_value(
               [F.sum("value").alias("s")], EdgeDirection.OUT).collect()}
    assert got == {1: (10, 5), 2: (20, None), 9: (90, None)}


def test_reduce_on_neighbors_with_vertex_value(golden):
    got = {r["id"]: (r["value"], r["s"]) for r in
           golden.reduce_on_neighbors_with_vertex_value(
               [F.sum("nbr_value").alias("s")], EdgeDirection.OUT).collect()}
    assert got == {1: (1, 5), 2: (2, 3), 3: (3, 9), 4: (4, 5), 5: (5, 1)}


def test_reduce_on_neighbors_udf_median(golden):
    import pandas as pd

    def median_nbr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {"id": [pdf["id"].iloc[0]], "med": [float(pdf["nbr_value"].median())]}
        )

    got = rows_as_dict(
        golden.reduce_on_neighbors_udf(
            median_nbr, "id long, med double", EdgeDirection.OUT
        ),
        "id",
        "med",
    )
    # OUT neighbor sets: 1→{2,3} 2→{3} 3→{4,5} 4→{5} 5→{1}
    assert got == {1: 2.5, 2: 3.0, 3: 4.5, 4: 5.0, 5: 1.0}


# --- §2.6 extensions: intersect / difference (Gelly-successor ops) ----

def test_intersect_edges_and_vertices(spark, golden):
    other = Graph.from_collection(
        spark,
        [(1, 1), (3, 3), (5, 5), (9, 9)],
        [(1, 3, 13), (3, 5, 35), (5, 1, 99), (9, 1, 91)],
    )
    got = golden.intersect(other)
    # (5,1,51) vs (5,1,99): value differs -> excluded; (9,...) not in golden
    assert rows_as_set(got.edges) == {(1, 3, 13), (3, 5, 35)}
    assert rows_as_set(got.vertices.select("id")) == {(1,), (3,), (5,)}


def test_difference_removes_vertices_and_incident_edges(spark, golden):
    other = Graph.from_collection(spark, [(3, 0), (9, 0)], [])
    got = golden.difference(other)
    assert rows_as_set(got.vertices.select("id")) == {(1,), (2,), (4,), (5,)}
    assert rows_as_set(got.edges) == {(1, 2, 12), (4, 5, 45), (5, 1, 51)}


# --- shared persisted edge cache semantics ----------------------------

def test_pregel_preserves_shared_edge_cache(spark, golden):
    from flink_graph_spark.operators.pregel import pregel

    g = Graph(golden.vertices, golden.edges.repartition("src").persist())
    res = pregel(
        g,
        initial=F.col("id").cast("long"),
        msg_to_dst=F.col("src_comp"),
        agg=F.min("__msg").alias("__agg"),
        update=F.least(F.col("comp"), F.col("__agg")),
        max_iter=3,
        state_col="comp",
    )
    res.vertices.count()
    # the shared edge cache must still be registered after the loop
    assert g.edges.storageLevel.useMemory
    g.edges.unpersist()


def test_label_propagation_preserves_shared_edge_cache(spark, golden):
    from flink_graph_spark.library.label_propagation import label_propagation

    und = golden.get_undirected()
    g = Graph(und.vertices, und.edges.repartition("src").persist())
    label_propagation(g, max_iter=2).count()
    assert g.edges.storageLevel.useMemory
    g.edges.unpersist()


# ---- graph generators (Gelly-successor parity) ------------------------

def test_generators_structures(spark):
    from flink_graph_spark.sources import generators as gen

    cyc = gen.cycle_graph(spark, 5)
    assert cyc.edges.count() == 5
    assert cyc.vertices.count() == 5
    # every vertex has out-degree 1 and in-degree 1
    assert cyc.out_degrees().agg({"degree": "min"}).collect()[0][0] == 1
    assert cyc.in_degrees().agg({"degree": "max"}).collect()[0][0] == 1

    comp = gen.complete_graph(spark, 4)
    assert comp.edges.count() == 12  # 4*3 ordered pairs

    star = gen.star_graph(spark, 6)
    assert star.edges.count() == 5
    hub_od = {r["id"]: r["degree"] for r in star.out_degrees().collect()}
    assert hub_od[0] == 5

    grid = gen.grid_graph(spark, 3, 4)
    # right edges: 3*(4-1)=9, down edges: (3-1)*4=8
    assert grid.edges.count() == 17


def test_rmat_deterministic_and_skewed(spark):
    from flink_graph_spark.sources import generators as gen

    e1 = {tuple(r) for r in gen.rmat_edges(spark, 8, 512).collect()}
    e2 = {tuple(r) for r in gen.rmat_edges(spark, 8, 512).collect()}
    assert e1 == e2  # fully deterministic
    # all endpoints within [0, 2^8)
    assert all(0 <= s < 256 and 0 <= d < 256 for s, d in e1)
    # RMat skew: the max out-degree far exceeds the mean
    import collections
    od = collections.Counter(s for s, _ in gen.rmat_edges(spark, 8, 512).collect())
    assert max(od.values()) >= 4 * (512 / 256)


def test_translate_graph_ids_rewrites_both_frames(golden):
    g = golden.translate_graph_ids(lambda c: c * 10)
    assert {r["id"] for r in g.vertices.collect()} == {10, 20, 30, 40, 50}
    assert all(
        r["src"] % 10 == 0 and r["dst"] % 10 == 0
        for r in g.edges.collect()
    )


def test_translate_vertex_and_edge_values(golden):
    g = golden.translate_vertex_values(lambda c: c + 1)
    assert {r["value"] for r in g.vertices.collect()} == {2, 3, 4, 5, 6}
    g2 = golden.translate_edge_values(lambda c: c * 2)
    assert {r["value"] for r in g2.edges.collect()} == {
        24, 26, 46, 68, 70, 90, 102
    }


def test_reciprocity_values(spark):
    """The pc co-occurrence build stores canonical src<dst pairs
    (reciprocity 0); the golden cycle has no mutual edges either; a
    hand-built mutual pair scores 1.0."""
    import __spark_entry__ as m

    out = {r["graph_name"]: r.asDict()
           for r in m.queries()["reciprocity_golden_pc"](
               spark, "/root/testdata/sf0.001").collect()}
    for g in ("golden", "pc"):
        assert 0.0 <= out[g]["reciprocity"] <= 1.0
        assert out[g]["n_reciprocal"] <= out[g]["n_edges"]
    assert out["golden"]["reciprocity"] == 0.0
