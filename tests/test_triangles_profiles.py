"""Tests for triangle counting and the MusicProfiles-style pipeline."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from conftest import job_count, rows_as_dict
from flink_graph_spark.graph import Graph
from flink_graph_spark.library.music_profiles import (
    music_profiles_communities,
    shared_top_event_graph,
    top_event_per_user,
)
from flink_graph_spark.library.triangles import triangle_count, triangles_per_vertex


@pytest.fixture(scope="module")
def tri_graph(spark):
    # canonical src<dst; triangles {1,2,3} and {2,3,4}
    return Graph.from_edges(
        spark.createDataFrame(
            [(1, 2, 1), (1, 3, 1), (2, 3, 1), (2, 4, 1), (3, 4, 1)],
            "src long, dst long, value long",
        )
    )


def test_triangle_count(tri_graph):
    assert triangle_count(tri_graph).collect()[0]["n_triangles"] == 2


def test_triangles_per_vertex(tri_graph):
    got = rows_as_dict(triangles_per_vertex(tri_graph), "id", "n_triangles")
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_count_no_triangles(spark):
    g = Graph.from_edges(
        spark.createDataFrame([(1, 2, 1), (3, 4, 1)], "src long, dst long, value long")
    )
    assert triangle_count(g).collect()[0]["n_triangles"] == 0


@pytest.fixture(scope="module")
def mp_events(spark):
    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        # user 1: click x2, view x1 → top=click
        (1, t0, 1, "click", 1.0, None),
        (2, t0, 1, "click", 1.0, None),
        (3, t0, 1, "view", 1.0, None),
        # user 2: click x1, view x1 → tie → alphabetical ASC → click
        (4, t0, 2, "click", 1.0, None),
        (5, t0, 2, "view", 1.0, None),
        # user 3: view only → top=view
        (6, t0, 3, "view", 1.0, None),
        # user 4: errors only → filtered out entirely
        (7, t0, 4, "error", 1.0, None),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_top_event_per_user(mp_events):
    got = {r["user_id"]: (r["top_event"], r["n_plays"])
           for r in top_event_per_user(mp_events).collect()}
    assert got == {1: ("click", 2), 2: ("click", 1), 3: ("view", 1)}


def test_shared_top_event_graph(mp_events):
    g = shared_top_event_graph(mp_events)
    edges = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert edges == {(1, 2)}  # users 1,2 share top=click; 3 is alone


def test_music_profiles_communities(mp_events):
    # synchronous LPA on the 2-node shared-taste graph oscillates
    # (labels swap each superstep — faithful to the reference's
    # synchronous model); with 3 fixed iterations: 1↔2 swapped 3x
    labels = rows_as_dict(
        music_profiles_communities(mp_events, max_iter=3), "id", "label"
    )
    assert set(labels) == {1, 2}  # vertex set = edge endpoints only
    assert labels == {1: 2, 2: 1}  # deterministic fixed-iteration state
    labels4 = rows_as_dict(
        music_profiles_communities(mp_events, max_iter=4), "id", "label"
    )
    assert labels4 == {1: 1, 2: 2}  # one more swap — exact semantics


def test_closed_wedges_match_bruteforce_on_skewed_random_graph(spark):
    """The r7 array-intersect enumeration must emit exactly the same
    (a, b, c) corner rows the wedge join did: one row per triangle,
    a the lowest-(degree, id) corner under the tournament orientation.
    Pinned against an itertools brute force on a hub-skewed random
    graph (one vertex joined to everything + random noise edges), the
    shape that distinguishes degree- from id-orientation."""
    import itertools
    import random

    from flink_graph_spark.library.triangles import (
        _closed_wedges,
        _edge_commons,
        triangle_count,
    )

    rng = random.Random(7)
    n = 40
    edges = {(0, v) for v in range(1, n)}  # hub 0
    while len(edges) < 160:
        a, b = rng.sample(range(n), 2)
        edges.add((min(a, b), max(a, b)))
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expect_tris = {
        tuple(sorted(t))
        for t in itertools.combinations(range(n), 3)
        if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]
    }

    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = [(r["a"], r["b"], r["c"]) for r in _closed_wedges(e).collect()]
    assert len(got) == len(expect_tris)  # exactly once each
    assert {tuple(sorted(t)) for t in got} == expect_tris
    # count path (sum of intersection sizes, no explode) agrees
    from flink_graph_spark.graph import Graph

    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    g = Graph(v, e.withColumn("value", F.lit(1)))
    assert triangle_count(g).collect()[0]["n_triangles"] == len(expect_tris)
    # corner roles: a->b, a->c, b->c all oriented edges of the DAG
    commons = _edge_commons(e).collect()
    assert sum(len(r["cs"]) for r in commons) == len(expect_tris)


@pytest.mark.slow
def test_jaccard_waved_attach_matches_single_wave(spark, monkeypatch):
    """r9 disk-bounded waves for the full-adjacency attach: forcing the
    edge stream into multiple hash(src, dst) slices must change NOTHING
    about the jaccard scores on a hub-skewed random graph — same
    contract as test_waved_enumeration_matches_single_wave. Also pins
    the action-free default: with no hint, no memo, and non-persisted
    edges, the sizing path must not run (plan stays single-stage)."""
    import random

    from flink_graph_spark.library import jaccard as jc_mod

    rng = random.Random(23)
    n = 40
    edges = {(0, v) for v in range(1, n)}
    while len(edges) < 160:
        a, b = rng.sample(range(n), 2)
        edges.add((min(a, b), max(a, b)))
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    g = Graph(v, e, canonical_edges=True)

    base = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in jc_mod.jaccard_similarity(g).collect()
    }

    # force the wave branch: hint above a zeroed threshold, payload
    # floor zeroed, target sized for ~3 waves
    adj = (
        e.select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
        .unionByName(e.select(F.col("dst").alias("id"), F.col("src").alias("nbr")))
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
    )
    payload = jc_mod._adjacency_payload_bytes(adj)
    assert payload > 0
    monkeypatch.setattr(jc_mod, "_WAVE_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(jc_mod, "JACCARD_WAVE_MIN_PAYLOAD_BYTES", 0)
    monkeypatch.setattr(
        jc_mod, "JACCARD_WAVE_TARGET_BYTES", max(1, payload // 3)
    )

    waved = {
        (r["src"], r["dst"]): r["jaccard"]
        for r in jc_mod.jaccard_similarity(
            g, n_edges_hint=len(edges)
        ).collect()
    }
    assert waved == base

    # action-free default: unknown size + non-persisted edges must not
    # size (and therefore not wave), even with the thresholds zeroed
    def _poison(adj_df):
        raise AssertionError("sizing action ran without a size source")

    monkeypatch.setattr(jc_mod, "_adjacency_payload_bytes", _poison)
    plain = jc_mod.jaccard_similarity(Graph(v, e, canonical_edges=True))
    assert {
        (r["src"], r["dst"]): r["jaccard"] for r in plain.collect()
    } == base


def test_wave_sizing_skips_action_below_threshold(spark):
    """VERDICT r8 nit: _wave_count paid a count action on every
    triangle/AA call even far below the wave threshold. With a hint at
    or below the threshold it must not touch the frame at all, and the
    public entry points must thread the graph's memoized edge count
    through — so a pre-counted graph pays exactly one fewer job."""
    from flink_graph_spark.library import triangles as tri_mod

    class _Poison:
        def count(self):
            raise AssertionError("wave sizing ran an action despite hint")

        def groupBy(self, *a):
            raise AssertionError("wave sizing ran an action despite hint")

    assert tri_mod._wave_count(_Poison(), n_edges_hint=10) == 1

    edges = [(i, i + 1) for i in range(20)] + [(0, 5), (0, 9), (3, 17)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame(
        [(i,) for i in range(21)], "id long"
    )

    def jobs_for(graph):
        with job_count(spark) as jobs:
            # plan construction runs the eager checkpoint + any sizing
            # actions; the result itself stays lazy
            tri_mod.triangle_count(graph)
        return jobs()

    g_cold = Graph(v, e, canonical_edges=True)
    cold_jobs = jobs_for(g_cold)

    g_warm = Graph(v, e, canonical_edges=True)
    g_warm.edge_count()  # fills the memo the hint path reads
    warm_jobs = jobs_for(g_warm)

    # the sizing agg can span several Spark jobs under AQE — the
    # contract is strictly FEWER actions with the memo filled
    assert warm_jobs < cold_jobs


def test_wave_kernel_matches_one_wave(spark, monkeypatch):
    """``operators.iterate.waves``: a tiny graph forced through two hash
    waves gives the one-wave result of Jaccard, Adamic–Adar and the
    triangle count, and drains the shuffle scratch once per wave; the
    one-wave plans drain nothing."""
    from flink_graph_spark.library import jaccard as jc_mod
    from flink_graph_spark.library import triangles as tri_mod
    from flink_graph_spark.library.adamic_adar import adamic_adar
    from flink_graph_spark.operators import iterate as iterate_mod

    # hub 0 over 1..6, the square 1-2-3-4 with chord 1-3, and 5-6
    edges = [(0, v) for v in range(1, 7)] + [
        (1, 2), (2, 3), (3, 4), (1, 4), (1, 3), (5, 6),
    ]
    g = Graph.from_edges(
        spark.createDataFrame(
            [(s, d, 1) for s, d in edges], "src long, dst long, value long"
        )
    )
    drains = []
    monkeypatch.setattr(
        iterate_mod, "drain_shuffle_scratch", lambda *a, **k: drains.append(a)
    )

    def run(**jc_kw):
        return (
            triangle_count(g).collect()[0]["n_triangles"],
            {(r["src"], r["dst"]): r["aa"] for r in adamic_adar(g).collect()},
            {
                (r["src"], r["dst"]): r["jaccard"]
                for r in jc_mod.jaccard_similarity(g, **jc_kw).collect()
            },
        )

    one = run()
    assert drains == []
    assert one[0] == 8  # six through the hub, two in the square

    monkeypatch.setattr(tri_mod, "_wave_count", lambda oe, hint=None: 2)
    monkeypatch.setattr(jc_mod, "_WAVE_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(jc_mod, "JACCARD_WAVE_MIN_PAYLOAD_BYTES", 0)
    monkeypatch.setattr(jc_mod, "JACCARD_WAVE_TARGET_BYTES", 1 << 40)
    assert run(n_edges_hint=len(edges)) == one
    assert len(drains) == 3 * 2


@pytest.mark.slow
def test_waved_enumeration_matches_single_wave(spark, monkeypatch):
    """r8 disk-bounded waves: forcing the enumeration into multiple
    hash(b)-slices must change NOTHING about the results — triangle
    count, per-vertex counts, and Adamic-Adar scores all equal the
    single-wave plan on a hub-skewed random graph. (At real scale the
    waves bound the by-b shuffle's scratch to WAVE_TARGET_BYTES each —
    the r7 p100 disk-death fix.)"""
    import random

    from flink_graph_spark.library import triangles as tri_mod
    from flink_graph_spark.library.adamic_adar import adamic_adar

    rng = random.Random(11)
    n = 40
    edges = {(0, v) for v in range(1, n)}
    while len(edges) < 160:
        a, b = rng.sample(range(n), 2)
        edges.add((min(a, b), max(a, b)))
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(n)], "id long")
    g = Graph(v, e.withColumn("value", F.lit(1)), canonical_edges=True)

    base_count = triangle_count(g).collect()[0]["n_triangles"]
    base_tpv = rows_as_dict(triangles_per_vertex(g), "id", "n_triangles")
    base_aa = {(r["src"], r["dst"]): r["aa"] for r in adamic_adar(g).collect()}

    # force every enumeration through >= 3 waves
    monkeypatch.setattr(tri_mod, "WAVE_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(tri_mod, "WAVE_TARGET_BYTES", 1)
    orig = tri_mod._wave_count

    def capped(oe, n_edges_hint=None):
        return min(3, orig(oe, n_edges_hint))

    monkeypatch.setattr(tri_mod, "_wave_count", capped)

    assert triangle_count(g).collect()[0]["n_triangles"] == base_count
    assert rows_as_dict(triangles_per_vertex(g), "id", "n_triangles") == base_tpv
    waved_aa = {(r["src"], r["dst"]): r["aa"] for r in adamic_adar(g).collect()}
    assert waved_aa == base_aa
