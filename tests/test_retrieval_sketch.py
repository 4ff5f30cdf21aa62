"""Hand-computed checks for retrieval scoring (TF-IDF, BM25, unigram
NLL), the HLL distinct sketch, and the local clustering coefficient.
The DuckDB oracle gate covers engine parity; these tests pin the MATH
to independently-derived expected values on tiny fixtures.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flink_graph_spark.functions import retrieval as ret
from flink_graph_spark.functions import sketch
from flink_graph_spark.graph import Graph
from flink_graph_spark.library.triangles import clustering_coefficient

from conftest import rows_as_dict


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry apple"),
        ],
        "doc_id long, text string",
    )


def test_tfidf_math(spark, docs):
    out = ret.tfidf_top_terms(docs, k=1).collect()
    by_doc = {r.doc_id: r for r in out}
    # doc 1: apple tf=2 df=2 → 2·ln(3/2)=0.810930; banana tf=1 df=2 →
    # 0.405465 — apple wins
    assert by_doc[1].term == "apple"
    assert by_doc[1].tfidf == pytest.approx(2 * math.log(3 / 2), abs=1e-6)
    # doc 3: cherry tf=3 df=2 → 1.216395 beats apple 0.405465
    assert by_doc[3].term == "cherry"
    # doc 2: banana and cherry tie at 1·ln(3/2) — tie-break ASC on term
    assert by_doc[2].term == "banana"


def test_bm25_rare_term_dominates(spark, docs):
    # query = {cherry}: doc 3 (tf=3) must outrank doc 2 (tf=1); doc 1
    # (no cherry) absent
    out = ret.bm25_search(docs, query_terms=("cherry",)).collect()
    assert [r.doc_id for r in out] == [3, 2]
    # manual check for doc 2: N=3 df=2 dl=2 avgdl=3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    denom = 1 + ret.BM25_K1 * (1 - ret.BM25_B + ret.BM25_B * 2 / 3)
    assert out[1].score == pytest.approx(
        round(idf * 1 * (ret.BM25_K1 + 1) / denom, 6), abs=1e-6
    )


def test_unigram_nll_uniform_doc(spark, docs):
    # corpus counts: apple 3, banana 2, cherry 4 → total 9
    out = rows_as_dict(ret.unigram_nll(docs), "doc_id", "nll")
    expect_doc2 = -(math.log(2 / 9) + math.log(4 / 9)) / 2
    assert out[2] == pytest.approx(expect_doc2, abs=1e-6)


def test_hll_estimate_tracks_exact(spark):
    # 1000 distinct keys in one group, 10 in another: estimate within
    # ~13% (1.04/sqrt(64)) of exact for the large group, and the
    # small-range (linear counting) path is near-exact for the tiny one
    rows = [("big", i) for i in range(1000)] + [("small", i) for i in range(10)]
    df = spark.createDataFrame(rows, "grp string, k long")
    out = {r.grp: r for r in sketch.hll_distinct(df, "grp", "k").collect()}
    assert out["big"].exact_distinct == 1000
    assert abs(out["big"].est_distinct - 1000) / 1000 < 0.3
    assert abs(out["small"].est_distinct - 10) <= 2


def test_hll_is_deterministic(spark):
    df = spark.createDataFrame([("g", i) for i in range(100)], "grp string, k long")
    a = sketch.hll_distinct(df, "grp", "k").collect()[0].est_distinct
    b = sketch.hll_distinct(df.repartition(7), "grp", "k").collect()[0].est_distinct
    assert a == b  # partitioning-independent (max/sum are commutative)


def test_clustering_coefficient_triangle_plus_pendant(spark):
    # K3 on {1,2,3} plus pendant 4–1: vertices 2,3 have coeff 1.0;
    # vertex 1 has degree 3, one triangle → 2·1/(3·2) = 1/3; pendant 0
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4)], "src long, dst long"
    ).withColumn("value", F.lit(1).cast("long"))
    g = Graph.from_edges(e)
    out = {r.id: r for r in clustering_coefficient(g).collect()}
    assert out[2].coeff == pytest.approx(1.0)
    assert out[3].coeff == pytest.approx(1.0)
    assert out[1].coeff == pytest.approx(round(1 / 3, 6))
    assert out[4].coeff == 0.0
    assert out[1].degree == 3


# ---- count-min sketch -------------------------------------------------

def test_count_min_never_underestimates_and_is_tight_when_wide(spark):
    from flink_graph_spark.functions.sketch import count_min_estimates

    rows = [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 5 + [("d",)] * 1
    df = spark.createDataFrame(rows, "k string")
    wide = {
        r["token"]: (r["exact_cnt"], r["cm_est"])
        for r in count_min_estimates(df, "k", top_k=4, width=256).collect()
    }
    assert set(wide) == {"a", "b", "c", "d"}
    for exact, est in wide.values():
        assert est == exact  # 4 keys in 256 cells: no collisions
    # width=1 forces every key into one cell per row: est = total mass
    narrow = count_min_estimates(df, "k", top_k=4, width=1).collect()
    for r in narrow:
        assert r["cm_est"] == 76 and r["cm_est"] >= r["exact_cnt"]
