"""Random-corpus oracle fuzzing: run the registry's Spark-vs-DuckDB
parity contract on SEEDED random documents/events corpora instead of
the fixed driver testdata.

The driver gate proves parity on one dataset; this proves it on data
the twins were never tuned against — deliberately including the
divergence-prone shapes: exact-duplicate texts (dedup tie-breaks),
near-duplicates, empty / whitespace-only texts, single-token docs,
repeated boilerplate, many-decimal values (rounding parity), and
EXACT-TIE timestamps within a user (window tie-breaks). Seeded RNG so
failures reproduce; the compare is the same canonicalize + value-hash
as tools/check_correctness.py (imported, not re-implemented).
"""

from __future__ import annotations

import datetime
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import check_correctness as cc  # noqa: E402  (canonicalize / value_hash)

# randomized-redundancy tier: the real driver gate (sf0.001/sf0.01 vs
# DuckDB over every declared query) covers the same twins on the fixed
# data every round; the fuzz sweep re-proves them on random corpora and
# costs ~14 min — slow tier (see pytest.ini)
pytestmark = pytest.mark.slow

import __spark_entry__ as entrymod  # noqa: E402

TABLES = cc.TABLES

# documents-only queries, weighted toward tie-break / rounding /
# hash-parity machinery
DOC_QUERIES = [
    "text_stats",
    "doc_fingerprint",
    "quality_filters",
    "dedup_exact_stats",
    "dedup_clusters",
    "dedup_keep_set",
    "dedup_ngram_topk",
    "ngram_containment_topk",
    "simhash_docs",
    "dedup_minhash_lsh",
    "winnow_dup_pairs",
    "passage_dedup",
    "top_shingles",
    "boilerplate_flags",
    "chunk_documents",
    "token_entropy",
    "zipf_slope",
    "unigram_nll",
    "bpe_merges",
    "skipgram_pairs",
    "source_top_terms",
    "corpus_report",
    "token_budget_select",
    "pretrain_funnel",
    "train_val_test_split",
    "stratified_sample",
    "weighted_sample",
    # round-4 second sitting: every remaining docs-family query (the
    # only registry queries left unfuzzed are the fixed-literal golden/
    # grid/RMat fixtures, whose inputs have no random surface, and
    # pagerank_bucketed_cs, whose bucketed catalog write is keyed by
    # sf_dir and covered by its own plan + oracle tests)
    "token_counts",
    "quality_score",
    "repetition_ratio",
    "lang_id",
    "corpus_prep",
    "dedup_exact",
    "contamination_check",
    "pii_scrub",
    "pack_sequences",
    "length_quantiles",
    "tfidf_top_terms",
    "bm25_search",
    "collocations_pmi",
    "count_min_tokens",
    "bigram_nll",
    "mixture_weights",
    "histogram_quantiles",
    "vocab_coverage",
    "bloom_blocklist",
    "cross_source_overlap",
    "ngram_novelty",
    "simhash_near_dup",
    "bpe_compression",
    "minhash_calibration",
    "langid_confusion",
    "quality_calibration",
    "quality_length_corr",
    "source_diversity",
    "source_quota_sample",
    "multimodal_features",
    "streaming_quality_by_source",
]

EVENT_QUERIES = [
    "sessionize_events",
    "hourly_rollup",
    "top_events_per_user",
    "top_event_per_user",
    "event_funnel",
    "sliding_rollup",
    "event_transitions",
    "session_duration_histogram",
    "event_type_pivot",
    "json_k_stats",
    # round-4 second sitting: remaining events-family queries, incl.
    # every availableNow streaming snapshot (same semantics contract
    # as the batch twins, now exercised on random tie-heavy streams)
    "streaming_sessionize",
    "streaming_user_totals",
    "streaming_hourly_rollup",
    "streaming_dedup_keys",
    "streaming_degrees",
    "streaming_click_purchase",
    "streaming_hourly_anomaly",
    "hourly_retention",
    "json_source_rollup",
    "hll_user_estimate",
    "hourly_anomaly",
    "attribution_last_touch",
    "cohort_retention",
]

VOCAB = (
    "the cat sat on mat dog ran fast data spark table scan join sort "
    "hash merge stream batch window small big tiny extraordinarily "
    "x1 42 7th a I ok!! ... end."
).split()
BOILER = "subscribe to our newsletter for more updates"
LANGS = ["en", "de", "zh", "fr", "es"]
SOURCES = ["src0", "src1", "src2", "src3"]


def _write_empty_siblings(tmpdir: str, skip: set[str]) -> None:
    for t in TABLES:
        if t in skip:
            continue
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{tmpdir}/{t}.parquet")


def _spike_doc_nulls(docs: pd.DataFrame, rng) -> pd.DataFrame:
    """NULL-contract spikes: NULL text (propagates NULL metrics / no
    chunks / no fingerprint), NULL lang, NULL source (its own share
    group). Found 9 real divergences when first run — twin COALESCE
    fabricating values for missing docs, COUNT(DISTINCT) dropping the
    NULL share group, a pandas-UDF crash on NULL payload."""
    n = len(docs)
    if n >= 8:
        docs.loc[3, "text"] = None
        docs.loc[7, "text"] = None
        docs.loc[min(11, n - 1), "lang"] = None
        docs.loc[min(13, n - 2), "source"] = None
        # extreme ids (valid input — snowflake-style 63-bit ids and
        # negatives): the Knuth-hash samplers crashed with
        # ARITHMETIC_OVERFLOW before ids were folded into [0, 2^31)
        docs.loc[4, "doc_id"] = 2**62
        docs.loc[6, "doc_id"] = -17
        docs["n_chars"] = docs["text"].str.len().astype("Int64")
    return docs


def _spike_event_nulls(ev: pd.DataFrame, rng) -> pd.DataFrame:
    """NULL event key/type/value/props — NULL keys group as their own
    key; NULL values contribute nothing to sums (incl. the stateful
    streaming totals, which crashed on the int cast when first run)."""
    if len(ev) >= 13:
        ev["user_id"] = ev["user_id"].astype("Int64")
        ev.loc[2, "user_id"] = None
        ev.loc[5, "event_type"] = None
        ev.loc[9, "value"] = None
        ev.loc[12, "props"] = None
        # extreme but valid: huge event_id, negative user, huge value
        ev.loc[1, "event_id"] = 2**61
        ev.loc[3, "user_id"] = -5
        ev.loc[4, "value"] = 1e15
        # unicode keys/payloads flow through the whole event family,
        # INCLUDING every availableNow streaming snapshot (grouping,
        # pivots, JSON extraction, session labels): combining marks,
        # astral-plane emoji, RTL text, and unicode inside JSON values
        ev.loc[6, "event_type"] = "clićk-\U0001F525"
        ev.loc[7, "event_type"] = "קניה"  # RTL
        ev.loc[8, "props"] = '{"k": "véłü€", "n": 1}'
    return ev


def _random_documents(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        kind = rng.randint(0, 10)
        if kind == 0:
            texts.append("")  # empty
        elif kind == 1:
            texts.append("   ")  # whitespace-only
        elif kind == 2:
            texts.append(str(rng.choice(VOCAB)))  # single token
        elif kind == 3 and texts:
            texts.append(texts[rng.randint(0, len(texts))])  # exact dup
        elif kind == 4:
            words = list(rng.choice(VOCAB, size=rng.randint(5, 25)))
            texts.append(" ".join(words) + " " + BOILER)  # boilerplate
        elif kind == 5 and texts and texts[-1].count(" ") > 3:
            words = texts[-1].split(" ")
            words[rng.randint(0, len(words))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))  # near-dup of previous
        else:
            words = list(rng.choice(VOCAB, size=rng.randint(2, 40)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": [LANGS[rng.randint(0, len(LANGS))] for _ in range(n)],
            "source": [SOURCES[rng.randint(0, len(SOURCES))] for _ in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _random_events(rng: np.random.RandomState, n: int) -> pd.DataFrame:
    base = datetime.datetime(2024, 1, 1, 8, 0, 0)
    users = [1, 2, 3, 7][: rng.randint(1, 5)]
    types = ["click", "view", "purchase", "signup", "error"]
    rows = []
    ts = base
    for i in range(n):
        # jumps: 0 (exact tie), small, or session-gap-crossing
        jump = int(rng.choice([0, 0, 30, 300, 3600, 7300]))
        ts = ts + datetime.timedelta(seconds=jump)
        rows.append(
            {
                "event_id": i,
                "ts": ts,
                "user_id": int(rng.choice(users)),
                "event_type": types[rng.randint(0, len(types))],
                "value": round(float(rng.uniform(0, 100)), 7),
                "props": '{"k": %d}' % rng.randint(0, 100),
            }
        )
    df = pd.DataFrame(rows)
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df


def _run_parity(spark, tmpdir: str, names: list[str]) -> list[str]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmpdir}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    problems = []
    for name in names:
        sdf = qs[name](spark, tmpdir).toPandas()
        odf = con.sql(oracles[name]).df()
        s_c, o_c = cc.canonicalize(sdf), cc.canonicalize(odf)
        if len(s_c) != len(o_c):
            problems.append(f"{name}: rows {len(s_c)} vs {len(o_c)}")
        elif list(s_c.columns) != list(o_c.columns):
            problems.append(f"{name}: cols {list(s_c.columns)} vs {list(o_c.columns)}")
        elif cc.value_hash(s_c) != cc.value_hash(o_c):
            diff = s_c.compare(o_c) if s_c.shape == o_c.shape else None
            problems.append(f"{name}: value-hash mismatch\n{diff}")
    con.close()
    return problems


@pytest.mark.parametrize(
    "seed,n_docs,nulls",
    [(11, 1, False), (13, 8, False), (17, 25, False), (23, 40, False),
     (17, 30, True)],
)
def test_document_queries_oracle_parity_on_random_corpus(
    spark, tmp_path, seed, n_docs, nulls
):
    rng = np.random.RandomState(seed)
    d = str(tmp_path)
    docs = _random_documents(rng, n_docs)
    if nulls:
        docs = _spike_doc_nulls(docs, rng)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), f"{d}/documents.parquet")
    _write_empty_siblings(d, {"documents"})
    problems = _run_parity(spark, d, DOC_QUERIES)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize(
    "seed,n_ev,nulls",
    [(5, 2, False), (7, 17, False), (19, 40, False), (7, 25, True)],
)
def test_event_queries_oracle_parity_on_random_corpus(
    spark, tmp_path, seed, n_ev, nulls
):
    rng = np.random.RandomState(seed)
    d = str(tmp_path)
    ev = _random_events(rng, n_ev)
    if nulls:
        ev = _spike_event_nulls(ev, rng)
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), f"{d}/events.parquet")
    _write_empty_siblings(d, {"events"})
    problems = _run_parity(spark, d, EVENT_QUERIES)
    assert not problems, "\n".join(problems)


EMB_QUERIES = [
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "embedding_near_dup",
    "semantic_dedup_clusters",
    "semantic_dedup_lsh",
    "knn_label_vote",
    "knn_confusion",
    "embedding_quantize",
    "embedding_dim_stats",
    "cosine_pair_histogram",
    "gram_matrix",
    "principal_direction",
    "kmeans_clusters",
    "embedding_outliers",
    "pq_codes",
    "embedding_label_spread",
]

EMB_DIM = 64
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _random_embeddings(rng, n, include_zero=False):
    """Gaussian vectors, spiked with the degenerate shapes: an exact
    duplicate (cosine ties), a scaled copy (cosine exactly 1), an
    antipode (exactly -1), and optionally the zero vector (no
    direction — excluded from cosine ops by the with_norm contract)."""
    vecs = rng.randn(n, EMB_DIM).astype("float32")
    if n >= 4:
        vecs[1] = vecs[0]
        vecs[2] = vecs[0] * 2.0
        vecs[3] = -vecs[0]
    if include_zero and n >= 5:
        vecs[4] = 0.0
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": [list(map(float, v)) for v in vecs],
            "label": np.array(
                [rng.randint(0, 3) for _ in range(n)], dtype="int32"
            ),
        }
    )


@pytest.mark.parametrize(
    "seed,n,zero,nulls",
    [(2, 12, False, False), (4, 12, True, False), (5, 40, False, False),
     (4, 14, True, True)],
)
def test_embedding_queries_oracle_parity_on_random_corpus(
    spark, tmp_path, seed, n, zero, nulls
):
    rng = np.random.RandomState(seed)
    d = str(tmp_path)
    emb = _random_embeddings(rng, n, include_zero=zero)
    if nulls:
        # NULL vector and NULL label — excluded from cosine space and
        # vote tallies respectively on both sides
        emb.loc[5, "embedding"] = None
        emb["label"] = emb["label"].astype("Int32")
        emb.loc[6, "label"] = None
    pq.write_table(
        pa.Table.from_pandas(emb, preserve_index=False, schema=EMB_SCHEMA),
        f"{d}/embeddings.parquet",
    )
    _write_empty_siblings(d, {"embeddings"})
    problems = _run_parity(spark, d, EMB_QUERIES)
    assert not problems, "\n".join(problems)


# ---- TPC-H-derived graph family ---------------------------------------
#
# The graph queries derive their cs/pc/uu graphs from the TPC-H tables
# and the events stream; random (referentially consistent) tables fuzz
# the whole family on topologies the fixed testdata never produces —
# tiny graphs, regular graphs (the assortativity zero-variance crash
# was found here), empty derived graphs, multi-FK fan-ins.

GRAPH_QUERIES = [
    # cs one-shot relational ops
    "degrees_in", "degrees_out", "degrees_total", "top_degree_vertices",
    "subgraph_edges", "subgraph_vertices", "filter_on_edges",
    "filter_on_vertices_edges", "join_with_edges", "join_with_edges_on_source",
    "join_with_edges_on_target", "join_with_vertices", "map_edges",
    "map_vertices", "reverse_edges", "undirected_edges", "triplets",
    "reduce_on_edges_in", "reduce_on_edges_out", "reduce_on_edges_all",
    "reduce_on_edges_with_vv", "reduce_on_neighbors_in",
    "reduce_on_neighbors_out", "reduce_on_neighbors_all",
    "reduce_on_neighbors_with_vv", "union_graphs", "intersect_graphs",
    "difference_graphs", "graph_metrics", "validate_vertex_ids",
    "vertex_metrics_cs",
    # cs iterative
    "pagerank_cs", "cc_cs", "sssp_cs", "lpa_cs", "hits_cs",
    "weighted_pagerank_cs", "ppr_cs", "feature_propagation",
    "bipartite_matching_cs", "bipartite_projection_cs", "edge_growth_cs",
    "two_hop_ball_cs",
    # pc family
    "jaccard_part_copurchase", "triangle_count_pc", "cc_pc", "pagerank_pc",
    "adamic_adar_pc", "reciprocity_golden_pc",
    # uu family (events-derived)
    "uu_graph_edges", "triangles_per_vertex_uu", "clustering_coeff_uu",
    "kcore_uu", "mis_uu", "random_walks_uu", "walk_skipgram_pairs",
    "edge_support_uu", "ktruss_uu", "closeness_sample_uu",
    "neighborhood_function_uu", "assortativity_uu", "rich_club_uu",
    "effective_diameter_uu", "spectral_radius_uu", "community_detection_uu",
    "shared_top_event_edges", "music_profiles_communities",
    # table analytics
    "sql_revenue_by_nation", "scd2_orders", "copurchase_lift",
    "asof_order_events", "summarize_nation_vertices",
    "summarize_nation_edges", "entity_resolution", "degree_histogram",
    # round-4 second sitting: needs customer+nation alongside events
    "streaming_nation_counts",
]



import tempfile  # noqa: E402

SEGS = ["BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "FURNITURE"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATION_NAMES = ["FRANCE", "GERMANY", "CHINA", "BRAZIL", "KENYA", "JAPAN"]


def _ts(rng, y0=1995, y1=1997):
    return datetime.datetime(
        rng.randint(y0, y1 + 1), rng.randint(1, 13), rng.randint(1, 28),
        rng.randint(0, 24), rng.randint(0, 60),
    )


def _random_tpch(rng):
    n_nat = rng.randint(2, 6)
    n_cust = rng.randint(2, 12)
    n_supp = rng.randint(2, 9)
    n_part = rng.randint(2, 10)
    n_ord = rng.randint(3, 30)
    n_li = rng.randint(5, 70)
    region = pd.DataFrame({
        "r_regionkey": np.array([0, 1], dtype="int32"),
        "r_name": ["AMERICA", "ASIA"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(n_nat, dtype="int32"),
        "n_name": [NATION_NAMES[i % len(NATION_NAMES)] for i in range(n_nat)],
        "n_regionkey": np.array([rng.randint(0, 2) for _ in range(n_nat)], dtype="int32"),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, n_cust + 1, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": np.array([rng.randint(0, n_nat) for _ in range(n_cust)], dtype="int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGS[rng.randint(0, len(SEGS))] for _ in range(n_cust)],
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": np.array([rng.randint(0, n_nat) for _ in range(n_supp)], dtype="int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    part = pd.DataFrame({
        "p_partkey": np.arange(1, n_part + 1, dtype="int64"),
        "p_name": [f"part name {i} tint" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}" for _ in range(n_part)],
        "p_type": ["STANDARD BRASS" for _ in range(n_part)],
        "p_size": np.array([rng.randint(1, 50) for _ in range(n_part)], dtype="int32"),
        "p_retailprice": np.round(rng.uniform(100, 2000, n_part), 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, n_ord + 1, dtype="int64"),
        "o_custkey": np.array([rng.randint(1, n_cust + 1) for _ in range(n_ord)], dtype="int64"),
        "o_orderstatus": [["O", "F", "P"][rng.randint(0, 3)] for _ in range(n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 300000, n_ord), 2),
        "o_orderdate": pd.to_datetime([_ts(rng) for _ in range(n_ord)]).astype("datetime64[us]"),
        "o_orderpriority": [PRIO[rng.randint(0, len(PRIO))] for _ in range(n_ord)],
    })
    lineitem = pd.DataFrame({
        "l_orderkey": np.array([rng.randint(1, n_ord + 1) for _ in range(n_li)], dtype="int64"),
        "l_partkey": np.array([rng.randint(1, n_part + 1) for _ in range(n_li)], dtype="int64"),
        "l_suppkey": np.array([rng.randint(1, n_supp + 1) for _ in range(n_li)], dtype="int64"),
        "l_linenumber": np.array([rng.randint(1, 8) for _ in range(n_li)], dtype="int32"),
        "l_quantity": np.round(rng.uniform(1, 50, n_li), 0),
        "l_extendedprice": np.round(rng.uniform(100, 90000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": [["A", "N", "R"][rng.randint(0, 3)] for _ in range(n_li)],
        "l_linestatus": [["O", "F"][rng.randint(0, 2)] for _ in range(n_li)],
        "l_shipdate": pd.to_datetime([_ts(rng) for _ in range(n_li)]).astype("datetime64[us]"),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def _write_tpch_corpus(rng, d):
    tables = _random_tpch(rng)
    for t, df in tables.items():
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False, schema=schema),
            f"{d}/{t}.parquet",
        )
    ev = _random_events(rng, rng.randint(5, 60))
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), f"{d}/events.parquet")
    _write_empty_siblings(d, set(tables) | {"events"})
    return d




def _spike_tpch_nulls(tables: dict, rng) -> dict:
    """NULL FKs / values: the first run of this spike found the cs
    builder emitting a NULL vertex id that Spark's LEFT-join loop kept
    but the twins' INNER-join unrolls dropped (cc/sssp/lpa off by a
    row, validate flipped, set ops diverged) — derived builders now
    sanitize NULL endpoints by construction."""
    tables["orders"]["o_custkey"] = tables["orders"]["o_custkey"].astype("Int64")
    tables["orders"].loc[1, "o_custkey"] = None
    li = tables["lineitem"]
    li["l_partkey"] = li["l_partkey"].astype("Int64")
    li["l_suppkey"] = li["l_suppkey"].astype("Int64")
    li.loc[2, "l_partkey"] = None
    li.loc[3, "l_suppkey"] = None
    li.loc[4, "l_extendedprice"] = None
    cu = tables["customer"]
    cu["c_nationkey"] = cu["c_nationkey"].astype("Int32")
    cu.loc[1, "c_nationkey"] = None
    cu.loc[0, "c_name"] = None
    cu.loc[0, "c_acctbal"] = None
    return tables


@pytest.mark.parametrize("seed,nulls", [(31, False), (41, False), (31, True)])
def test_graph_queries_oracle_parity_on_random_tpch(
    spark, tmp_path, seed, nulls
):
    rng = np.random.RandomState(seed)
    d = str(tmp_path)
    if nulls:
        tables = _spike_tpch_nulls(_random_tpch(rng), rng)
        for t, df in tables.items():
            schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False, schema=schema),
                f"{d}/{t}.parquet",
            )
        ev = _spike_event_nulls(_random_events(rng, 40), rng)
        pq.write_table(
            pa.Table.from_pandas(ev, preserve_index=False),
            f"{d}/events.parquet",
        )
        _write_empty_siblings(d, set(tables) | {"events"})
    else:
        _write_tpch_corpus(rng, d)
    problems = _run_parity(spark, d, GRAPH_QUERIES)
    assert not problems, "\n".join(problems)


UNICODE_TEXTS = [
    "héllo wörld naïve café touché déjà vu",
    "日本語 テキスト の 処理 と 分散 計算",
    "🚀 emoji 🎉 tokens 🤖 in 🌍 text",
    "mixed ASCII und Ümlaute ß straße",
    "зеленый свет и красный цвет",
    "combining é vs precomposed é tokens",
    "​zero​width​space tokens",
    "tab\tand\nnewline inside",
]


def test_document_queries_oracle_parity_on_unicode_corpus(spark, tmp_path):
    """Multibyte/combining/emoji text through every docs-family query —
    the char-vs-byte hazards the twins must agree on: length() is
    characters in both engines, md5/encode operate on UTF-8 bytes in
    both, substr/hex slices in the fingerprint and multimodal head_sum
    are byte-exact by construction."""
    rng = np.random.RandomState(55)
    d = str(tmp_path)
    docs = _random_documents(rng, 24)
    for i, t in enumerate(UNICODE_TEXTS):
        docs.loc[10 + i, "text"] = t
    docs["n_chars"] = docs["text"].str.len().astype("Int64")
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        f"{d}/documents.parquet",
    )
    _write_empty_siblings(d, {"documents"})
    problems = _run_parity(spark, d, DOC_QUERIES)
    assert not problems, "\n".join(problems)
