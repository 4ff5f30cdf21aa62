"""North-star extension tests (SURVEY.md §2.10): text analysis, dedup,
similarity search, event analytics, multimodal plumbing — small
synthetic inputs with hand-computed answers, plus sf0.001 smoke.
"""

from __future__ import annotations

import datetime
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, job_count, rows_as_dict
from flink_graph_spark.functions import dedup as dedup_mod
from flink_graph_spark.functions import multimodal as mm_mod
from flink_graph_spark.functions import sessions as sess_mod
from flink_graph_spark.functions import similarity as sim_mod
from flink_graph_spark.functions import text as text_mod
from flink_graph_spark.functions.hashing import NUM_MINHASHES, h32
from flink_graph_spark.plans import explain
from flink_graph_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def events(spark):
    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        # user 7: two sessions split by a 60-min gap (> 30-min threshold)
        (1, at(0), 7, "click", 1.0, '{"k": 5}'),
        (2, at(10), 7, "view", 2.0, '{"k": 7}'),
        (3, at(70), 7, "click", 4.0, None),
        # user 8: one session
        (4, at(5), 8, "purchase", 10.0, '{"k": 1}'),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


# --- text analysis -----------------------------------------------------

def test_text_stats_counts(docs):
    got = {r["doc_id"]: r for r in text_mod.text_stats(docs).collect()}
    assert got[1]["n_tokens"] == 9
    assert got[3]["n_tokens"] == 6
    assert got[1]["n_chars"] == len("the quick brown fox jumps over the lazy dog")


def test_token_counts(docs):
    got = {r["doc_id"]: r for r in text_mod.token_counts(docs).collect()}
    assert got[1]["n_ws_tokens"] == 9
    # piece count (len+3)//4 per token: 1+2+2+1+2+1+1+1+1 = 12
    assert got[1]["n_subword_pieces"] == 12


def test_doc_fingerprint_matches_for_equal_text(docs):
    fp = rows_as_dict(text_mod.doc_fingerprint(docs), "doc_id", "fingerprint")
    assert fp[1] == fp[4]
    assert fp[1] != fp[2]


def test_lang_id_sf(spark):
    # the per-row projection is exact because doc_id is the table's key:
    # check that, then every prediction against the DuckDB twin
    import duckdb

    import __spark_entry__ as entrymod

    docs = load_table(spark, SF_DIR, "documents")
    out = text_mod.lang_id(spark, docs)
    assert out.columns == ["doc_id", "pred_lang"]
    n = docs.count()
    assert docs.select("doc_id").distinct().count() == n
    got = rows_as_dict(out, "doc_id", "pred_lang")
    assert len(got) == n
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = dict(con.execute(entrymod.oracle_sql()["lang_id"]).fetchall())
    assert got == want
    assert len(set(got.values())) > 1


def test_lang_id_edge_cases(spark):
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "no marker words here"),
            (4, "the el"),            # en/es tie -> alphabetically first
            (5, "the der"),           # de/en tie -> de
            (6, "el la the"),         # es 2 > en 1
            (7, "the the the la y"),  # repeated markers count: en 3 > es 2
            (8, "der die und das ist le les et des un"),  # de 5 = fr 5
        ],
        "doc_id long, text string",
    )
    got = rows_as_dict(text_mod.lang_id(spark, docs), "doc_id", "pred_lang")
    assert got == {
        1: "und", 2: "und", 3: "und", 4: "en",
        5: "de", 6: "es", 7: "en", 8: "de",
    }


def test_repetition_ratio(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),      # shingles: abc bca cab abc → 1 dup of 4
            (2, "x y z w"),          # all distinct → 0.0
            (3, "one two"),          # < 3 tokens → 0.0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rep_ratio"] for r in text_mod.repetition_ratio(docs).collect()}
    assert got[1] == pytest.approx(0.25)
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_quality_score_range(spark, docs):
    got = text_mod.quality_score(docs)
    vals = [r["quality"] for r in got.collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


# --- dedup --------------------------------------------------------------

def test_dedup_exact(docs):
    got = {(r["doc_id"], r["keep_id"]) for r in dedup_mod.dedup_exact(docs).collect()}
    assert got == {(4, 1)}


def test_dedup_exact_stats(docs):
    row = dedup_mod.dedup_exact_stats(docs).collect()[0]
    assert (row["n_docs"], row["n_distinct_texts"], row["n_dup_docs"]) == (4, 3, 1)


def test_ngram_jaccard_ranks_near_dup_first(docs):
    top = dedup_mod.dedup_ngram_topk(docs).collect()
    assert {top[0]["da"], top[0]["db"]} == {1, 4}  # identical → jaccard 1.0
    assert top[0]["jaccard"] == pytest.approx(1.0)
    assert {top[1]["da"], top[1]["db"]} <= {1, 2, 4}  # near-dup pair next


def test_ngram_pair_join_caps_hot_shingles(spark):
    # A boilerplate shingle shared by MANY docs must not reach the
    # inverted-index pair join: with max_df below the boilerplate's
    # document frequency, pairs related ONLY through it vanish, while
    # pairs sharing a rare shingle survive with Jaccard computed over
    # the capped universe. This is the 100 TB guard — one hot shingle
    # in m docs otherwise contributes m·(m-1)/2 pairs.
    boiler = "shared nav bar"
    rows = [(i, f"{boiler} unique{i} tail{i} end{i}") for i in range(1, 9)]
    rows += [
        (100, f"{boiler} rare gem alpha beta"),
        (101, f"{boiler} rare gem alpha gamma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup_mod._pair_jaccard(text_mod.doc_shingles(docs), max_df=5)
    pairs = {(r["da"], r["db"]): r["jaccard"] for r in got.collect()}
    # every boilerplate-only pair is gone (docs 1..8 share nothing else)
    assert all(not (da <= 8 and db <= 8) for da, db in pairs)
    # the rare-shingle pair survives; its Jaccard is over the capped
    # universe: docs 100/101 keep 3 non-boilerplate shingles each
    # ("rare gem alpha", "gem alpha beta|gamma", and the boundary
    # shingles containing boilerplate words with df ≤ cap), sharing
    # exactly the ones not containing their distinct last word
    assert (100, 101) in pairs
    # plan shape: the hot-set anti-join guards the pair join input
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan


def test_minhash_similar_docs_share_buckets(docs):
    sets = dedup_mod.minhash_sets(docs)
    assert sets.select("doc_id").distinct().count() == 4
    pairs = dedup_mod.dedup_minhash_lsh(docs, threshold=0.05)
    got = {(r["da"], r["db"]) for r in pairs.collect()}
    assert (1, 4) in got  # identical docs always collide


def test_dedup_minhash_lsh_four_jobs_no_scratch(spark, docs, tmp_path):
    # one lazy plan: the signature shuffle, the bucket join and the
    # confirm joins run in at most 4 jobs on a parquet source (what the
    # registered callers pass: its size lets Spark broadcast the texts),
    # and nothing is left persisted or checkpointed once the result has
    # been read. The in-memory fixture has no size statistics, so its
    # texts join by shuffle, in more jobs; only its pairs are pinned.
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    stored = spark.read.parquet(path)
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    want = {(1, 2), (1, 4), (2, 4)}
    with job_count(spark) as jobs:
        got = dedup_mod.dedup_minhash_lsh(stored).collect()
    assert {(r["da"], r["db"]) for r in got} == want
    assert 0 < jobs() <= 4, jobs()
    got = dedup_mod.dedup_minhash_lsh(docs).collect()
    assert {(r["da"], r["db"]) for r in got} == want
    assert sc._jsc.getPersistentRDDs().size() == before


def test_dedup_minhash_lsh_one_shingle_set_exchange(spark, docs):
    # the one full-corpus exchange carries the signatures only: it is fed
    # by K partial min aggregates in a codegen HashAggregate, whose
    # output is doc_id and K longs (no text, no ObjectHashAggregate), and
    # both bucket-join sides read it, the second as ReusedExchange; no
    # cached frame stands in for the reuse
    out = dedup_mod.dedup_minhash_lsh(docs)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    reads = [i for i, line in enumerate(final) if "Exchange hashpartitioning(doc_id#" in line]
    fresh = [i for i in reads if "ReusedExchange" not in final[i]]
    assert len(reads) == 2 and len(fresh) == 1, plan
    partial = final[fresh[0] + 1]
    assert re.search(r"^\W*HashAggregate\(keys=\[doc_id#\d+L\]", partial), plan
    assert partial.count("partial_min(") == NUM_MINHASHES, plan
    output = re.search(r"output=\[([^\]]*)\]", partial).group(1).split(", ")
    assert len(output) == NUM_MINHASHES + 1, plan
    assert all(re.fullmatch(r"\w+#\d+L", c) for c in output), plan


def test_dedup_minhash_lsh_intersects_once(spark, docs):
    # the threshold filter sits above the aggregate that computes the
    # Jaccard, so each candidate's shingle sets and their intersection
    # are built in one operator, not again in a pushed-down filter
    out = dedup_mod.dedup_minhash_lsh(docs)
    explain.run_plan(out)
    blocks = explain.formatted(out).split("\n\n")
    assert sum("array_intersect(" in b for b in blocks) == 1, blocks


def test_dedup_minhash_lsh_edge_cases(spark):
    # lazy (no job until read); docs with no shingle (NULL, empty, < 3
    # tokens) never pair, even as exact copies of each other; an exact
    # copy pairs at Jaccard 1.0, and the pair collides in every band yet
    # is listed once
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "two words"),
            (4, "two words"),
            (5, base),
            (6, base),
            (7, base.replace("theta", "iota")),
            (8, "nothing here is shared with any other document"),
        ],
        "doc_id long, text string",
    )
    with job_count(spark) as jobs:
        pairs = dedup_mod.dedup_minhash_lsh(docs)
    assert jobs() == 0
    got = [(r["da"], r["db"], r["jaccard"]) for r in pairs.collect()]
    ids = {d for da, db, _ in got for d in (da, db)}
    assert ids <= {5, 6, 7}
    assert len({(da, db) for da, db, _ in got}) == len(got)
    assert (5, 6, 1.0) in got


_BASE = "alpha beta gamma delta epsilon zeta eta theta"
# (doc_id, text) rows with no-shingle docs, exact and near copies, a doc
# split across rows, double spaces and repeated shingles
MULTI_ROW_DOCS = [
    (1, None),
    (2, ""),
    (3, "two words"),
    (4, "two words"),
    (5, _BASE),
    (6, _BASE),
    (7, _BASE.replace("theta", "iota")),
    (8, "nothing here is shared with any other document"),
    (9, "alpha beta gamma delta"),
    (9, "epsilon zeta eta theta"),
    (9, None),
    (10, "alpha  beta gamma  delta epsilon"),
    (11, "alpha  beta gamma  delta epsilon zeta"),
    (12, "x y z x y z x y z"),
    (13, "x y z x y z"),
]


def test_minhash_map_side_signature_equals_set_shuffle(spark):
    # the map-side signature (min over each row's min-hashes) is the one
    # the old shingle-set shuffle computed, including for a doc_id split
    # across rows, double spaces and repeated shingles, and the confirmed
    # pairs are the ones it returned; docs with no shingle have no row
    docs = spark.createDataFrame(MULTI_ROW_DOCS, "doc_id long, text string")
    got = dedup_mod.dedup_minhash_lsh(docs, threshold=0.0)
    assert sorted((r["da"], r["db"], r["jaccard"]) for r in got.collect()) == [
        (5, 6, 1.0),
        (5, 7, 0.714286),
        (5, 9, 0.666667),
        (6, 7, 0.714286),
        (6, 9, 0.666667),
        (7, 9, 0.428571),
        (10, 11, 0.833333),
        (12, 13, 1.0),
    ]
    mh = [f"mh_{k}" for k in range(NUM_MINHASHES)]
    old = (
        text_mod.exploded_shingles(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
        .select("doc_id", F.transform("ss", h32).alias("hs"))
        .select(
            "doc_id",
            *[
                F.array_min(F.transform("hs", dedup_mod._permutation(k))).alias(c)
                for k, c in enumerate(mh)
            ],
        )
    )
    want = {r["doc_id"]: tuple(r[c] for c in mh) for r in old.collect()}
    new = dedup_mod.minhash_sets(docs).select("doc_id", *mh)
    assert {r["doc_id"]: tuple(r[c] for c in mh) for r in new.collect()} == want
    assert set(want) == {5, 6, 7, 8, 9, 10, 11, 12, 13}


def test_minhash_shuffle_join_path_matches_broadcast(spark, tmp_path):
    # above the broadcast threshold the texts reach the candidates by a
    # shuffle join; its pairs and calibration equal the broadcast run's
    # on a parquet copy of the multi-row fixture (which Spark broadcasts)
    path = str(tmp_path / "docs")
    spark.createDataFrame(MULTI_ROW_DOCS, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)

    def run():
        pairs = dedup_mod.dedup_minhash_lsh(docs, threshold=0.0)
        cal = dedup_mod.minhash_calibration(docs)
        plan = explain.run_plan(pairs).toString()
        return plan, sorted(pairs.collect()), sorted(cal.collect())

    plan, *broadcast = run()
    assert "BroadcastExchange" in plan
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan, *shuffled = run()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in plan
    assert shuffled == broadcast
    assert len(broadcast[0]) == 8


def test_minhash_calibration_est_equals_signature_estimate(spark):
    # calibration recomputes both sides' min-hashes from the candidate's
    # shingle sets; per pair, that estimate is the one the signature
    # frame gives, so the readout equals one built from the signatures
    docs = spark.createDataFrame(MULTI_ROW_DOCS, "doc_id long, text string")
    mh = [f"mh_{k}" for k in range(NUM_MINHASHES)]
    sigs = {
        r["doc_id"]: [r[c] for c in mh]
        for r in dedup_mod.minhash_sets(docs).collect()
    }
    buckets: dict[int, list] = {}
    for r in dedup_mod.dedup_minhash_lsh(docs, threshold=0.0).collect():
        a, b = sigs[r["da"]], sigs[r["db"]]
        est = sum(x == y for x, y in zip(a, b)) / NUM_MINHASHES
        bucket = min(int(abs(est - r["jaccard"]) * 10), 9)
        buckets.setdefault(bucket, []).append((est, r["jaccard"]))
    got = {r["err_bucket"]: r for r in dedup_mod.minhash_calibration(docs).collect()}
    assert set(got) == set(buckets)
    for bucket, pairs in buckets.items():
        row = got[bucket]
        assert row["n_pairs"] == len(pairs)
        assert row["mean_est"] == pytest.approx(
            sum(e for e, _ in pairs) / len(pairs), abs=1e-6
        )
        assert row["mean_exact"] == pytest.approx(
            sum(j for _, j in pairs) / len(pairs), abs=1e-6
        )


def test_minhash_banding_shrinks_candidates(spark):
    # r=4 banding must produce strictly fewer candidate pairs than r=1
    # (any-single-hash) banding on the synthetic-dup corpus, while still
    # catching every exact duplicate (identical signature in ALL bands).
    docs = dedup_mod.with_synthetic_dups(load_table(spark, SF_DIR, "documents"))
    sets = dedup_mod.minhash_sets(docs)
    n_r4 = dedup_mod._bucket_pairs(sets, bands=4, rows=4).count()
    n_r1 = dedup_mod._bucket_pairs(sets, bands=16, rows=1).count()
    assert n_r4 < n_r1
    exact_dups = (
        dedup_mod._bucket_pairs(sets, bands=4, rows=4)
        .filter(F.col("db") == F.col("da") + 1_000_000)
        .count()
    )
    n_injected = docs.filter(F.col("doc_id") >= 1_000_000).count()
    assert exact_dups == n_injected


def test_dedup_clusters_transitive_with_min_representative(docs):
    # docs 1, 2, 4 are mutual near-dups (4 = exact copy of 1, 2 one word
    # off): they must land in ONE cluster represented by min id 1; doc 3
    # has no near-dup and must be absent.
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_mod.dedup_clusters(docs).collect()
    }
    assert got == {1: 1, 2: 1, 4: 1}


def test_simhash_hamming_reflects_similarity(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup_mod.simhash(docs).collect()}
    assert sh[1] == sh[4]
    ham_12 = bin(sh[1] ^ sh[2]).count("1")
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham_12 < ham_13


# --- similarity search ---------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup(emb):
    got = {(r["va"], r["vb"]): r["cosine"] for r in
           sim_mod.embedding_near_dup(emb, threshold=0.5).collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)


def test_ann_topk_bruteforce_ordering(emb):
    got = sim_mod.ann_topk_bruteforce(emb, n_queries=1, k=3).collect()
    order = [r["vec_id"] for r in got]
    assert order == [1, 2, 3]  # by cosine desc from query 0
    assert [r["rank"] for r in got] == [1, 2, 3]


def test_ann_topk_lsh_consistent_with_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = sim_mod.ann_topk_bruteforce(emb, n_queries=3, k=5)
    approx = sim_mod.ann_topk_lsh(emb, n_queries=3, k=5)
    e = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact.collect()}
    got = approx.collect()
    assert approx.columns == ["query_id", "vec_id", "cosine", "rank"]
    # approximate: any pair LSH also found must carry the same cosine,
    # and per-query ranks must be contiguous from 1
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in e:
            assert r["cosine"] == pytest.approx(e[key], abs=1e-6)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# --- event analytics -----------------------------------------------------

def test_sessionize_gap_split(events):
    got = {(r["user_id"], r["session_id"]): r for r in
           sess_mod.sessionize(events).collect()}
    assert set(got) == {(7, 1), (7, 2), (8, 1)}
    assert got[(7, 1)]["n_events"] == 2
    assert got[(7, 2)]["n_events"] == 1
    assert got[(7, 1)]["sum_cents"] == 300


def test_json_k_stats(events):
    got = {r["event_type"]: r for r in sess_mod.json_k_stats(events).collect()}
    assert got["click"]["sum_k"] == 5  # null props ignored by sum
    assert got["view"]["min_k"] == 7
    assert got["purchase"]["max_k"] == 1


def test_hourly_rollup(events):
    got = {(r["event_type"], r["hour"].hour): r
           for r in sess_mod.hourly_rollup(events).collect()}
    assert got[("click", 10)]["n_events"] == 1
    assert got[("click", 11)]["n_events"] == 1
    assert got[("purchase", 10)]["sum_cents"] == 1000


def test_top_events_per_user(events):
    got = sess_mod.top_events_per_user(events, k=2)
    by_user = {}
    for r in got.collect():
        by_user.setdefault(r["user_id"], []).append((r["rn"], r["event_id"]))
    assert sorted(by_user[7]) == [(1, 3), (2, 2)]  # by value desc
    assert sorted(by_user[8]) == [(1, 4)]


# --- multimodal plumbing --------------------------------------------------

def test_multimodal_payload_and_features(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    with_payload = mm_mod.with_payload(docs)
    assert dict(with_payload.dtypes)["payload"] == "binary"
    feats = mm_mod.extract_features(with_payload)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r["n_bytes"] > 0 for r in rows)
    assert all(r["head_sum"] > 0 for r in rows)


def test_corpus_prep_pipeline(spark, docs):
    out = text_mod.corpus_prep(spark, docs, min_quality=0.0)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 4 is an exact dup of doc 1 (same fingerprint) → dropped
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_tokens"] == 9
    assert all(r["pred_lang"] for r in rows.values())
    strict = text_mod.corpus_prep(spark, docs, min_quality=2.0)
    assert strict.count() == 0


class _FakeState:
    """Duck-typed GroupState for driving _update directly (the
    ProcessingTimeTimeout machinery itself is Spark's; availableNow
    snapshot runs keep scheduling timeout batches, so the eviction
    logic is unit-tested here instead of end-to-end)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True
        self._value = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_stateful_update_accumulates_and_arms_ttl():
    import pandas as pd

    from flink_graph_spark.streaming.stateful import _update

    state = _FakeState(value=(2, 300))
    batch = pd.DataFrame({"value": [1.25, 0.5]})
    out = list(_update((42,), iter([batch]), state, ttl_ms=60000))
    assert state.get == (4, 475)
    assert state.timeout_ms == 60000
    assert out[0].to_dict("records") == [
        {"user_id": 42, "n_events": 4, "sum_cents": 475}
    ]


def test_stateful_update_evicts_timed_out_state():
    from flink_graph_spark.streaming.stateful import _update

    state = _FakeState(value=(9, 900), timed_out=True)
    out = list(_update((42,), iter([]), state, ttl_ms=60000))
    assert out == []
    assert state.removed


# ---- as-of join -------------------------------------------------------


def test_asof_join_semantics(spark):
    from flink_graph_spark.functions.asof import asof_join

    T = datetime.datetime
    left = spark.createDataFrame(
        [
            (100, 1, T(2024, 1, 1, 12, 0, 0)),   # two earlier events
            (101, 1, T(2024, 1, 1, 10, 0, 0)),   # equal-ts event qualifies
            (102, 2, T(2024, 1, 1, 9, 0, 0)),    # before any event -> NULL
            (103, 3, T(2024, 1, 2, 0, 0, 0)),    # key with no events -> NULL
        ],
        "order_id long, k long, ots timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, 1, T(2024, 1, 1, 10, 0, 0), "a"),
            (11, 1, T(2024, 1, 1, 10, 0, 0), "b"),  # tie: larger id wins
            (12, 1, T(2024, 1, 1, 11, 0, 0), "c"),
            (13, 2, T(2024, 1, 1, 10, 0, 0), "d"),
        ],
        "event_id long, k long, ts timestamp, etype string",
    )
    got = {
        r["order_id"]: (r["last_event_id"], r["last_etype"])
        for r in asof_join(
            left, right, on="k", left_ts="ots", right_ts="ts",
            payload=("event_id", "etype"), tiebreak="event_id",
        ).collect()
    }
    assert got[100] == (12, "c")      # latest preceding
    assert got[101] == (11, "b")      # ts == left ts included; max id tie-win
    assert got[102] == (None, None)   # nothing at or before
    assert got[103] == (None, None)   # key absent from right


# ---- contamination / sampling / scrubbing / packing -------------------


def test_contamination_check_flags_overlap(spark):
    from flink_graph_spark.functions.dedup import contamination_check

    d = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),        # held out (0 % 37 == 0)
            (1, "alpha beta gamma epsilon"),      # shares shingle "alpha beta gamma"
            (2, "zeta eta theta iota"),           # no overlap
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["shared_ngrams"], r["contamination_score"])
        for r in contamination_check(d).collect()
    }
    assert set(got) == {1, 2}          # held-out doc not scored
    assert got[1][0] == 1 and got[1][1] == 0.5
    assert got[2] == (0, 0.0)


def test_stratified_sample_deterministic(spark):
    from flink_graph_spark.functions.text import stratified_sample

    docs = load_table(spark, SF_DIR, "documents")
    a = [r["doc_id"] for r in stratified_sample(docs).collect()]
    b = [r["doc_id"] for r in stratified_sample(docs).collect()]
    assert a == b and len(a) > 0
    # en stratum is oversampled vs others at equal population
    n = docs.count()
    assert 0 < len(a) < n


def test_pii_scrub_counts_and_redacts(spark):
    from flink_graph_spark.functions.text import pii_scrub

    d = spark.createDataFrame(
        [(1, "hello world"), (3, "plain"), (5, "x")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"]) == (1, 1)  # both injected
    assert (got[3]["n_emails"], got[3]["n_phones"]) == (0, 1)  # 3%3==0: no email
    assert (got[5]["n_emails"], got[5]["n_phones"]) == (1, 0)  # 5%5==0: no phone
    # redaction fingerprints are stable and PII-free by construction
    assert all(len(r["scrubbed_fp"]) == 32 for r in got.values())


def test_pack_sequences_next_fit(spark):
    from flink_graph_spark.functions.packing import pack_sequences

    mk = lambda n: " ".join(["w"] * n)
    d = spark.createDataFrame(
        [
            (1, "en", mk(100)),
            (2, "en", mk(100)),
            (3, "en", mk(100)),   # 100+100=200, +100 > 256 -> new bin
            (4, "en", mk(300)),   # oversized: own bin
            (5, "en", mk(10)),
            (6, "de", mk(250)),   # separate lang group restarts at bin 0
            (7, "de", mk(10)),    # 250+10 > 256 -> bin 1
        ],
        "doc_id long, lang string, text string",
    )
    got = {r["doc_id"]: r["bin_id"] for r in pack_sequences(d).collect()}
    assert got[1] == 0 and got[2] == 0
    assert got[3] == 1
    assert got[4] == 2
    assert got[5] == 3            # 300-token bin is over budget; next doc opens new
    assert got[6] == 0 and got[7] == 1


def test_event_funnel_ordering_matters(spark):
    from flink_graph_spark.functions.sessions import event_funnel

    T = datetime.datetime
    rows = [
        # user 1: full ordered chain -> depth 4
        (1, T(2024, 1, 1, 0), "signup"), (1, T(2024, 1, 1, 1), "view"),
        (1, T(2024, 1, 1, 2), "click"), (1, T(2024, 1, 1, 3), "purchase"),
        # user 2: purchase BEFORE click -> depth stops at click (3)
        (2, T(2024, 1, 1, 0), "signup"), (2, T(2024, 1, 1, 1), "view"),
        (2, T(2024, 1, 1, 3), "click"), (2, T(2024, 1, 1, 2), "purchase"),
        # user 3: never signed up -> absent from funnel
        (3, T(2024, 1, 1, 0), "view"), (3, T(2024, 1, 1, 1), "purchase"),
        # user 4: signup only -> depth 1
        (4, T(2024, 1, 1, 5), "signup"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["user_id"]: r["funnel_depth"] for r in event_funnel(ev).collect()}
    assert got == {1: 4, 2: 3, 4: 1}


def test_hourly_retention(spark):
    from flink_graph_spark.functions.sessions import hourly_retention

    T = datetime.datetime
    ev = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 0, 10), "a"), (1, T(2024, 1, 1, 1, 20), "a"),  # retained 0->1
            (2, T(2024, 1, 1, 0, 30), "a"),                                   # not retained
            (1, T(2024, 1, 1, 3, 0), "a"),                                    # gap: hour 1 not retained
        ],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r["hour"].hour: (r["active_users"], r["retained_users"])
        for r in hourly_retention(ev).collect()
    }
    assert got[0] == (2, 1)
    assert got[1] == (1, 0)
    assert got[3] == (1, 0)


# ---- chunk_documents --------------------------------------------------

def test_chunk_documents_windows(spark):
    from flink_graph_spark.functions.text import chunk_documents

    # 100 tokens, window 64, stride 48 → starts 1, 49 (84 = n-overlap cap)
    text100 = " ".join(f"w{i}" for i in range(100))
    short = "a b c"
    docs = spark.createDataFrame(
        [(1, text100), (2, short)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r["n_tokens"]
        for r in chunk_documents(docs).collect()
    }
    assert got == {(1, 0): 64, (1, 1): 52, (2, 0): 3}


def test_chunk_documents_covers_every_token_with_overlap(spark):
    from flink_graph_spark.functions.text import CHUNK_STRIDE, CHUNK_TOKENS

    # windows tile the doc: chunk i covers [i*stride+1, i*stride+chunk];
    # consecutive windows overlap by chunk-stride tokens and the final
    # window reaches the last token
    for n in (1, 47, 48, 64, 65, 111, 112, 113, 200):
        overlap = CHUNK_TOKENS - CHUNK_STRIDE
        starts = list(range(1, max(n - overlap, 1) + 1, CHUNK_STRIDE))
        covered = set()
        for s in starts:
            covered |= set(range(s, min(s + CHUNK_TOKENS - 1, n) + 1))
        assert covered == set(range(1, n + 1)), n


def test_chunk_fp_matches_doc_fingerprint_for_short_doc(spark):
    from flink_graph_spark.functions.text import chunk_documents, doc_fingerprint

    # a sub-window-length doc has exactly one chunk whose fingerprint
    # must equal the whole-document rolling hash
    docs = spark.createDataFrame(
        [(7, "alpha beta gamma")], "doc_id long, text string"
    )
    [c] = chunk_documents(docs).collect()
    [f] = doc_fingerprint(docs).collect()
    assert c["chunk_fp"] == f["fingerprint"]


def test_boilerplate_flags_hand_computed(spark):
    from flink_graph_spark.functions.text import boilerplate_flags

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "p q r")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_boiler"], r["boiler_frac"], r["flagged"])
        for r in boilerplate_flags(docs, min_df=2).collect()
    }
    # "a b c" appears in docs 1+2 (df=2 → boilerplate); each of their
    # 2-shingle sets is half boilerplate → flagged at frac=0.5
    assert got == {
        1: (2, 1, 0.5, True),
        2: (2, 1, 0.5, True),
        3: (1, 0, 0.0, False),
    }


def test_source_quota_sample_binds_and_is_deterministic(spark):
    from conftest import SF_DIR
    from flink_graph_spark.functions.text import SOURCE_QUOTA, source_quota_sample
    from flink_graph_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    got = source_quota_sample(docs).collect()
    per_src: dict[str, int] = {}
    for r in got:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
    n_sources = docs.select("source").distinct().count()
    assert set(per_src.values()) == {SOURCE_QUOTA} and len(per_src) == n_sources
    again = {(r["doc_id"], r["source"]) for r in source_quota_sample(docs).collect()}
    assert again == {(r["doc_id"], r["source"]) for r in got}


def test_collocations_pmi_hand_computed(spark):
    from math import log

    from flink_graph_spark.functions.text import collocations_pmi

    # "x y" appears twice adjacent; tokens: x:2 y:2 a:1 b:1 → 6 tokens,
    # bigrams: (x y),(y a),(x y),(y b) → 4; pmi(x,y)=ln((2/4)/((2/6)^2))
    docs = spark.createDataFrame(
        [(1, "x y a"), (2, "x y b")], "doc_id long, text string"
    )
    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi"])
        for r in collocations_pmi(docs, min_pair=2).collect()
    }
    assert got == {("x", "y"): (2, round(log((2 / 4) / ((2 / 6) ** 2)), 6))}


def test_dedup_keep_set_drops_only_nonrepresentatives(spark):
    from conftest import SF_DIR
    from flink_graph_spark.functions.dedup import dedup_clusters, dedup_keep_set
    from flink_graph_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    clusters = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs).collect()}
    kept = {r["doc_id"]: r["reason"] for r in dedup_keep_set(docs).collect()}
    n_docs = docs.count()
    dropped = {d for d, c in clusters.items() if c != d}
    assert set(kept) == {r["doc_id"] for r in docs.select("doc_id").collect()} - dropped
    assert len(kept) == n_docs - len(dropped)
    for d, reason in kept.items():
        if d in clusters:
            assert reason == "representative" and clusters[d] == d
        else:
            assert reason == "unique"


# --- round-3 additions -------------------------------------------------

def test_quality_filters_flags(spark):
    docs2 = spark.createDataFrame(
        [
            # 25 tokens, stopwords present, varied -> keep
            (1, "the quick brown fox jumps over a lazy dog and then the "
                "other animals watch it run far away into the green quiet "
                "woods today"),
            # too short (5 tokens) + no stopword pair
            (2, "tiny doc of a thing"),
            # repetitive: one trigram over and over -> f_repetitive + low ttr
            (3, " ".join(["a b c"] * 10)),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in
           text_mod.quality_filters(docs2).collect()}
    assert got[1]["keep"] is True
    assert got[2]["f_too_short"] is True and got[2]["keep"] is False
    assert got[3]["f_repetitive"] is True and got[3]["f_low_ttr"] is True


def test_passage_dedup_finds_shared_span(spark):
    shared = "one two three four five six seven eight"
    docs2 = spark.createDataFrame(
        [
            (1, shared + " tail x y"),
            (2, "head z " + shared),
            (3, "completely unrelated words with no overlap at all ok"),
        ],
        "doc_id long, text string",
    )
    out = dedup_mod.passage_dedup(docs2).collect()
    # exactly the 8-token window 'one two three four five six seven eight'
    # is shared (docs 1+2); every other window is unique to its doc.
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["n_occ"] == 2
    assert out[0]["first_doc"] == 1


def test_skipgram_pairs_window(spark):
    docs2 = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = {(r["w1"], r["w2"]): r["n_pairs"]
           for r in text_mod.skipgram_pairs(docs2).collect()}
    # window 3 over 4 tokens: ab ac ad bc bd cd
    assert got == {("a", "b"): 1, ("a", "c"): 1, ("a", "d"): 1,
                   ("b", "c"): 1, ("b", "d"): 1, ("c", "d"): 1}


def test_zipf_slope_exact_two_types(spark):
    import math
    # freq 4 rank 1, freq 2 rank 2: slope = (ln4-ln2)/(ln1-ln2) = -1
    docs2 = spark.createDataFrame(
        [(1, "x x x x y y")], "doc_id long, text string"
    )
    row = text_mod.zipf_slope(docs2).collect()[0]
    assert row["n_types"] == 2
    assert abs(row["zipf_slope"] - (-1.0)) < 1e-6


def test_bigram_nll_uniform_chain(spark):
    import math
    from flink_graph_spark.functions import retrieval as ret_mod
    # corpus 'a b a b a': bigrams ab ba ab ba; p(b|a)=1 via bigram term,
    # unigram backoff p(b)=2/5, p(a)=3/5
    docs2 = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    row = ret_mod.bigram_nll(docs2).collect()[0]
    lam = 0.75
    p_ab = lam * 1.0 + (1 - lam) * (2 / 5)   # c2(a,b)/c1(a)=2/2
    p_ba = lam * 1.0 + (1 - lam) * (3 / 5)   # c2(b,a)/c1(b)=2/2
    want = -(2 * math.log(p_ab) + 2 * math.log(p_ba)) / 4
    assert row["n_bigrams"] == 4
    assert abs(row["nll"] - want) < 1e-6


def test_gsa_sssp_matches_vertex_centric(golden):
    from flink_graph_spark.library import sssp as sssp_mod
    a = rows_as_dict(sssp_mod.shortest_paths(golden, 1, 5), "id", "dist")
    b = rows_as_dict(sssp_mod.shortest_paths_gsa(golden, 1, 5), "id", "dist")
    assert a == b


def test_mixture_weights_two_sources(spark):
    docs2 = spark.createDataFrame(
        [
            (1, "a b c d e f", "en", "s1"),   # 6 tokens
            (2, "a b", "en", "s2"),            # 2 tokens
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r["source"]: r.asDict()
           for r in text_mod.mixture_weights(docs2).collect()}
    assert got["s1"]["n_tokens"] == 6 and got["s2"]["n_tokens"] == 2
    assert abs(got["s1"]["natural_share"] - 0.75) < 1e-6
    # target 0.5: oversampled source capped at 1.0, undersampled scaled up
    assert abs(got["s1"]["sample_rate"] - 0.5 / 0.75) < 1e-6
    assert got["s2"]["sample_rate"] == 1.0


def test_token_budget_select_boundary(spark):
    # 3 quality levels; budget splits the middle level.
    # quality = 0.7*ttr + 0.3*(1 - stop_ratio); craft distinct ttrs.
    docs2 = spark.createDataFrame(
        [
            (1, "u v w x y z"),        # ttr 1.0 -> q = 1.0 (6 tokens)
            (2, "m n o p q q"),        # ttr 5/6 (6 tokens)
            (3, "g h i j k k"),        # ttr 5/6 (6 tokens)
            (4, "c c c c c c"),        # ttr 1/6 (6 tokens)
        ],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in
                 text_mod.token_budget_select(docs2, budget=14).collect())
    # level 1.0 (6 tok) fits; boundary level 5/6: doc 2 fits (12<=14),
    # doc 3 would reach 18 > 14; level 1/6 never reached.
    assert got == [1, 2]


def test_corpus_report_rolls_up(spark):
    docs2 = spark.createDataFrame(
        [
            (1, "the a of and is x y z w v u t s r q p o n m l", "en", "s1"),
            (2, "b b b", "en", "s1"),
            (3, "c d e", "fr", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {(r["source"], r["lang"]): r.asDict()
           for r in text_mod.corpus_report(docs2).collect()}
    assert got[("s1", "en")]["n_docs"] == 2
    assert got[("s1", "en")]["n_tokens"] == 23
    assert got[("s2", "fr")]["n_docs"] == 1


def test_embedding_outliers_flags_flipped_vector(spark):
    import pyspark.sql.functions as FF
    rows = [(i, [1.0, 0.1 * i], 0) for i in range(1, 5)]
    rows.append((99, [-1.0, -0.05], 0))   # anti-aligned outlier
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = sim_mod.embedding_outliers(emb, k=1).collect()
    assert len(got) == 1 and got[0]["vec_id"] == 99


def test_edge_support_triangle_plus_tail(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library import triangles as tri_mod
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    v = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    got = {(r["src"], r["dst"]): r["support"]
           for r in tri_mod.edge_support(Graph(v, e)).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 4): 0}


def test_histogram_quantiles_interpolation(spark):
    from flink_graph_spark.functions import sketch as sketch_mod
    # 4 docs with 5, 15, 25, 35 tokens -> bins 0,1,2,3 each count 1
    docs2 = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate((5, 15, 25, 35))],
        "doc_id long, text string",
    )
    got = {r["q"]: r for r in
           sketch_mod.histogram_quantiles(docs2, (0.5, 1.0)).collect()}
    # q=0.5: target rank 2 -> bin 1 (cum 2), frac (2-1)/1=1 -> est 20
    assert got[0.5]["n"] == 4 and abs(got[0.5]["est"] - 20.0) < 1e-6
    # q=1.0: rank 4 -> bin 3, est 40
    assert abs(got[1.0]["est"] - 40.0) < 1e-6


def test_winnowing_guarantee_and_density(spark):
    # Two docs sharing a long run (>= w+k-1 = 7 tokens) MUST share at
    # least one winnowed fingerprint; a doc with no overlap shares none.
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs2 = spark.createDataFrame(
        [
            (1, shared + " one two three"),
            (2, "x y z " + shared),
            (3, "p q r s t u v w p q r s"),
        ],
        "doc_id long, text string",
    )
    fps = {d: set() for d in (1, 2, 3)}
    for r in dedup_mod.winnow_fingerprints(docs2).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2]          # guarantee on the shared substring
    assert not (fps[1] & fps[3])    # disjoint vocab -> no shared fp
    # winnowing keeps a strict subset of all k-gram hashes
    n_grams_doc1 = 11 - 4 + 1
    assert 0 < len(fps[1]) < n_grams_doc1


def test_winnow_dup_pairs_ranks_injected_dup_first(spark):
    base = [(i, f"tok{i} " * 1 + "common words here for padding only "
            + f"suffix{i}") for i in range(6)]
    docs2 = spark.createDataFrame(
        [(i, t.strip()) for i, t in base], "doc_id long, text string"
    )
    # duplicate doc 0 verbatim as id 100
    dup = docs2.filter("doc_id = 0").selectExpr("100 AS doc_id", "text")
    rows = dedup_mod.winnow_dup_pairs(docs2.unionByName(dup)).collect()
    assert rows, "expected at least one candidate pair"
    by_pair = {(r["da"], r["db"]): r["n_shared"] for r in rows}
    # the verbatim dup shares EVERY fingerprint of doc 0 — its count is
    # maximal (ties possible when winnowing selects only common-region
    # minima for the other pairs, hence >= not >)
    assert (0, 100) in by_pair
    assert by_pair[(0, 100)] == max(by_pair.values())


def test_pretrain_funnel_monotone_stages(spark):
    # build a corpus with a guaranteed-keep doc, its exact dup, and a
    # guaranteed-drop doc (too short)
    good = ("the quick brown fox jumps over a lazy dog and then all of "
            "the other animals watch it run far away into green woods")
    docs2 = spark.createDataFrame(
        [(1, good), (2, "tiny of a doc"), (100, good)],
        "doc_id long, text string",
    )
    rows = {r["stage"]: r for r in
            text_mod.pretrain_funnel(docs2).collect()}
    assert [rows[i]["name"] for i in range(4)] == [
        "raw", "quality", "dedup", "budget"
    ]
    # monotone shrink through the funnel
    assert (rows[0]["n_docs"], rows[0]["n_tokens"]) == (3, rows[0]["n_tokens"])
    assert rows[1]["n_docs"] == 2          # short doc dropped
    assert rows[2]["n_docs"] == 1          # exact dup collapsed
    assert rows[3]["n_docs"] == 1          # fits budget
    for i in range(3):
        assert rows[i]["n_docs"] >= rows[i + 1]["n_docs"]
        assert rows[i]["n_tokens"] >= rows[i + 1]["n_tokens"]


def test_embedding_quantize_roundtrip_exact_for_uniform_grid(spark):
    # values exactly on the 255-step grid reconstruct with zero error
    grid = [i / 255.0 for i in (0, 51, 102, 204, 255)]
    emb = spark.createDataFrame(
        [(i, [float(v)] * 2, 0) for i, v in enumerate(grid)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["vec_id"]: r for r in sim_mod.embedding_quantize(emb).collect()}
    # lo=0, hi=1 per dim; code = v*255 exactly; mse = 0
    assert rows[0]["code_sum"] == 0
    assert rows[4]["code_sum"] == 2 * 255
    assert all(abs(r["mse_ppm"]) < 1e-6 for r in rows.values())


def test_embedding_quantize_constant_dim_is_safe(spark):
    emb = spark.createDataFrame(
        [(1, [3.0, 1.0], 0), (2, [3.0, 2.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["vec_id"]: r for r in sim_mod.embedding_quantize(emb).collect()}
    # dim 0 constant (hi == lo): code 0, reconstructs to lo, zero error
    assert rows[1]["code_sum"] == 0          # 0 + code(1.0 -> lo) = 0
    assert rows[2]["code_sum"] == 255        # 0 + code(2.0 -> hi) = 255


def test_principal_direction_finds_dominant_axis(spark):
    # variance concentrated on dim 1: loadings ~ (0, ±1, 0)
    rows = [(i, [1.0, float(i), 0.5], 0) for i in range(8)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["pos"]: r["loading"]
           for r in sim_mod.principal_direction(emb).collect()}
    assert abs(abs(got[1]) - 1.0) < 1e-4
    assert abs(got[0]) < 1e-4 and abs(got[2]) < 1e-4


def test_principal_direction_empty_corpus(spark):
    """No vectors → no dimensions → the empty (pos, loading) frame,
    not an ANSI divide-by-zero from the 1/sqrt(n_dim) start vector."""
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    out = sim_mod.principal_direction(emb)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["pos", "loading"]


def test_kmeans_clusters_separates_two_blobs(spark):
    # 2 far-apart blobs; k=2, init = vec 0 (blob A) and vec 1 (blob B)
    rows = [(0, [0.0, 0.0], 0), (1, [10.0, 10.0], 0)]
    rows += [(i, [0.1 * i, 0.05], 0) for i in range(2, 6)]          # near A
    rows += [(i, [10.0 + 0.1 * i, 9.9], 0) for i in range(6, 10)]   # near B
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = {r["vec_id"]: r["cluster"]
           for r in sim_mod.kmeans_clusters(emb, k=2).collect()}
    assert {got[i] for i in (0, 2, 3, 4, 5)} == {0}
    assert {got[i] for i in (1, 6, 7, 8, 9)} == {1}


def test_label_spread_clamps_seeds_and_fills_path(spark):
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.label_propagation import label_spread
    import pyspark.sql.functions as FF
    # path 1-2-3-4-5 (symmetrized); seeds: 1 (label 7), 5 (label 9)
    e = spark.createDataFrame(
        [(a, b) for a, b in ((1, 2), (2, 3), (3, 4), (4, 5))]
        + [(b, a) for a, b in ((1, 2), (2, 3), (3, 4), (4, 5))],
        "src long, dst long",
    )
    v = spark.createDataFrame(
        [(1, 7, True), (2, -1, False), (3, -1, False),
         (4, -1, False), (5, 9, True)],
        "id long, value long, seed boolean",
    )
    one = {r["id"]: r["label"]
           for r in label_spread(Graph(v, e), max_iter=1).collect()}
    # round 1: only seed-adjacent vertices adopt; middle stays unlabeled
    assert one == {1: 7, 2: 7, 3: -1, 4: 9, 5: 9}
    got = {r["id"]: r["label"]
           for r in label_spread(Graph(v, e), max_iter=3).collect()}
    assert got[1] == 7 and got[5] == 9            # seeds stay clamped
    # ties resolve to the max label and cascade: 9 wins the middle and
    # then (via the relabeled middle) vertex 2's round-3 tie as well
    assert got[3] == 9 and got[4] == 9 and got[2] == 9


def test_vocab_coverage_oov_rate(spark):
    d = spark.createDataFrame(
        [
            (1, "a a a b", "web"),
            (2, "a b rare", "web"),
            (3, "a a a a", "book"),
        ],
        "doc_id long, text string, source string",
    )
    # top-2 vocab by count: a(8), b(2); 'rare' is OOV
    out = {r["source"]: r.asDict() for r in text_mod.vocab_coverage(d, top_v=2).collect()}
    assert out["web"]["n_tokens"] == 7
    assert out["web"]["n_oov"] == 1
    assert out["web"]["oov_rate"] == round(1 / 7, 6)
    assert out["book"]["n_oov"] == 0


def test_bloom_blocklist_exact_subset_of_candidates(spark):
    d = spark.createDataFrame(
        [
            (1, "clean text here", "web"),
            (2, "very slow page", "web"),
            (3, "spam spam spam", "ads"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in text_mod.bloom_blocklist(d).collect()}
    # no false negatives ever: flagged <= candidates, and the two
    # blocklisted docs are flagged
    assert out["web"]["flagged_docs"] == 1
    assert out["ads"]["flagged_docs"] == 1
    for r in out.values():
        assert r["flagged_docs"] <= r["candidate_docs"]
        assert r["bloom_fp_docs"] == r["candidate_docs"] - r["flagged_docs"]


def test_embedding_dim_stats_hand_computed(spark):
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r.asDict() for r in sim_mod.embedding_dim_stats(e).collect()}
    assert out[1]["mean"] == 2.0 and out[1]["std"] == 1.0
    assert out[2]["mean"] == 0.0 and out[2]["std"] == 0.0
    assert out[1]["n"] == 2


def test_cosine_pair_histogram_buckets(spark):
    e = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),   # cos(1,2) = 1.0 -> clamped bucket 9
            (3, [-1.0, 0.0]),  # cos(2,3) = -1.0 -> clamped bucket -10
            (5, [0.0, 1.0]),   # gap: no pair (3,5)
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["bucket"]: r.asDict() for r in sim_mod.cosine_pair_histogram(e).collect()}
    assert out[9]["n_pairs"] == 1 and out[9]["mean_cos"] == 1.0
    assert out[-10]["n_pairs"] == 1
    assert sum(r["n_pairs"] for r in out.values()) == 2


def test_ngram_containment_detects_subset(spark):
    """Doc 2's shingle set is fully contained in doc 1's: containment
    1.0 while Jaccard is well below (union dominated by doc 1)."""
    long = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    sub = "w3 w4 w5 w6 w7"
    d = spark.createDataFrame(
        [(1, long), (2, sub), (3, "x1 x2 x3 x4 x5")],
        "doc_id long, text string",
    )
    rows = dedup_mod.ngram_containment_topk(d).collect()
    top = rows[0]
    assert (top["da"], top["db"]) == (1, 2)
    assert top["containment"] == 1.0
    jac = dedup_mod.dedup_ngram_topk(d).collect()[0]
    assert jac["jaccard"] < 0.5


def test_cross_source_overlap_counts_shared_shingles(spark):
    d = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),   # shingles: "a b c", "b c d"
            (2, "a b c x", "s2"),   # shares "a b c" with s1
            (3, "p q r s", "s3"),   # no overlap
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r["source_a"], r["source_b"]): r.asDict()
            for r in dedup_mod.cross_source_overlap(d).collect()}
    assert rows[("s1", "s2")]["shared"] == 1
    assert rows[("s1", "s2")]["jaccard"] == round(1 / 3, 6)
    assert ("s1", "s3") not in rows and ("s2", "s3") not in rows


def test_rich_club_clique_plus_pendants(spark):
    """K4 core (degrees 3+) with two pendant vertices: above the
    pendant degree the club is exactly the clique -> phi = 1.0."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.kcore import rich_club

    v = spark.createDataFrame([(i,) for i in range(6)], "id long")
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    e = spark.createDataFrame(
        clique + [(0, 4), (1, 5)], "src long, dst long"
    )
    out = {r["k"]: r.asDict() for r in rich_club(Graph(v, e), ks=(1, 3)).collect()}
    # k=3 club: vertices 0,1 (degree 4); the edge (0,1) connects them
    assert out[3]["n_rich"] == 2 and out[3]["e_rich"] == 1
    assert out[3]["phi"] == 1.0
    # k=1 club: the 4 clique vertices (pendants have degree 1)
    assert out[1]["n_rich"] == 4 and out[1]["e_rich"] == 6
    assert out[1]["phi"] == 1.0


def test_hourly_anomaly_flags_spike(spark):
    import datetime

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # 3 calm hours of 2 events, then a 10-event spike in hour 3
    for h, n in [(0, 2), (1, 2), (2, 2), (3, 10)]:
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(hours=h), 1, "click", 1.0, "{}"))
            eid += 1
    # second event type with a VARYING baseline: 1, 2, 3 then 10
    for h, n in [(0, 1), (1, 2), (2, 3), (3, 10)]:
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(hours=h), 1, "buy", 1.0, "{}"))
            eid += 1
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r["event_type"], r["hour"].hour): r.asDict()
        for r in sess_mod.hourly_anomaly(e).collect()
    }
    assert out[("click", 0)]["z"] is None  # <3 trailing cells
    assert out[("click", 3)]["trail_mean"] == 2.0
    assert out[("click", 3)]["z"] is None  # constant trailing -> std 0
    # varying baseline: mean 2, stddev_pop ~0.816497 -> z ~ 9.797959
    assert out[("buy", 3)]["z"] == round((10 - 2) / 0.8164965809277263, 6)


def test_event_transitions_probabilities(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # user 1: a -> b -> a ; user 2: a -> b
        (1, t0, 1, "a", 1.0, None),
        (2, t0 + dt.timedelta(minutes=1), 1, "b", 1.0, None),
        (3, t0 + dt.timedelta(minutes=2), 1, "a", 1.0, None),
        (4, t0, 2, "a", 1.0, None),
        (5, t0 + dt.timedelta(minutes=1), 2, "b", 1.0, None),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        (r["prev_type"], r["event_type"]): r.asDict()
        for r in sess_mod.event_transitions(e).collect()
    }
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["p"] == 1.0
    assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["p"] == 1.0
    assert len(out) == 2  # no cross-user transition (2's 'b' ends it)


def test_token_entropy_uniform_vs_constant(spark):
    d = spark.createDataFrame(
        [
            (1, "a b c d", "uniform"),   # 4 distinct -> 2 bits
            (2, "x x x x", "constant"),  # 1 token -> 0 bits
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in text_mod.token_entropy(d).collect()}
    assert out["uniform"]["entropy_bits"] == 2.0
    assert out["constant"]["entropy_bits"] == 0.0
    assert out["uniform"]["n_types"] == 4


def test_two_hop_balls_path(spark):
    """Path 1-2-3-4: ball1(1)={1,2}, ball2(1)={1,2,3};
    ball2(2) = whole path."""
    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.neighborhood import two_hop_balls

    v = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    out = {r["id"]: (r["ball1"], r["ball2"])
           for r in two_hop_balls(Graph(v, e)).collect()}
    assert out[1] == (2, 3)
    assert out[2] == (3, 4)
    assert out[3] == (3, 4)
    assert out[4] == (2, 3)


def test_weighted_sample_prefers_heavy_docs(spark):
    """With an extreme weight skew the heavy doc is (near-)always in a
    small sample: key = ln(u)/w -> as w -> inf, key -> 0- (the max)."""
    rows = [(1, " ".join(["w"] * 500))] + [
        (i, "a b") for i in range(2, 400)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    top = text_mod.weighted_sample(d).collect()
    assert 1 in {r["doc_id"] for r in top}
    assert all(r["key"] <= 0.0 for r in top)
    # deterministic: same input -> same sample set
    again = {r["doc_id"] for r in text_mod.weighted_sample(d).collect()}
    assert again == {r["doc_id"] for r in top}


def test_pq_codes_shape_and_self_consistency(spark):
    """Every vector gets one code per subspace, codes < k, and a
    centroid-seed vector assigned to its own centroid in round 1 keeps
    a valid code after the final round."""
    emb = load_table(spark, SF_DIR, "embeddings")
    out = sim_mod.pq_codes(emb).collect()
    n_vec = emb.count()
    assert len(out) == n_vec * sim_mod.PQ_SUBS
    assert all(0 <= r["code"] < sim_mod.PQ_K for r in out)
    per_vec = {}
    for r in out:
        per_vec.setdefault(r["vec_id"], set()).add(r["sub"])
    assert all(subs == set(range(sim_mod.PQ_SUBS)) for subs in per_vec.values())


def test_pq_codes_one_subspace_equals_kmeans_clusters(spark):
    """``pq_codes`` and ``kmeans_clusters`` run the same Lloyd round:
    with one subspace spanning every dimension, the codes are the
    k-means clusters."""
    emb = load_table(spark, SF_DIR, "embeddings")
    codes = {
        r["vec_id"]: r["code"]
        for r in sim_mod.pq_codes(emb, subs=1, k=sim_mod.KMEANS_K).collect()
    }
    clusters = rows_as_dict(
        sim_mod.kmeans_clusters(emb), "vec_id", "cluster"
    )
    assert len(clusters) == emb.count()
    assert len(set(clusters.values())) > 1
    assert codes == clusters


def test_ngram_novelty_orders_by_first_seen(spark):
    d = spark.createDataFrame(
        [
            (1, "a b c d e"),          # all shingles novel (first doc)
            (2, "a b c d e"),          # exact repeat -> novelty 0
            (3, "z y x w v"),          # disjoint -> novelty 1
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in dedup_mod.ngram_novelty(d).collect()}
    assert out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 0.0 and out[2]["n_seen"] == out[2]["n_shingles"]
    assert out[3]["novelty"] == 1.0


def test_edge_growth_monotone_cumulative(spark):
    from flink_graph_spark.sources.tables import load_table

    out = sess_mod.edge_growth(
        load_table(spark, SF_DIR, "orders"),
        load_table(spark, SF_DIR, "lineitem"),
    ).orderBy("month").collect()
    assert len(out) > 1
    cums = [r["cum_edges"] for r in out]
    assert cums == sorted(cums)
    assert cums[-1] == sum(r["new_edges"] for r in out)


def test_simhash_near_dup_finds_exact_dups_at_zero(spark):
    docs = dedup_mod.with_synthetic_dups(
        load_table(spark, SF_DIR, "documents")
    )
    out = dedup_mod.simhash_near_dup(docs).collect()
    assert all(r["hamming"] <= dedup_mod.SIMHASH_MAX_HAMMING for r in out)
    injected = {(r["da"], r["db"]) for r in out if r["hamming"] == 0}
    n_dups = docs.filter(F.col("doc_id") >= 1_000_000).count()
    # every injected exact dup (identical text -> identical fingerprint
    # -> same key in every band) is recovered at hamming 0
    assert sum(1 for da, db in injected if db == da + 1_000_000) == n_dups


def test_bpe_merges_hand_computed_with_overlap_run(spark):
    """'aaaa' must merge greedily as (aa)(aa) — the gaps-and-islands
    rule — and a round with no pairs left emits no merge row."""
    from flink_graph_spark.functions.bpe import bpe_merges

    d = spark.createDataFrame(
        [(1, "aaaa aaaa ab")], "doc_id long, text string"
    )
    out = {r["round"]: r.asDict() for r in bpe_merges(d).collect()}
    assert (out[1]["left"], out[1]["right"], out[1]["pair_count"]) == ("a", "a", 6)
    assert out[2]["merged"] == "aaaa" and out[2]["pair_count"] == 2
    assert (out[3]["left"], out[3]["right"]) == ("a", "b")
    assert 4 not in out  # nothing left to merge


def test_bpe_compression_improves_with_merges(spark):
    """With 'ab' merged everywhere, 'ab ab abab' compresses: pieces
    drop from chars toward words; 0 merges = 1.0 chars/piece."""
    from flink_graph_spark.functions.bpe import bpe_compression

    d = spark.createDataFrame(
        [(1, "ab ab abab", "s")], "doc_id long, text string, source string"
    )
    none = bpe_compression(d, rounds=0).collect()[0]
    assert none["compression"] == 1.0  # every piece is one char
    two = bpe_compression(d, rounds=2).collect()[0]
    # round 1 merges (a,b) -> "ab"; round 2 merges (ab,ab) -> "abab":
    # words become [ab], [ab], [abab] = 3 pieces over 8 chars
    assert two["n_pieces"] == 3 and two["n_chars"] == 8
    assert two["compression"] == round(8 / 3, 6)


def test_gram_matrix_hand_computed(spark):
    e = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    out = {(r["i"], r["j"]): r["xtx"]
           for r in sim_mod.gram_matrix(e).collect()}
    assert out == {(1, 1): 10.0, (1, 2): 14.0, (2, 2): 20.0}


def test_knn_confusion_is_complete_and_label_valued(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = sim_mod.knn_confusion(emb).collect()
    total = sum(r["n"] for r in out)
    assert total == sim_mod.CONFUSION_QUERIES  # one prediction per query
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    for r in out:
        assert r["true_label"] in labels and r["pred_label"] in labels
    # the synthetic labels are NOT neighborhood-correlated (documented
    # in label_spread): the matrix is a faithful report either way —
    # here it reports ~chance, which is itself the point of shipping
    # the evaluation with the index


def test_scd2_merge_covers_all_change_kinds(spark):
    v1 = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")],
        "o_orderkey long, o_orderpriority string",
    )
    v2 = spark.createDataFrame(
        [(1, "A"), (2, "B2"), (4, "D")],
        "o_orderkey long, o_orderpriority string",
    )
    from flink_graph_spark.functions.asof import scd2_merge

    rows = {(r["o_orderkey"], r["o_orderpriority"],
             r["valid_from"], r["valid_to"])
            for r in scd2_merge(v1, v2).collect()}
    assert rows == {
        (1, "A", 1, None),     # unchanged
        (2, "B", 1, 2),        # changed: close old ...
        (2, "B2", 2, None),    # ... open new
        (3, "C", 1, 2),        # deleted: closed
        (4, "D", 2, None),     # inserted: open
    }


def test_attribution_credits_last_non_purchase_touch(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 1, "click", 0.0, None),
        (2, t0 + dt.timedelta(minutes=1), 1, "view", 0.0, None),
        (3, t0 + dt.timedelta(minutes=2), 1, "purchase", 5.0, None),
        # purchase with NO prior touch
        (4, t0, 2, "purchase", 3.0, None),
        # two purchases credited to the same earlier click
        (5, t0, 3, "click", 0.0, None),
        (6, t0 + dt.timedelta(minutes=1), 3, "purchase", 1.0, None),
        (7, t0 + dt.timedelta(minutes=2), 3, "purchase", 2.0, None),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["touch_type"]: r.asDict()
           for r in sess_mod.attribution_last_touch(e).collect()}
    assert out["view"]["n_purchases"] == 1
    assert out["view"]["credited_value_cents"] == 500
    assert out["none"]["n_purchases"] == 1
    assert out["click"]["n_purchases"] == 2
    assert out["click"]["credited_value_cents"] == 300


def test_cohort_retention_triangle(spark):
    import datetime as dt

    d0 = dt.datetime(2026, 1, 1, 9)
    rows = [
        # user 1: cohort day0, active day0 and day2
        (1, d0, 1, "e", 0.0, None),
        (2, d0 + dt.timedelta(days=2), 1, "e", 0.0, None),
        # user 2: cohort day0 only
        (3, d0 + dt.timedelta(hours=1), 2, "e", 0.0, None),
        # user 3: cohort day1, active day1 + day2
        (4, d0 + dt.timedelta(days=1), 3, "e", 0.0, None),
        (5, d0 + dt.timedelta(days=2), 3, "e", 0.0, None),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {(str(r["cohort_day"]), r["day_offset"]): r["active_users"]
           for r in sess_mod.cohort_retention(e).collect()}
    assert out[("2026-01-01", 0)] == 2
    assert out[("2026-01-01", 2)] == 1
    assert out[("2026-01-02", 0)] == 1
    assert out[("2026-01-02", 1)] == 1


def test_minhash_calibration_error_concentrates_low(spark):
    """On the dup-injected corpus most candidate pairs are exact dups
    (est = exact = 1.0 -> bucket 0); total mass equals the candidate
    count and every bucket is within [0, 9]."""
    docs = dedup_mod.with_synthetic_dups(
        load_table(spark, SF_DIR, "documents")
    )
    out = dedup_mod.minhash_calibration(docs).collect()
    assert out
    assert all(0 <= r["err_bucket"] <= 9 for r in out)
    by_bucket = {r["err_bucket"]: r["n_pairs"] for r in out}
    # bucket 0 (err < 0.1) carries the exact-dup mass
    assert by_bucket.get(0, 0) >= max(by_bucket.values()) / 2


def test_entity_resolution_exactly_recovers_injected_clones(spark):
    """Multi-field scoring separates perturbed clones from neighboring
    id-style names: the match set equals the injected clone pairs —
    precision and recall both 1.0."""
    from flink_graph_spark.functions import entity as ent_mod

    cust = load_table(spark, SF_DIR, "customer")
    dirty = ent_mod.with_dirty_customers(cust)
    got = {(r["ka"], r["kb"])
           for r in ent_mod.entity_matches(dirty).collect()}
    want = {
        (r["c_custkey"], r["c_custkey"] + ent_mod.DIRTY_OFFSET)
        for r in cust.filter(
            F.col("c_custkey") % ent_mod.DIRTY_MOD == 0
        ).collect()
    }
    assert got == want and len(want) > 0


def test_entity_resolution_window_caps_adversarial_block(spark):
    """A single skewed block (every record sharing nation + the full
    blocking prefix AND matching on both fields) must NOT go K²: the
    sorted-neighborhood window bounds per-record comparisons, so the
    match count is exactly n·W - W(W+1)/2, and the windowed candidate
    stage is linear in block size. Also: where the cap does not bind
    (all shipped-SF blocks are smaller than the window), the match set
    is identical to the unwindowed all-pairs blocking."""
    from flink_graph_spark.functions import entity as ent_mod

    n, w = 500, ent_mod.NEIGHBORHOOD_WINDOW
    skew = spark.range(n).select(
        F.col("id").alias("c_custkey"),
        # identical names: worst case — every pair scores 1.0
        F.lit("Customer#000000001").alias("c_name"),
        F.lit(7).cast("long").alias("c_nationkey"),
        F.lit(100.0).alias("c_acctbal"),
    )
    got = ent_mod.entity_matches(skew).count()
    assert got == n * w - w * (w + 1) // 2
    # unwindowed == windowed where blocks fit inside the window
    cust = load_table(spark, SF_DIR, "customer")
    dirty = ent_mod.with_dirty_customers(cust)
    capped = {(r["ka"], r["kb"]) for r in ent_mod.entity_matches(dirty).collect()}
    allp = {
        (r["ka"], r["kb"])
        for r in ent_mod.entity_matches(dirty, window=10**9).collect()
    }
    assert capped == allp


def test_feature_propagation_contracts_toward_neighborhood_mean(spark):
    """Smoothing shrinks dimension-wise variance (Laplacian smoothing
    contracts toward local means) and a propagation with alpha=0 is the
    identity."""
    emb = load_table(spark, SF_DIR, "embeddings")
    import statistics

    before = [
        float(r["embedding"][0]) for r in emb.select("embedding").collect()
    ]
    after = [
        r["val"]
        for r in sim_mod.feature_propagation(emb).collect()
        if r["dim"] == 1
    ]
    assert statistics.pvariance(after) < statistics.pvariance(before)
    ident = sim_mod.feature_propagation(emb, alpha=0.0)
    got = {r["vec_id"]: r["val"] for r in ident.collect() if r["dim"] == 1}
    want = {
        r["vec_id"]: round(float(r["embedding"][0]), 6)
        for r in emb.select("vec_id", "embedding").collect()
    }
    assert got == want


def test_event_type_pivot_row_sums_match_totals(spark):
    from flink_graph_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    import __spark_entry__ as m

    out = m.queries()["event_type_pivot"](spark, SF_DIR).collect()
    total = sum(
        r[f"n_{t}"]
        for r in out
        for t in ("click", "error", "purchase", "signup", "view")
    )
    assert total == ev.count()


def test_langid_confusion_counts_all_docs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = text_mod.langid_confusion(spark, docs).collect()
    assert sum(r["n"] for r in out) == docs.count()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    for r in out:
        assert r["true_lang"] in langs
        assert r["pred_lang"] in langs | {"und"}


def test_train_val_test_split_partitions_everything(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = text_mod.train_val_test_split(docs).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    # per-source fracs sum to 1
    by_source = {}
    for r in out:
        by_source.setdefault(r["source"], 0.0)
        by_source[r["source"]] += r["doc_frac"]
    assert all(abs(v - 1.0) < 1e-5 for v in by_source.values())
    # train dominates in every source that has all three splits
    rows = {(r["source"], r["split"]): r["n_docs"] for r in out}
    for (src, sp), n in rows.items():
        if sp == "train":
            assert n >= rows.get((src, "val"), 0)
            assert n >= rows.get((src, "test"), 0)


def test_session_duration_histogram_buckets(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        # user 1: one 10-minute session (bucket 16: 2^(floor(log2(10))+1))
        (1, t0, 1, "e", 0.0, None),
        (2, t0 + dt.timedelta(minutes=10), 1, "e", 0.0, None),
        # user 2: single event -> duration 0 -> bucket 0
        (3, t0, 2, "e", 0.0, None),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["bucket_minutes"]: r["n_sessions"]
           for r in sess_mod.session_duration_histogram(e).collect()}
    assert out == {16: 1, 0: 1}


def test_source_top_terms_idf_washes_out_common_terms(spark):
    """A term in every source has idf ln(1)=0 and can never rank; a
    source-exclusive term dominates its source's top-3."""
    d = spark.createDataFrame(
        [
            (1, "common alpha alpha", "s1"),
            (2, "common beta", "s2"),
            (3, "common gamma gamma gamma", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    from pyspark.sql import Window

    tf = (d.select("source", F.explode(F.split("text", " ")).alias("tok"))
          .groupBy("source", "tok").agg(F.count("*").alias("tf")))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = tf.join(df, "tok").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(3.0) / F.col("df")))
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("tok"))
    top = (scored.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1).collect())
    best = {r["source"]: r["tok"] for r in top}
    assert best == {"s1": "alpha", "s2": "beta", "s3": "gamma"}
