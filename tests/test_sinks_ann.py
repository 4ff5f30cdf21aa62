"""Graph parquet sink round-trip, IVF ANN, and the custom stateful
streaming operator.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, job_count, rows_as_set
from flink_graph_spark.functions import similarity as sim_mod
from flink_graph_spark.sources.sinks import write_graph_parquet
from flink_graph_spark.sources.tables import load_table, table_rows
from flink_graph_spark.streaming.events import read_events_stream, run_available_now
from flink_graph_spark.streaming.stateful import running_user_totals


def test_parquet_graph_roundtrip(spark, golden):
    with tempfile.TemporaryDirectory() as d:
        write_graph_parquet(golden, d)
        vertices = spark.read.parquet(f"{d}/vertices")
        edges = spark.read.parquet(f"{d}/edges")
        assert rows_as_set(vertices) == rows_as_set(golden.vertices)
        assert rows_as_set(edges) == rows_as_set(golden.edges)


def test_load_table_repeat_read_runs_no_job(spark):
    # schema inference and the raw count run once per table version
    load_table(spark, SF_DIR, "documents")
    table_rows(spark, SF_DIR, "documents")
    with job_count(spark) as jobs:
        docs = load_table(spark, SF_DIR, "documents")
        assert "doc_id" in docs.columns
        n = table_rows(spark, SF_DIR, "documents")
    assert jobs() == 0
    assert n == docs.count()


def test_rewritten_table_is_reinferred_and_recounted(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/t.parquet"
    spark.range(5).write.parquet(path)
    assert load_table(spark, d, "t").columns == ["id"]
    assert table_rows(spark, d, "t") == 5
    spark.range(7).withColumn("x", F.lit("a")).write.mode("overwrite").parquet(path)
    df = load_table(spark, d, "t")
    assert df.columns == ["id", "x"]
    assert df.count() == 7
    assert table_rows(spark, d, "t") == 7


def test_load_table_missing_path_raises_spark_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")


def test_ann_topk_ivf_consistent_with_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = sim_mod.ann_topk_bruteforce(emb, n_queries=3, k=5)
    approx = sim_mod.ann_topk_ivf(emb, n_queries=3, k=5)
    e = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact.collect()}
    got = approx.collect()
    assert approx.columns == ["query_id", "vec_id", "cosine", "rank"]
    assert {r["query_id"] for r in got} == {0, 1, 2}
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in e:
            assert r["cosine"] == pytest.approx(e[key], abs=1e-6)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_ivf_probes_recall_everything_with_full_probe(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    # nprobe == nlist → IVF degenerates to exact search
    exact = sim_mod.ann_topk_bruteforce(emb, n_queries=2, k=5)
    full = sim_mod.ann_topk_ivf(emb, n_queries=2, k=5, nlist=8, nprobe=8)
    e = {(r["query_id"], r["rank"]): r["vec_id"] for r in exact.collect()}
    f = {(r["query_id"], r["rank"]): r["vec_id"] for r in full.collect()}
    assert e == f


def _recall_at_k(exact_df, approx_df) -> float:
    e = {(r["query_id"], r["vec_id"]) for r in exact_df.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx_df.collect()}
    return len(e & a) / len(e)


def test_ann_recall_gate(spark):
    """Recall floors at the unit-test corpus (n=500): the sketch path
    with its adaptive cut (60 at this size) must clear 0.9; IVF is
    gated with the explicit generous (nlist=16, nprobe=4) config — a
    25% scan — because a fixed-fraction 1/16 probe is not meaningfully
    better than chance on a 500-vector near-uniform corpus (documented
    guidance: brute-force corpora below ~1k; the scan is trivial
    there). The ADAPTIVE contract is gated where it is sized to work:
    bench.py measures lsh/ivf defaults at sf0.1 with the registered
    64-query batch (0.95 / 0.91 measured) and records them in the
    BENCH artifact.
    """
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = sim_mod.ann_topk_bruteforce(emb, n_queries=5, k=10)
    assert _recall_at_k(exact, sim_mod.ann_topk_lsh(emb, 5, 10)) >= 0.9
    assert _recall_at_k(
        exact, sim_mod.ann_topk_ivf(emb, 5, 10, nlist=16, nprobe=4)
    ) >= 0.8


def test_running_user_totals_matches_batch(spark):
    batch = load_table(spark, SF_DIR, "events")
    expected = {
        r["user_id"]: (r["n"], r["cents"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
        .collect()
    }
    stream = read_events_stream(spark, SF_DIR)
    snap = run_available_now(running_user_totals(stream), output_mode="update")
    # update mode: keep the LAST row per user (running totals grow)
    got = {}
    for r in snap.collect():
        prev = got.get(r["user_id"], (0, 0))
        if r["n_events"] >= prev[0]:
            got[r["user_id"]] = (r["n_events"], r["sum_cents"])
    assert got == expected


@pytest.mark.slow
def test_kmeans_centroids_deterministic_and_stable(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = sim_mod.with_norm(emb)
    c1 = sim_mod.kmeans_centroids(n, nlist=8, iters=2)
    c2 = sim_mod.kmeans_centroids(n, nlist=8, iters=2)
    r1 = {r["list_id"]: r["ce"] for r in c1.collect()}
    r2 = {r["list_id"]: r["ce"] for r in c2.collect()}
    assert set(r1) == set(range(8))      # no list lost
    assert r1 == r2                       # no RNG anywhere
    # trained IVF still clears the recall floor (explicit generous
    # config at this corpus size — see test_ann_recall_gate)
    exact = sim_mod.ann_topk_bruteforce(emb, n_queries=5, k=10)
    assert _recall_at_k(
        exact,
        sim_mod.ann_topk_ivf(emb, 5, 10, nlist=16, nprobe=4, train_iters=2),
    ) >= 0.8


def test_ivf_vectorized_assignment_bit_equal_to_fold(spark):
    """The Arrow/BLAS-shortlist assignment kernel must agree with the
    interpreted struct-fold path on every row — the exact-rescore trick
    only works if the left-associated accumulation really reproduces
    the fold's doubles (this is the invariant the DuckDB hash gate
    relies on at bench scale, where the vectorized path runs)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    n = sim_mod.with_norm(emb)
    cent = n.filter("vec_id < 48").selectExpr(
        "vec_id AS list_id", "e AS ce", "nrm AS cn"
    )
    fold = {
        r["vec_id"]: r["list_id"]
        for r in sim_mod.assign_lists(n, cent, vectorized=False).collect()
    }
    fast = {
        r["vec_id"]: r["list_id"]
        for r in sim_mod.assign_lists(n, cent, vectorized=True).collect()
    }
    assert fold == fast


def test_ann_sig_kernel_matches_sql_replay(spark):
    """The numpy signature kernel and the DuckDB twin's plane-dot SQL
    must produce the same packed longs for every vector — the bit-for-
    bit foundation of the ann_topk_lsh hash-checked oracle."""
    import duckdb

    from flink_graph_spark.functions.similarity import (
        ANN_SIGS_SQL,
        EMB_NORM_SQL,
        _sig_planes_values_sql,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        r["vec_id"]: (r["sig0"], r["sig1"])
        for r in sim_mod.with_sig(emb).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF_DIR}/embeddings.parquet'"
    )
    sigs = ANN_SIGS_SQL.format(values=_sig_planes_values_sql())
    ref = {
        vid: (s0, s1)
        for vid, s0, s1 in con.sql(
            f"WITH {EMB_NORM_SQL.strip()},\n{sigs}\n"
            "SELECT s.vec_id, s.sig0, s.sig1 FROM ann_sigs s "
            "JOIN emb_norm n ON s.vec_id = n.vec_id"
        ).fetchall()
    }
    assert got == ref


def test_ann_sig_kernel_survives_null_embeddings(spark):
    """A NULL embedding in an Arrow batch must not crash the signature
    kernel (structural guard — correctness must not depend on Catalyst
    pushing the nrm > 0 filter below the UDF). NULL rows get a [0, 0]
    placeholder and are dropped by with_sig's norm filter."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(8)
    with_null = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    got = sim_mod.with_sig(with_null).collect()
    assert all(r["vec_id"] % 3 != 0 for r in got)
    clean = {
        r["vec_id"]: (r["sig0"], r["sig1"])
        for r in sim_mod.with_sig(emb).collect()
    }
    for r in got:
        assert (r["sig0"], r["sig1"]) == clean[r["vec_id"]]
    # all-NULL batch: kernel still returns placeholders, frame is empty
    all_null = emb.select(
        "vec_id", F.lit(None).cast("array<float>").alias("embedding")
    )
    assert sim_mod.with_sig(all_null).count() == 0


def test_ann_at_rest_probe_matches_inline_and_avoids_exchange(spark):
    """The at-rest sketch probe must (a) return EXACTLY the inline
    ann_topk_lsh rows — same signatures, same cut, same cosine — and
    (b) join survivors back to the vector table with ZERO Exchange:
    both tables are vec_id-bucketed and the survivor frame inherits
    the sig scan's partitioning through the broadcast query attach.
    Broadcast is disabled to pin the at-scale sort-merge shape (on a
    500-row fixture the planner would rightly broadcast)."""
    import uuid

    from flink_graph_spark.functions.similarity import (
        ann_topk_lsh_at_rest,
        write_ann_at_rest,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    tag = uuid.uuid4().hex[:8]
    sig_t, vec_t = f"sigs_{tag}", f"vecs_{tag}"
    write_ann_at_rest(emb, sig_t, vec_t)
    try:
        inline = sim_mod.ann_topk_lsh(emb, 5, 10)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            at_rest = ann_topk_lsh_at_rest(
                spark, sig_t, vec_t, emb.count(), 5, 10
            )
            got = sorted(map(tuple, at_rest.collect()))
            plan = at_rest._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert got == sorted(map(tuple, inline.collect()))
        # the broadcast query attach stays (explicit hint); the
        # survivor->vector join must add no shuffle
        assert "Exchange hashpartitioning(vec_id" not in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sig_t}")
        spark.sql(f"DROP TABLE IF EXISTS {vec_t}")


def test_ann_at_rest_sig_scan_reads_only_signature_columns(spark):
    """The probe's prefilter side must scan the 24 B/row sig table, not
    the vector column — assert the big-side scans: the sig-table scan
    reads only (vec_id, sig0, sig1, nrm) and the vector table appears
    in the plan only via the survivor join."""
    import uuid

    from flink_graph_spark.functions.similarity import (
        ann_topk_lsh_at_rest,
        write_ann_at_rest,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    tag = uuid.uuid4().hex[:8]
    sig_t, vec_t = f"sigs_{tag}", f"vecs_{tag}"
    write_ann_at_rest(emb, sig_t, vec_t)
    try:
        import re

        df = ann_topk_lsh_at_rest(spark, sig_t, vec_t, emb.count(), 5, 10)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert sig_t in plan and vec_t in plan, plan
        # every sig-table ReadSchema must carry ONLY signature columns
        # (no 'e' array) — the 24 B/row contract of the prefilter scan
        schemas = [
            m.group(1)
            for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)
            if "sig0" in m.group(1)
        ]
        assert schemas, plan
        for cols in schemas:
            assert "e:array" not in cols, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sig_t}")
        spark.sql(f"DROP TABLE IF EXISTS {vec_t}")


@pytest.mark.parametrize("bits", [4, 13, 40])
def test_dedup_bucket_kernel_matches_sql_replay(spark, bits):
    """The sparse-bank bucket kernel and the DuckDB twin's plane SQL
    must produce the same packed band buckets for every vector at the
    oracle-scale width (4), a sweep-scale width (13), and the new
    40-bit cap — the bit-for-bit foundation of the semantic_dedup_lsh
    hash-checked oracle, exercised beyond the widths the oracle SFs
    reach on their own."""
    import duckdb

    from flink_graph_spark.functions.similarity import (
        EMB_NORM_SQL,
        _banded_bucket_frame,
        _dedup_planes_values_sql,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in _banded_bucket_frame(sim_mod.with_norm(emb), bits).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF_DIR}/embeddings.parquet'"
    )
    dot = (
        "(((n.e[pl.i1] * pl.s1) + (n.e[pl.i2] * pl.s2))"
        " + (n.e[pl.i3] * pl.s3)) + (n.e[pl.i4] * pl.s4)"
    )
    ref = {
        (vid, g): b
        for vid, g, b in con.sql(
            f"""WITH {EMB_NORM_SQL.strip()},
lsh_planes AS (
    SELECT * FROM (VALUES {_dedup_planes_values_sql()})
        AS t(tbl, p, i1, i2, i3, i4, s1, s2, s3, s4)
)
SELECT vec_id, g, CAST(SUM(CASE WHEN bit = 1
           THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
FROM (
    SELECT n.vec_id, pl.tbl AS g, pl.p AS p,
           CASE WHEN {dot} > 0 THEN 1 ELSE 0 END AS bit
    FROM emb_norm n CROSS JOIN lsh_planes pl
    WHERE pl.p < {bits}
) GROUP BY 1, 2"""
        ).fetchall()
    }
    assert got == ref


def test_dedup_bits_for_covers_100tb_scale():
    """The adaptive width rule: cells stay at DEDUP_TARGET_CELL out to
    2^40·32 ≈ 3.5e13 rows — past the ~4e11 embeddings of a 100 TB
    float corpus, so the cap never re-opens quadratic candidate growth
    at the design scale (the old 16-bit cap bound at ~2M)."""
    from flink_graph_spark.functions.similarity import dedup_bits_for

    assert dedup_bits_for(500) == 4
    assert dedup_bits_for(200_000) == 13
    assert dedup_bits_for(2_000_000) == 16      # old cap point: now exact
    assert dedup_bits_for(4 * 10**11) == 34     # ~100 TB of float64 dims
    assert dedup_bits_for(10**15) == 40         # cap only beyond 3.5e13


# ---- semantic dedup ---------------------------------------------------

def test_semantic_lsh_pairs_subset_of_exact_with_recall(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["va"], r["vb"]) for r in sim_mod.embedding_near_dup(emb, 0.4).collect()
    }
    lsh = {
        (r["va"], r["vb"])
        for r in sim_mod.semantic_near_dup_pairs_lsh(emb, 0.4).collect()
    }
    assert lsh <= exact
    assert exact, "fixture should contain near-dup pairs"
    recall = len(lsh) / len(exact)
    assert recall >= 0.5, f"LSH pair recall {recall:.2f} below floor"


def test_semantic_lsh_multi_probe_lifts_recall(spark):
    """The Hamming-1 probe knob: still a subset of exact (cosine
    confirm is unchanged), recall strictly dominates the no-probe
    path and clears a much higher floor (measured 1.00 at sf0.01,
    59/59 exact pairs recovered; 0.71 without probing)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["va"], r["vb"]) for r in sim_mod.embedding_near_dup(emb, 0.4).collect()
    }
    base = {
        (r["va"], r["vb"])
        for r in sim_mod.semantic_near_dup_pairs_lsh(emb, 0.4).collect()
    }
    mp = {
        (r["va"], r["vb"])
        for r in sim_mod.semantic_near_dup_pairs_lsh(
            emb, 0.4, multi_probe=True
        ).collect()
    }
    assert mp <= exact
    assert base <= mp, "probing can only ADD candidate cells"
    recall = len(mp) / len(exact)
    assert recall >= 0.9, f"multi-probe pair recall {recall:.2f} below floor"


def _assert_no_exchange_between_attach_scans_and_joins(plan, table):
    """Every ATTACH-side scan of `table` (the legs that join sigs or
    vectors onto the candidate stream — identified by NOT containing a
    Generate/ArrowEvalPython banding stage) must reach its join with no
    Exchange in between: the bucketed scan IS the join partitioning."""
    import re

    lines = plan.splitlines()

    def depth(ln):
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    checked = 0
    for i, ln in enumerate(lines):
        if "FileScan" not in ln or table not in ln:
            continue
        path, cur = [], depth(ln)
        for j in range(i - 1, -1, -1):
            dj = depth(lines[j])
            if dj != -1 and dj < cur:
                path.append(lines[j])
                cur = dj
                if "Join" in lines[j]:
                    break
        if any("Generate" in p or "ArrowEvalPython" in p for p in path):
            continue  # banding leg: re-keys by (table, bucket) by design
        checked += 1
        bad = [p for p in path if "Exchange" in p]
        assert not bad, f"Exchange above {table} attach scan: {bad}"
    assert checked, f"no attach-side scans of {table} found:\n{plan}"


def test_explicit_bits_does_not_force_corpus_broadcast(spark):
    """ADVICE r8: pinning `bits` keeps the inline funnel fully lazy,
    but laziness must not force corpus-sized F.broadcast attaches —
    with no measured count the sig/vec attaches stay plain joins
    (AQE may still auto-broadcast from ACTUAL runtime size), while the
    counted path under the row caps keeps its explicit hint. Asserted
    on the analyzed plan's ResolvedHint nodes, which only F.broadcast
    plants (AQE decisions never appear there)."""
    emb = load_table(spark, SF_DIR, "embeddings")

    def hints(df) -> int:
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    lazy = sim_mod.semantic_near_dup_pairs_lsh(emb, 0.4, bits=4)
    assert hints(lazy) == 0, "explicit bits must not plant broadcast hints"
    counted = sim_mod.semantic_near_dup_pairs_lsh(emb, 0.4)
    assert hints(counted) > 0, "measured-small corpus keeps its hints"
    # results are identical either way at this sf (adaptive bits == 4)
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, counted.collect())
    )


def test_semantic_lsh_at_rest_matches_inline_with_zero_table_exchange(spark):
    """The funnel's at-rest mode (r8, the r7 verdict's scale-killer
    watch item): stage-2/3 attaches join the vec_id-bucketed sig/vec
    tables instead of broadcasting corpus-sized frames. Must be (a)
    row-identical to the inline funnel — same signatures, same cut,
    same cosine — and (b) Exchange-free on every attach-side table
    scan (broadcast disabled to pin the at-scale sort-merge shape)."""
    import uuid

    from flink_graph_spark.functions.similarity import write_ann_at_rest

    emb = load_table(spark, SF_DIR, "embeddings")
    tag = uuid.uuid4().hex[:8]
    sig_t, vec_t = f"sigs_{tag}", f"vecs_{tag}"
    write_ann_at_rest(emb, sig_t, vec_t)
    try:
        inline = sim_mod.semantic_near_dup_pairs_lsh(emb, 0.4, multi_probe=True)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            at_rest = sim_mod.semantic_near_dup_pairs_lsh(
                emb, 0.4, multi_probe=True, sig_table=sig_t, vec_table=vec_t
            )
            got = sorted(map(tuple, at_rest.collect()))
            plan = at_rest._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert got == sorted(map(tuple, inline.collect()))
        assert "Bucketed: true" in plan, plan
        _assert_no_exchange_between_attach_scans_and_joins(plan, sig_t)
        _assert_no_exchange_between_attach_scans_and_joins(plan, vec_t)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sig_t}")
        spark.sql(f"DROP TABLE IF EXISTS {vec_t}")


def test_semantic_dedup_probed_scale_path_equals_exact_anchor(spark):
    """End-to-end: when probing recovers every exact pair (it does on
    this fixture — recall 1.00), the LSH-bucketed cluster output is
    IDENTICAL to the exact all-pairs anchor, not merely close."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = sorted(
        map(tuple, sim_mod.semantic_dedup_clusters(emb, 0.4, 4).collect())
    )
    probed = sorted(
        map(
            tuple,
            sim_mod.semantic_dedup_clusters(
                emb, 0.4, 4, bucketed=True, multi_probe=True
            ).collect(),
        )
    )
    assert exact == probed


def test_semantic_dedup_clusters_group_transitive_chains(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = sim_mod.embedding_near_dup(emb, 0.4).collect()
    clusters = {
        r["vec_id"]: r["cluster_id"]
        for r in sim_mod.semantic_dedup_clusters(emb, 0.4, 4).collect()
    }
    # every paired vector is clustered, pair endpoints share a cluster,
    # and each representative is its cluster's min member
    for r in pairs:
        assert clusters[r["va"]] == clusters[r["vb"]]
    members: dict[int, list[int]] = {}
    for v, c in clusters.items():
        members.setdefault(c, []).append(v)
    for c, vs in members.items():
        assert c == min(vs)


def test_knn_label_vote_majority_of_neighbors(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    nb = sim_mod.ann_topk_bruteforce(emb, 3, 10)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    neigh: dict[int, list[str]] = {}
    for r in nb.collect():
        neigh.setdefault(r["query_id"], []).append(labels[r["vec_id"]])
    for r in sim_mod.knn_label_vote(emb, 3, 10).collect():
        votes = neigh[r["query_id"]]
        assert votes.count(r["pred_label"]) == r["votes"]
        assert all(
            votes.count(r["pred_label"]) >= votes.count(l) for l in set(votes)
        )


def test_bucketed_edges_join_without_exchange(spark, golden):
    """Two reads of the same src-bucketed table join with ZERO Exchange
    operators — the at-rest co-location contract for iterative loads."""
    import uuid

    from flink_graph_spark.sources.sinks import (
        read_edges_bucketed,
        write_edges_bucketed,
    )

    table = f"bkt_edges_{uuid.uuid4().hex[:8]}"
    write_edges_bucketed(golden, table, buckets=4)
    # force the shuffle-join path: on a 7-edge fixture the planner would
    # broadcast (and rightly disable the bucketed scan); the property
    # under test is the at-scale one — sort-merge over bucketed tables
    # with NO shuffle exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e1 = read_edges_bucketed(spark, table)
        e2 = read_edges_bucketed(spark, table).withColumnRenamed("dst", "dst2")
        joined = e1.join(e2.select("src", "dst2"), "src")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() > 0
        # and the degree agg over the bucketed table needs no shuffle
        agg = e1.groupBy("src").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan, aplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_json_source_tolerates_malformed_ts(spark, tmp_path):
    """One malformed log line must not kill the JSON-lines read: under
    ANSI, to_timestamp_ntz throws CANNOT_PARSE_TIMESTAMP — the same
    failure class as the round-6 $.k ANSI-cast bug. Contract: malformed
    ts → NULL, well-formed rows parse to the exact ntz values."""
    from flink_graph_spark.sources.json_source import (
        EVENTS_JSON_SCHEMA,
        parse_events_ts,
    )

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"event_id":1,"ts":"2024-01-02T03:04:05.000006","user_id":1,'
        '"event_type":"click","value":1.0,"props":"{}"}\n'
        '{"event_id":2,"ts":"garbage \\u2603","user_id":2,'
        '"event_type":"click","value":1.0,"props":"{}"}\n'
        '{"event_id":3,"ts":"2024-13-45T99:99:99.000000","user_id":3,'
        '"event_type":"click","value":1.0,"props":"{}"}\n'
    )
    raw = spark.read.schema(EVENTS_JSON_SCHEMA).json(str(tmp_path))
    got = {r["event_id"]: r["ts"] for r in parse_events_ts(raw).collect()}
    assert got[2] is None and got[3] is None
    assert got[1] is not None and got[1].isoformat() == "2024-01-02T03:04:05.000006"


def test_bench_recall_harness_clears_gates(spark):
    """bench.measure_recall (the driver-artifact recall emitter for the
    three approximate queries) returns every gate key with ok=True at
    its committed SFs — the ANN paths at the bench corpus (sf0.1,
    where the adaptive contract is sized to work), semantic dedup at
    the oracle corpus (sf0.01)."""
    import bench

    got = bench.measure_recall(spark)
    assert set(got) == set(bench.RECALL_GATES)
    for q, row in got.items():
        assert row["ok"], f"{q} recall {row['recall']} < gate {row['gate']}"
