"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full pipeline runs, nothing is
collected to the driver) — the same posture the engine itself keeps at
scale (no collect() in any operator path).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_graph_spark.plans.session import get_spark, tune_session  # noqa: E402
from tools.harness import sched_probe_ms, warm_up  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

# Headline set: one representative per operator family (SURVEY.md §2) —
# degrees/aggs, subgraph, triplets/joins, iterative algorithms, Jaccard,
# and the north-star extensions (dedup, similarity, text, events).
HEADLINE = [
    "degrees_total",
    "top_degree_vertices",
    "subgraph_edges",
    "triplets",
    "reduce_on_neighbors_all",
    "pagerank_cs",
    "cc_cs",
    "sssp_cs",
    "lpa_cs",
    "jaccard_part_copurchase",
    "triangle_count_pc",
    "cc_pc",
    "pagerank_pc",
    "music_profiles_communities",
    "text_stats",
    "lang_id",
    "doc_fingerprint",
    "dedup_exact_stats",
    "dedup_minhash_lsh",
    "simhash_docs",
    # scale-safe similarity headliners: the bucketed LSH and IVF paths.
    # The exact all-pairs embedding_near_dup is deliberately NOT here —
    # quadratic-shape queries stay sf0.01 oracle anchors, not headline
    # bench entries (its recall twin ann_topk_bruteforce covers the
    # exact-scoring cost in the headline).
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "sessionize_events",
    "hourly_rollup",
    "top_events_per_user",
    "corpus_prep",
    "streaming_hourly_rollup",
    "streaming_user_totals",
    # round-2 additions (BASELINE.md §r2 records their expected bands;
    # the pre-r2 28-query subtotal stays comparable to the r1 baseline)
    "hits_cs",
    "adamic_adar_pc",
    "kcore_uu",
    "asof_order_events",
    "contamination_check",
    "stratified_sample",
    "pii_scrub",
    "pack_sequences",
    "weighted_pagerank_cs",
    "mis_uu",
    "random_walks_uu",
    "event_funnel",
    "sliding_rollup",
    "streaming_nation_counts",
    # round-2 late additions: map-side chunker, LSH-bucketed semantic
    # dedup (the scale path; the exact all-pairs anchor stays an
    # sf0.01-only oracle query, never a headline entry), attenuated
    # community detection
    "chunk_documents",
    "semantic_dedup_lsh",
    "community_detection_uu",
    "boilerplate_flags",
    "source_quota_sample",
    "knn_label_vote",
    "vertex_metrics_cs",
    "count_min_tokens",
    "collocations_pmi",
    # round-3 addition: the at-rest bucketed posture driven end-to-end
    # (bucketed table write amortizes across the two passes via the
    # builder memo; steady-state cost is the algorithm itself)
    "pagerank_bucketed_cs",
    # round-3 additions: quality-filter suite, passage dedup, skip-gram
    # pair generation, Zipf fit, bigram LM (all documents-table; the
    # fixture-scale gsa_sssp_golden stays out — fixture queries measure
    # scheduler floor, not data cost)
    "quality_filters",
    "passage_dedup",
    "skipgram_pairs",
    "zipf_slope",
    "bigram_nll",
    "mixture_weights",
    "token_budget_select",
    "corpus_report",
    "embedding_outliers",
    # edge_support_uu / ktruss_uu are NOT headline entries: the uu
    # co-occurrence graph densifies superlinearly with sf (hour-cell
    # co-occurrence), so triangle-support enumeration on it at sf0.1
    # measures graph density, not plan quality (200s, vs 1.5s at the
    # sf0.01 oracle anchor). The dense-graph triangle cost is already
    # represented by triangle_count_pc; support/truss stay sf0.01
    # oracle anchors — same policy as embedding_near_dup (r1 verdict).
    "histogram_quantiles",
    "closeness_sample_uu",
    "rmat_degree_histogram",
    "ppr_cs",
    "neighborhood_function_uu",
    "streaming_quality_by_source",
    "winnow_dup_pairs",
    "pretrain_funnel",
    "embedding_quantize",
    "bipartite_projection_cs",
    "assortativity_uu",
    "principal_direction",
    "kmeans_clusters",
    # round-3b additions: corpus diagnostics + similarity geometry.
    # Fixture-scale graph queries (betweenness_grid, dag_longest_path,
    # graph_coloring_grid, translate_golden) stay out — scheduler
    # floor, not data cost (same policy as gsa_sssp_golden).
    "vocab_coverage",
    "bloom_blocklist",
    "embedding_dim_stats",
    "cosine_pair_histogram",
    "cross_source_overlap",
    "ngram_containment_topk",
    # effective_diameter_uu is NOT a headline entry (measured 14.1s at
    # sf0.1 — 2x the next query): the r=4 HLL ball on the superlinearly
    # densifying uu graph measures density, not plan quality — same
    # policy as edge_support_uu/ktruss_uu. It stays an sf0.01 oracle
    # anchor; neighborhood_function_uu (r=2) covers the sketch cost in
    # the headline. two_hop_ball_cs likewise stays anchor-only
    # (sum-deg^2 exact-ball workload by contract).
    "rich_club_uu",
    "hourly_anomaly",
    "event_transitions",
    "token_entropy",
    "bipartite_matching_cs",
    "weighted_sample",
    "pq_codes",
    "ngram_novelty",
    "edge_growth_cs",
    "simhash_near_dup",
    "bpe_merges",
    "walk_skipgram_pairs",
    "streaming_hourly_anomaly",
    "knn_confusion",
    "gram_matrix",
    "scd2_orders",
    "attribution_last_touch",
    "cohort_retention",
    "copurchase_lift",
    "minhash_calibration",
    "entity_resolution",
    "sql_revenue_by_nation",
    "event_type_pivot",
    "langid_confusion",
    "train_val_test_split",
    "quality_calibration",
    # spectral_radius_uu stays anchor-only (10.4s at sf0.1): 5 power
    # rounds over the superlinearly densifying uu graph measure
    # density, not plan quality — same policy as effective_diameter_uu
    # and edge_support_uu.
    "quality_length_corr",
    "session_duration_histogram",
    "rmat_degree_zipf",
    "source_top_terms",
]

# HEADLINE is FROZEN at the round-3 composition (111 queries): its
# membership never changes again, so ``value``, ``pass_totals`` and
# ``r1_set_subtotal`` stay comparable across rounds. Queries added in
# round 4+ go in NEW_SET and are reported per-query plus as a separate
# ``new_set_subtotal`` — the 2x-vs-baseline gate keeps evaluating the
# same-composition set.
# r8: the at-rest sketch probe joins two bucketed tables with zero
# Exchange — a plan-test catches a broken bucket contract, but its COST
# drift was previously visible only in manual sweep artifacts. Pass 0
# pays the one-time index build (memoized per session/sf); pass 1 is
# the warm probe — min-of-passes therefore reports the warm number a
# serving batch pays, same convention as the sweep row.
NEW_SET: list[str] = ["ann_topk_lsh_at_rest"]

# Recall gates for the three approximate queries. All three have full
# replay oracles (hash-checked determinism); recall measures the
# orthogonal axis — approximation QUALITY vs the exact baseline — and
# lands in the driver-visible BENCH JSON.
# The ANN paths are measured at the bench SF (sf0.1, n=2000) with the
# registered 64-query batch: on near-uniform data index recall RISES
# with corpus size (the kth neighbor moves further into the cosine
# tail), so the bench corpus is the adaptive index's HARDEST committed
# gate — measured 0.95 (lsh) / 0.91 (ivf) there vs 0.95 / 0.97 at the
# 200k sweep point. Below ~1k vectors the fixed-fraction IVF probe is
# not meaningfully better than chance on uniform data; the documented
# guidance (SCALING.md) is to brute-force such corpora — the scan is
# trivial at that size. Semantic dedup pair recall stays at sf0.01,
# where the exact all-pairs anchor is part of the oracle contract.
ANN_RECALL_SF_DIR = "/root/testdata/sf0.1"
DEDUP_RECALL_SF_DIR = "/root/testdata/sf0.01"
RECALL_GATES = {
    "ann_topk_lsh": 0.9,
    "ann_topk_ivf": 0.8,
    # the registered query runs Hamming-1 multi-probe (recall 1.00
    # measured; 0.71 for the raw banding, which keeps its own 0.5
    # floor in tests)
    "semantic_dedup_lsh": 0.9,
}


def measure_recall(spark, sf_dir: str | None = None) -> dict:
    """{query: {"recall": r, "gate": g, "ok": bool}} — recall@10 over
    the registered 64-query batch vs exact brute-force for the ANN
    paths (at ANN_RECALL_SF_DIR), pair recall vs the exact all-pairs
    near-dup set for semantic LSH dedup (at DEDUP_RECALL_SF_DIR)."""
    from flink_graph_spark.functions import similarity as sim
    from flink_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir or ANN_RECALL_SF_DIR, "embeddings")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.ann_topk_bruteforce(emb, n_queries=64, k=10).collect()
    }

    out = {}
    lsh = {
        (r["query_id"], r["vec_id"])
        for r in sim.ann_topk_lsh(emb, n_queries=64, k=10).collect()
    }
    out["ann_topk_lsh"] = round(len(exact & lsh) / len(exact), 4)
    ivf = {
        (r["query_id"], r["vec_id"])
        for r in sim.ann_topk_ivf(emb, n_queries=64, k=10).collect()
    }
    out["ann_topk_ivf"] = round(len(exact & ivf) / len(exact), 4)
    demb = load_table(spark, sf_dir or DEDUP_RECALL_SF_DIR, "embeddings")
    pairs_exact = {
        (r["va"], r["vb"])
        for r in sim.embedding_near_dup(demb, 0.4).collect()
    }
    pairs_lsh = {
        (r["va"], r["vb"])
        for r in sim.semantic_near_dup_pairs_lsh(
            demb, 0.4, multi_probe=True  # the registered configuration
        ).collect()
    }
    out["semantic_dedup_lsh"] = round(
        len(pairs_exact & pairs_lsh) / len(pairs_exact), 4
    )
    return {
        q: {"recall": v, "gate": RECALL_GATES[q], "ok": v >= RECALL_GATES[q]}
        for q, v in out.items()
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("flink-graph-spark-bench")
    tune_session(spark)

    # Warm up outside every timing window, so timings measure
    # steady-state query cost, not one-time scan/cache/worker start-up.
    warm_up(spark, sf_dir)

    queries = entrymod.queries()

    # Emitted in the JSON (before/after the passes) so each bench
    # artifact self-describes whether its numbers are comparable to the
    # quiet-box records.
    sched_probe = [sched_probe_ms(spark)]

    def _timed(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t = time.time() - t0
        return t

    # Steady-state policy: this box shows up to 10x transient swings from
    # neighbor load (a 3.6s query has measured 50s once; a noise window
    # can last minutes). Two FULL passes over the headline list, per-query
    # MIN across passes — interleaving puts the two samples of each query
    # in different noise windows, where back-to-back repeats would sample
    # the same burst twice. The min is the reproducible steady-state cost
    # of the plan, not the noise of one sample.
    # Timeout resilience: an external runner may SIGTERM the bench
    # (e.g. `timeout N python bench.py`). A silent death would lose
    # every timing already collected, so on SIGTERM finish the CURRENT
    # query, stop at the next query boundary, and emit the JSON line
    # from whatever passes/partial passes exist (marked "partial").
    import signal

    interrupted = {"flag": False}

    def _on_term(signum, frame):
        interrupted["flag"] = True

    try:
        signal.signal(signal.SIGTERM, _on_term)
    except ValueError:
        pass  # non-main thread (embedded use)

    bench_set = HEADLINE + NEW_SET
    per_pass: list[dict[str, float]] = []
    recall: dict | None = None
    for _pass in range(2):
        pass_timings: dict[str, float] = {}
        per_pass.append(pass_timings)
        for name in bench_set:
            fn = queries.get(name)
            if fn is None:
                continue
            pass_timings[name] = round(_timed(fn), 3)
            print(
                f"# p{_pass} {name}: {pass_timings[name]:.2f}s",
                file=sys.stderr,
            )
            if interrupted["flag"]:
                break
        if interrupted["flag"]:
            break
        if recall is None:
            # Recall measurement for the rows-only queries, taken BETWEEN
            # the two timing passes (its own SF — see measure_recall), so
            # an external timeout that lands in pass 2 still leaves the
            # artifact with a measured recall instead of an error row.
            # Outside every timing window; the checkpoints it leaves are
            # freed when the next registered query begins, before that
            # query's work. Guarded so a recall failure degrades to an
            # error string, never loses the bench.
            try:
                recall = measure_recall(spark)
            except Exception as e:  # pragma: no cover - defensive
                recall = {"error": repr(e)}
    sched_probe.append(sched_probe_ms(spark))
    per_pass = [p for p in per_pass if p]
    timings = {
        n: min(p[n] for p in per_pass if n in p)
        for n in bench_set
        if any(n in p for p in per_pass)
    }

    if recall is None:  # interrupted during pass 1 — still try
        try:
            recall = measure_recall(spark)
        except Exception as e:  # pragma: no cover - defensive
            recall = {"error": repr(e)}

    # The headline is the sum of per-query MIN across the two passes — a
    # best-case steady-state statistic (named accordingly), biased low vs
    # any single-run wall time. Both raw pass totals are reported
    # alongside so the bias is visible, not hidden. `value` and the
    # subtotals are computed over the FROZEN headline composition only;
    # round-4+ additions appear per-query and in new_set_subtotal.
    total = round(
        sum(t for n, t in timings.items() if n in set(HEADLINE)), 3
    )
    r1_set = HEADLINE[: HEADLINE.index("hits_cs")]
    print(
        json.dumps(
            {
                "metric": "headline_query_min_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "pass_totals": [
                    round(sum(p.values()), 3) for p in per_pass
                ],
                # apples-to-apples vs the r1 BASELINE (28-query set)
                "r1_set_subtotal": round(
                    sum(t for n, t in timings.items() if n in r1_set), 3
                ),
                "new_set_subtotal": round(
                    sum(
                        t for n, t in timings.items() if n in set(NEW_SET)
                    ),
                    3,
                ),
                "recall": recall,
                # [after-warmup, after-passes] ms/job for a 32-task
                # no-op — box-health context (healthy: tens of ms; see
                # BASELINE.md box-degradation note)
                "sched_probe_ms_per_job": sched_probe,
                # Probe-gated comparability flag (r5 verdict item 4):
                # True only when BOTH probes are under 100 ms/job.
                # When False, this artifact's absolute numbers must
                # not be compared against quiet-box records — the
                # 177.6-181.4s headline / 53.9-56.1s r1 subtotal in
                # BASELINE.md remain the performance-of-record.
                "comparable": all(p < 100.0 for p in sched_probe),
                "partial": interrupted["flag"] or None,
                "sf": sf,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
