"""Scale sweep: run representative queries at 1x / 10x / 100x of sf0.1
and report per-query times plus the fitted scaling exponent.

The sweep is the measured check behind SCALING.md's 100 TB posture
claims: a query whose plan is linear-in-data should show time ratios
~K between scale points once data cost dominates the scheduler floor;
a superlinear exponent on a non-densifying family is a defect to chase.

Inputs come from tools/make_scaled_data.py (key-offset replication —
see its module docstring for why replicas are not near-duplicates).

Isolation contract (learned the hard way): each scale point runs in its
OWN subprocess/JVM. A single shared session accumulates every point's
persisted derived graphs (the uu co-occurrence graph alone is 79M edges
at the 10x point — quadratic densification by design), and the heap
pressure eventually starves the executor heartbeat thread
("Exit as unable to send heartbeats to driver more than 60 times").
Per-query timings are appended to a JSONL file as they complete, so a
crashed point loses at most the in-flight query.

Usage:
    python tools/scale_sweep.py [--points p1,p10,p100] [--queries a,b,c]
    python tools/scale_sweep.py --point p10 --out sweep.jsonl   (child mode)
Prints one JSON line: {"points": {...}, "queries": {q: {point: sec}},
"exponents": {q: alpha}} where alpha is fit between the two largest
measured points (log t ratio / log K ratio).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

POINTS = {
    "p1": ("/root/testdata/sf0.1", 1),
    "p10": ("/tmp/fgs_scaled/sf1", 10),
    "p100": ("/tmp/fgs_scaled/sf10", 100),
}

# Representative queries per family. The uu co-occurrence family is
# EXCLUDED above p1: under user-growth-within-a-fixed-time-window
# replication its INPUT grows quadratically (measured: 0.79M edges at
# p1 -> 79M at p10 before the 512 cell cap binds), so its exponent
# reads ~2 by construction — that measures the generator, not a plan.
# The engine-side guard (UU_CELL_CAP, SCALING.md §8) bounds the worst
# case; density-driven cost on uu is a documented policy (bench.py).
SWEEP = [
    # graph: derived-table builders + iterative algorithms (disjoint
    # replica components -> linear edge growth)
    "degrees_total", "triplets", "reduce_on_neighbors_all",
    "pagerank_cs", "cc_cs", "sssp_cs", "lpa_cs",
    "pagerank_pc", "cc_pc", "triangle_count_pc",
    "jaccard_part_copurchase", "adamic_adar_pc",
    # dedup family
    "dedup_exact_stats", "dedup_minhash_lsh", "simhash_near_dup",
    "passage_dedup", "winnow_dup_pairs", "ngram_containment_topk",
    "minhash_calibration",
    # similarity / embeddings. ann_topk_lsh_at_rest is memoized per
    # (session, sf): pass 0 prices build+probe, pass 1 probes the
    # already-materialized bucketed tables — min-of-passes is therefore
    # the WARM at-rest probe, the number a serving batch pays.
    "ann_topk_bruteforce", "ann_topk_lsh", "ann_topk_lsh_at_rest",
    "ann_topk_ivf",
    "semantic_dedup_lsh", "kmeans_clusters", "pq_codes",
    "embedding_outliers",
    # text / corpus
    "text_stats", "quality_filters", "token_budget_select",
    "bpe_merges", "skipgram_pairs", "bigram_nll", "corpus_report",
    "collocations_pmi", "pretrain_funnel",
    # events / sessions / streaming snapshots
    "sessionize_events", "hourly_rollup", "asof_order_events",
    "event_funnel", "scd2_orders", "streaming_hourly_rollup",
    # relational
    "sql_revenue_by_nation", "entity_resolution",
]
UU_FAMILY = ["kcore_uu", "community_detection_uu"]


def run_point(pname: str, sweep: list[str], out_path: str, passes: int,
              run_id: str = "") -> int:
    """Child mode: one scale point, one JVM, JSONL appended per query."""
    from flink_graph_spark.plans.session import get_spark, tune_session
    from flink_graph_spark.sources.graphs import (
        customer_supplier_graph,
        customer_supplier_undirected_graph,
        part_copurchase_graph,
        user_cooccurrence_graph,
    )
    from tools.harness import sched_probe_ms, warm_up

    sf_dir, K = POINTS[pname]
    spark = get_spark(f"scale-sweep-{pname}")
    tune_session(spark)
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    builders = [customer_supplier_graph, customer_supplier_undirected_graph,
                part_copurchase_graph]
    if any(q in UU_FAMILY for q in sweep):
        builders.append(user_cooccurrence_graph)
    warm_up(spark, sf_dir, builders)
    # box-health probe, recorded per point so the artifact self-describes
    # whether its absolute numbers are quiet-box grade
    probe_ms = sched_probe_ms(spark)

    def _drain_scratch(min_free_gb: float = 40.0, timeout_s: int = 240) -> None:
        """Block until shuffle scratch has actually drained. Shuffle-file
        deletion is ASYNC (ContextCleaner processes its queue one entry
        at a time), so after a spill-heavy query the next one can start
        against a nearly-full disk and die on scratch the cleaner was
        about to free — measured in the r7 p100 run: jaccard finished
        leaving 12 GB free, adamic_adar started immediately and hit
        "No space left on device" while ~80 GB of jaccard's shuffle
        files were still queued for deletion (they freed moments after
        the abort). Shares the library drain (r9): engages only below
        ``min_free_gb`` on the session's ACTUAL scratch mount, and
        bails in ~15s when nothing drains (pre-existing deficit),
        instead of burning the timeout."""
        import shutil

        from flink_graph_spark.plans.checkpoints import (
            drain_shuffle_scratch,
            spark_scratch_dir,
        )

        t0 = time.time()
        ok = drain_shuffle_scratch(
            spark, min_free_gb=min_free_gb, timeout_s=timeout_s
        )
        waited = time.time() - t0
        if waited > 1:
            free = shutil.disk_usage(spark_scratch_dir(spark)).free
            print(f"drained scratch to {free/2**30:.0f} GiB free in"
                  f" {waited:.0f}s (floor_reached={ok})",
                  file=sys.stderr, flush=True)

    with open(out_path, "a") as fh:
        fh.write(json.dumps({"point": pname, "probe_ms_per_job": probe_ms,
                             "run_id": run_id}) + "\n")
        for _pass in range(passes):
            for q in sweep:
                t0 = time.time()
                try:
                    queries[q](spark, sf_dir).write.format("noop").mode(
                        "overwrite").save()
                    t = round(time.time() - t0, 3)
                    err = None
                except Exception as exc:
                    t = -1.0
                    err = repr(exc)[:300]
                fh.write(json.dumps({"point": pname, "query": q,
                                     "pass": _pass, "sec": t,
                                     "run_id": run_id,
                                     **({"error": err} if err else {})}) + "\n")
                fh.flush()
                _drain_scratch()
            print(f"pass {_pass} @ {pname} done", file=sys.stderr, flush=True)
        if "ann_topk_ivf" in sweep:
            _ann_extras(spark, sf_dir, pname, fh, passes, run_id)
    spark.stop()
    return 0


def _ann_extras(spark, sf_dir, pname, fh, passes, run_id) -> None:
    """Warm-vs-cold IVF split + measured recall per scale point.

    The cold `ann_topk_ivf` row prices build+probe in one shot; a real
    deployment builds the inverted lists ONCE (a map-side assignment
    pass) and serves query batches against the materialized index.
    `ann_topk_ivf_build` records that one-time cost,
    `ann_topk_ivf_warm` the amortized per-batch cost — the number a
    1000-executor serving job actually pays. Recall rows record the
    approximation quality of both index paths against the exact
    baseline AT EACH SCALE POINT (the bench gate only sees sf0.1)."""
    import pyspark.sql.functions as F

    from flink_graph_spark.functions import similarity as sim
    from flink_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    nlist, nprobe = sim.ivf_params_for(emb.count())
    t0 = time.time()
    n = sim.with_norm(emb)
    cent, lists = sim.ivf_build(n, nlist)
    cent = cent.localCheckpoint(eager=True)
    lists = lists.localCheckpoint(eager=True)
    fh.write(json.dumps({"point": pname, "query": "ann_topk_ivf_build",
                         "pass": 0, "sec": round(time.time() - t0, 3),
                         "nlist": nlist, "run_id": run_id}) + "\n")
    q = n.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("eq"),
        F.col("nrm").alias("nq"),
    ).localCheckpoint(eager=True)
    for _pass in range(passes):
        t0 = time.time()
        sim.ivf_probe(cent, lists, q, k=10, nprobe=nprobe).write.format(
            "noop").mode("overwrite").save()
        fh.write(json.dumps({"point": pname, "query": "ann_topk_ivf_warm",
                             "pass": _pass,
                             "sec": round(time.time() - t0, 3),
                             "run_id": run_id}) + "\n")
        fh.flush()
    exact = {(r["query_id"], r["vec_id"])
             for r in sim.ann_topk_bruteforce(emb, 64, 10).collect()}
    for qname, df in (("ann_topk_lsh", sim.ann_topk_lsh(emb, 64, 10)),
                      ("ann_topk_ivf", sim.ann_topk_ivf(emb, 64, 10))):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        fh.write(json.dumps({"point": pname, "query": qname,
                             "recall": round(len(exact & got) / len(exact), 4),
                             "run_id": run_id}) + "\n")
    fh.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", default="p1,p10,p100")
    ap.add_argument("--point", default=None, help="child mode: one point")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default="/tmp/fgs_scaled/sweep.jsonl")
    # run-id stamping: the out file is opened in append mode by children,
    # so without a filter the parent's aggregation would silently mix
    # timings from earlier runs of possibly different code versions into
    # the reported mins and fitted exponents. The parent stamps a fresh
    # id, children record it, aggregation keeps only the current run.
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    if args.point:
        sweep = args.queries.split(",") if args.queries else (
            SWEEP + (UU_FAMILY if args.point == "p1" else []))
        return run_point(args.point, sweep, args.out, args.passes,
                         run_id=args.run_id or "")

    run_id = args.run_id or f"run{int(time.time())}"
    for pname in args.points.split(","):
        qarg = ["--queries", args.queries] if args.queries else []
        rc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--point", pname,
             "--out", args.out, "--passes", str(args.passes),
             "--run-id", run_id] + qarg,
            cwd=REPO).returncode
        print(f"point {pname} rc={rc}", file=sys.stderr, flush=True)

    # aggregate JSONL -> min per (query, point) over THIS run only,
    # exponent between the two largest points with data for the query
    out: dict[str, dict[str, float]] = {}
    recalls: dict[str, dict[str, float]] = {}
    probes: dict[str, float] = {}
    with open(args.out) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("run_id") != run_id:
                continue
            if "probe_ms_per_job" in rec:
                probes[rec["point"]] = rec["probe_ms_per_job"]
                continue
            if "recall" in rec:
                recalls.setdefault(rec["query"], {})[rec["point"]] = rec["recall"]
                continue
            if rec["sec"] < 0:
                continue
            cur = out.setdefault(rec["query"], {}).get(rec["point"])
            if cur is None or rec["sec"] < cur:
                out[rec["query"]][rec["point"]] = rec["sec"]
    exps = {}
    for q, pts in out.items():
        have = sorted((POINTS[p][1], t) for p, t in pts.items())
        if len(have) >= 2:
            (ka, ta), (kb, tb) = have[-2], have[-1]
            if ta > 0 and tb > 0:
                exps[q] = round(math.log(tb / ta) / math.log(kb / ka), 2)
    print(json.dumps({
        "run_id": run_id,
        "points": {p: {"dir": d, "K": k} for p, (d, k) in POINTS.items()},
        "queries": out,
        "exponents": exps,
        "ann_recall": recalls,
        "probe_ms_per_job": probes,
        "comparable": bool(probes) and all(p < 100.0 for p in probes.values()),
        "uu_family_p1_only": UU_FAMILY,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
