"""Physical-plan audit: prints `.explain(formatted)` excerpts for the
headline queries and greps them for the scale-critical properties
(SURVEY.md §4.2): parquet pushdown/pruning, broadcast of small sides,
whole-stage codegen coverage, no cartesian products on big sides,
and exchanges AQE ran twice (``duplicate_stages``: non-reused shuffle
and broadcast stages whose canonical plan equals another's, see
``flink_graph_spark.plans.explain``). A loop query also gets a line
with the shuffle stages each loop checkpoint's plan ran
(``explain.superstep_plans``; one checkpoint per superstep at cadence
1), which its result plan cannot show.

    python tools/explain_audit.py [sf_dir] [query ...] [-v]

``-v`` also prints each query's final formatted plan.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from flink_graph_spark.plans import explain  # noqa: E402
from flink_graph_spark.plans.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

AUDIT = [
    "top_degree_vertices",
    "subgraph_edges",
    "triplets",
    "reduce_on_neighbors_all",
    "jaccard_part_copurchase",
    "triangle_count_pc",
    "lang_id",
    "dedup_minhash_lsh",
    "sessionize_events",
    "hourly_rollup",
    # round-3 representatives
    "quality_filters",
    "passage_dedup",
    "skipgram_pairs",
    "edge_support_uu",
    "closeness_sample_uu",
    # pregel loops: a superstep is a broadcast and no shuffle
    "cc_cs",
    "pagerank_cs",
]


def main() -> int:
    verbose = "-v" in sys.argv
    if verbose:
        sys.argv.remove("-v")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or AUDIT
    spark = get_spark("explain-audit")
    qs = entrymod.queries()
    for name in names:
        with explain.superstep_plans() as steps:
            df = qs[name](spark, sf_dir)
            # Execute first: with AQE the pre-execution plan is
            # isFinalPlan=false and hides codegen spans / final join
            # strategies; the post-execution formatted plan is the real one.
            final = explain.run_plan(df)
        plan = explain.formatted(df)
        n_codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        n_exchange = plan.count("Exchange")
        n_reused = plan.count("ReusedExchange")
        n_bcast = plan.count("BroadcastExchange")
        n_scan = plan.count("Scan parquet")
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        pushed_nonempty = [p for p in pushed if p.strip()]
        cartesian = "CartesianProduct" in plan or "BroadcastNestedLoop" in plan
        read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widest = max((len(s.split(",")) for s in read_schemas), default=0)
        print(
            f"{name}: codegen_spans={n_codegen} exchanges={n_exchange} "
            f"broadcasts={n_bcast} reused={n_reused} scans={n_scan} "
            f"pushed_filters={len(pushed_nonempty)} widest_scan_cols={widest} "
            f"nested_loop_or_cartesian={cartesian} "
            f"duplicate_stages={explain.duplicate_stages(final)}"
        )
        if steps:
            shuffles = [explain.shuffle_stages(step) for step in steps]
            print(
                f"{name}: loop_checkpoints={len(steps)} "
                f"shuffles_per_checkpoint={shuffles}"
            )
        if verbose:
            print(plan)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
