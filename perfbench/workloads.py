"""The benchmark's workloads: which registry queries each one runs, what
its set-up fills, and the layer each query's counters are filed under.
Why each workload exists is in BENCHMARK.json and README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

# query -> the package its registry entry calls into (library, graph or
# functions): the layer its per-query counters are filed under
FAMILY = {
    "cc_cs": "library",
    "degrees_total": "graph",
    "triplets": "graph",
    "jaccard_part_copurchase": "library",
    "quality_filters": "functions",
    "lang_id": "functions",
    "dedup_minhash_lsh": "functions",
    "ann_topk_lsh": "functions",
}


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # tables the set-up scans first, as a user's job would on start-up
    tables: tuple[str, ...]
    # graph builders (sources.graphs) whose persisted caches set-up fills
    graphs: tuple[str, ...] = ()
    # start the Python worker pool during set-up (Arrow/pandas UDF users)
    python_workers: bool = False
    # approximate queries whose recall@10 against the exact top-k is gated
    recall_gates: tuple[tuple[str, float], ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="graph",
            queries=("cc_cs", "degrees_total", "triplets", "jaccard_part_copurchase"),
            tables=("orders", "lineitem"),
            graphs=("cs", "cs_und", "pc"),
        ),
        Workload(
            name="llm_dataprep",
            queries=("quality_filters", "lang_id", "dedup_minhash_lsh", "ann_topk_lsh"),
            tables=("documents", "embeddings"),
            python_workers=True,
            recall_gates=(("ann_topk_lsh", 0.9),),
        ),
    )
}
