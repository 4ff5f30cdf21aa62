"""Physical-plan regression tests (SURVEY.md §4.2 scale posture).

Executes representative queries at sf0.001 and asserts the properties
that keep them alive at 100 TB: no nested-loop joins on unbounded
sides, derived-graph consumers read the shared cache instead of
re-scanning parquet, scans stay narrow (column pruning reaches the
reader), and whole-stage codegen covers the hot path. These are the
checks `tools/explain_audit.py` prints interactively, frozen as tests.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from flink_graph_spark.plans import explain

SF_DIR = "/root/testdata/sf0.001"


def _final_plan(spark, df) -> str:
    """The formatted final adaptive plan ``df`` ran."""
    explain.run_plan(df)
    return explain.formatted(df)


@pytest.fixture(scope="module")
def queries():
    return entrymod.queries()


def test_graph_queries_read_shared_cache(spark, queries):
    plan = _final_plan(spark, queries["degrees_total"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan


def test_no_nested_loop_on_graph_joins(spark, queries):
    for name in ("subgraph_edges", "triplets", "jaccard_part_copurchase"):
        plan = _final_plan(spark, queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_jaccard_runs_its_adjacency_shuffle_once(spark, queries):
    # both endpoint joins read the adjacency from one leaf over the pc
    # edge cache (plans.reuse), so no exchange of the final plan repeats
    # another; reading the cache itself, AQE ran the collect_set shuffle
    # once per side
    plan = explain.run_plan(queries["jaccard_part_copurchase"](spark, SF_DIR))
    assert explain.duplicate_stages(plan) == 0


@pytest.fixture
def broadcast_vertex_graph(spark):
    """A cached graph whose vertex frame is under the broadcast threshold
    and whose edge frame is over it, so both endpoint joins of a triplet
    broadcast the vertex side (the shape of the benchmark's cs graph)."""
    from pyspark.sql import functions as F

    from flink_graph_spark.graph import Graph

    edges = spark.range(20000).select(
        (F.col("id") % 500).alias("src"),
        (F.col("id") % 700 + 1000).alias("dst"),
        F.col("id").alias("value"),
    ).persist()
    vertices = spark.range(1700).select(
        "id", (F.col("id") * 2).alias("value")
    ).persist()
    edges.count()
    vertices.count()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
    try:
        yield Graph(vertices, edges)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        edges.unpersist()
        vertices.unpersist()


def test_triplets_broadcasts_its_vertices_once(spark, broadcast_vertex_graph):
    # the src and dst sides are two projections of one vertex leaf, so
    # the second broadcast is a ReusedExchange; over the cache itself
    # each side was broadcast on its own
    t = broadcast_vertex_graph.triplets()
    stages = explain.exchange_stages(explain.run_plan(t))
    broadcasts = sorted(reused for cls, _, reused in stages if cls.startswith("Broadcast"))
    assert broadcasts == [False, True], stages
    assert t.count() == 20000


def test_reuse_leaves_copy_no_blocks(spark, broadcast_vertex_graph):
    # a re-rooted frame reads the RDD of its executed plan, not a block
    # copy: once a result is read, the only persistent RDD a call leaves
    # is the one its result reads (HITS' last iteration checkpoint)
    from flink_graph_spark.library.hits import hits
    from flink_graph_spark.library.jaccard import jaccard_similarity

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    for run, kept in (
        (broadcast_vertex_graph.triplets, 0),
        (lambda: jaccard_similarity(broadcast_vertex_graph), 0),
        (lambda: hits(broadcast_vertex_graph, max_iter=2), 1),
    ):
        before = set(jmap().keySet().toArray())
        run().collect()
        gained = set(jmap().keySet().toArray()) - before
        assert len(gained) == kept
        for rid in gained:
            jmap().get(rid).unpersist(False)


def test_scans_are_pruned_to_needed_columns(spark, queries):
    # cs-graph build needs only 2 columns from orders and 2 from lineitem
    plan = _final_plan(spark, queries["top_degree_vertices"](spark, SF_DIR))
    widths = [len(s.split(",")) for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]
    assert widths and max(widths) <= 2


def test_codegen_covers_hot_path(spark, queries):
    plan = _final_plan(spark, queries["reduce_on_neighbors_all"](spark, SF_DIR))
    assert len(set(re.findall(r"codegen id : (\d+)", plan))) >= 2


def test_simhash_single_agg_pass_no_bit_explode(spark, queries):
    # SimHash must be ONE hash-aggregate over the token frame (60
    # conditional sums), never a token×bit explode(sequence(...)) that
    # would 60× the shuffle input at corpus scale.
    plan = _final_plan(spark, queries["simhash_docs"](spark, SF_DIR))
    assert "sequence(" not in plan
    # exactly one explode remains: text → tokens
    assert plan.count("explode(") == 1


def test_ann_lsh_hamming_filter_is_codegen_hash_join(spark, queries):
    # The sketch path must attach the query batch with a Broadcast
    # HASH join (constant non-foldable key) so the Hamming prefilter
    # evaluates inside whole-stage codegen — a BroadcastNestedLoopJoin
    # condition runs on the interpreted expression path, which measured
    # as expensive as the cosine folds the sketch exists to skip.
    plan = _final_plan(spark, queries["ann_topk_lsh"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the prefilter itself: xor + bit_count against the packed longs
    assert "bit_count" in plan


def _executed_final(df) -> str:
    """The executed physical plan after a run, without AQE's initial
    plan (which would repeat every node)."""
    plan = explain.run_plan(df).toString()
    return plan.split("== Initial Plan ==")[0]


def test_ann_lsh_runs_signature_kernel_once_per_side(spark, queries):
    # sig0/sig1 are non-nullable: a nullable signature lets the
    # Hamming join's inferred isnotnull(__sig[i]) be pushed below the
    # kernel's projection, and the plan evaluates the Arrow kernel twice
    # per row (two ArrowEvalPython nodes per join side)
    plan = _executed_final(queries["ann_topk_lsh"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 2, plan


def test_other_arrow_kernels_run_once_per_side(spark):
    # The same duplication at the two other Arrow kernel sites: a join
    # on the vectorized IVF assignment's list_id, and the banded
    # semantic-dedup bucket self-join (posexplode's inferred
    # size(__bk) > 0 filter)
    from flink_graph_spark.functions import similarity as sim_mod
    from flink_graph_spark.sources.tables import load_table

    n = sim_mod.with_norm(load_table(spark, SF_DIR, "embeddings"))
    cent, _ = sim_mod.ivf_build(n, 16, 0)
    lists = sim_mod.assign_lists(n, cent, vectorized=True)
    probe = lists.join(lists.select("list_id").distinct(), "list_id")
    assert _executed_final(probe).count("ArrowEvalPython") == 2
    b = sim_mod._banded_bucket_frame(n, 8)
    pairs = b.join(b.withColumnRenamed("vec_id", "v2"), ["table", "bucket"])
    assert _executed_final(pairs).count("ArrowEvalPython") == 2


def test_lang_id_is_one_map_side_projection(spark, queries):
    # per-row marker counts + argmax: no explode/join/aggregate/window
    plan = _executed_final(queries["lang_id"](spark, SF_DIR))
    for node in ("Exchange", "Window", "Join", "Generate", "Aggregate"):
        assert node not in plan, (node, plan)
    assert "FileScan parquet" in plan


def test_bucketed_graph_feeds_superstep_join_without_edge_exchange(spark):
    # The bucketed-at-rest posture must hold THROUGH an algorithm: the
    # src-keyed shapes page_rank runs every superstep — the out-degree
    # agg and the message join — read the bucketed edge table with no
    # Exchange above the edge scan (only the small state side may
    # shuffle, into the edge table's bucketing).
    from pyspark.sql import functions as F

    from flink_graph_spark.sources.graphs import (
        customer_supplier_bucketed_graph,
    )

    g = customer_supplier_bucketed_graph(spark, SF_DIR)
    outdeg = g.edges.groupBy("src").count()
    outdeg.write.format("noop").mode("overwrite").save()
    oplan = outdeg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in oplan, oplan
    assert "Bucketed: true" in oplan, oplan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # a plan-trivial state side isolates the edge-side property:
        # the ONLY exchange allowed is the state aligning to the
        # buckets — an edge-side shuffle would make it two
        state = spark.range(2000).select(
            F.col("id"), F.lit(1.0).alias("rank")
        )
        j = g.edges.join(state, F.col("src") == F.col("id"))
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in jplan, jplan
        assert jplan.count("Exchange hashpartitioning") == 1, jplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_assignment_is_map_side_no_corpus_window(spark, queries):
    # Nearest-centroid assignment must be a per-row fold over the
    # broadcast centroid bank — never the old corpus×nlist cross join
    # whose row_number window shuffled the whole blown-up corpus. The
    # assignment subplan (lists frame) must therefore contain no Window
    # and no shuffle Exchange at all.
    from flink_graph_spark.functions import similarity as sim_mod
    from flink_graph_spark.sources.tables import load_table

    n = sim_mod.with_norm(load_table(spark, SF_DIR, "embeddings"))
    cent = n.filter("vec_id < 16").selectExpr(
        "vec_id AS list_id", "e AS ce", "nrm AS cn"
    )
    plan = _final_plan(spark, sim_mod.assign_lists(n, cent))
    assert "Window" not in plan
    # the only exchange allowed is the broadcast of the 1-row bank
    assert not re.search(r"Exchange (hash|range|SinglePartition)", plan)
    # the full query keeps windows only on bounded frames (probe
    # ranking over n_queries×nlist rows, final per-query top-k)
    full = _final_plan(spark, queries["ann_topk_ivf"](spark, SF_DIR))
    assert "CartesianProduct" not in full


def test_embedding_near_dup_pairs_only_ints_in_nested_loop(spark, queries):
    # The quadratic pair generation must stay id-only; the vectors attach
    # via broadcast hash joins above it (see functions/similarity.py).
    plan = _final_plan(spark, queries["embedding_near_dup"](spark, SF_DIR))
    nl = re.search(
        r"BroadcastNestedLoopJoin[\s\S]*?Output \[\d+\]: \[([^\]]*)\]", plan
    )
    if nl:  # output of the NL join itself must be narrow (ids, no arrays)
        assert "array" not in nl.group(1).lower()
    assert plan.count("BroadcastHashJoin") >= 2


def test_asof_join_is_merge_shaped_single_window(spark, queries):
    # the as-of join must be the union+window merge plan: one window
    # sort, NO join of left rows against right-history rows (which
    # would appear as a SortMergeJoin/ShuffledHashJoin on the key)
    plan = _final_plan(spark, queries["asof_order_events"](spark, SF_DIR))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_contamination_heldout_side_broadcasts(spark, queries):
    # the held-out shingle vocabulary is the small side and must
    # broadcast; training shingles must never cross-join
    plan = _final_plan(spark, queries["contamination_check"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_filter_reaches_scan(spark, queries):
    # the arithmetic-hash predicate is deterministic in scan columns, so
    # the filter must run map-side (no shuffle before the filter); the
    # scan reads only (doc_id, lang)
    plan = _final_plan(spark, queries["stratified_sample"](spark, SF_DIR))
    widths = [
        len(s.split(",")) for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    ]
    assert widths and max(widths) <= 2


def test_funnel_stage_filters_push_to_scan(spark, queries):
    # each funnel stage reads events filtered by event_type at the scan
    plan = _final_plan(spark, queries["event_funnel"](spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("event_type" in p for p in pushed)


def test_quality_filters_is_pure_map_no_exchange(spark, queries):
    # The whole rule suite must be a single map-side projection over the
    # scan: any Exchange would mean a rule accidentally aggregates.
    plan = _final_plan(spark, queries["quality_filters"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "ReadSchema" in plan


def test_passage_dedup_single_shuffle_hashes_only(spark, queries):
    # One explode (windows) + hash aggregate; the shuffle must carry the
    # 64-bit window hash, never the passage text (no concat_ws above the
    # exchange), and there is no pairwise join anywhere.
    plan = _final_plan(spark, queries["passage_dedup"](spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # partial agg below the exchange -> map-side combine on the hash
    assert plan.count("HashAggregate") >= 2


def test_skipgram_pairs_no_self_join(spark, queries):
    # Pair generation is a per-row nested-list expression: the only
    # acceptable plan is explode + agg; a token-table self-join would
    # be quadratic in doc length at corpus scale.
    plan = _final_plan(spark, queries["skipgram_pairs"](spark, SF_DIR))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_events_prune_at_planning_time(spark):
    """A day-bounded read over the day-partitioned layout must carry
    PartitionFilters in the scan and touch only the matching
    partition's files."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_graph_spark.sources.sinks import (
        read_events_day,
        write_events_partitioned,
    )
    from flink_graph_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    path = tempfile.mkdtemp(prefix="fgs_evpart_")
    write_events_partitioned(events, path)
    days = [r["day"] for r in
            spark.read.parquet(path).select("day").distinct().collect()]
    assert len(days) > 1, "fixture must span multiple days for pruning"
    target = sorted(days)[0]
    df = read_events_day(spark, path, str(target))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the pruned scan reads only the selected day's rows
    expected = events.filter(
        F.to_date("ts") == F.lit(str(target))
    ).count()
    assert df.count() == expected


def test_round3b_pair_ops_avoid_all_pairs(spark, queries):
    """Every new pair-producing operator generates candidates from a
    keyed equi-join (bands/shingles/buckets), never a cartesian or
    broadcast nested loop."""
    for name in (
        "simhash_near_dup",
        "ngram_containment_topk",
        "cross_source_overlap",
        "ngram_novelty",
    ):
        plan = _final_plan(spark, queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_vocab_fit_broadcasts_back_to_scan(spark, queries):
    """vocab_coverage: the fitted vocabulary is a TakeOrdered top-k and
    re-attaches to the token stream as a broadcast join — the token
    scan never shuffles on token for the membership check."""
    plan = _final_plan(spark, queries["vocab_coverage"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan



def test_release_local_checkpoint_contract(spark):
    """plans/checkpoints.py: a direct localCheckpoint result is
    released (blocks leave the persistent-RDD census immediately, no
    GC involved); a select() wrapper or plain DataFrame is a False
    no-op — the narrow contract every loop's release calls rely on."""
    from flink_graph_spark.plans.checkpoints import release_local_checkpoint

    sc = spark.sparkContext

    def census() -> int:
        return int(sc._jsc.getPersistentRDDs().size())

    base = census()
    ck = spark.range(50).localCheckpoint(eager=True)
    assert census() == base + 1
    # wrapper: refused (releasing through it would free blocks the
    # wrapper itself still reads)
    assert release_local_checkpoint(ck.select("id")) is False
    assert release_local_checkpoint(spark.range(5)) is False
    assert census() == base + 1
    assert release_local_checkpoint(ck) is True
    assert census() == base


def test_iterate_kernel_contract(spark):
    """operators/iterate.py: the cadence (every ``checkpoint_every``
    supersteps and always the last), the release (only the returned
    checkpoint outlives the call, the initial state included) and the
    convergence count riding the checkpoint job."""
    from pyspark.sql import functions as F

    from flink_graph_spark.operators.iterate import iterate

    sc = spark.sparkContext

    def persisted() -> set[int]:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    def rdd_id(df) -> int:
        return int(df._jdf.queryExecution().analyzed().rdd().id())

    def jobs(group: str) -> int:
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def bump(s, _it):
        return s.select("id", (F.col("x") + 1).alias("x"))

    s0 = spark.range(8).select("id", F.lit(0).alias("x")).localCheckpoint(eager=True)
    out, n, converged = iterate(s0, bump, 0)
    assert (out, n, converged) == (s0, 0, False)

    group = "iterate-cadence"
    seen = []  # jobs finished when each superstep starts, then at exit

    def counted_bump(s, it):
        seen.append(jobs(group))
        return bump(s, it)

    before = persisted()
    sc.setJobGroup(group, group)
    try:
        s0 = spark.range(8).select("id", F.lit(0).alias("x")).localCheckpoint(eager=False)
        out, n, converged = iterate(s0, counted_bump, 3, checkpoint_every=2)
        seen.append(jobs(group))
    finally:
        sc.setJobGroup("", "")
    # checkpoint jobs at supersteps 2 and 3, none at 1
    assert seen == [0, 0, 1, 2]
    assert (n, converged) == (3, False)
    assert [r["x"] for r in out.collect()] == [3] * 8
    assert persisted() - before == {rdd_id(out)}

    group = "iterate-converge"

    def saturate(s, _it):
        return s.select(
            "id", F.least(F.col("x") + 1, F.lit(3)).alias("x"), F.col("x").alias("__old")
        )

    s0 = spark.range(8).select("id", F.lit(0).alias("x")).localCheckpoint(eager=True)
    sc.setJobGroup(group, group)
    try:
        out, n, converged = iterate(
            s0, saturate, 10, changed=F.col("x") != F.col("__old")
        )
        n_jobs = jobs(group)
    finally:
        sc.setJobGroup("", "")
    # x reaches 3 at superstep 3; superstep 4 changes nothing
    assert (n, converged) == (4, True)
    assert n_jobs == 4  # one checkpoint job per superstep, no count job


def test_cadence_table_names_every_checkpointing_loop():
    """Every function in the package whose for/while loop body calls
    ``.localCheckpoint`` is either the ``iterate`` kernel or a row of its
    cadence table, so a new hand-rolled loop cannot go unlisted. Nested
    functions are scanned on their own: a ``step`` closure handed to the
    kernel is not a loop of its enclosing function. A table row names a
    function in its first column (``module.name`` counts as ``name``)."""
    import ast
    import pathlib

    import flink_graph_spark
    import flink_graph_spark.operators.iterate as it_mod

    def own_nodes(node):
        stack = list(ast.iter_child_nodes(node))
        while stack:
            n = stack.pop()
            if isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)
            ):
                continue
            yield n
            stack.extend(ast.iter_child_nodes(n))

    def checkpoints_in_loop(fn) -> bool:
        return any(
            isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == "localCheckpoint"
            for loop in own_nodes(fn)
            if isinstance(loop, (ast.For, ast.While))
            for c in own_nodes(loop)
        )

    root = pathlib.Path(flink_graph_spark.__file__).parent
    looping = {
        f"{path.relative_to(root)}::{fn.name}"
        for path in root.rglob("*.py")
        for fn in ast.walk(ast.parse(path.read_text()))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and checkpoints_in_loop(fn)
    }
    assert "operators/iterate.py::iterate" in looping
    lines = it_mod.__doc__.splitlines()
    rules = [i for i, ln in enumerate(lines) if ln.startswith("=====")]
    width = len(lines[rules[0]].split(" ")[0])
    table = {"iterate"} | {
        name.rsplit(".", 1)[-1]
        for ln in lines[rules[1] + 1:rules[-1]]
        for name in re.findall(r"``([\w.]+)``", ln[:width])
    }
    missing = sorted(f for f in looping if f.split("::")[1] not in table)
    assert not missing, f"loops missing from the iterate.py cadence table: {missing}"


@pytest.mark.parametrize(
    "op, kept",
    [
        ("principal_direction", 1),
        ("feature_propagation", 1),
        ("kmeans_clusters", 1),
        ("pq_codes", 1),
        ("kmeans_centroids", 1),
        ("bpe_compression", 1),
        ("bpe_merges", 3),
    ],
)
def test_functions_loops_keep_only_result_checkpoints(spark, op, kept):
    """The driver loops of ``functions/`` run on ``iterate``: once the
    result is collected, the persistent RDDs gained are only the
    checkpoints the result reads — the final state (or, for
    ``bpe_merges``, one best-pair checkpoint per round)."""
    from conftest import SF_DIR

    from flink_graph_spark.functions import bpe as bpe_mod
    from flink_graph_spark.functions import similarity as sim_mod
    from flink_graph_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents").limit(100)
    run = {
        "principal_direction": lambda: sim_mod.principal_direction(emb),
        "feature_propagation": lambda: sim_mod.feature_propagation(emb),
        "kmeans_clusters": lambda: sim_mod.kmeans_clusters(emb),
        "pq_codes": lambda: sim_mod.pq_codes(emb),
        "kmeans_centroids": lambda: sim_mod.kmeans_centroids(
            sim_mod.with_norm(emb), nlist=8, iters=3
        ),
        "bpe_compression": lambda: bpe_mod.bpe_compression(docs),
        "bpe_merges": lambda: bpe_mod.bpe_merges(docs, rounds=3),
    }[op]
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = set(jmap().keySet().toArray())
    run().collect()
    gained = set(jmap().keySet().toArray()) - before
    assert len(gained) == kept
    for rid in gained:
        jmap().get(rid).unpersist(False)


def test_drain_engage_predicate():
    """plans/checkpoints.py drain_shuffle_scratch: the r9 engage
    contract. SWEEP_r08 measured the old engage-on-free-space-alone
    predicate burning 180s+ inside a timed window (adamic_adar_pc p10
    pass 1: 233.0s vs 41.4s) when a PRIOR query left the disk low with
    nothing drainable — the drain must now prove drainability (first
    GC pass frees >= 1 GiB within the 15s probe) before committing to
    the wait loop. Exercised entirely through the test seams: no real
    disk, clock, or py4j session."""
    from flink_graph_spark.plans import checkpoints as cp

    gb = 1 << 30
    floor_gb = 40.0

    class _Spy:
        def __init__(self, frees):
            self.frees = list(frees)
            self.slept = 0.0
            self.gc_calls = 0

        def free(self):
            # hold the last value once the script runs out
            return self.frees.pop(0) if len(self.frees) > 1 else self.frees[0]

        def sleep(self, s):
            self.slept += s

        def jvm_gc(self):
            self.gc_calls += 1
            return True

    def run(frees):
        spy = _Spy([f * gb for f in frees])
        ok = cp.drain_shuffle_scratch(
            spark=None, min_free_gb=floor_gb, timeout_s=180,
            _free=spy.free, _sleep=spy.sleep, _jvm_gc=spy.jvm_gc,
        )
        return ok, spy

    # above the floor: no engage, no GC, no sleep
    ok, spy = run([50])
    assert ok is True and spy.gc_calls == 0 and spy.slept == 0

    # below the floor but NOTHING drains (pre-existing deficit): bail
    # within the evidence-probe window — a false engage costs ~15s, not
    # the 180s timeout
    ok, spy = run([10, 10, 10, 10, 10, 10, 10])
    assert ok is False
    assert spy.slept <= cp.DRAIN_PROBE_S

    # drainable: first GC pass frees 2 GiB inside the probe, then the
    # wait loop rides the drain up past the floor
    ok, spy = run([10, 12, 20, 30, 41])
    assert ok is True

    # evidence then stall: drains 2 GiB, never reaches the floor, and
    # progress stops — bail after 3 stalled ticks, far below timeout_s
    ok, spy = run([10, 12, 12.1, 12.2, 12.3, 12.3])
    assert ok is False
    assert spy.slept < 60


def test_spark_scratch_dir_sources(monkeypatch):
    """spark_scratch_dir reads SPARK_LOCAL_DIRS first, then
    spark.local.dir, then falls back to /tmp — the disk gates must
    watch the mount Spark actually spills to (ADVICE r8)."""
    from flink_graph_spark.plans.checkpoints import spark_scratch_dir

    class _Conf:
        def __init__(self, val):
            self.val = val

        def get(self, key, default=None):
            return self.val if self.val is not None else default

    class _Spark:
        def __init__(self, val):
            self.conf = _Conf(val)

    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    assert spark_scratch_dir(_Spark(None)) == "/tmp"
    # conf pointing at a real dir wins over the default; a first entry
    # of a comma list is taken; a nonexistent dir falls back to /tmp
    assert spark_scratch_dir(_Spark("/var/tmp,/tmp")) == "/var/tmp"
    assert spark_scratch_dir(_Spark("/nonexistent_scratch_xyz")) == "/tmp"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/var/tmp")
    assert spark_scratch_dir(_Spark("/tmp")) == "/var/tmp"


def test_triangle_family_skips_dedup_on_guaranteed_graphs(spark):
    """Builder graphs carry distinct_edges=True, so the wedge machinery
    must NOT pay the defensive dedup (a full edge shuffle recomputed per
    plan leg — the r4 fix that recovered triangle_count_pc from 22s to
    8.8s at sf0.1). Asserted on the pre-checkpoint plan layer (the final
    plan is localCheckpoint-truncated, so it can never show the dedup),
    with the regex self-validated against the unguaranteed path."""
    from pyspark.sql import functions as F

    from flink_graph_spark.graph import Graph
    from flink_graph_spark.library.triangles import (
        _distinct_edges,
        _oriented_edges,
        triangle_count,
    )
    from flink_graph_spark.sources.graphs import part_copurchase_graph

    def fmt(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    dedup_agg = r"Keys \[2\]: \[src[^\n]*dst[^\n]*\]\nFunctions: \[\]"

    g = part_copurchase_graph(spark, SF_DIR)
    assert g.distinct_edges
    # the guarantee survives distinctness-preserving derivations
    assert g.reverse().distinct_edges
    assert g.filter_on_edges(F.col("value") > 0).distinct_edges
    assert g.subgraph(F.lit(True), F.lit(True)).distinct_edges
    # guaranteed path: _distinct_edges is a no-op and the oriented-edge
    # plan (what feeds the wedge checkpoint) carries no dedup aggregate
    e = g.edges.select("src", "dst")
    assert _distinct_edges(e, True) is e
    plan = fmt(_oriented_edges(e))
    assert not re.search(dedup_agg, plan), "guaranteed graph still dedups"

    # unguaranteed path: dedup present (self-validates the regex), and
    # results agree with the clean graph
    dup_e = e.unionByName(e)
    plan_dup = fmt(dup_e.distinct())
    assert re.search(dedup_agg, plan_dup), "regex no longer matches a distinct"
    dup = Graph.from_edges(dup_e.withColumn("value", F.lit(1)))
    assert not dup.distinct_edges
    assert triangle_count(dup).collect()[0][0] == triangle_count(g).collect()[0][0]


def test_zipf_rank_window_is_partitioned_not_global(spark):
    """rank_desc_scale_safe must keep the data-sized row_number window
    partitioned by the tie-group (a global ORDER BY window funnels the
    whole vocabulary/degree table through ONE partition — WindowExec
    even warns about it); the only unpartitioned window may run over
    the count-of-counts histogram, which is orders of magnitude
    smaller. Values must stay bit-identical to the naive global rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_graph_spark.functions.text import rank_desc_scale_safe

    df = (
        spark.range(500)
        .select(
            F.col("id").alias("term"),
            (F.col("id") % 13).cast("long").alias("c"),
        )
    )
    ranked = rank_desc_scale_safe(df, "c", "term")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # every row_number window carries a partition spec (3 bracket
    # groups: functions, PARTITION keys, ORDER keys)
    for m in re.finditer(r"Window \[row_number\(\)[^\n]*", plan):
        assert re.search(r"\], \[\w+#\d+L?\], \[", m.group(0)), m.group(0)
    # the histogram side broadcasts back to the data side
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    naive = df.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.desc("c"), F.asc("term"))),
    )
    got = {(row.term, row.r) for row in ranked.collect()}
    want = {(row.term, row.r) for row in naive.collect()}
    assert got == want


def test_cached_repartition_coalesces_at_small_scale(spark):
    """r9 (guide §2.2/§2.4): the builders persist
    ``edges.repartition("src")`` — with Spark's default
    ``canChangeCachedPlanOutputPartitioning=false`` that cache pinned
    the AQE initialPartitionNum (256) at EVERY scale, so each
    downstream stage over it (every Pregel superstep's message join)
    ran 256 near-empty tasks at bench scale. The session now enables
    cached-plan AQE re-planning plus a 256k coalesce floor; a tiny
    persisted repartition("src") frame must materialize at far fewer
    partitions than initialPartitionNum (scale-adaptive: big caches
    exceed the advisory size and keep their full hash fan-out)."""
    from pyspark.sql import functions as F

    # conf reads carry defaults and values are PARSED, not compared as
    # literals (ADVICE r9): a foreign session tuned with equivalent
    # spellings ('262144' for '256k') must fail the assertion with a
    # clear message — or pass — rather than error on the conf get.
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "false",
        ).lower()
        == "true"
    )
    floor = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"
    ).lower()
    assert floor in ("256k", "262144", "256kb"), floor
    initial = int(
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            spark.conf.get("spark.sql.shuffle.partitions", "200"),
        )
    )
    df = (
        spark.range(1000)
        .select(
            (F.col("id") % 97).alias("src"),
            (F.col("id") % 89).alias("dst"),
        )
        .repartition("src")
        .persist()
    )
    try:
        df.count()  # materialize the cache
        n = df.rdd.getNumPartitions()
        assert n < initial / 4, (
            f"tiny cached repartition('src') frame materialized at {n} "
            f"partitions (initialPartitionNum={initial}) — cached-plan "
            "AQE coalescing is not engaging"
        )
    finally:
        df.unpersist()


def test_mode_agg_loops_single_exchange_spine(spark, monkeypatch):
    """r10 (guide §2.4): the two-level mode/argmax loops (LPA, label
    spreading, community detection) hash the raw message stream by
    ``id`` ONCE per superstep; hash(id) satisfies the clustering
    requirement of groupBy(id,label), of groupBy(id) AND of the update
    join, so both aggregates and the join must plan with NO further
    Exchange. The r9 shape paid a second full exchange between the
    aggregates — and community detection additionally shuffled the whole edge×state
    triplet by dst (a second edge-sized exchange per superstep), now
    replaced by a loop-scoped persisted symmetrized edge table.
    Checkpoints are patched to identity so the superstep plan stays
    visible to explain()."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    import flink_graph_spark.library.community as cmod
    import flink_graph_spark.library.label_propagation as lmod
    import flink_graph_spark.operators.iterate as imod
    from flink_graph_spark.graph import Graph

    monkeypatch.setattr(
        CDF, "localCheckpoint", lambda self, eager=True: self
    )
    monkeypatch.setattr(imod, "release_local_checkpoint", lambda df: None)

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (1, 3, 1)], "src long, dst long, value long"
    )
    g = Graph.from_edges(e)

    def fmt(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    comm = fmt(cmod.community_detection(g, max_iter=1))
    lpa = fmt(
        lmod.label_propagation(
            Graph(g.vertices.selectExpr("id", "id AS value"), e), max_iter=1
        )
    )
    spread = fmt(
        lmod.label_spread(
            Graph(g.vertices.selectExpr("id", "id AS value", "id = 1 AS seed"), e),
            max_iter=1,
        )
    )
    import re

    spine = re.compile(
        r"HashAggregate \(\d+\)\n\s*[:+]?\s*\+- HashAggregate \(\d+\)\n"
        r"\s*[:+]?\s*\+- Exchange \(\d+\)"
    )
    for name, plan in (("community", comm), ("lpa", lpa), ("spread", spread)):
        # the two-level aggregate sits DIRECTLY on one exchange
        assert spine.search(plan), f"{name}: agg spine re-shuffled:\n{plan}"
    # whole-superstep exchange budget (tiny ad-hoc graph, includes the
    # vertex derivation and the loop-scoped symmetrized-edge shuffle):
    # 4 each, measured at the r10 restructure. A regression that
    # re-introduces the dst-side triplet shuffle or the inter-agg
    # exchange pushes these up.
    assert comm.count("Exchange (") <= 4, comm
    assert lpa.count("Exchange (") <= 4, lpa
    assert spread.count("Exchange (") <= 4, spread
