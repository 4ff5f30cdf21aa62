"""Closed-loop benchmark of the spark-graft query registry.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[<cores>]`` and one client: each query is called through
``__spark_entry__.queries()[name](spark, sf_dir)`` and forced with the
``noop`` sink only after the previous one finished. The seed fixes the
query order of every pass; the generated tables are the same every run.

A run sets up several times, checks every query's output against its
DuckDB oracle once, then times whole passes over the workload's queries
for ``--seconds``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports per-layer counters read from Spark's status store,
one job group per query call. The last line of standard output is one
JSON object; the line before it is a report for people. See README.md
next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUP_REPEATS = 3
# The tables are the same for every run, like the repository's fixed
# testdata; the run's seed draws the query order of each pass.
DATA_SEED = 0
# multiplier of the sf0.001 row counts (see datagen.py)
DATA_SCALE = 3
MB = 1024 * 1024

# Counts that repeat exactly on every pass, plus the set-up wall time.
# Pass wall time is a per-layer metric: on a shared box it swings by up
# to 2x between minutes (see README.md).
END_TO_END = {
    "setup_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_mb": "MB",
    "success_rate": "ratio",
}
PER_LAYER = {
    "plans.session.launch_s": "s",
    "plans.session.start_s": "s",
    "sources.tables.scan_s": "s",
    "sources.tables.input_mb": "MB",
    "setup.prepare_s": "s",
    "setup.cached_mb": "MB",
    "warmup.first_pass_s": "s",
    "storage.peak_mb": "MB",
    "pass.wall_s": "s",
    "query.wall_s": "s",
    "query.gap_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.skipped_stages": "count",
    "query.tasks": "count",
    "query.task_s": "s",
    "query.cpu_s": "s",
    "query.shuffle_read_mb": "MB",
    "query.shuffle_write_mb": "MB",
    "query.spill_mb": "MB",
    "query.failed_tasks": "count",
    "query.stage_retries": "count",
    "trace.overhead_ratio": "ratio",
}
# per-query counters the report breaks out as <family>.<query>.<name>
PER_QUERY = ("wall_s", "jobs", "task_s", "gap_s")


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def box() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    import pyspark

    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def pin_environment(info: dict) -> None:
    """Size the session to the machine it runs on and keep every file it
    writes inside the checkout. Must run before the JVM starts."""
    heap_mb = min(2048, info["ram_mb"] // 4)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(info["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        # the status store must keep every job and stage of the run, or
        # per-pass counters silently lose the oldest ones
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    info["driver_heap_mb"] = heap_mb


class Counters:
    """Reads Spark's in-process status store (the UI stays disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        jvm = self.sc._jvm
        self._no_statuses = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def storage_bytes(self) -> int:
        """Cached plus checkpointed block bytes, memory and disk."""
        return sum(
            i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()
        )

    def group(self, group: str) -> tuple[int, list[dict]]:
        """(job count, one dict per stage attempt) of a job group, after
        the listener has applied every event posted so far."""
        self.jsc.listenerBus().waitUntilEmpty()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        seen: set[int] = set()
        out = []
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            for sid in (ids.apply(i) for i in range(ids.size())):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(
                    sid, False, self._no_statuses, False, self._no_quantiles
                )
                out.extend(_stage(attempts.apply(k)) for k in range(attempts.size()))
        return len(job_ids), out


def _stage(s) -> dict:
    sub, done = s.submissionTime(), s.completionTime()
    return {
        "skipped": s.status().toString() == "SKIPPED",
        "attempt": s.attemptId(),
        "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
        "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
        "tasks": s.numTasks(),
        "failed_tasks": s.numFailedTasks(),
        "run_ms": s.executorRunTime(),
        "cpu_ns": s.executorCpuTime(),
        "input": s.inputBytes(),
        "shuffle_read": s.shuffleReadBytes(),
        "shuffle_write": s.shuffleWriteBytes(),
        "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
    }


def busy_seconds(stages: list[dict], t0: float, t1: float) -> float:
    """Length of the part of [t0, t1] covered by at least one stage."""
    spans = sorted(
        (max(s["start"], t0), min(s["end"], t1))
        for s in stages
        if s["start"] is not None and s["end"] is not None
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def layer_counters(jobs: int, stages: list[dict], wall: float, t0: float) -> dict:
    ran = [s for s in stages if not s["skipped"]]
    return {
        "wall_s": wall,
        "gap_s": max(0.0, wall - busy_seconds(ran, t0, t0 + wall)),
        "jobs": jobs,
        "stages": len(ran),
        "skipped_stages": len(stages) - len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "task_s": sum(s["run_ms"] for s in ran) / 1000.0,
        "cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in ran) / MB,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in ran) / MB,
        "spill_mb": sum(s["spill"] for s in ran) / MB,
        "failed_tasks": sum(s["failed_tasks"] for s in ran),
        "stage_retries": sum(1 for s in ran if s["attempt"] > 0),
    }


class Bench:
    def __init__(self, args: argparse.Namespace, workload, sf_dir: str):
        self.w = workload
        self.sf_dir = sf_dir
        self.rng = random.Random(args.seed)
        self.spark = None
        self.counters: Counters | None = None
        self.java = ""
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.recall: dict[str, float] = {}

    def note(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def _fail(self, name: str, what: str, detail: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {what}")
        print(f"# {name}: {what}\n{detail}", file=sys.stderr)

    def _shuffled(self) -> list[str]:
        order = list(self.w.queries)
        self.rng.shuffle(order)
        return order

    # -- set-up ------------------------------------------------------

    def setup_once(self) -> float:
        """Start a fresh Spark session, scan the workload's tables and
        fill its write side (graph builder caches, Python workers).
        Returns the wall seconds of all of it."""
        from flink_graph_spark.plans.session import get_spark, tune_session
        from flink_graph_spark.sources import graphs
        from flink_graph_spark.sources.tables import load_table

        first = self.spark is None
        if not first:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = tune_session(get_spark("perfbench"))
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.spark, self.counters = spark, Counters(spark)
        self.java = spark.sparkContext._jvm.System.getProperty("java.runtime.version")
        spark.sparkContext.setJobGroup("setup-scan", "setup-scan")
        for t in self.w.tables:
            load_table(spark, self.sf_dir, t).count()
        t2 = time.perf_counter()
        spark.sparkContext.setJobGroup("setup-prepare", "setup-prepare")
        builders = {
            "cs": graphs.customer_supplier_graph,
            "cs_und": graphs.customer_supplier_undirected_graph,
            "pc": graphs.part_copurchase_graph,
        }
        for name in self.w.graphs:
            g = builders[name](spark, self.sf_dir)
            g.edges.count()
            g.vertices.count()
        if self.w.python_workers:
            n = int(os.environ["SPARK_GRAFT_CPUS"])
            spark.range(0, n, 1, n).mapInPandas(
                lambda it: it, schema="id long"
            ).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        spark.sparkContext.setJobGroup("idle", "idle")
        _, scan = self.counters.group("setup-scan")
        self.note("plans.session.launch_s" if first else "plans.session.start_s", t1 - t0)
        self.note("sources.tables.scan_s", t2 - t1)
        self.note("sources.tables.input_mb", sum(s["input"] for s in scan) / MB)
        self.note("setup.prepare_s", t3 - t2)
        self.note("setup.cached_mb", self.counters.storage_bytes() / MB)
        return t3 - t0

    # -- correctness -------------------------------------------------

    def check_outputs(self) -> None:
        """Run every query once, collected, and compare it with its DuckDB
        oracle by the repository gate's canonical value hash. This is also
        the untimed warm-up pass that fills the program's lazy memos."""
        import duckdb

        import __spark_entry__ as entry
        from datagen import TABLES

        # the gate module puts its own checkout path first on import;
        # the program is already imported from this one
        saved = list(sys.path)
        from tools.check_correctness import canonicalize, value_hash

        sys.path[:] = saved

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        queries, oracles = entry.queries(), entry.oracle_sql()
        outputs = {}
        t_first = 0.0
        for name in self._shuffled():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = queries[name](self.spark, self.sf_dir).toPandas()
            except Exception:
                self._fail(name, "spark error", traceback.format_exc())
                continue
            t_first += time.perf_counter() - t0
            outputs[name] = got
            try:
                g, o = canonicalize(got), canonicalize(con.sql(oracles[name]).df())
                same = list(g.columns) == list(o.columns) and len(g) == len(o)
                if not same or value_hash(g) != value_hash(o):
                    self._fail(name, "oracle mismatch", f"{len(g)} vs {len(o)} rows")
            except Exception:
                self._fail(name, "oracle error", traceback.format_exc())
        self.note("warmup.first_pass_s", t_first)
        if self.w.recall_gates:
            try:
                exact = con.sql(oracles["ann_topk_bruteforce"]).df()
            except duckdb.Error:
                self._fail("ann_topk_bruteforce", "oracle error", traceback.format_exc())
            else:
                self._check_recall(exact, outputs)
        con.close()

    def _check_recall(self, exact, outputs) -> None:
        """recall@10 of each approximate query against the exact top-k
        (the DuckDB twin of ``ann_topk_bruteforce``); a recall under its
        gate counts as a failed check."""
        want = set(zip(exact["query_id"], exact["vec_id"]))
        for name, gate in self.w.recall_gates:
            got = outputs.get(name)
            if got is None:
                continue
            recall = len(want & set(zip(got["query_id"], got["vec_id"]))) / len(want)
            self.recall[name] = recall
            self.attempted += 1
            if recall < gate:
                self._fail(name, "recall below gate", f"{recall:.3f} < {gate}")

    # -- timed passes ------------------------------------------------

    def timed_pass(self, index: int, traced: bool) -> dict:
        """One pass over the workload's queries in a fresh seeded order.
        Only the query calls are timed; counters are read between them.
        A traced pass gives each call its own job group."""
        import __spark_entry__ as entry
        from workloads import FAMILY

        queries = entry.queries()
        sc = self.spark.sparkContext
        group = f"pass-{index}"
        wall, peak, per_query, stages, jobs = 0.0, 0, {}, [], 0
        sc.setJobGroup(group, group)
        for name in self._shuffled():
            layer = f"{FAMILY[name]}.{name}"
            if traced:
                sc.setJobGroup(f"{group}:{layer}", layer)
            self.attempted += 1
            t0 = time.time()
            try:
                queries[name](self.spark, self.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                self._fail(name, "spark error", traceback.format_exc())
                continue
            dt = time.time() - t0
            wall += dt
            peak = max(peak, self.counters.storage_bytes())
            if traced:
                n, st = self.counters.group(f"{group}:{layer}")
                per_query[layer] = layer_counters(n, st, dt, t0)
                jobs, stages = jobs + n, stages + st
        sc.setJobGroup("idle", "idle")
        if not traced:
            jobs, stages = self.counters.group(group)
        ran = [s for s in stages if not s["skipped"]]
        return {
            "traced": traced,
            "pass_s": wall,
            "jobs": jobs,
            "tasks": sum(s["tasks"] for s in ran),
            "shuffle_mb": sum(s["shuffle_write"] for s in ran) / MB,
            "peak_storage_mb": peak / MB,
            "queries": per_query,
        }

    def run_passes(self, seconds: float, trace: bool) -> list[dict]:
        """Whole passes, started until ``seconds`` have elapsed; at least
        two when traced, because a traced run alternates traced and
        untraced passes to report its own overhead."""
        passes: list[dict] = []
        least = 2 if trace else 1
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(passes) < least:
            passes.append(self.timed_pass(len(passes), trace and len(passes) % 2 == 0))
        return passes

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def summary(values: list[float]) -> dict:
    values = sorted(values)
    if len(values) >= 2:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    else:
        q1 = med = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def end_to_end(bench: Bench, setups: list[float], passes: list[dict]) -> dict:
    samples = {"setup_s": setups}
    for key in ("jobs", "tasks", "shuffle_mb"):
        samples[key] = [p[key] for p in passes]
    samples["success_rate"] = [(bench.attempted - bench.failed) / bench.attempted]
    return {k: summary(samples[k]) for k in END_TO_END}


def per_layer(bench: Bench, passes: list[dict]) -> tuple[dict, dict]:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    samples = dict(bench.samples)
    by_query: dict[str, list[dict]] = {}
    for p in traced:
        for layer, c in p["queries"].items():
            by_query.setdefault(layer, []).append(c)
        for k in PER_LAYER:
            if k.startswith("query."):
                field = k.split(".", 1)[1]
                samples.setdefault(k, []).append(
                    sum(c[field] for c in p["queries"].values())
                )
    samples["storage.peak_mb"] = [p["peak_storage_mb"] for p in passes]
    samples["pass.wall_s"] = [p["pass_s"] for p in plain]
    samples["trace.overhead_ratio"] = [
        statistics.median(p["pass_s"] for p in traced)
        / statistics.median(p["pass_s"] for p in plain)
    ]
    queries = {
        f"{layer}.{k}": statistics.median(c[k] for c in cs)
        for layer, cs in sorted(by_query.items())
        for k in PER_QUERY
    }
    return {k: summary(samples[k]) for k in PER_LAYER}, queries


def counter_problems(passes: list[dict]) -> list[str]:
    """Counts that must repeat exactly on every warm pass, traced or not;
    a difference means the status store lost or double-counted work."""
    problems = []
    for key in ("jobs", "tasks", "shuffle_mb"):
        seen = sorted({round(p[key], 6) for p in passes})
        if len(seen) > 1:
            problems.append(f"{key} differs between passes: {seen}")
    return problems


def main(argv: list[str]) -> int:
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "flink_graph_spark"))
    ):
        print(f"no spark-graft program under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    os.chdir(ROOT)

    import datagen
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    info = box()
    pin_environment(info)
    sf_dir = datagen.write_tables(
        os.path.join(WORK, "data", f"seed{DATA_SEED}-x{DATA_SCALE}"),
        DATA_SEED,
        DATA_SCALE,
    )
    bench = Bench(args, workload, sf_dir)
    t0 = time.perf_counter()
    try:
        setups = [bench.setup_once() for _ in range(SETUP_REPEATS)]
        t1 = time.perf_counter()
        bench.check_outputs()
        t2 = time.perf_counter()
        passes = bench.run_passes(args.seconds, bool(args.trace))
        t3 = time.perf_counter()
        print(
            f"# phases: set-up {t1 - t0:.1f} s, output check {t2 - t1:.1f} s, "
            f"passes {t3 - t2:.1f} s",
            file=sys.stderr,
        )
    finally:
        bench.close()
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    problems = counter_problems(passes)
    for p in problems:
        print(f"# counter check: {p}", file=sys.stderr)
    if args.trace:
        stats, queries = per_layer(bench, passes)
        units = PER_LAYER
    else:
        stats, queries = end_to_end(bench, setups, passes), {}
        units = END_TO_END
    info["java"] = bench.java
    report = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "box": info,
        "data": {"sf0.001_x": DATA_SCALE, "dir": os.path.relpath(sf_dir, ROOT)},
        "queries": list(workload.queries),
        "pass_walls": [round(p["pass_s"], 3) for p in passes],
        "pass_s": summary([p["pass_s"] for p in passes if not p["traced"]]),
        "errors": bench.errors,
        "counter_problems": problems,
        "recall": bench.recall,
        "metrics": stats,
        "per_query": queries,
    }
    print(json.dumps({"report": report}))
    result = {
        "correct": bench.failed == 0 and not problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": s["median"], "unit": units[k]} for k, s in stats.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
