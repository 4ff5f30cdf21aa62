"""Reading the adaptive plan a DataFrame ran.

A ``df.write.format("noop")`` run plans and executes a QueryExecution of
its own, so ``df._jdf.queryExecution()`` afterwards still holds the
initial plan (``AdaptiveSparkPlan isFinalPlan=false``), with none of the
join strategies, stage reuse or codegen spans AQE chose at run time.
``run_plan`` executes the DataFrame's own QueryExecution instead, so the
plan it returns is the final one.

A loop's result frame is a projection of its last checkpoint, so its
plan shows none of the supersteps; ``superstep_plans`` records the plan
each loop checkpoint ran.
"""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

from pyspark.sql import DataFrame

_EXCHANGE_STAGES = ("ShuffleQueryStageExec", "BroadcastQueryStageExec")


def run_plan(df: DataFrame):
    """Execute ``df`` (every row computed, none collected) and return its
    ``AdaptiveSparkPlanExec``, now holding the final plan."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan()


def formatted(df: DataFrame) -> str:
    """``explain(mode="formatted")`` text of the final plan, once
    ``run_plan(df)`` has run (see ``_without_initial_plans``)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return _without_initial_plans(df._jdf.queryExecution().explainString(mode))


def _without_initial_plans(text: str) -> str:
    """Formatted explain text without its ``== Initial Plan ==`` subtrees
    and without the node details that only they number: that plan did
    not run, and it would count each of its operators a second time."""
    tree, sep, details = text.partition("\n\n\n")
    kept, dropped, cut = [], [], None
    for line in tree.splitlines():
        indent = re.match(r"[ :|+-]*", line).end()
        if cut is not None and indent > cut:
            dropped.append(line)
            continue
        cut = None
        if line[indent:].startswith("== Initial Plan =="):
            cut = indent - 3  # the column of its "+-"
            dropped.append(line)
        else:
            kept.append(line)
    initial_only = _node_ids(dropped) - _node_ids(kept)
    blocks = [
        block
        for block in details.split("\n\n")
        if not (m := re.match(r"\((\d+)\) ", block)) or m.group(1) not in initial_only
    ]
    return "\n".join(kept) + sep + "\n\n".join(blocks)


def _node_ids(lines: list[str]) -> set[str]:
    return set(re.findall(r"\((\d+)\)", "\n".join(lines)))


def _items(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _node_line(node) -> str:
    """The node's own line of its canonical plan, without codegen stage
    ids and ``plan_id`` tags."""
    line = node.canonicalized().simpleString(1000)
    line = re.sub(r"\s*\[plan_id=\d+\]", "", line)
    return re.sub(r"^WholeStageCodegen \(\d+\)", "WholeStageCodegen", line)


def _key(node, stages: dict) -> str:
    """Canonical text of the subtree under ``node``, with every stage id
    dropped and every cache scan read through the canonical form of its
    ``InMemoryTableScanExec``. Records each exchange stage met on the
    way in ``stages``, keyed by (stage id, key): a reused subquery is
    walked once per use, and subqueries number their stages apart."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _key(node.executedPlan(), stages)
    if cls == "TableCacheQueryStageExec":
        # canonicalizing the scan maps its attributes to ordinals of the
        # relation's output, so two projections that pushed different
        # alias names into the scan still compare equal
        return "TableCacheQueryStage " + node.plan().canonicalized().toString()
    if cls.endswith("QueryStageExec"):
        key = _key(node.plan(), stages)
        if cls in _EXCHANGE_STAGES:
            reused = node.plan().getClass().getSimpleName() == "ReusedExchangeExec"
            stages[(int(node.id()), key)] = (cls, key, reused)
        return key
    if cls == "ReusedExchangeExec":
        return _key(node.child(), stages)
    kids = ", ".join(
        _key(c, stages) for c in _items(node.children()) + _items(node.subqueries())
    )
    return f"{_node_line(node)}({kids})"


def exchange_stages(plan) -> list[tuple[str, str, bool]]:
    """(class name, canonical key, reused?) of every shuffle and
    broadcast query stage in a final adaptive plan, subqueries and
    nested stages included."""
    stages: dict = {}
    _key(plan, stages)
    return list(stages.values())


def duplicate_stages(plan) -> int:
    """Non-reused shuffle and broadcast query stages of a final adaptive
    plan whose canonical plan equals an earlier stage's: exchanges AQE
    ran twice because it could not prove them equal."""
    seen = Counter((cls, key) for cls, key, reused in exchange_stages(plan) if not reused)
    return sum(n - 1 for n in seen.values())


def shuffle_stages(plan) -> int:
    """Shuffle query stages a final adaptive plan ran (reused ones
    excluded)."""
    return sum(
        cls == "ShuffleQueryStageExec" and not reused
        for cls, _, reused in exchange_stages(plan)
    )


@contextmanager
def superstep_plans():
    """Yield a list that collects, while the block runs, the final
    physical plan of every loop checkpoint ``operators.iterate``
    writes: one per checkpointed superstep of ``iterate`` (and so of
    ``pregel``)."""
    from ..operators import iterate as iterate_mod
    from .layout import final_plan

    plans: list = []
    written = iterate_mod.checkpoint

    def record(df, *args, **kwargs):
        out = written(df, *args, **kwargs)
        plans.append(final_plan(df))
        return out

    iterate_mod.checkpoint = record
    try:
        yield plans
    finally:
        iterate_mod.checkpoint = written
