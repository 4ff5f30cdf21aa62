"""Label propagation — reference: flink.graphs.library.LabelPropagation
(~100 LoC): each superstep a vertex sends its label to its out-neighbors
and adopts the most frequent incoming label (ties → max label), keeping
its own label when its inbox is empty.

The mode aggregation needs a two-level plan (count per (vertex,label)
then rank) so it doesn't fit the single-agg pregel superstep — it runs
its own superstep on the ``operators.iterate`` kernel, shared with
``label_spread``. Integer counts + deterministic (count DESC, label
DESC) tie-break → exact oracle parity at fixed iteration counts.

For undirected behavior (the common use), pass ``graph.get_undirected()``
— mirroring the reference, which expects a symmetrized input graph.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..graph import Graph, GraphAlgorithm
from ..operators.iterate import iterate

CHECKPOINT_EVERY = 2  # see the cadence table in operators/iterate.py
UNLABELED = -1  # label_spread's label of a vertex no seed has reached yet


def _mode_vote_loop(
    graph: Graph,
    labels: DataFrame,
    max_iter: int,
    update: Column,
    sender_filter: Column | None = None,
) -> DataFrame:
    """The mode-vote loop label_propagation and label_spread share.
    ``labels`` is (id, label, ...). Each superstep, every row passing
    ``sender_filter`` sends its label to its out-neighbors; ``update``,
    a Column over ``label`` and the vote ``new_label`` (NULL for an
    empty inbox), sets the label, and the other columns ride along."""
    # Loop-invariant edges: project, pre-partition by the join key (src)
    # and persist ONCE — every superstep's message join then reuses the
    # cached partitioning and only the small label frame shuffles. A
    # graph whose edges are already persisted (a builder's shared cache)
    # is used as-is; that cache must survive this call.
    lvl = graph.edges.storageLevel
    owns_edge_cache = not (lvl.useMemory or lvl.useDisk)
    edges = graph.edges.select("src", "dst")
    if owns_edge_cache:
        edges = edges.repartition("src").persist()
    rest = [c for c in labels.columns if c not in ("id", "label")]

    def superstep(labels: DataFrame, _it: int) -> DataFrame:
        senders = labels if sender_filter is None else labels.filter(sender_filter)
        # r10 (guide §2.4): ONE exchange per superstep carries the raw
        # message stream hashed by id — hash(id) satisfies the
        # clustering requirement of groupBy(id,label), of groupBy(id)
        # AND of the update join, so the two-level mode aggregation and
        # the join all run exchange-free on top of it. The previous
        # shape paid two full exchanges (partial counts by (id,label),
        # then counts again by id). Regrouping integer counts is exact.
        msgs = (
            edges.join(senders, edges["src"] == senders["id"])
            .select(F.col("dst").alias("id"), "label")
            .repartition("id")
        )
        counts = msgs.groupBy("id", "label").agg(F.count("*").alias("cnt"))
        # mode with (cnt DESC, label DESC) tie-break as a single hash agg
        # (max of (cnt, label) struct) — avoids the sort-based ranking
        # window, one fewer sort per superstep
        picked = counts.groupBy("id").agg(
            F.max(F.struct("cnt", "label"))["label"].alias("new_label")
        )
        return labels.join(picked, "id", "left").select(
            "id", update.alias("label"), *rest
        )

    labels, _, _ = iterate(
        labels.localCheckpoint(eager=True), superstep, max_iter, CHECKPOINT_EVERY
    )
    if owns_edge_cache:
        edges.unpersist()
    return labels


def label_propagation(graph: Graph, max_iter: int = 10) -> DataFrame:
    """Returns (id, label). Initial label = vertex value."""
    return _mode_vote_loop(
        graph,
        graph.vertices.select("id", F.col("value").alias("label")),
        max_iter,
        F.coalesce("new_label", "label"),
    )


def oracle_ctes(
    edges_cte: str, vertices_cte: str, max_iter: int = 10, label_expr: str = "value"
) -> tuple[str, str]:
    ctes = [f"l0 AS MATERIALIZED (SELECT id, {label_expr} AS label FROM {vertices_cte})"]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(p.label, o.label) AS label
  FROM {vertices_cte} v
  JOIN l{i - 1} o ON v.id = o.id
  LEFT JOIN (
    SELECT id, label FROM (
      SELECT id, label,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, label DESC) AS rn
      FROM (
        SELECT e.dst AS id, s.label, COUNT(*) AS cnt
        FROM l{i - 1} s JOIN {edges_cte} e ON s.id = e.src
        GROUP BY 1, 2
      )
    ) WHERE rn = 1
  ) p ON v.id = p.id
)"""
        )
    final = f"SELECT id, label FROM l{max_iter}"
    return ",\n".join(ctes), final


class LabelPropagation(GraphAlgorithm):
    def __init__(self, max_iter: int = 10):
        self.max_iter = max_iter

    def run(self, graph: Graph) -> Graph:
        labels = label_propagation(graph, self.max_iter)
        return Graph(labels.withColumnRenamed("label", "value"), graph.edges)


def label_spread(graph: Graph, max_iter: int = 3) -> DataFrame:
    """Semi-supervised label SPREADING (Zhu & Ghahramani-style, mode
    vote) over vertices (id, value, seed): seed vertices are CLAMPED to
    their label; unlabeled vertices (value = ``UNLABELED``) adopt the
    most frequent label among their LABELED in-neighbors each round
    (ties → max label), keeping ``UNLABELED`` while no labeled neighbor
    exists. The sparse-labels →
    similarity-graph → full-labels pattern used to extend a small
    human-labeled set over a corpus. The ``label_propagation`` superstep
    with a labeled-sender filter (it only shrinks the message frame) and
    the seed clamp."""
    labels = _mode_vote_loop(
        graph,
        graph.vertices.select("id", F.col("value").alias("label"), "seed"),
        max_iter,
        F.when(F.col("seed"), F.col("label")).otherwise(F.coalesce("new_label", "label")),
        sender_filter=F.col("label") != UNLABELED,
    )
    return labels.select("id", "label")


def spread_oracle_ctes(
    edges_cte: str, vertices_cte: str, max_iter: int = 3
) -> tuple[str, str]:
    """(CTE text, final SELECT) — unrolled clamped label spreading."""
    ctes = [
        f"sp0 AS MATERIALIZED (SELECT id, value AS label,"
        f" seed AS seed FROM {vertices_cte})"
    ]
    for i in range(1, max_iter + 1):
        ctes.append(
            f"""sp{i} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN v.seed THEN v.label
              ELSE COALESCE(p.label, v.label) END AS label,
         v.seed
  FROM sp{i - 1} v
  LEFT JOIN (
    SELECT id, label FROM (
      SELECT id, label,
             ROW_NUMBER() OVER (PARTITION BY id
                                ORDER BY cnt DESC, label DESC) AS rn
      FROM (
        SELECT e.dst AS id, s.label, COUNT(*) AS cnt
        FROM sp{i - 1} s JOIN {edges_cte} e ON s.id = e.src
        WHERE s.label <> {UNLABELED}
        GROUP BY 1, 2
      )
    ) WHERE rn = 1
  ) p ON v.id = p.id
)"""
        )
    final = f"SELECT id, label FROM sp{max_iter}"
    return ",\n".join(ctes), final
