"""Graph sinks.

Reference sinks are ``writeAsCsv(path)`` / ``print()`` on result DataSets
(test/example drivers, SURVEY.md §2.1). The engine's sinks are Parquet
(columnar, pushdown-friendly on re-read) and a bucketed edge table;
``spark.read.parquet`` reads the first back, and a CSV writer is one
``df.write.csv`` call, so none is wrapped here. No ``print``-style
driver collect — the driver contract returns DataFrames.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..graph import Graph


def write_graph_parquet(graph: Graph, path: str) -> None:
    """vertices/ and edges/ as Parquet. Edges are written bucketed-style
    (repartitioned by src) so a re-read starts co-located for the
    src-keyed joins every neighborhood op and Pregel superstep performs.
    """
    graph.vertices.write.mode("overwrite").parquet(f"{path}/vertices")
    graph.edges.repartition("src").write.mode("overwrite").parquet(f"{path}/edges")


def write_edges_bucketed(
    graph: Graph, table: str, buckets: int = 32, path: str | None = None
) -> None:
    """Persist the edge table BUCKETED by src (Hive-style bucketing via
    ``bucketBy`` + ``saveAsTable`` — plain ``.parquet(path)`` cannot
    carry bucket metadata). This is the 100 TB storage posture for a
    graph at rest: two tables bucketed the same way (same column, same
    bucket count) join/aggregate WITHOUT ANY EXCHANGE — every Pregel
    superstep's message join and every src-keyed degree agg starts
    pre-partitioned straight off disk, superstep after superstep, job
    after job, which a transient ``repartition()`` cannot provide
    across sessions. Verified by plan test (no Exchange in a
    bucketed-bucketed self-join).
    """
    w = (
        graph.edges.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "src")
        .sortBy("src")
    )
    if path is not None:
        # external table at an explicit location — callers that must not
        # write into the session's warehouse dir (whose default is
        # cwd-relative) pass a scratch path
        w = w.option("path", path)
    w.saveAsTable(table)


def read_edges_bucketed(spark: SparkSession, table: str):
    """Read a bucketed edge table back (bucket metadata flows from the
    catalog; requires ``spark.sql.sources.bucketing.enabled``, on by
    default)."""
    return spark.table(table)
