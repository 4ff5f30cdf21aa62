"""Parquet table loaders for the driver-provided TPC-H-ish testdata.

The reference has no storage format of its own (I/O = whatever DataSet
sources are used, CSV in examples — SURVEY.md §1.3); the new engine reads
columnar Parquet so Catalyst gets pushdown + pruning for free.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Parquet schema inference costs one Spark job per read. ``load_table``
# infers each table once and hands the StructType back to
# ``spark.read.schema`` afterwards; ``table_rows`` keeps the raw row
# count the same way. Both memos hold metadata only (never a DataFrame)
# and live for the Python process: an entry is keyed on the table path
# and checked against the table's current file listing, so a rewritten
# table is inferred and counted afresh. The schema memo assumes the one
# session conf inference depends on here, nanosAsLong, is what
# ``_read`` sets; nothing in the program sets the other parquet
# inference confs.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
_ROWS: dict[str, tuple[tuple, int]] = {}


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """Every file under ``path`` as (path, length, modification time),
    listed by Hadoop's FileSystem (so hdfs:// and s3a:// tables work
    too); None when the path cannot be listed, and the caller's read
    then raises Spark's own error. Costs a few py4j calls per file."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        it = fs.listFiles(root, True)
        files = []
        while it.hasNext():
            st = it.next()
            files.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    except Py4JJavaError:
        return None
    return tuple(sorted(files))


def _read(
    spark: SparkSession, path: str, name: str, listing: tuple | None
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == listing:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if listing is not None:
            _SCHEMAS[path] = (listing, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long nanos (legacy.parquet.nanosAsLong);
        # truncate to micros exactly like DuckDB's ns→us read of the same
        # file, and keep it NTZ to match the other tables' timestamps.
        df = df.withColumn(
            "ts",
            F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The raw table, lazily; its schema is inferred once per version of
    the table's files (see ``_SCHEMAS``), so a repeat read runs no job."""
    path = f"{sf_dir}/{name}.parquet"
    return _read(spark, path, name, _listing(spark, path))


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """The raw table's row count, counted once per version of the
    table's files (see ``_ROWS``). For operators that size themselves
    from the raw table (the ANN Hamming cut, the IVF list count)."""
    path = f"{sf_dir}/{name}.parquet"
    listing = _listing(spark, path)
    hit = _ROWS.get(path)
    if hit is not None and hit[0] == listing:
        return hit[1]
    n = _read(spark, path, name, listing).count()
    if listing is not None:
        _ROWS[path] = (listing, n)
    return n


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
