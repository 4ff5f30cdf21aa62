"""Streaming document-quality monitoring — the quality-filter suite
(functions.text.quality_filters) applied to a DOCUMENT STREAM, proving
the text operators compose unchanged onto Structured Streaming: every
rule is a stateless map-side column expression, so the only streaming
state is the final per-source aggregate.

At 100 TB-scale ingest this is the live "corpus health" feed: each
micro-batch of crawled docs is scored in-flight (no shuffle before the
agg), and the per-source keep-rate counters are the
bounded-cardinality state Structured Streaming keeps. The batch twin
(`corpus_report` / the quality_filters oracle) is the replayable
ground truth the stream must converge to — which is exactly what the
availableNow oracle check asserts.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import _qf_bound, qf_keep_expr_spark
from .events import FILES_PER_TRIGGER

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _stage_docs_dir(sf_dir: str) -> str:
    """Per-sf staging dir holding a symlink to documents.parquet (the
    file-stream source needs a directory; testdata is read-only)."""
    import hashlib

    stage = os.path.join(
        tempfile.gettempdir(),
        f"fgs_docs_{hashlib.sha1(sf_dir.encode()).hexdigest()[:10]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "documents.parquet"), link)
    return stage


def read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(_stage_docs_dir(sf_dir))
    )


def streaming_quality_by_source(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_keep) — quality-filter keep counters per
    source over the stream; rules evaluated map-side per micro-batch
    (the shared lambda-bound `t`/`tri` projection), state = one row
    per source."""
    keep = F.expr(qf_keep_expr_spark())
    scored = _qf_bound(docs, extra=("source",)).select(
        "source", keep.cast("int").alias("k")
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("k").cast("long").alias("n_keep"),
    )
