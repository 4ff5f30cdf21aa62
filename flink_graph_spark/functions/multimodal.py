"""Multimodal column handling — an opaque ``binary`` payload column with
typed metadata, processed through Arrow-batched ``mapInPandas``
(north-star extension, SURVEY.md §2.10).

The container has no image/audio codecs, so the decode step is a
deterministic fake (``fake_decode``: byte length and the sum of the
first 8 bytes) — but the Spark-side plumbing is real: binary payload
column, metadata struct, mapInPandas batch iterator with a fixed output
schema, partition-preserving flow, and a DuckDB twin that replays the
same byte arithmetic. Swap ``fake_decode`` for a PIL/ffmpeg call on a
real cluster and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, n_bytes long, head_sum long"


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    Here the payload is the utf-8 encoded text (a deterministic stand-in
    for image bytes); in production this column comes straight from the
    lakehouse (parquet BINARY), never through the driver.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.length("text").cast("long").alias("n_chars"),
            F.col("lang").alias("mime_hint"),
        ).alias("meta"),
    )


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic fake decoder: (n_bytes, sum of first 8 byte values).
    Stands in for (width, height)-style metadata extraction."""
    return len(payload), int(sum(payload[:8]))


def extract_features(docs_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    mapInPandas: each batch arrives as a pandas DataFrame; the UDF is
    pure per-row so Spark keeps partitioning intact (no shuffle). This
    is the pattern for any per-row decode at scale.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # NULL text → NULL payload → NULL features (the engine-wide
            # NULL contract: missing input propagates, never fabricates
            # a zero-byte decode)
            feats = pdf["payload"].map(
                lambda p: (None, None) if p is None else fake_decode(p)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": feats.map(lambda t: t[0]).astype("Int64"),
                    "head_sum": feats.map(lambda t: t[1]).astype("Int64"),
                }
            )

    return docs_payload.mapInPandas(batches, FEATURE_SCHEMA)


# DuckDB twin: byte arithmetic on the UTF-8 encoding — head_sum reads
# the first 8 BYTES via hex(encode(text)) two-hex-digit slices, exactly
# matching the Spark side's payload[:8] byte sum (character-based ord()
# would diverge on any non-ASCII text). Even the pandas-UDF path is
# oracle-checked (rare for multimodal plumbing).
MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CASE WHEN text IS NULL THEN NULL ELSE
       CAST(COALESCE(list_aggregate(
           list_transform(
               generate_series(1, least(8, octet_length(encode(text)))),
               i -> CAST(concat('0x', substr(hex(encode(text)), 2*i-1, 2))
                    AS BIGINT)), 'sum'), 0)
            AS BIGINT) END AS head_sum
FROM documents"""
