"""Streaming text curation (X4 + X6): the Gopher quality gate applied to
an arriving document stream.

The gate itself is the same narrow projection the batch path uses
(``textanalysis.gopher_quality_flags``) — streaming changes WHERE it
runs (per micro-batch, as documents land), not WHAT it computes, and
the funnel aggregation is a complete-mode streaming groupBy whose state
is one row per reason code (bounded by the rule count, not the stream).
A bounded replay over the staged corpus is therefore byte-equivalent to
the batch funnel, which is what lets the driver hash-check this
streaming query against the same SQL oracle as the batch twin.

At scale the stream source is Kafka/object-store notifications; the
file-source replay here bounds ingest with maxFilesPerTrigger exactly
like the events replay (events_stream.py).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textanalysis as ta

N_FILES = 4

DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def staged_docs_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as ``N_FILES`` parquet files so a
    maxFilesPerTrigger=1 replay yields that many micro-batches. Staged
    once per sf_dir; the batch↔stream equivalence is
    file-assignment-independent (the funnel aggregates over all
    batches)."""
    src = pathlib.Path(sf_dir) / "documents.parquet"
    key = sf_dir.strip("/").replace("/", "_")
    dst = pathlib.Path("/tmp/spark_graft_streams") / f"{key}_docs{N_FILES}"
    marker = dst / "_SUCCESS"
    if not marker.exists() or marker.stat().st_mtime < src.stat().st_mtime:
        (
            spark.read.parquet(str(src))
            .repartition(N_FILES)
            .write.mode("overwrite")
            .parquet(str(dst))
        )
    return str(dst)


def read_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file-source stream of incoming documents."""
    staged = staged_docs_dir(spark, sf_dir)
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


def quality_funnel_stream(docs: DataFrame) -> DataFrame:
    """Per-reason curation funnel over the stream: (reason, n_docs,
    n_words). State = one row per reason code."""
    flags = ta.gopher_quality_flags(docs.select("doc_id", "text"))
    return flags.groupBy(
        F.coalesce(F.col("reason"), F.lit("kept")).alias("reason")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
    )
