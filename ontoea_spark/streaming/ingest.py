"""Structured Streaming ingest of the pages table (rebuild surface; the
reference is batch-only — SURVEY.md §2.13).

A crawl is naturally a stream of WARC pages; this module runs the same
extraction expressions as the batch pipeline over ``readStream``, with
event-time windows + watermark on ``warc_ts`` for late pages. The batch
and streaming paths share the *same column expressions* (extract ->
mention regex), so streaming results equal batch results on the same
input — asserted by tests/test_streaming.py via an availableNow run.

Checkpointed streaming sinks compose with the batch checkpoint manager:
a killed stream resumes from its own Spark checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ontoea_spark.pipeline.extract import extract_mentions, extract_pages_text

PAGES_SCHEMA = (
    "url string, warc_ts timestamp_ntz, html binary, text string, lang string"
)


def read_pages_stream(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over a directory of pages parquet files."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_mention_counts(
    pages_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed mention counts per relation with a watermark
    for late pages: the streaming analogue of the batch extraction +
    groupBy (same expressions; append-mode capable)."""
    text = extract_pages_text(pages_stream)
    mentions = extract_mentions(text.select("url", "warc_ts", "text"))
    # watermarks require TIMESTAMP (TZ-aware); the NTZ crawl timestamp is
    # wall-clock UTC by convention and the session TZ is pinned UTC
    mentions = mentions.withColumn("ts", F.col("warc_ts").cast("timestamp"))
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("p"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "p",
            F.col("n").cast("long").alias("n"),
        )
    )


def streaming_distinct_triples(
    pages_stream: DataFrame, watermark: str = "24 hours"
) -> DataFrame:
    """Streaming exact dedup of extracted (s, p, o) triples with BOUNDED
    state: ``dropDuplicatesWithinWatermark`` keeps a key's dedup state
    only until the watermark passes it, so state is O(keys per watermark
    span), never O(all keys ever) — the only dedup contract that
    survives an unbounded crawl stream. A duplicate arriving after its
    original has aged out re-emits (by design); the batch
    ``dedup_exact`` pass downstream remains the global authority.

    Append-mode output DataFrame[s, p, o, ts]."""
    text = extract_pages_text(pages_stream)
    mentions = extract_mentions(text.select("url", "warc_ts", "text"))
    m = mentions.withColumn("ts", F.col("warc_ts").cast("timestamp"))
    return (
        m.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["s", "p", "o"])
        .select("s", "p", "o", "ts")
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    table_name: str,
    output_mode: str = "complete",
) -> None:
    """Drain everything currently available into an in-memory sink
    (test/bootstrap mode); production would writeStream to parquet/Kafka
    with the same checkpointLocation for resume."""
    _available_now(
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode),
        checkpoint_dir,
    )


def _available_now(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` resumable from ``checkpoint_dir`` with an
    availableNow trigger (drain everything currently present, then
    stop) and wait for it to terminate."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
