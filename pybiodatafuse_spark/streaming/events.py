"""Structured Streaming: incremental page/event ingest.

The reference has NO streaming (SURVEY.md §2.9) — its only incremental
behavior is pickle-cache resume, which our superstep checkpoints already
cover. This module adds the piece a crawl pipeline genuinely needs at scale:
a streaming ingest that turns newly-arrived pages into edge increments, and a
windowed event aggregation with watermarked late-data handling.

Both jobs are defined against ``readStream`` sources and are exercised in
tests with file-source streams over the deterministic fixture data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import page_links
from pybiodatafuse_spark.schema import PAGES_SCHEMA


def stream_pages(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of page parquet drops (new crawl segments)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(source_dir)


def streaming_edges(pages_stream: DataFrame) -> DataFrame:
    """Incremental link extraction: ``operators.edges.page_links`` over an
    unbounded stream (append mode; per-micro-batch dedup — global dedup
    belongs to the batch compaction job)."""
    return page_links(pages_stream)


def windowed_event_counts(
    events_stream: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late rows beyond
    the watermark are dropped; state is bounded)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_stream_to_parquet(
    df: DataFrame, out_dir: str, checkpoint_dir: str, *, once: bool = True
):
    """Start the stream writing parquet with exactly-once checkpointing."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(
    docs_stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for a document ingest stream: content-hash the
    text and keep the first arrival per hash within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark`` — with plain ``dropDuplicates`` on
    a key subset that EXCLUDES the event-time column, Spark never evicts the
    per-key state (state would grow with every distinct hash ever seen and
    OOM on an unbounded crawl). ``dropDuplicatesWithinWatermark`` dedups on
    the hash alone while evicting a key's state once the watermark passes
    its event time + delay, so state is O(docs per horizon): a recrawl
    *inside* the horizon is dropped; one after eviction re-enters (the batch
    compaction dedup catches those). The streaming face of
    operators/dedup.exact_duplicates — at crawl scale this is the
    ingest-time filter that keeps recrawled pages from re-entering the
    corpus."""
    return (
        docs_stream.withColumn("content_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
