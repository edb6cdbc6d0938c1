"""Structured Streaming ingestion (SURVEY.md §2.8).

The reference is batch-only — repeated CLI runs over bounded S3
directories (seghouse/app.py:23-27), i.e. manual micro-batching with
at-least-once delivery and eventual dedup via ReplacingMergeTree
(clickhouse.py:85-88). The Spark-native continuous mode: a file-source
stream over the landing directory; foreachBatch hands each raw
micro-batch to ``EventPipeline.ingest_ndjson``, the entry
``ingest_json_dir`` uses, so both modes parse (quarantining corrupt
lines), split and land one way. Idempotency story matches the
reference: at-least-once appends + Q1/Q2 dedup views at read
(exactly-once would need a transactional sink — documented, not
required for parity).

Late data: the reference has no watermarking — late events simply land
in the date partition of their embedded timestamp (clickhouse.py:86).
The file-source + foreachBatch design reproduces that naturally (the
partition column comes from the event's own timestamp). Watermarked
stateful aggregation is available as a capability *addition* via
``windowed_counts``.

Scale: the pipeline inside foreachBatch is all Column expressions, so
each micro-batch scales exactly like the batch path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import EventPipeline, IngestResult
from ..sources.readers import CORRUPT_COL, NDJSON_OPTIONS, read_ndjson


def infer_event_schema(spark: SparkSession, path: str) -> T.StructType:
    """File-source streams need a fixed schema; infer it from the
    existing landing files (batch read — runs once at stream start).
    New columns appearing later land in micro-batches as nulls until
    the stream is restarted — the streaming analog of the reference's
    per-batch additive evolution (SURVEY §7.3 Hard-1). The schema
    always carries ``_corrupt_record``, so every micro-batch keeps its
    malformed lines whole there for quarantine."""
    schema = read_ndjson(spark, path).schema
    if CORRUPT_COL not in schema.fieldNames():
        schema.add(CORRUPT_COL, T.StringType())
    return schema


def stream_events(
    spark: SparkSession,
    path: str,
    pipeline: EventPipeline,
    sink: Callable[[IngestResult, int], None],
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """readStream(json dir) -> foreachBatch(batch pipeline -> sink).

    ``sink(result, batch_id)`` receives the fully processed
    IngestResult per micro-batch; pass e.g. a closure writing each
    table through a Warehouse (``app.store_result``).
    """
    schema = infer_event_schema(spark, path)
    stream = spark.readStream.schema(schema).options(**NDJSON_OPTIONS).json(path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        result = pipeline.ingest_ndjson(batch_df)
        try:
            sink(result, batch_id)
        finally:
            # each micro-batch caches its scans; release them or a
            # long-running stream accumulates dead cached batches
            result.unpersist()

    writer = stream.writeStream.foreachBatch(process_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def windowed_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
    key_col: str = "event",
) -> DataFrame:
    """Capability addition (no reference equivalent): watermarked
    sliding-window counts over a streaming DataFrame — bounded state,
    late rows beyond the watermark dropped."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )
