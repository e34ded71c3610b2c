"""Structured-Streaming shape of the pipeline (SURVEY.md §2.7).

The reference has no incremental machinery; the north rule's requirement is
*resumability*, which the batch path satisfies with file-group lineage
(pipeline/lineage.py). This module provides the complementary
Structured-Streaming form for continuously-arriving pages:

* ``stream_extract`` — file-source stream over a pages directory →
  the same Arrow-batched extraction kernel → parquet sink with a
  checkpoint; ``Trigger.AvailableNow`` drains what exists and stops, and
  the checkpoint makes re-runs process only NEW files (exactly-once per
  file — the streaming twin of the lineage anti-join).
* ``stream_events_windowed`` — watermarked tumbling-window aggregation
  over an event stream (the standard late-data-tolerant windowed agg; its
  batch twin is the oracle-checked ``events_hourly`` query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_ibm_models_spark import schemas
from docling_ibm_models_spark.pipeline.extract import (
    _extract_batches,
)


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """pages parquet dir (streaming file source) → doc_text parquet sink.

    Returns the finished StreamingQuery. AvailableNow + checkpoint =
    incremental batch: each invocation processes only files not yet
    committed to the checkpoint's file log."""
    pages = spark.readStream.schema(schemas.PAGES).parquet(pages_dir)
    return _run_extract_stream(pages, out_dir, checkpoint_dir, await_termination)


def stream_extract_warc(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """Continuous crawl ingestion: WARC archives land in a directory, the
    stream parses and extracts each exactly once.

    ``binaryFile`` is a streaming-capable file source with a fixed
    provided schema, so the checkpoint's file log gives exactly-once *per
    archive* — the unit CC pipelines actually ingest by. The plan is the
    batch plan verbatim (binaryFile scan → parse → extraction kernel);
    AvailableNow + checkpoint = incremental batch over newly landed
    archives, the streaming twin of run_extraction(input_format='warc')'s
    lineage anti-join."""
    from docling_ibm_models_spark.sources.warc_source import (
        PAGES_FROM_WARC_SCHEMA,
        _parse_archive_batches,
    )

    # binaryFile's schema is fixed by the source, but streaming file
    # sources require it stated explicitly
    archives = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(warc_dir)
    )
    pages = archives.select("path", "content").mapInPandas(
        _parse_archive_batches, PAGES_FROM_WARC_SCHEMA
    )
    return _run_extract_stream(pages, out_dir, checkpoint_dir, await_termination)


def _run_extract_stream(
    pages: DataFrame, out_dir: str, checkpoint_dir: str, await_termination: bool
):
    """Shared tail of every extraction stream: kernel -> parquet sink with
    checkpoint, AvailableNow drain. One definition so the parquet and WARC
    on-ramps can never diverge in sink semantics."""
    extracted = (
        pages.withColumn("partition_id", F.lit(0))
        .select("url", "lang", "html", "partition_id")
        .mapInPandas(_extract_batches, schema=schemas.DOC_TEXT)
    )
    q = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_events_windowed(events_stream: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event_type (late data up to
    2 hours folded in; older dropped)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_pages(pages_stream: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming exact dedup for continuously-crawled pages: content hash
    (md5 of canonicalized text — same key as the batch ``dedup_exact``
    query) deduplicated with ``dropDuplicatesWithinWatermark``, so state is
    EVICTED once the watermark passes (bounded state at 10^12-doc scale —
    a plain dropDuplicates would hold every key forever). Re-crawls of the
    same content inside the watermark horizon emit once; the batch twin is
    the keep-min-doc_id exact dedup."""
    hashed = (
        pages_stream.withColumn("ts", F.col("warc_ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .withColumn(
            "content_hash",
            F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")),
        )
    )
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def stream_layout(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    weights_bc,
):
    """Model inference under Structured Streaming: a pages file-source
    stream driven through the SAME layout-detection stage the batch
    pipeline serves (page_records → Arrow-batched model UDF behind the
    executor singleton + broadcast weights). mapInPandas is a stateless
    narrow transform, so it composes with streaming unchanged — this is
    the production shape for continuous crawl ingestion: models stay
    resident in the long-lived python workers while AvailableNow (or a
    continuous trigger) feeds micro-batches, and the checkpoint's file
    log gives exactly-once per input file. Output equality with the batch
    stage is asserted in tests/test_streaming.py."""
    from docling_ibm_models_spark.pipeline.stages import (
        layout_stage,
        page_records_stage,
    )

    pages = (
        spark.readStream.schema(schemas.PAGES)
        .parquet(pages_dir)
    )
    clusters = layout_stage(page_records_stage(pages), weights_bc)
    q = (
        clusters.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
