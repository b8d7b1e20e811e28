"""Structured Streaming variant of the extraction pipeline (SURVEY.md §2.10).

The reference has no streaming operators (its spider channel is the caller's
concern, README.md:196-212); this is the engine's forward path: readStream
on the pages table -> the SAME mapInArrow kernel closure as the batch path
-> sink, with a watermark on warc_ts for late data and dropDuplicates(url)
within the watermark as the streaming generalization of the LRU dedup
(SURVEY.md §2.12).

Both stream sources yield the one pages contract (plans/schema.py
``PAGES_SCHEMA`` / ``PAGE_COLUMNS``), the same rows the batch sources
yield.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..options import DEFAULT_OPTIONS, Options
from ..plans.job import make_extract_arrow_batches, pin_zip_importers
from ..plans.schema import OUTPUT_SCHEMA, PAGE_COLUMNS, PAGES_SCHEMA
from ..sources.warc import _archive_records, _records_to_batches

# how late a crawl record (by warc_ts) may arrive and still be processed
_WATERMARK = "10 minutes"


def read_pages_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """readStream over a parquet pages table, at most 8 new files per
    micro-batch."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def extraction_stream(
    pages_stream: DataFrame,
    options: Options = DEFAULT_OPTIONS,
) -> DataFrame:
    """Streaming extraction: a 10-minute watermark on ``warc_ts`` drops
    later crawls, duplicate urls within the watermark are dropped, then
    the batch kernel runs unchanged."""
    df = (
        pages_stream.withWatermark("warc_ts", _WATERMARK)
        .dropDuplicates(["url"])
        .select(*PAGE_COLUMNS)
    )
    return df.mapInArrow(make_extract_arrow_batches(options),
                         schema=OUTPUT_SCHEMA)


def _drain_to_memory(spark: SparkSession, stream: DataFrame,
                     query_name: str) -> DataFrame:
    """Run ``stream``'s available backlog to completion into a memory sink
    and return the sink as a table."""
    q = (
        stream.writeStream.outputMode("append")
        .format("memory").queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_to_memory(spark: SparkSession, input_path: str,
                         query_name: str = "extracted",
                         options: Options = DEFAULT_OPTIONS):
    """Drive a bounded backlog to completion synchronously (local smoke);
    production sinks swap in .format('parquet')/foreachBatch."""
    stream = extraction_stream(read_pages_stream(spark, input_path), options)
    return _drain_to_memory(spark, stream, query_name)


def windowed_stage_metrics_stream(
    extracted_stream: DataFrame,
    set_watermark: bool = True,
) -> DataFrame:
    """Stage metrics over the extraction stream in 10-minute tumbling
    windows of ``warc_ts``: the streaming form of plans.stage_metrics.
    Crawl records more than 10 minutes late (the watermark) are dropped;
    in append mode a window emits once, when the watermark passes its
    end — the standard late-data windowed aggregation shape (SURVEY.md
    §2.10).  Pass ``set_watermark=False`` when the upstream already
    watermarked warc_ts (e.g. ``extraction_stream``): Spark disallows
    redefining a watermark."""
    df = extracted_stream
    if set_watermark:
        df = df.withWatermark("warc_ts", _WATERMARK)
    return (
        df
        .groupBy(F.window("warc_ts", "10 minutes"), F.col("stage"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "stage", "n_pages",
        )
    )


def read_warc_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """readStream over a GROWING directory of ``*.warc.gz`` crawl archives
    — the live-crawler ingest: each micro-batch picks up newly landed
    archive files (binaryFile streaming source, one row per new file),
    parses them with the same bounded parser the batch WARC source uses,
    and emits PAGES_SCHEMA rows.

    Scale notes: ``maxFilesPerTrigger`` bounds a micro-batch to 4
    archives; one archive's bytes live in one task (the binaryFile
    contract — CC's ~1 GB files fit comfortably under Spark's 2 GB row
    limit, and the parse itself streams record-by-record).  Malformed
    records are skipped, never raised, so one truncated upload cannot
    wedge the stream."""
    raw = (
        spark.readStream.format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, "
                "length LONG, content BINARY")
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", 4)
        .load(input_path)
    )
    return raw.select("content").mapInArrow(_parse_archives,
                                            schema=PAGES_SCHEMA)


def _parse_archives(batches):
    """``read_warc_stream``'s task function: batches of archive bytes ->
    PAGES_SCHEMA batches.  It pins the worker's zip importers first, as
    the kernel closure does (plans/job.py)."""
    pin_zip_importers()
    archives = (
        io.BufferedReader(io.BytesIO(content.as_py()))
        for batch in batches for content in batch.column(0)
    )
    yield from _records_to_batches(_archive_records(archives))


def run_warc_stream_to_memory(spark: SparkSession, input_path: str,
                              query_name: str = "warc_extracted",
                              options: Options = DEFAULT_OPTIONS):
    """Drive a bounded WARC-archive backlog to completion: archive files
    -> streaming parse -> watermark + url dedup -> the SAME kernel ->
    memory sink.  Production swaps the sink for parquet/foreachBatch."""
    stream = extraction_stream(read_warc_stream(spark, input_path), options)
    return _drain_to_memory(spark, stream, query_name)
