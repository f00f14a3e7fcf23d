"""Streaming result delivery — the Spark translation of RipTide's NDJSON
streaming surface (SURVEY.md §2.10 / §3.3).

The reference streams each document's result as one JSON line as soon as it
finishes, with heartbeat/progress events and a bounded backpressure buffer
(``/root/reference/crates/riptide-streaming/src/ndjson.rs:23-210``,
``backpressure.rs``). The reference has **no** event-time semantics — its
"streaming" is incremental result delivery — so the Spark-first mapping is:

* ``readStream`` over the pages table (file source here; Kafka/Iceberg CDC
  on a cluster) with ``maxFilesPerTrigger`` as the backpressure valve;
* the same route-and-extract UDF as batch (one code path, two run modes);
* ``foreachBatch``: append the output table AND emit one NDJSON line per
  document (executor-side ``write.text`` per batch — one part-file per
  task, never a driver collect) — micro-batch latency stands in for TTFB
  (``ndjson_stream_tests.rs:331``);
* progress/heartbeat = the query's ``lastProgress`` (rows/sec, batch id),
  surfaced by :func:`progress_event`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract_udf import extract_udf
from ..schema import PAGES_SCHEMA


@dataclass
class StreamConfig:
    input_path: str            # directory of parquet page files
    output_path: str           # extraction output table (parquet append)
    ndjson_path: str | None    # one .ndjson file per micro-batch (or None)
    checkpoint_path: str       # streaming checkpoint (exactly-once resume)
    max_files_per_trigger: int = 4  # backpressure: bounded intake per batch


def streaming_extraction_plan(pages: DataFrame) -> DataFrame:
    """The batch path's UDF stage, minus the repartition (micro-batches are
    already small; a shuffle per batch would only add latency — the TTFB
    analog). The UDF routes each page (null mode) and reports the route as
    ``content_mode``."""
    mode = F.lit(None).cast("string")
    df = pages.withColumn("ex", extract_udf(F.col("html"), F.col("url"), mode))
    return df.select(
        "url",
        F.col("ex.title").alias("title"),
        F.col("ex.extracted_text").alias("extracted_text"),
        F.col("ex.content_mode").alias("content_mode"),
        F.col("ex.language").alias("language"),
        F.col("ex.quality_score").alias("quality_score"),
        F.col("ex.word_count").alias("word_count"),
        F.col("ex.error").alias("error"),
    )


def start_stream(spark: SparkSession, config: StreamConfig):
    """Start the streaming extraction query. Returns the StreamingQuery."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(config.max_files_per_trigger))
        .parquet(config.input_path)
    )
    result = streaming_extraction_plan(pages)

    os.makedirs(config.output_path, exist_ok=True)
    if config.ndjson_path:
        os.makedirs(config.ndjson_path, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Append the durable table first, then emit the NDJSON feed —
        # the feed is a delivery channel, the table is the record.
        batch_df.persist()
        try:
            batch_df.write.mode("append").parquet(os.path.join(config.output_path, "data"))
            if config.ndjson_path:
                # Executor-side emit: each task serializes and writes its own
                # partition (one NDJSON part-file per task under the batch
                # directory). No driver collect — a large micro-batch can't
                # bottleneck or OOM the driver. ignoreNullFields=false keeps
                # null fields present, matching NdjsonCodec's serde output.
                (
                    batch_df.select(
                        F.to_json(
                            F.struct(*batch_df.columns),
                            {"ignoreNullFields": "false"},
                        ).alias("value")
                    )
                    .write.mode("overwrite")
                    .text(os.path.join(config.ndjson_path, f"batch-{batch_id:08d}"))
                )
        finally:
            batch_df.unpersist()

    return (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", config.checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def progress_event(query) -> dict:
    """Heartbeat/progress payload (ndjson.rs:82-88 analog)."""
    progress = query.lastProgress or {}
    return {
        "event": "progress",
        "batch_id": progress.get("batchId"),
        "rows": (progress.get("sink") or {}).get("numOutputRows"),
        "input_rows_per_sec": progress.get("inputRowsPerSecond"),
        "active": query.isActive,
    }
