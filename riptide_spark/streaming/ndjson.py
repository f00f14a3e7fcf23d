"""Streaming result delivery — the Spark translation of RipTide's NDJSON
streaming surface (SURVEY.md §2.10 / §3.3).

The reference streams each document's result as one JSON line as soon as it
finishes, with heartbeat/progress events and a bounded backpressure buffer
(``/root/reference/crates/riptide-streaming/src/ndjson.rs:23-210``,
``backpressure.rs``). The reference has **no** event-time semantics — its
"streaming" is incremental result delivery — so the Spark-first mapping is:

* ``readStream`` over the pages table (file source here; Kafka/Iceberg CDC
  on a cluster) with ``maxFilesPerTrigger`` as the backpressure valve;
* ``foreachBatch`` runs the batch job (:func:`run_extraction_job`) on each
  micro-batch: the same plan, 20 MB guard, columns, ``url_bucket`` layout,
  manifest commit and resume anti-join. A micro-batch that Spark replays
  after a crash between the sink and the checkpoint commit finds its urls
  in the table and writes 0 rows;
* the NDJSON feed is one line per row this micro-batch wrote, read back
  from the files its manifest lists (executor-side ``write.text`` — one
  part-file per task, never a driver collect). A batch that writes no rows
  writes no feed directory, so a replay never overwrites the first
  attempt's lines (a crash between the table write and the feed write
  loses that batch's lines, never its rows); micro-batch latency stands
  in for TTFB (``ndjson_stream_tests.rs:331``);
* progress/heartbeat = the query's ``lastProgress`` (batch id, the batch's
  input rows, rows/sec), surfaced by :func:`progress_event`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import ExtractionJobConfig, run_extraction_job
from ..schema import OUTPUT_SCHEMA, PAGES_SCHEMA
from ..sources.catalog import TableIO


@dataclass
class StreamConfig:
    input_path: str            # directory of parquet page files
    output_path: str           # extraction output table (TableIO append)
    ndjson_path: str | None    # one .ndjson dir per micro-batch (or None)
    checkpoint_path: str       # streaming checkpoint (which files are done)
    max_files_per_trigger: int = 4  # backpressure: bounded intake per batch


def start_stream(spark: SparkSession, config: StreamConfig):
    """Start the streaming extraction query. Returns the StreamingQuery."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(config.max_files_per_trigger))
        .parquet(config.input_path)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # The table is the record, the feed a delivery channel: append the
        # table first, then emit only what this run wrote.
        result = run_extraction_job(
            spark, batch_df, ExtractionJobConfig(output_path=config.output_path)
        )
        if config.ndjson_path and result.rows_written:
            feed = TableIO(spark, config.output_path).read(
                schema=OUTPUT_SCHEMA, files=result.files
            )
            # ignoreNullFields=false keeps null fields present, matching
            # NdjsonCodec's serde output.
            (
                feed.select(
                    F.to_json(
                        F.struct(*feed.columns), {"ignoreNullFields": "false"}
                    ).alias("value")
                )
                .write.mode("overwrite")
                .text(os.path.join(config.ndjson_path, f"batch-{batch_id:08d}"))
            )

    return (
        pages.writeStream.foreachBatch(sink)
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
        # ForeachBatchSink leaves sink.numOutputRows at -1; the rows the
        # micro-batch read are what the batch job was presented.
        "rows": progress.get("numInputRows"),
        "input_rows_per_sec": progress.get("inputRowsPerSecond"),
        "active": query.isActive,
    }
