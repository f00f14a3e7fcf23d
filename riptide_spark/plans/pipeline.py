"""The end-to-end extraction job — one declarative DataFrame program.

Spark translation of the reference's ``execute_batch``/``execute_single``
orchestration (``/root/reference/crates/riptide-api/src/pipeline.rs:231-606``),
per SURVEY.md §3.1:

    read pages → anti-join(done urls)            # Redis result cache → J1
              → 20 MB guard (blanks oversize)    # P3
              → url-hash shuffle (whole buckets) # north-rule partitioning
              → Arrow route + extraction UDF     # P5-P8 gate, E1-E15
                                                 # (+ escalation, PDF)
              → append output table + manifest   # cache store / S5-S6
                (rows presented and written, both
                 observed in the write)
              → per-partition metrics sidecar    # A1-A2
                (reads back only this run's files)

Plan properties worth knowing at 100 TB:
* the anti-join projects a single string column from the output table —
  broadcast when small, AQE-planned SMJ when not; skew handled by AQE.
* the only Python is the extraction UDF, which receives exactly
  (url, html, mode) after column pruning. It routes each page with the
  gate (``functions/gate.py``) over the html it already decoded, so routing
  adds no transfer and no JVM work; the stage before the shuffle is the
  scan, the anti-join and the size guard (``url_bucket`` is computed after
  it, from the same url hash the shuffle used).
* probes-first escalation happens row-locally inside the UDF — no second
  shuffle (see extract_udf.py).
* one wide shuffle total (the url-keyed repartition before extraction,
  whose hash is ``url_bucket``'s); everything after is narrow.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import CONTENT_SIZE_ERROR
from ..functions.extract import MAX_CONTENT_SIZE as MAX_CONTENT_BYTES
from ..operators.extract_udf import extract_udf
from ..operators.metrics import partition_metrics
from ..operators.partitioning import (
    DEFAULT_BUCKETS,
    repartition_by_url,
    url_bucket_column,
)
from ..schema import OUTPUT_COLUMNS
from ..sources.catalog import TableIO


@dataclass
class ExtractionJobConfig:
    output_path: str
    metrics_path: str | None = None
    buckets: int = DEFAULT_BUCKETS
    target_partitions: int | None = None
    resume: bool = True


def extraction_plan(pages: DataFrame, config: ExtractionJobConfig) -> DataFrame:
    """Build the (lazy) extraction DataFrame; no actions triggered.

    ``content_mode`` is ``'oversize'`` for rows over the 20 MB cap and the
    gate's route, chosen inside the UDF, for every other row."""
    df = pages

    # P3 (20 MB cap): oversized rows become ERROR rows, not dropped rows —
    # a dropped row never lands in the output table, so resume would retry
    # it forever and the url would silently vanish from the corpus
    # (reference records a per-URL error envelope, pipeline.rs:525-557).
    # Their html is blanked *before* the shuffle so the 20 MB+ payload
    # never rides the wire or crosses into Python; the UDF is forced to
    # mode 'oversize' and the error is written below with the true size,
    # so the row is the one ``_extract_one`` gives the whole page.
    df = df.withColumn("_oversize_bytes",
                       F.when(F.octet_length("html") > MAX_CONTENT_BYTES,
                              F.octet_length("html")))
    df = df.withColumn(
        "html",
        F.when(F.col("_oversize_bytes").isNotNull(),
               F.lit(b"")).otherwise(F.col("html")),
    )

    # Prune to exactly what the extraction stage needs BEFORE the shuffle:
    # the raw `text`/`lang`/`warc_ts` columns would otherwise ride the wire
    # for nothing (the text column alone duplicates the html payload).
    df = df.select("url", "html", "_oversize_bytes")
    # Bucketed url-hash partitioning; one wide shuffle, whole buckets per task.
    if config.target_partitions:
        df = repartition_by_url(df, config.target_partitions)

    # The single Python hot path: Arrow-batched routing and extraction. A
    # null mode lets the UDF route the row.
    mode = F.when(F.col("_oversize_bytes").isNotNull(), F.lit("oversize"))
    df = df.withColumn("ex", extract_udf(F.col("html"), F.col("url"), mode))

    cols = {c: F.col(f"ex.{c}") for c in OUTPUT_COLUMNS[1:]}
    # The UDF saw only blanked html; write P3's message with the true size.
    cols["error"] = F.when(
        F.col("_oversize_bytes").isNotNull(),
        F.format_string(
            f"invalid-html: {CONTENT_SIZE_ERROR}",
            F.col("_oversize_bytes"),
            F.lit(MAX_CONTENT_BYTES),
        ),
    ).otherwise(cols["error"])
    return df.select(
        "url",
        *[col.alias(c) for c, col in cols.items()],
        url_bucket_column(buckets=config.buckets).alias("url_bucket"),
    )


def resume_anti_join(pages: DataFrame, done: DataFrame) -> DataFrame:
    """Drop already-done urls from the input (S2/J1 result-cache semantics).

    Deliberately NO broadcast hint on the done side: after a few runs the
    output table is as big as the input, and forcing it into a broadcast
    would OOM the driver at 100 TB. Left to Catalyst + AQE the join is a
    BroadcastHashJoin while the done side fits under
    ``spark.sql.autoBroadcastJoinThreshold`` and a shuffled SMJ once it
    doesn't (gated by ``test_resume_anti_join_big_done_side_not_broadcast``).
    """
    return pages.join(done, "url", "left_anti")


@dataclass
class RunResult:
    run_id: str
    rows_written: int
    rows_skipped_resume: int
    files: list[str]  # the data files this run wrote (its manifest's ledger)


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    config: ExtractionJobConfig,
    run_id: str | None = None,
) -> RunResult:
    """Execute the job with idempotent resume and metrics sidecar.

    Single-pass design: the UDF output streams straight into the table
    append (no intermediate cache/checkpoint — one materialization of the
    expensive stage). Every run is two SQL executions, the table write and
    the sidecar write. The write observes (``DataFrame.observe``) both the
    rows presented before the resume anti-join and the rows it writes; the
    manifest commits the written count once. Every surviving input row
    lands in the output (errors become error rows, never drops), so
    ``rows_skipped_resume`` = presented − written is exactly what the
    anti-join dropped, whatever the table's history (orphan files,
    vacuumed files, compaction crash windows), and 0 on a first run or
    with ``resume=False``. (Like any accumulator in a shuffle-map stage,
    the presented count would re-count a map stage that Spark retries.)

    The metrics sidecar reads back only the files this run's manifest
    lists, with the written frame's schema — a column-pruned scan of five
    small columns that neither infers a schema nor lists the rest of the
    table, so its cost does not grow with the table, and that is immune to
    the cached-plan invalidation a resume anti-join would otherwise suffer
    when its source table is appended to."""
    run_id = run_id or uuid.uuid4().hex[:12]
    output = TableIO(spark, config.output_path)

    presented = Observation()
    pages = pages.observe(presented, F.count(F.lit(1)).alias("rows"))
    if config.resume and output.exists():
        # A url-only schema: reading the done side starts no
        # schema-inference job.
        done = output.read(schema="url string").select("url")
        pages = resume_anti_join(pages, done)

    result = extraction_plan(pages, config).withColumn("run_id", F.lit(run_id))
    result = result.select(*OUTPUT_COLUMNS, "run_id", "url_bucket")

    manifest = output.append(result, run_id=run_id, partition_by=["url_bucket"])
    skipped = presented.get["rows"] - manifest.rows

    if config.metrics_path:
        written = output.read(schema=result.schema, files=manifest.files)
        metrics = partition_metrics(written, run_id)
        TableIO(spark, config.metrics_path).append(metrics, run_id=run_id)

    return RunResult(
        run_id=run_id,
        rows_written=manifest.rows,
        rows_skipped_resume=skipped,
        files=manifest.files,
    )
