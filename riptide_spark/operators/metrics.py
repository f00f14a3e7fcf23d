"""Per-partition lineage/metrics sidecar (A1/A2 of SURVEY.md §2.5).

Mirrors the reference's batch statistics envelope — ``PipelineStats`` and
``GateDecisionStats`` (``/root/reference/crates/riptide-api/src/pipeline.rs:
509-517,573-578``) — as a ``groupBy(spark_partition_id())`` aggregation
appended to a sidecar table next to the output. Pure built-in aggregates:
partial (map-side) aggregation applies, so at scale this costs one extra
narrow agg over columns already in memory, not a second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract_udf import MODE_FOR_ROUTE


def partition_metrics(result: DataFrame, run_id: str) -> DataFrame:
    """Aggregate the extraction result into one metrics row per output
    partition (``url_bucket`` — the engine's unit of lineage). Expects
    columns: url_bucket, content_mode, error, quality_score, word_count,
    escalated. Reading back only these columns from the written table is a
    column-pruned scan, so metrics never re-run the extraction UDF."""
    ok = F.col("error").isNull()
    return (
        result.withColumn("partition_id", F.col("url_bucket").cast("int"))
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.sum(ok.cast("long")).alias("docs_ok"),
            F.sum((~ok).cast("long")).alias("docs_failed"),
            *[
                F.sum((F.col("content_mode") == r).cast("long")).alias(f"decision_{r}")
                for r in MODE_FOR_ROUTE
            ],
            F.sum(F.coalesce(F.col("escalated"), F.lit(False)).cast("long")).alias(
                "escalated"
            ),
            F.avg("quality_score").alias("avg_quality"),
            F.avg("extract_ms").alias("avg_extract_ms"),
            F.sum(F.coalesce(F.col("word_count"), F.lit(0)).cast("long")).alias(
                "total_words"
            ),
        )
        .select(F.lit(run_id).alias("run_id"), "*")
    )
