#!/usr/bin/env python3
"""Cluster entry point: spark-submit --py-files riptide_spark.zip jobs/extract_job.py ...

Runs the extraction pipeline over a pages table (parquet/Iceberg dir) with
idempotent resume and the metrics sidecar. On a real cluster:

    python jobs/package.py                      # builds dist/riptide_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/riptide_spark.zip \
        jobs/extract_job.py --input <pages_dir> --output <table_dir> \
        --metrics <metrics_dir> [--synthesize N] [--buckets B]

The job runs with the engine's runtime SQL confs (``session.SQL_CONF``);
a ``--conf`` given to spark-submit wins. The extraction shuffle is
url-keyed with the bucket's own hash into n tasks, n dividing ``--buckets``
B (``partitioning.extraction_partitions``: B on a cluster, fewer on a
``local`` master), so each task holds B/n whole buckets and the job writes
B files.

JIT policy: ``build_session`` starts its driver JVM with
``-XX:CICompilerCount=2`` (one C1 and one C2 compiler thread), measured at
``local[4]`` on a 4-vCPU host (BENCH.md, *JVM policy*). This job takes its
session from spark-submit, so the flag is passed there: in
``--driver-java-options`` for the driver (which also runs the tasks under a
``local`` master), and in ``--conf spark.executor.extraJavaOptions=...``
for cluster executors, where each executor JVM compiles its own tasks'
code. Neither place has been measured; a wide executor alone on its host
may do better with HotSpot's default count.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession

# Under spark-submit --py-files the package ships with the job; standalone
# (python jobs/extract_job.py) the repo root must join sys.path itself.
try:  # noqa: SIM105
    import riptide_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", help="pages parquet dir (url, warc_ts, html, text, lang)")
    parser.add_argument("--output", required=True)
    parser.add_argument("--metrics", default=None)
    parser.add_argument("--synthesize", type=int, default=0,
                        help="generate N synthetic pages instead of reading --input")
    parser.add_argument("--buckets", type=int, default=64)
    parser.add_argument("--since", default=None, metavar="YYYY-MM-DD",
                        help="process crawl days >= this date (inclusive)")
    parser.add_argument("--until", default=None, metavar="YYYY-MM-DD",
                        help="process crawl days <= this date (inclusive)")
    parser.add_argument("--no-resume", action="store_true")
    args = parser.parse_args()

    # getOrCreate: under spark-submit the session/master comes from the
    # launcher; standalone it falls back to the local defaults.
    spark = SparkSession.builder.appName("riptide-extract").getOrCreate()

    from riptide_spark.operators.partitioning import extraction_partitions
    from riptide_spark.plans.pipeline import ExtractionJobConfig, run_extraction_job
    from riptide_spark.session import apply_sql_conf, local_cores
    from riptide_spark.sources.pages import pages_dataframe

    apply_sql_conf(spark)

    if args.synthesize:
        pages = pages_dataframe(spark, args.synthesize)
    else:
        pages = spark.read.parquet(args.input)

    if args.since or args.until:
        from pyspark.sql import functions as F

        # Incremental per-crawl-day processing: on a days(warc_ts) layout
        # (write_pages_by_day / Iceberg day transform) the warc_day
        # predicate is a PartitionFilter — only the matching day
        # directories are scanned. Unpartitioned inputs fall back to the
        # equivalent warc_ts predicate (pushed, but not pruning).
        day = (
            F.col("warc_day")
            if "warc_day" in pages.columns
            else F.to_date("warc_ts")
        )
        if args.since:
            pages = pages.filter(day >= args.since)
        if args.until:
            pages = pages.filter(day <= args.until)

    config = ExtractionJobConfig(
        output_path=args.output,
        metrics_path=args.metrics,
        buckets=args.buckets,
        target_partitions=extraction_partitions(
            args.buckets, local_cores(spark.sparkContext.master)
        ),
        resume=not args.no_resume,
    )
    result = run_extraction_job(spark, pages, config)
    print(
        f"run_id={result.run_id} written={result.rows_written} "
        f"skipped_resume={result.rows_skipped_resume}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
