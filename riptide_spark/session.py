"""SparkSession factory with the engine's pinned configuration.

Defaults are sized for the sandbox (``local[N]``, one JVM) but every knob is
the one you would set on a 1000-executor cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow transfer for
the pandas-UDF extraction stage with bounded batch sizes (documents are up to
20 MB — ``maxRecordsPerBatch`` keeps per-batch memory predictable), UTC
session timezone (oracle comparability), shuffle partitions = cores locally
(on a cluster master Spark's own default is left for AQE to coalesce from).

The driver JVM runs with ``-XX:CICompilerCount=2``: one C1 and one C2 JIT
compiler thread, the tiered minimum. In ``local[N]`` that JVM also hosts the
executors, so it does all of the job's JIT compiling, and it shares the N
cores with N CPU-bound Python workers. Sized for a machine of its own,
HotSpot picks 3 compiler threads on 4 CPUs (1 C1 + 2 C2), and in a cold
extraction job the C2 threads then burn about as much CPU as the Python UDF
bodies, out of the workers' cores. Measured at ``local[4]`` on a 4-vCPU host
(BENCH.md, *JVM policy*): C2 thread CPU in the first extraction job falls
from 17-18.5 s to 10-11 s, the job's CPU per document by about 12 %, and
warm jobs in the same JVM run no slower. Wider hosts and cluster executors
were not measured. HotSpot's default grows with the cores (about
log2(n) * log2(log2(n)) * 3/2), and so do the Python workers that compete
with it, so a wider host wants its own A/B before this count is kept there;
a cluster executor JVM would take a flag through
``spark.executor.extraJavaOptions``. The flag goes in
``spark.driver.defaultJavaOptions``, which Spark puts before
``spark.driver.extraJavaOptions``: a caller's own options in ``extra_conf``
are kept, and a later ``-XX:CICompilerCount`` there wins.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from .operators.partitioning import DEFAULT_BUCKETS

# Arrow batch sizing for the extraction UDF: bigger batches amortize the
# JVM↔Python transfer of the html binary column (measured: the transfer, not
# the Python parse, dominates at small batches). 512 rows ≈ 2.5-40 MB at
# typical crawl page sizes. The record cap alone is NOT a memory bound —
# documents run up to the 20 MB P3 cap, so 512 near-cap rows would be a
# ~10 GB batch; the BYTE cap below is what actually bounds executor + Python
# worker memory, closing a batch once it reaches the limit — overshoot is at
# most one row, so worst case is bound + 20 MB (verified
# on 4.1.2 for the scalar-pandas-UDF input path by
# tests/test_pipeline.py::test_near_cap_documents_cross_arrow_in_bounded_batches).
# Override on memory-tight executors with Spark's own
# spark.sql.execution.arrow.* confs: ``extra_conf`` here, ``--conf`` for
# jobs/extract_job.py.
ARROW_MAX_RECORDS = 512
ARROW_MAX_BYTES = 64 * 1024 * 1024

# The runtime SQL confs every session of the engine runs with.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_MAX_BYTES),
    "spark.sql.session.timeZone": "UTC",
    # Lossy UTF-8 decode (U+FFFD replacement) for the html binary column,
    # matching Rust String::from_utf8_lossy (pipeline.rs:332). Without
    # this Spark 4's decode() raises MALFORMED_CHARACTER_CODING.
    "spark.sql.legacy.codingErrorAction": "true",
    # Spark lists more than `threshold` directories in a Spark job (32 by
    # default), so every read of a table written in DEFAULT_BUCKETS url
    # buckets would start a job to list them. Up to that many are listed
    # on the driver; wider fan-outs keep parallel listing.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(DEFAULT_BUCKETS),
}

# JIT policy of the driver JVM (see the module docstring).
DRIVER_JAVA_OPTIONS = "-XX:CICompilerCount=2"


def local_cores(master: str) -> int | None:
    """Task slots of a ``local``, ``local[N]``, ``local[*]`` or
    ``local[N, F]`` master (``os.cpu_count()`` for ``*``); None for any
    other master."""
    m = re.fullmatch(r"local(?:\[\s*(\*|\d+)\s*(?:,\s*\d+\s*)?\])?", master)
    if m is None:
        return None
    if m.group(1) is None:
        return 1
    return os.cpu_count() if m.group(1) == "*" else int(m.group(1))


def build_session(
    app_name: str = "riptide-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        shuffle_partitions = local_cores(master)

    conf = dict(SQL_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update({
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.driver.defaultJavaOptions": DRIVER_JAVA_OPTIONS,
        **(extra_conf or {}),
    })
    return SparkSession.builder.appName(app_name).master(master).config(map=conf).getOrCreate()


def apply_sql_conf(spark: SparkSession) -> None:
    """Set :data:`SQL_CONF` on a session this module did not build (a
    spark-submit job, a caller's own builder). A value the session was
    launched with (``--conf``, a builder's ``config``) is kept."""
    launched = spark.sparkContext.getConf()
    for key, value in SQL_CONF.items():
        if not launched.contains(key):
            spark.conf.set(key, value)
