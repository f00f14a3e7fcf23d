"""The url-bucket layout and the extraction shuffle share one hash.

``url_bucket = pmod(hash(url), B)`` and the extraction shuffle is
``hashpartitioning(url, n)``, so with n dividing B every task holds B/n
whole buckets: task sizes follow the url hash whatever the host mix, no
salt rides the url-keyed path, and a job writes one file per bucket."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from riptide_spark.operators.partitioning import extraction_partitions
from riptide_spark.plans.pipeline import (
    ExtractionJobConfig,
    extraction_plan,
    run_extraction_job,
)
from riptide_spark.session import local_cores
from riptide_spark.sources.pages import pages_dataframe

B = 64


def _hot_host_pages(spark, n=10_000):
    """n urls, 80 % on one host, with empty html (the UDF is pruned away
    whenever only the layout columns are selected)."""
    url = F.when(
        F.col("id") % 5 != 0,
        F.concat(F.lit("https://hot.example.com/page-"), F.col("id").cast("string")),
    ).otherwise(
        F.concat(F.lit("https://cold-"), F.col("id").cast("string"), F.lit(".example.org/x"))
    )
    return spark.range(n).select(url.alias("url"), F.lit(b"").alias("html"))


def _layout(pages, n):
    """(url_bucket, partition id) of every row of the extraction plan with
    an n-way shuffle."""
    config = ExtractionJobConfig(output_path="", resume=False, buckets=B,
                                 target_partitions=n)
    return extraction_plan(pages, config).select(
        "url_bucket", F.spark_partition_id().alias("pid"))


def _rows_per_partition(pages, n) -> list[int]:
    counts = dict(_layout(pages, n).groupBy("pid").count().collect())
    return [counts.get(p, 0) for p in range(n)]


def test_extraction_shuffle_is_keyed_by_url_alone(spark):
    pages = _hot_host_pages(spark, 100)
    config = ExtractionJobConfig(output_path="", resume=False, target_partitions=8)
    plan = extraction_plan(pages, config)._jdf.queryExecution().executedPlan().toString()
    exchange = next(line for line in plan.splitlines() if "Exchange" in line)
    assert re.search(r"Exchange hashpartitioning\(url#\d+, 8\)", exchange), exchange
    pre_shuffle = plan[plan.index("Exchange"):].split("\n", 1)[1]
    for expr in ("salt", "parse_url"):
        assert expr not in pre_shuffle, expr


def test_each_task_holds_whole_buckets(spark):
    pages = _hot_host_pages(spark, 2_000)
    for n in (2, 4, 8):
        misplaced = _layout(pages, n).filter(F.col("pid") != F.col("url_bucket") % n)
        assert misplaced.count() == 0, n


def test_hot_host_does_not_skew_url_keyed_tasks(spark):
    pages = _hot_host_pages(spark)
    sizes = _rows_per_partition(pages, 8)
    assert sum(sizes) == 10_000
    assert max(sizes) / (sum(sizes) / 8) <= 1.1, sizes
    # n = B: one bucket per task, and every bucket holds rows.
    assert min(_rows_per_partition(pages, B)) > 0


def test_job_writes_one_file_per_bucket(spark, tmp_path):
    config = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=False,
                                 buckets=B, target_partitions=8)
    result = run_extraction_job(spark, pages_dataframe(spark, 1_000, seed=3), config)
    assert result.rows_written == 1_000
    buckets = {f.split("url_bucket=", 1)[1].split("/", 1)[0] for f in result.files}
    assert len(result.files) == len(buckets), sorted(result.files)


@pytest.mark.parametrize(
    "master, n",
    [("local[1]", 2), ("local[3]", 4), ("local[4]", 8), ("local[32]", 64),
     ("spark://head:7077", B), ("yarn", B)],
)
def test_shuffle_width_divides_the_buckets(master, n):
    """The spark-submit job's shuffle width: the largest divisor of B at
    most 2 × cores on a local master, B on any other."""
    assert extraction_partitions(B, local_cores(master)) == n
