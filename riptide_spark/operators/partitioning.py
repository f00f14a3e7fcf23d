"""Bucketed url-hash partitioning with hot-host salting (north rule).

At 10^12 documents a handful of hosts (think big portals) dominate the key
space. Hash-partitioning on ``url`` alone already spreads *urls* uniformly —
the skew problem appears when any stage keys by **host** (metrics by domain,
per-host joins) or when downstream consumers bucket by url prefix. The
strategy, mirroring SURVEY.md §4:

* ``url_bucket = pmod(xxhash64(url), B)`` — deterministic bucket id, the
  analog of an Iceberg ``bucket(B, url)`` partition transform; written out as
  a partition column so downstream readers get partition pruning.
* hot hosts get an extra deterministic ``salt`` (``pmod(xxhash64(url), S)``)
  folded into the *shuffle* key only, splitting any single host across S
  tasks while keeping the same url always in the same (bucket, salt) pair —
  idempotent resume stays correct.

Hot hosts are discovered with a cheap pre-pass (``groupBy(host).count()``
over a projected single column — Catalyst prunes everything else) or can be
supplied statically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64
DEFAULT_SALTS = 8
DEFAULT_HOT_THRESHOLD_FRACTION = 0.05  # host is hot if > 5% of corpus


def host_column(url_col: str = "url") -> F.Column:
    return F.lower(F.coalesce(F.parse_url(F.col(url_col), F.lit("HOST")), F.lit("")))


def url_bucket_column(url_col: str = "url", buckets: int = DEFAULT_BUCKETS) -> F.Column:
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(buckets)).cast("int")


def discover_hot_hosts(
    pages: DataFrame,
    url_col: str = "url",
    threshold_fraction: float = DEFAULT_HOT_THRESHOLD_FRACTION,
) -> list[str]:
    """Hosts carrying more than ``threshold_fraction`` of rows.

    Single narrow aggregation over the url column only; at 100 TB this scans
    one small string column thanks to parquet column pruning.
    """
    counts = (
        pages.select(host_column(url_col).alias("host"))
        .groupBy("host")
        .count()
    )
    total = pages.count()
    if total == 0:
        return []
    threshold = max(1, int(total * threshold_fraction))
    rows = counts.filter(F.col("count") > threshold).select("host").collect()
    return sorted(r["host"] for r in rows)


def with_partitioning(
    df: DataFrame,
    url_col: str = "url",
    buckets: int = DEFAULT_BUCKETS,
    salts: int = DEFAULT_SALTS,
    hot_hosts: list[str] | None = None,
) -> DataFrame:
    """Append ``url_bucket`` and ``salt`` columns (salt nonzero only for hot
    hosts) — deterministic per url."""
    df = df.withColumn("url_bucket", url_bucket_column(url_col, buckets))
    if hot_hosts:
        salt = F.when(
            host_column(url_col).isin(list(hot_hosts)),
            F.pmod(F.xxhash64(F.col(url_col), F.lit(1)), F.lit(salts)).cast("int"),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    return df.withColumn("salt", salt.cast("int"))


def repartition_for_extraction(
    df: DataFrame, target_partitions: int, url_col: str = "url"
) -> DataFrame:
    """Shuffle-key = (url_bucket, salt). For url-keyed work the url hash is
    already uniform across hosts; the salt only matters for host-keyed
    stages (see :func:`repartition_by_host`) and is dropped before the
    write, whose layout is ``url_bucket`` alone. Requires
    with_partitioning first."""
    return df.repartition(target_partitions, F.col("url_bucket"), F.col("salt"))


def repartition_by_host(
    df: DataFrame, target_partitions: int, url_col: str = "url"
) -> DataFrame:
    """Host-keyed co-location WITH skew salting: stages that group or join
    by host (per-host metrics, politeness windows, per-host dedup) would
    put an entire hot host in one task; folding the deterministic salt into
    the shuffle key splits a hot host across its salt buckets while cold
    hosts (salt 0) stay fully co-located. Requires with_partitioning."""
    return df.repartition(target_partitions, host_column(url_col), F.col("salt"))
