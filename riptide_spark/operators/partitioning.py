"""Bucketed url-hash partitioning, with salting for host-keyed stages (north rule).

One hash serves both the write layout and the extraction shuffle:

* ``url_bucket = pmod(hash(url), B)`` — Spark's own bucket id, the one
  ``bucketBy(B, "url")`` assigns (Murmur3, seed 42), the analog of an
  Iceberg ``bucket(B, url)`` partition transform; written out as a
  partition column so downstream readers get partition pruning.
* url-keyed work shuffles with :func:`repartition_by_url`, whose
  ``hashpartitioning(url, n)`` is ``pmod(hash(url), n)``: the same hash,
  so whenever n divides B a task holds exactly B/n whole buckets. Task
  sizes follow the url hash, whatever the host mix; no salt is needed, and
  AQE handles what size skew remains.
* stages keyed by **host** (metrics by domain, per-host joins) would put a
  hot host in one task; :func:`repartition_by_host` folds a deterministic
  salt into its shuffle key for the hosts it is told are hot.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64
DEFAULT_SALTS = 8


def host_column(url_col: str = "url") -> F.Column:
    return F.lower(F.coalesce(F.parse_url(F.col(url_col), F.lit("HOST")), F.lit("")))


def url_bucket_column(url_col: str = "url", buckets: int = DEFAULT_BUCKETS) -> F.Column:
    return F.pmod(F.hash(F.col(url_col)), F.lit(buckets)).cast("int")


def repartition_by_url(df: DataFrame, target_partitions: int) -> DataFrame:
    """Url-keyed shuffle into ``target_partitions`` (n) tasks.

    Partition = ``pmod(hash(url), n)`` and bucket = ``pmod(hash(url), B)``
    over the same 32-bit hash, so whenever n divides B, partition =
    ``url_bucket mod n``: each task holds exactly B/n whole buckets and a
    bucketed write makes exactly B files (lcm(n, B) in general)."""
    return df.repartition(target_partitions, F.col("url"))


def extraction_partitions(buckets: int, cores: int | None) -> int:
    """Width n of the url-keyed extraction shuffle into ``buckets`` (B).

    On a cluster (``cores`` None) n = B, one task per bucket. On a local
    master with ``cores`` task slots, n is the largest divisor of B at most
    2 × cores: per-task cost dominates there, and at ``local[4]`` on 10k
    pages n = 64 took 10.55 s against 6.35 s at n = 8 (BENCH.md, *Url-keyed
    layout*). Either way n divides B, so the write makes B files."""
    if cores is None:
        return buckets
    return max(d for d in range(1, min(buckets, 2 * cores) + 1) if buckets % d == 0)


def repartition_by_host(
    df: DataFrame,
    target_partitions: int,
    hot_hosts: Sequence[str] = (),
    salts: int = DEFAULT_SALTS,
    url_col: str = "url",
) -> DataFrame:
    """Host-keyed co-location WITH skew salting: stages that group or join
    by host (per-host metrics, politeness windows, per-host dedup) would
    put an entire hot host in one task; folding a deterministic salt
    (``pmod(xxhash64(url, 1), salts)``) into the shuffle key splits each of
    ``hot_hosts`` across its salts while other hosts (salt 0) stay fully
    co-located. The same url always gets the same salt."""
    host = host_column(url_col)
    salt = F.when(
        host.isin(list(hot_hosts)),
        F.pmod(F.xxhash64(F.col(url_col), F.lit(1)), F.lit(salts)),
    ).otherwise(F.lit(0))
    return df.repartition(target_partitions, host, salt.cast("int"))
