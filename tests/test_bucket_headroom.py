"""ADVICE r3 (dedup.py:30): the Spark entry paths run with
``bucket_size_cap=DEFAULT_BUCKET_CAP`` while the DuckDB oracles generate
candidate pairs UNCAPPED — parity holds only while no LSH/SimHash bucket
on the oracle corpora reaches the cap. That coupling was unasserted;
these tests pin it at the source, at every scale factor the driver or the
parity suite compares against (sf0.001 local parity, sf0.01 driver gate,
sf0.1 bench), so a corpus change that floods a bucket fails HERE with a
headroom number instead of surfacing as an opaque hash mismatch.

The scale-dial corpus (``sources/dedup_corpus``) intentionally crosses
the cap at sf1 to exercise the flood guard — that path is bench-only,
never oracle-compared, and is out of scope here.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from riptide_spark.operators.dedup import DEFAULT_BUCKET_CAP, minhash_band_buckets

SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]

pytestmark = pytest.mark.skipif(not SF_DIRS, reason="driver testdata not present")


def _dup_corpus(spark, sf_dir):
    import __spark_entry__ as entrymod

    return entrymod._dup_corpus(spark, sf_dir)


def _max_bucket(buckets) -> int:
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_minhash_buckets_stay_under_cap(spark, sf_dir):
    corpus = _dup_corpus(spark, sf_dir)
    biggest = _max_bucket(minhash_band_buckets(corpus))
    assert biggest < DEFAULT_BUCKET_CAP, (
        f"{sf_dir}: largest MinHash bucket {biggest} ≥ cap {DEFAULT_BUCKET_CAP}; "
        "the capped Spark path and the uncapped SQL oracle would diverge — "
        "render the cap in the oracle or pass bucket_size_cap=None in the "
        "entry path before shipping"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_simhash_slices_stay_under_cap(spark, sf_dir):
    # simhash_near_pairs' own banding at its defaults (32 bits / 4 slices).
    from riptide_spark.operators.dedup import _simhash_buckets, simhash_fingerprints

    corpus = _dup_corpus(spark, sf_dir)
    slices = _simhash_buckets(simhash_fingerprints(corpus, bits=32), "doc_id", 32, 4)
    biggest = _max_bucket(slices)
    assert biggest < DEFAULT_BUCKET_CAP, (
        f"{sf_dir}: largest SimHash slice group {biggest} ≥ cap "
        f"{DEFAULT_BUCKET_CAP}; capped Spark path vs uncapped oracle diverges"
    )
