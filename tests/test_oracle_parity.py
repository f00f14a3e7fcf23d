"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle runs on Spark AND DuckDB at sf0.001 and must agree on
row count, column names, and order-insensitive canonicalized values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _canon(value):
    if value is None:
        return "∅"
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.6f}"
    try:
        import decimal

        if isinstance(value, decimal.Decimal):
            return f"{float(value):.6f}"
    except ImportError:
        pass
    return str(value)


def _rows_to_set(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        "|".join(_canon(row[i]) for i in order) for row in rows
    )


@pytest.fixture(scope="module")
def duck_con():
    con = duckdb.connect()
    import glob

    for path in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(path).replace(".parquet", "")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as entrymod

    return entrymod


def _oracle_names():
    from riptide_spark.oracle_queries import GENERATORS, UDF_ORACLES
    from riptide_spark.sources.golden import reference_available

    # all_queries() drops extract_golden_fixtures without the reference
    # checkout its fixtures come from; the parameter is skipped likewise.
    needs_reference = pytest.mark.skipif(
        not reference_available(), reason="reference golden fixtures not present"
    )
    return sorted(GENERATORS) + [
        pytest.param(name, marks=needs_reference)
        if name == "extract_golden_fixtures"
        else name
        for name in sorted(UDF_ORACLES)
    ]


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, duck_con, contract, name):
    spark_df = contract.all_queries()[name](spark, SF_DIR)
    spark_cols = list(spark_df.columns)
    spark_rows = [tuple(r) for r in spark_df.collect()]

    duck_rel = duck_con.sql(contract.oracle_sql()[name])
    duck_cols = list(duck_rel.columns)
    duck_rows = duck_rel.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: column sets diverge"
    assert len(spark_rows) == len(duck_rows), f"{name}: row counts diverge"
    got = _rows_to_set(spark_cols, spark_rows)
    want = _rows_to_set(duck_cols, duck_rows)
    assert got == want, f"{name}: value hash diverges\nspark[0:3]={got[:3]}\nduck[0:3]={want[:3]}"


def test_entry_smoke(spark, contract):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"url", "extracted_text", "title", "content_mode"} <= set(df.columns)
    ok = [r for r in rows if r["error"] is None]
    assert ok and all(r["extracted_text"] is not None for r in ok)


def test_driver_window_and_exclusions(spark, contract):
    """The driver evaluates at most 50 queries (round 3 dropped the 51st
    silently); every driver query must have an oracle — zero rows-only
    checks — and every excluded query must still be covered here via
    all_queries()."""
    q = contract.queries()
    assert len(q) <= contract.DRIVER_QUERY_CAP
    oracles = contract.oracle_sql()
    missing = sorted(set(q) - set(oracles))
    assert not missing, f"driver queries without an oracle: {missing}"
    assert set(contract.DRIVER_EXCLUDED) <= set(contract.all_queries())
    assert not set(contract.DRIVER_EXCLUDED) & set(q)
