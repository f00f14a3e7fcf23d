"""Local replica of the driver's CORRECTNESS gate: run every queries()
entry AND its oracle SQL at sf0.01, compare row count + column set +
sorted value hash exactly like tests/test_oracle_parity.py does at
sf0.001. Prints one line per query and a final tally. The session is
``build_session``'s default: ``SPARK_GRAFT_CPUS=N`` runs it on ``local[N]``
with N shuffle partitions, and without it ``local[*]`` gets one shuffle
partition per core."""

from __future__ import annotations

import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
os.chdir(REPO)

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    import __spark_entry__ as entrymod
    from test_oracle_parity import _rows_to_set

    from riptide_spark.session import build_session

    spark = build_session("sweep-sf001")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for path in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(path).replace(".parquet", "")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ok = bad = 0
    for name, fn in queries.items():
        try:
            df = fn(spark, SF_DIR)
            cols = list(df.columns)
            rows = [tuple(r) for r in df.collect()]
            rel = con.sql(oracles[name])
            dcols, drows = list(rel.columns), rel.fetchall()
            colm = sorted(c.lower() for c in cols) == sorted(c.lower() for c in dcols)
            rowm = len(rows) == len(drows)
            hashm = _rows_to_set(cols, rows) == _rows_to_set(dcols, drows)
            good = colm and rowm and hashm
        except Exception as exc:  # noqa: BLE001
            good, colm, rowm, hashm = False, False, False, False
            print(f"{name}: ERROR {type(exc).__name__}: {exc}", flush=True)
        ok += good
        bad += not good
        print(
            f"{name}: {'OK' if good else 'FAIL'} "
            f"(cols={colm} rows={rowm} hash={hashm})",
            flush=True,
        )
    print(f"SWEEP {ok}/{ok + bad} green at {SF_DIR}")
    spark.stop()
    sys.exit(0 if bad == 0 else 1)


if __name__ == "__main__":
    main()
