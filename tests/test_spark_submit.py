"""North-rule launch path: ``spark-submit --py-files riptide_spark.zip``.

The cluster story everywhere else in the repo is tested through an
in-process SparkSession; this is the one place the ACTUAL submission
mechanics are exercised — `jobs/package.py` builds the zip, spark-submit
ships it, and both the driver and the executor Python workers resolve
`riptide_spark` from the shipped archive alone.

The job script is COPIED into a neutral temp cwd before launch: its
standalone fallback would insert the script's repo root into sys.path,
which from the copy is an empty temp dir — so a pass proves the zip (not
the checkout) supplied the package, on the driver via --py-files
sys.path injection and on executors via SparkContext file distribution.
Reference anchor: the north rule's "launched via spark-submit --py-files
on multi-executor clusters"; deployment docs in jobs/extract_job.py.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this host"
)


def test_spark_submit_py_files_end_to_end(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        import package as packager
    finally:
        sys.path.pop(0)
    zip_path = packager.build(str(tmp_path / "riptide_spark.zip"))

    job = tmp_path / "extract_job.py"
    shutil.copyfile(os.path.join(REPO, "jobs", "extract_job.py"), job)
    out_dir = tmp_path / "out"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(job),
            "--synthesize", "300",
            "--output", str(out_dir),
            "--buckets", "4",
            "--no-resume",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-4000:]}"
    m = re.search(r"written=(\d+)", proc.stdout)
    assert m, f"no result line in stdout:\n{proc.stdout[-2000:]}"
    assert int(m.group(1)) == 300

    # The output table is real parquet with the contract columns.
    import duckdb

    cols = {
        r[0]
        for r in duckdb.sql(
            f"DESCRIBE SELECT * FROM '{out_dir}/data/**/*.parquet'"
        ).fetchall()
    }
    assert {"url", "extracted_text", "title", "content_mode"} <= cols
    n = duckdb.sql(f"SELECT count(*) FROM '{out_dir}/data/**/*.parquet'").fetchone()[0]
    assert n == 300
    # The shuffle width divides --buckets (here 4 on local[4]), so each
    # bucket is written by exactly one task: one file per bucket.
    files = glob.glob(f"{out_dir}/data/**/*.parquet", recursive=True)
    assert len(files) == 4, files


def test_spark_submit_day_scoped_incremental_run(spark, tmp_path):
    """--since/--until on a days(warc_ts) layout processes exactly one
    crawl day's pages (partition-pruned scan; pruning itself is pinned by
    test_plans.test_warc_day_layout_prunes_partitions)."""
    from pyspark.sql import functions as F

    from riptide_spark.sources.pages import write_pages_by_day

    input_dir = str(tmp_path / "pages")
    # 17 s per index → ~5,083 pages/day; 11,000 spans 3 partition days.
    write_pages_by_day(spark, input_dir, 11_000, seed=5)
    pages = spark.read.parquet(input_dir)
    day0 = str(pages.agg(F.min("warc_day")).first()[0])
    expected = pages.filter(F.col("warc_day") == day0).count()
    assert 0 < expected < 11_000

    out_dir = tmp_path / "out"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            # cwd=REPO: the package resolves from the checkout here; the
            # --py-files zip mechanics are pinned by the test above.
            os.path.join(REPO, "jobs", "extract_job.py"),
            "--input", input_dir,
            "--since", day0,
            "--until", day0,
            "--output", str(out_dir),
            "--buckets", "4",
            "--no-resume",
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-4000:]}"
    m = re.search(r"written=(\d+)", proc.stdout)
    assert m and int(m.group(1)) == expected, proc.stdout[-2000:]
