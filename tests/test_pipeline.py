"""End-to-end extraction job tests: correctness, golden parity through
Spark, resume idempotency, error isolation, metrics lineage, determinism
across parallelism levels."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from riptide_spark.operators.partitioning import url_bucket_column
from riptide_spark.plans.pipeline import ExtractionJobConfig, run_extraction_job
from riptide_spark.schema import PAGES_SCHEMA
from riptide_spark.sources.catalog import TableIO
from riptide_spark.sources.pages import pages_dataframe, synth_pages

from .golden_cases import GOLDEN_CASES, load_fixture, load_snapshot, reference_available

N = 150
SEED = 11


def _pages_df(spark, n=N, seed=SEED):
    rows = synth_pages(n, seed=seed)
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        PAGES_SCHEMA,
    )


@pytest.fixture(scope="module")
def job_output(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("job")
    cfg = ExtractionJobConfig(
        output_path=str(tmp / "out"),
        metrics_path=str(tmp / "metrics"),
        target_partitions=4,
    )
    result = run_extraction_job(spark, _pages_df(spark), cfg)
    return tmp, cfg, result


def test_job_writes_all_rows(spark, job_output):
    tmp, cfg, result = job_output
    assert result.rows_written == N
    out = TableIO(spark, cfg.output_path).read()
    assert out.count() == N
    assert out.select("url").distinct().count() == N


def test_output_schema_has_north_rule_columns(spark, job_output):
    tmp, cfg, _ = job_output
    out = TableIO(spark, cfg.output_path).read()
    for col in ["url", "extracted_text", "title", "spans", "content_mode"]:
        assert col in out.columns


def test_routing_covers_all_branches(spark, job_output):
    tmp, cfg, _ = job_output
    out = TableIO(spark, cfg.output_path).read()
    modes = {r["content_mode"] for r in out.select("content_mode").distinct().collect()}
    assert {"raw", "probes_first", "headless", "pdf"} <= modes


def test_errors_isolated_not_fatal(spark, job_output):
    tmp, cfg, _ = job_output
    out = TableIO(spark, cfg.output_path).read()
    failed = out.filter(F.col("error").isNotNull())
    assert failed.count() > 0  # corpus contains minimal_invalid docs
    assert failed.filter(F.col("extracted_text").isNotNull()).count() == 0
    ok = out.filter(F.col("error").isNull())
    assert ok.filter(F.col("extracted_text").isNull()).count() == 0


def test_resume_is_idempotent(spark, job_output):
    tmp, cfg, _ = job_output
    rerun = run_extraction_job(spark, _pages_df(spark), cfg)
    assert rerun.rows_written == 0
    assert rerun.rows_skipped_resume == N
    out = TableIO(spark, cfg.output_path).read()
    assert out.count() == N  # no duplicates


def test_resume_processes_only_new_rows(spark, job_output):
    tmp, cfg, _ = job_output
    bigger = _pages_df(spark, n=N + 20)
    run = run_extraction_job(spark, bigger, cfg)
    assert run.rows_skipped_resume == N
    assert run.rows_written == 20
    out = TableIO(spark, cfg.output_path).read()
    assert out.count() == N + 20
    assert out.select("url").distinct().count() == N + 20


def test_manifests_committed(spark, job_output):
    tmp, cfg, _ = job_output
    manifests = TableIO(spark, cfg.output_path).manifests()
    assert manifests and all(m.committed for m in manifests)


def test_metrics_sidecar_consistent(spark, job_output):
    tmp, cfg, _ = job_output
    out = TableIO(spark, cfg.output_path).read()
    metrics = TableIO(spark, cfg.metrics_path).read()
    agg = metrics.agg(
        F.sum("docs_total").alias("t"),
        F.sum("docs_ok").alias("ok"),
        F.sum("docs_failed").alias("f"),
        F.sum("decision_raw").alias("raw"),
        F.sum("decision_pdf").alias("pdf"),
    ).collect()[0]
    total = out.count()
    assert agg["t"] == total
    assert agg["ok"] == out.filter(F.col("error").isNull()).count()
    assert agg["f"] == out.filter(F.col("error").isNotNull()).count()
    assert agg["raw"] == out.filter(F.col("content_mode") == "raw").count()
    assert agg["pdf"] == out.filter(F.col("content_mode") == "pdf").count()


def test_partitioning_columns_deterministic(spark, job_output):
    tmp, cfg, _ = job_output
    out = TableIO(spark, cfg.output_path).read()
    assert "url_bucket" in out.columns
    buckets = out.select(F.min("url_bucket"), F.max("url_bucket")).collect()[0]
    assert buckets[0] >= 0 and buckets[1] < cfg.buckets
    # Same url → same bucket, always (required for idempotent resume).
    recomputed = out.withColumn("rb", url_bucket_column("url", cfg.buckets))
    assert recomputed.filter(F.col("rb") != F.col("url_bucket")).count() == 0


@pytest.mark.skipif(not reference_available(), reason="reference not present")
def test_golden_parity_through_spark(spark, tmp_path):
    """The full Spark path (binary→decode→UDF) must preserve byte parity."""
    rows = []
    for name, fixture, url, mode in GOLDEN_CASES:
        html = load_fixture(fixture).encode("utf-8")
        rows.append((url, None, html, None, None, mode))
    # Fresh StructType: .add() would mutate the shared PAGES_SCHEMA in place.
    from pyspark.sql import types as T

    schema = T.StructType(list(PAGES_SCHEMA.fields) + [T.StructField("mode", T.StringType())])
    df = spark.createDataFrame(rows, schema)

    from riptide_spark.operators.extract_udf import extract_udf

    got = {
        r["url"] + "|" + r["mode"]: r
        for r in df.withColumn(
            "ex", extract_udf(F.col("html"), F.col("url"), F.col("mode"))
        )
        .select("url", "mode", "ex.*")
        .collect()
    }
    for name, fixture, url, mode in GOLDEN_CASES:
        expected = load_snapshot(name)
        row = got[url + "|" + mode]
        assert row["extracted_text"] == expected["text"], name
        assert row["title"] == expected["title"], name
        assert list(row["links"]) == expected["links"], name
        assert list(row["media"]) == expected["media"], name
        assert list(row["categories"]) == expected["categories"], name
        assert row["quality_score"] == expected["quality_score"], name
        assert row["word_count"] == expected["word_count"], name


def test_determinism_across_parallelism(spark, tmp_path):
    """Same input at different partition counts → identical output rows.

    This is the correctness half of the two-cluster-size scaling criterion:
    nothing in the plan may depend on task layout.
    """
    def run(parts, sub):
        cfg = ExtractionJobConfig(
            output_path=str(tmp_path / sub / "out"),
            target_partitions=parts,
            resume=False,
        )
        run_extraction_job(spark, pages_dataframe(spark, 80, seed=3, partitions=parts), cfg)
        out = TableIO(spark, cfg.output_path).read()
        return {
            r["url"]: (r["extracted_text"], r["title"], r["content_mode"], r["quality_score"])
            for r in out.collect()
        }

    low = run(2, "p2")
    high = run(8, "p8")
    assert low == high


def test_escalation_probes_first(spark):
    """A probes_first page with a weak article probe escalates to full."""
    weak_article = (
        "<html><head><title>T</title></head><body>"
        + "<article>" + ("word " * 45) + "</article>"
        + "<div>" + ("extra body content here " * 30) + "</div>"
        + ("<p>pad</p>" * 3)
        + "</body></html>"
    ).encode()
    from riptide_spark.operators.extract_udf import extract_udf

    df = spark.createDataFrame(
        [("https://example.com/weak", weak_article, "probes_first")],
        "url string, html binary, mode string",
    )
    row = df.select(
        extract_udf(F.col("html"), F.col("url"), F.col("mode")).alias("ex")
    ).select("ex.*").collect()[0]
    assert row["escalated"] is True
    # Escalated result is the full-body pass, so it includes the div text.
    assert "extra body content" in row["extracted_text"]


def test_crash_between_data_and_manifest_does_not_duplicate(spark, tmp_path):
    """Simulate a crash after the data write but before the manifest commit:
    the orphaned rows must still be seen by the next run's anti-join
    (write-then-commit ordering guarantees no duplicates, no loss)."""
    import os

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    pages = _pages_df(spark, n=60)
    run_extraction_job(spark, pages, cfg)

    # Wipe the manifests — as if the process died before committing.
    manifest_dir = os.path.join(cfg.output_path, "_manifests")
    for name in os.listdir(manifest_dir):
        os.remove(os.path.join(manifest_dir, name))

    rerun = run_extraction_job(spark, _pages_df(spark, n=60), cfg)
    assert rerun.rows_written == 0
    assert rerun.rows_skipped_resume == 60
    out = TableIO(spark, cfg.output_path).read()
    assert out.count() == 60
    assert out.select("url").distinct().count() == 60


def test_salting_spreads_hot_host_in_host_keyed_shuffle(spark):
    """Host-keyed stages (per-host metrics/joins) put a hot host in ONE task
    unless salted; the deterministic salt must split it across tasks while
    keeping cold hosts co-located (the skew lever of the north rule).
    Url-keyed shuffles need no salt — the url hash is already uniform."""
    from riptide_spark.operators.partitioning import repartition_by_host

    rows = [(f"https://hot.example.com/page-{i}", b"<html></html>") for i in range(400)]
    rows += [(f"https://cold-{i}.example.org/x", b"<html></html>") for i in range(40)]
    df = spark.createDataFrame(rows, "url string, html binary")

    def hot_partition_spread(hot_hosts):
        parted = repartition_by_host(df, 16, hot_hosts=hot_hosts, salts=8)
        counts = (
            parted.filter(F.col("url").contains("hot.example.com"))
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return {r["pid"]: r["count"] for r in counts}

    unsalted = hot_partition_spread([])
    salted = hot_partition_spread(["hot.example.com"])
    # Unsalted: the whole hot host in a single task partition.
    assert len(unsalted) == 1
    # Salted: split across multiple tasks with a much smaller maximum.
    assert len(salted) > 1
    assert max(salted.values()) < max(unsalted.values()) / 2
    # Determinism: same url → same salt on rerun.
    assert salted == hot_partition_spread(["hot.example.com"])


def test_orphan_rows_counted_in_resume_skip_stat(spark, tmp_path, monkeypatch):
    """A crash between a data write and its manifest commit leaves orphan
    rows the anti-join honors but no manifest records. The skip count is
    observed in the write (rows presented minus rows written), so it
    stays exact without any count() of the done side — the code-review
    r3 scenario."""
    import os

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    run_extraction_job(spark, _pages_df(spark, n=50), cfg)

    # Run 2 over a superset; then simulate the crash by deleting ONLY its
    # manifest — its 30 new rows become orphans.
    two = run_extraction_job(spark, _pages_df(spark, n=80), cfg)
    manifest_dir = os.path.join(cfg.output_path, "_manifests")
    os.remove(os.path.join(manifest_dir, f"run-{two.run_id}.json"))

    pages = _pages_df(spark, n=80)
    calls: list[int] = []
    # The concrete class: pyspark.sql.DataFrame is the abstract facade in
    # Spark 4.
    concrete = type(pages)
    count = concrete.count

    def counting(self):
        calls.append(1)
        return count(self)

    with monkeypatch.context() as patch:
        patch.setattr(concrete, "count", counting)
        rerun = run_extraction_job(spark, pages, cfg)
    assert not calls, f"expected no count(), saw {len(calls)}"
    assert rerun.rows_written == 0
    assert rerun.rows_skipped_resume == 80  # 50 committed + 30 orphans


@pytest.mark.parametrize("broadcast_threshold", ["10MB", "-1"],
                         ids=["broadcast", "sort_merge"])
def test_partial_recrawl_skip_count_is_exact(spark, tmp_path, broadcast_threshold):
    """A re-crawl that presents only part of the done urls: run 1 writes
    urls 0-39, run 2 presents urls 30-79 (10 done, 40 new). The skip count
    is the 10 rows the anti-join dropped, not the 40 rows of the table,
    whether the anti-join plans as a broadcast or a sort-merge join."""
    rows = [
        (r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
        for r in synth_pages(80, seed=SEED)
    ]
    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast_threshold)
    try:
        first = run_extraction_job(
            spark, spark.createDataFrame(rows[:40], PAGES_SCHEMA), cfg
        )
        recrawl = run_extraction_job(
            spark, spark.createDataFrame(rows[30:], PAGES_SCHEMA), cfg
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert first.rows_skipped_resume == 0
    assert recrawl.rows_written == 40
    assert recrawl.rows_skipped_resume == 10
    out = TableIO(spark, cfg.output_path).read()
    assert out.count() == out.select("url").distinct().count() == 80


def test_vacuumed_file_breaks_ledger_fast_path(spark, tmp_path):
    """The converse hole (ADVICE r3): a data file recorded in a committed
    manifest but deleted from disk (vacuum/compaction). ``sum(m.rows)``
    over the manifests would over-count the done side; the observed skip
    count is exactly the surviving rows, and the deleted urls are
    re-extracted by the anti-join."""
    import glob
    import os

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    run_extraction_job(spark, _pages_df(spark, n=50), cfg)

    io = TableIO(spark, cfg.output_path)

    # Vacuum one committed data file out from under the ledger.
    victim = sorted(
        glob.glob(os.path.join(cfg.output_path, "**", "*.parquet"), recursive=True)
    )[0]
    os.remove(victim)

    surviving = io.read().count()
    assert surviving < 50

    rerun = run_extraction_job(spark, _pages_df(spark, n=50), cfg)
    assert rerun.rows_skipped_resume == surviving  # exact, not sum(m.rows)=50
    assert rerun.rows_written == 50 - surviving  # lost urls re-extracted


def test_near_cap_documents_cross_arrow_in_bounded_batches(spark, tmp_path):
    """VERDICT r3 #7: drive 5-19 MB documents (just under the 20 MB P3
    cap, common_validation.rs:78-89) through the real extraction job with
    the production Arrow byte bound constrained, and pin two behaviors:

    1. memory — `spark.sql.execution.arrow.maxBytesPerBatch` slices the
       UDF input by BYTES (verified empirically below: a 24 MB bound puts
       at most 2 of the ~12 MB rows in one batch), so a batch of near-cap
       docs can never approach maxRecordsPerBatch × 20 MB;
    2. correctness at the boundary — every near-cap doc extracts
       normally (its megabytes of article text survive the Arrow round
       trip intact) while a just-over-cap doc still becomes an
       'oversize' ERROR row with the original byte size recorded.
    """
    import pandas as pd

    mb = 1024 * 1024
    sizes = {"five": 5 * mb, "twelve": 12 * mb, "nineteen": 19 * mb}
    filler = "lorem ipsum dolor sit amet consectetur adipiscing elit "

    def page(name, target_bytes):
        body = filler * (target_bytes // len(filler))
        html = (
            f"<html><head><title>Near-cap {name}</title></head><body>"
            f"<article><h1>Near-cap {name}</h1><p>{body}</p></article>"
            "</body></html>"
        )
        return (f"https://bigdocs.example.com/{name}", None, html.encode(), None, "en")

    rows = [page(n, s) for n, s in sizes.items()]
    rows.append(page("overcap", 21 * mb))  # > 20 MB → error row
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)

    bound = 24 * mb
    old = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(bound))
    try:
        # (1) the byte bound governs the pandas-UDF input batch shape.
        # No type hints: the module's `from __future__ import annotations`
        # defers them to strings pyspark can't resolve against a
        # test-local pandas import.
        @F.pandas_udf("int")
        def batch_rows(b):
            return pd.Series([len(b)] * len(b))

        # Slicer semantics (4.1.2): rows are appended until the batch
        # REACHES the bound, so a batch overshoots by at most one row —
        # worst case bound + 20 MB (the P3 cap), never records × 20 MB.
        # Four equal 12 MB rows under a 24 MB bound → exactly 2 per batch.
        probe = spark.createDataFrame(
            [page(f"probe{i}", 12 * mb) for i in range(4)], PAGES_SCHEMA
        ).coalesce(1)
        max_batch = probe.select(batch_rows("html").alias("n")).agg(
            F.max("n")
        ).first()[0]
        assert max_batch == 2, f"byte bound not applied: {max_batch} rows/batch"

        # (2) the e2e job at the same bound.
        cfg = ExtractionJobConfig(
            output_path=str(tmp_path / "out"), resume=False, target_partitions=2
        )
        result = run_extraction_job(spark, pages, cfg)
        assert result.rows_written == 4
        out = {r["url"].rsplit("/", 1)[1]: r for r in TableIO(spark, cfg.output_path).read().collect()}

        for name, target in sizes.items():
            row = out[name]
            assert row["error"] is None
            assert row["title"] == f"Near-cap {name}"
            # The multi-MB article text crossed Arrow intact.
            assert len(row["extracted_text"]) > target * 0.9
            assert row["extracted_text"].count("lorem") == target // len(filler)

        over = out["overcap"]
        assert over["content_mode"] == "oversize"
        # The reference's InvalidHtml envelope with the TRUE original size
        # (common_validation.rs:81-85) — not the blanked payload's.
        assert over["error"] is not None
        assert "exceeds maximum 20971520" in over["error"]
        assert over["error"].startswith("invalid-html: Content size 2")
        assert over["extracted_text"] is None
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxBytesPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", old)


def test_compaction_preserves_ledger_fast_path(spark, tmp_path):
    """VERDICT r4 #4: ``TableIO.compact()`` rewrites the small per-run
    files into fewer large ones AND commits a superseding manifest (the
    Iceberg rewrite-data-files + rewrite-manifests pair) that owns every
    surviving file with the exact total. ``rows_skipped_resume`` stays
    exact and the anti-join result is unchanged — no duplicates, no
    re-extractions, new rows still flow."""
    import glob
    import os

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    for n in (30, 50, 70):  # three runs → three manifests, many small files
        run_extraction_job(spark, _pages_df(spark, n=n), cfg)

    io = TableIO(spark, cfg.output_path)
    assert len(io.manifests()) == 3
    files_before = len(
        glob.glob(os.path.join(cfg.output_path, "**", "*.parquet"), recursive=True)
    )

    manifest = io.compact(target_partitions=2)
    # Superseding manifest owns every surviving file with the exact total.
    assert set(manifest.files) == set(io.data_files())
    survivors = io.manifests()
    assert [m.run_id for m in survivors] == [manifest.run_id]
    assert manifest.rows == 70 and manifest.files
    files_after = len(
        glob.glob(os.path.join(cfg.output_path, "**", "*.parquet"), recursive=True)
    )
    assert files_after < files_before
    assert io.read().count() == 70
    assert io.read().select("url").distinct().count() == 70

    # Resume over the same input: exact stat, no work.
    rerun = run_extraction_job(spark, _pages_df(spark, n=70), cfg)
    assert rerun.rows_skipped_resume == 70
    assert rerun.rows_written == 0

    # And new rows still extract normally after maintenance.
    grow = run_extraction_job(spark, _pages_df(spark, n=80), cfg)
    assert grow.rows_skipped_resume == 70
    assert grow.rows_written == 10
    assert io.read().count() == 80


def test_compaction_crash_window_degrades_to_slow_path(spark, tmp_path):
    """No compact() crash window may lead to wrong data or a wrong skip
    count. Simulated window: the superseding manifest is committed but the
    superseded run manifests were not yet removed (steps 3→4 of
    TableIO.compact), so the manifests list files that are gone. Resume
    reads only the table, so the count stays exact, with no duplicates."""
    import os

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    run_extraction_job(spark, _pages_df(spark, n=30), cfg)
    two = run_extraction_job(spark, _pages_df(spark, n=50), cfg)

    io = TableIO(spark, cfg.output_path)
    manifest = io.compact()

    # Resurrect a superseded manifest: ledger ⊃ disk (its files are gone).
    from riptide_spark.sources.catalog import Manifest

    io._write_manifest(
        Manifest(run_id=two.run_id, rows=20, committed=True, files=["gone.parquet"])
    )

    rerun = run_extraction_job(spark, _pages_df(spark, n=50), cfg)
    assert rerun.rows_skipped_resume == 50  # not the manifests' 50+20
    assert rerun.rows_written == 0
    assert io.read().count() == 50

    # Re-compacting drops the stale manifest; the count is unchanged.
    io.compact()
    healed = run_extraction_job(spark, _pages_df(spark, n=50), cfg)
    assert healed.rows_skipped_resume == 50 and healed.rows_written == 0
    assert manifest.rows == 50


def test_every_manifest_commits_once_with_its_true_row_count(spark, tmp_path, monkeypatch):
    """Row counts are observed in the write itself, so every append commits
    exactly one manifest, and at that commit it already holds the rows its
    files contain: output table and metrics sidecar alike, including a
    resumed run that writes nothing. No manifest holds the unknown -1."""
    commits = []
    commit = TableIO._write_manifest

    def recording(self, manifest):
        commits.append((self.path, manifest))
        return commit(self, manifest)

    monkeypatch.setattr(TableIO, "_write_manifest", recording)
    cfg = ExtractionJobConfig(
        output_path=str(tmp_path / "out"),
        metrics_path=str(tmp_path / "metrics"),
        resume=True,
    )
    runs = [run_extraction_job(spark, _pages_df(spark, n=n), cfg) for n in (30, 50, 50)]
    assert [r.rows_written for r in runs] == [30, 20, 0]

    for path in (cfg.output_path, cfg.metrics_path):
        committed = [m for p, m in commits if p == path]
        assert [m.run_id for m in committed] == [r.run_id for r in runs]
        io = TableIO(spark, path)
        assert io.manifests() == sorted(committed, key=lambda m: m.run_id)
        schema = io.read().schema
        for m in committed:
            assert m.committed and m.rows >= 0
            assert m.rows == io.read(schema=schema, files=m.files).count()
    out_rows = [m.rows for p, m in commits if p == cfg.output_path]
    assert out_rows == [r.rows_written for r in runs]


def test_sidecar_reads_back_only_its_runs_files(spark, tmp_path, monkeypatch):
    """The metrics sidecar scans exactly the files its run's manifest lists,
    never the rest of the table, so its cost does not grow with the
    number of runs before it."""
    from urllib.parse import urlparse

    from riptide_spark.plans import pipeline

    read_back = []
    metrics_of = pipeline.partition_metrics

    def capture(written, run_id):
        read_back.append(written)
        return metrics_of(written, run_id)

    monkeypatch.setattr(pipeline, "partition_metrics", capture)
    cfg = ExtractionJobConfig(
        output_path=str(tmp_path / "out"),
        metrics_path=str(tmp_path / "metrics"),
        resume=True,
    )
    runs = [run_extraction_job(spark, _pages_df(spark, n=n), cfg) for n in (30, 50)]

    io = TableIO(spark, cfg.output_path)
    ledger = {m.run_id: m.files for m in io.manifests()}
    assert len(read_back) == len(runs)
    for written, run in zip(read_back, runs):
        files = {urlparse(u).path for u in written.inputFiles()}
        assert files == {os.path.join(io.data_path, f) for f in ledger[run.run_id]}


def test_table_read_starts_no_spark_job(spark, tmp_path):
    """A read of a table written in DEFAULT_BUCKETS url buckets, with a
    known schema, lists the bucket directories on the driver (the session
    pins Spark's parallel-listing threshold to DEFAULT_BUCKETS) and infers
    no schema, so it starts no Spark job: neither the whole-table read of
    the resume anti-join nor the run-scoped read of the sidecar."""
    import uuid

    from riptide_spark.operators.partitioning import DEFAULT_BUCKETS

    io = TableIO(spark, str(tmp_path / "t"))
    frame = spark.range(10 * DEFAULT_BUCKETS).select(
        F.col("id").cast("string").alias("url"),
        (F.col("id") % DEFAULT_BUCKETS).cast("int").alias("url_bucket"),
    )
    # One file per bucket, as an extraction run writes them.
    manifest = io.append(frame.repartition("url_bucket"), partition_by=["url_bucket"])
    assert len({os.path.dirname(f) for f in manifest.files}) == DEFAULT_BUCKETS
    assert len(manifest.files) == DEFAULT_BUCKETS

    sc = spark.sparkContext
    group = f"table-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "TableIO.read")
    try:
        whole = io.read(schema="url string")
        scoped = io.read(schema=frame.schema, files=manifest.files)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert whole.count() == scoped.count() == 10 * DEFAULT_BUCKETS


def test_compaction_crash_between_renames_recovers(spark, tmp_path, monkeypatch):
    """ADVICE r5 #1: a crash after compact() renamed the data dir away but
    before it renamed the compacted copy in leaves no data dir. The next
    read()/exists() must roll the old copy back (its manifests still
    describe it), so nothing is re-extracted and the skip count is
    exact."""
    import glob

    from riptide_spark.sources import catalog

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    for n in (30, 50):
        run_extraction_job(spark, _pages_df(spark, n=n), cfg)
    io = TableIO(spark, cfg.output_path)

    renames = []
    rename = os.rename

    def crash_on_second(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("simulated crash between the renames")
        rename(src, dst)

    with monkeypatch.context() as patch:
        patch.setattr(catalog.os, "rename", crash_on_second)
        with pytest.raises(OSError, match="simulated crash"):
            io.compact()
    assert not os.path.isdir(io.data_path)

    assert io.read().count() == 50
    assert not glob.glob(glob.escape(io.data_path) + ".*")
    assert io.exists()
    rerun = run_extraction_job(spark, _pages_df(spark, n=50), cfg)
    assert rerun.rows_skipped_resume == 50
    assert rerun.rows_written == 0
    assert io.read().count() == 50
