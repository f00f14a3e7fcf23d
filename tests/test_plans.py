"""Physical-plan quality gates: the properties that matter at 100 TB.

Each test pins a plan property rather than a timing: filters reach the
parquet scan (PushedFilters), projections prune the scan (ReadSchema),
small dims broadcast, the gate runs inside the one Python stage, and the
extraction stage reads only the columns it needs."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from riptide_spark.plans.pipeline import (
    MAX_CONTENT_BYTES,
    ExtractionJobConfig,
    extraction_plan,
    run_extraction_job,
)
from riptide_spark.schema import PAGES_SCHEMA
from riptide_spark.sources.catalog import TableIO
from riptide_spark.sources.pages import synth_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    rows = synth_pages(100, seed=21)
    spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        PAGES_SCHEMA,
    ).write.parquet(path)
    return path


def test_extraction_stage_prunes_input_columns(spark, pages_path):
    """The UDF stage must not read text/lang/warc_ts from parquet."""
    pages = spark.read.parquet(pages_path)
    plan = extraction_plan(pages, ExtractionJobConfig(output_path="", resume=False))
    formatted = _formatted(plan)
    read_schema = next(
        line for line in formatted.splitlines() if "ReadSchema" in line
    )
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema
    assert re.search(r"\btext\b", read_schema) is None
    assert re.search(r"\blang\b", read_schema) is None


def test_size_guard_blanks_before_shuffle(spark, pages_path):
    # Oversized rows become error rows (never dropped — resume would retry
    # them forever), and their html is blanked by an octet_length guard
    # that evaluates adjacent to the scan, before any Exchange, so 20 MB+
    # payloads never ride the shuffle or cross into Python.
    pages = spark.read.parquet(pages_path)
    plan = extraction_plan(pages, ExtractionJobConfig(output_path="", resume=False))
    formatted = _formatted(plan)
    filter_pos = formatted.find("octet_length")
    exchange_pos = formatted.find("Exchange")
    assert filter_pos != -1
    assert exchange_pos == -1 or filter_pos < exchange_pos


def test_oversized_rows_become_error_rows(spark, pages_path):
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_path).limit(3)
    big = pages.limit(1).withColumn(
        "html", F.concat(F.col("html"), F.lit(b"x" * (21 * 1024 * 1024)))
    )
    mixed = pages.union(big)
    out = extraction_plan(mixed, ExtractionJobConfig(output_path="", resume=False))
    rows = out.collect()
    assert len(rows) == 4  # the oversized row is present, not dropped
    errs = [r for r in rows if r["error"] and "exceeds maximum" in r["error"]]
    assert len(errs) == 1
    assert errs[0]["content_mode"] == "oversize"
    assert errs[0]["extracted_text"] is None
    # common_validation.rs:81-85 message shape with the true size.
    assert "Content size" in errs[0]["error"]
    assert str(MAX_CONTENT_BYTES) in errs[0]["error"]


def test_no_gate_expressions_before_the_shuffle(spark, pages_path):
    # Routing runs inside the extraction UDF, so the stage feeding the
    # shuffle is the scan and the size guard: no regexp count, no
    # aggregate lambda, no lower().
    pages = spark.read.parquet(pages_path)
    config = ExtractionJobConfig(output_path="", resume=False, target_partitions=4)
    plan = _plan(extraction_plan(pages, config))
    assert plan.count("ArrowEvalPython") == 1
    pre_shuffle = plan[plan.index("Exchange"):].split("\n", 1)[1]
    assert "Scan" in pre_shuffle
    for expr in ("regexp", "aggregate(", "lower("):
        assert expr not in pre_shuffle, expr


def test_single_python_stage_in_extraction_plan(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = _plan(extraction_plan(pages, ExtractionJobConfig(output_path="", resume=False)))
    assert plan.count("ArrowEvalPython") == 1  # exactly one Python stage
    assert "BatchEvalPython" not in plan  # and no row-at-a-time Python


def test_resume_anti_join_reads_only_url(spark, pages_path, tmp_path):
    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out"), resume=True)
    pages = spark.read.parquet(pages_path)
    run_extraction_job(spark, pages, cfg)
    done = TableIO(spark, cfg.output_path).read().select("url")
    joined = pages.join(done, "url", "left_anti")
    formatted = _formatted(joined)
    # The scan of the output table must read the url column only.
    scans = [m.start() for m in re.finditer(r"Scan parquet", formatted)]
    assert len(scans) >= 2
    out_scan = formatted[scans[-1] :]
    read_schema_line = next(
        line for line in out_scan.splitlines() if "ReadSchema" in line
    )
    assert "url" in read_schema_line
    assert "extracted_text" not in read_schema_line
    assert "spans" not in read_schema_line


def test_metrics_readback_prunes_columns(spark, pages_path, tmp_path):
    cfg = ExtractionJobConfig(
        output_path=str(tmp_path / "out2"),
        metrics_path=str(tmp_path / "m2"),
        resume=False,
    )
    run_extraction_job(spark, spark.read.parquet(pages_path), cfg)
    from riptide_spark.operators.metrics import partition_metrics

    # The run-scoped read-back the sidecar makes: this run's files only,
    # with the written schema.
    io = TableIO(spark, cfg.output_path)
    (manifest,) = io.manifests()
    written = io.read(schema=io.read().schema, files=manifest.files)
    formatted = _formatted(partition_metrics(written, "r"))
    read_schema_line = next(
        line for line in formatted.splitlines() if "ReadSchema" in line
    )
    assert "extracted_text" not in read_schema_line
    assert "links" not in read_schema_line
    assert "quality_score" in read_schema_line


def test_dim_join_broadcasts(spark):
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("testdata missing")
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dim_broadcast_join"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_equality_filter_pushdown_on_output_table(spark, pages_path, tmp_path):
    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out3"), resume=False)
    run_extraction_job(spark, spark.read.parquet(pages_path), cfg)
    out = TableIO(spark, cfg.output_path).read().filter(F.col("content_mode") == "raw")
    formatted = _formatted(out.select("url"))
    pushed_line = next(
        (line for line in formatted.splitlines() if "PushedFilters" in line), ""
    )
    assert "content_mode" in pushed_line or "IsNotNull" in pushed_line


def test_dedup_cascade_plan_has_no_cartesian_or_nested_loop(spark):
    """The LSH-verify cascade must stay equi-join shaped: a Cartesian or
    broadcast-nested-loop join anywhere in the candidate generation or
    verification would be the 100 TB scale-killer the cascade exists to
    avoid."""
    from pyspark.sql import functions as F

    from riptide_spark.operators.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    corpus = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some repeated words for doc "), F.col("id").cast("string")).alias("text"),
    )
    for df in (
        minhash_candidate_pairs(corpus),
        ngram_jaccard_pairs(corpus),
    ):
        plan = _formatted(df)
        assert "CartesianProduct" not in plan, plan[:500]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:500]


def test_resume_anti_join_big_done_side_not_broadcast(spark, pages_path, tmp_path):
    """Once the done-url table exceeds the broadcast threshold, the resume
    anti-join must plan as a shuffled join (AQE SMJ), not a broadcast of
    the big side — broadcasting a 100 TB output table's url set would OOM
    the driver. Emulated by dropping the threshold under the done side's
    size estimate."""
    from riptide_spark.plans.pipeline import resume_anti_join

    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out_bc"), resume=True)
    pages = spark.read.parquet(pages_path)
    run_extraction_job(spark, pages, cfg)
    done = TableIO(spark, cfg.output_path).read().select("url")

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        plan = _plan(resume_anti_join(pages, done))
        assert "BroadcastHashJoin" not in plan, plan[:800]
        assert re.search(r"(SortMergeJoin|ShuffledHashJoin) .*LeftAnti", plan), plan[:800]
        # And under the default threshold the small done side SHOULD broadcast.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        plan_small = _plan(resume_anti_join(pages, done))
        assert re.search(r"BroadcastHashJoin .*LeftAnti", plan_small), plan_small[:800]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_resume_skip_stat_needs_no_input_scan(spark, pages_path, tmp_path, monkeypatch):
    """rows_skipped_resume must be observed in the write (rows presented
    minus rows written), not counted by a pass over the input or the
    output table — one extra pass over 100 TB for a log stat is real
    money. Gate: no DataFrame.count() at all during a resumed run, and the
    stat is still exact."""
    cfg = ExtractionJobConfig(output_path=str(tmp_path / "out_noscan"), resume=True)
    pages = spark.read.parquet(pages_path).limit(40)
    first = run_extraction_job(spark, pages, cfg)
    assert first.rows_written == 40

    calls: list[int] = []
    # Patch the concrete DataFrame class (pyspark.sql.DataFrame is the
    # abstract facade in Spark 4; instances are classic.dataframe.DataFrame).
    concrete = type(pages)
    orig = concrete.count

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(concrete, "count", counting)
    rerun = run_extraction_job(spark, pages, cfg)
    assert rerun.rows_written == 0
    assert rerun.rows_skipped_resume == 40
    assert not calls, f"expected no count(), saw {len(calls)}"


def test_batch_ann_plans_stay_equi_join(spark):
    """The batch ANN probe routing must remain an equi-join (broadcast
    probe rows, bucket/list equality) — a Cartesian or nested-loop join
    over |corpus|×|queries| is the scale-killer the probe explosion
    exists to avoid. (The brute-force baseline cosine_topk_batch is the
    intentional exception.)"""
    from riptide_spark.operators.similarity import (
        ann_topk_ivf_batch,
        ann_topk_lsh_batch,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    for df in (
        ann_topk_lsh_batch(emb, queries, k=5, planes=6, hamming=2),
        ann_topk_lsh_batch(emb, queries, k=5, planes=6, hamming=1, tables=3),
        ann_topk_ivf_batch(emb, queries, k=5, n_centroids=8, n_probe=2),
    ):
        plan = _formatted(df)
        assert "CartesianProduct" not in plan, plan[:500]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:500]


@pytest.mark.parametrize("planes", [2, 8, 16])
def test_lsh_signature_is_one_aggregate_over_the_vector(spark, planes):
    """Every plane's projection rides one ``planes``-slot accumulator: the
    signature reads the vector with one ``aggregate``, however many planes."""
    from riptide_spark.operators.similarity import lsh_signature

    df = spark.createDataFrame([([0.5, -1.0],)], "v array<double>")
    plan = df.select(lsh_signature(F.col("v"), planes))._jdf.queryExecution().analyzed()
    assert len(re.findall(r"aggregate\(transform\(v#", plan.toString())) == 1


def test_single_query_topk_is_a_partial_window_group_limit(spark, tmp_path):
    """A single query runs the batch operator on a one-row query frame, so
    for k under ``spark.sql.optimizer.windowGroupLimitThreshold`` its
    top-k is the ``row_number() <= k`` window that Spark splits into a
    Partial WindowGroupLimit right below the shuffle and a Final one above
    it — each partition ships at most k rows, as TakeOrdered would. The
    ≤ k ranked rows are then put in rank order without a second (range)
    shuffle; the index queries, ranked by the same code, neither."""
    import numpy as np

    from riptide_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_ivf_index,
        ann_topk_lsh,
        ann_topk_lsh_index,
        cosine_topk,
        write_ivf_index,
        write_lsh_index,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") + i).cast("float") for i in range(8)]).alias(
            "embedding"
        ),
    )
    k = 10
    assert k < int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold"))
    for df in (
        cosine_topk(emb, query_id=0, k=k),
        ann_topk_lsh(emb, query_id=0, k=k, planes=6, hamming=2),
        ann_topk_ivf(emb, query_id=0, k=k, n_probe=2, centroids=np.eye(4, 8)),
    ):
        lines = _plan(df).splitlines()
        shuffles = [i for i, line in enumerate(lines) if "Exchange hashpartitioning" in line]
        assert shuffles, "\n".join(lines)
        below = lines[shuffles[0] + 1]
        assert "WindowGroupLimit" in below and "Partial" in below, "\n".join(lines)
        assert not any("TakeOrdered" in line for line in lines)
        assert not any("rangepartitioning" in line for line in lines), "\n".join(lines)

    query = [float(np.sin(i)) for i in range(8)]
    write_lsh_index(emb, str(tmp_path / "lsh"), planes=6, tables=2)
    centroids = write_ivf_index(emb, str(tmp_path / "ivf"), n_centroids=4)
    for df in (
        ann_topk_lsh_index(spark, str(tmp_path / "lsh"), query, k=k, planes=6, tables=2),
        ann_topk_ivf_index(spark, str(tmp_path / "ivf"), centroids, query, k=k),
    ):
        assert "rangepartitioning" not in _plan(df), _plan(df)


def test_warc_day_layout_prunes_partitions(spark, tmp_path_factory):
    """The north rule's days(warc_ts) crawl layout: pages written via
    write_pages_by_day land in hive-style warc_day directories, and a
    day-ranged read prunes to the matching partitions (PartitionFilters
    in the scan, not a post-scan Filter) — the access path that makes
    incremental per-crawl-day processing O(day), not O(table), at
    10^12-doc scale. Counts cross-checked against an unpartitioned
    derivation of the same predicate."""
    from riptide_spark.sources.pages import write_pages_by_day

    path = str(tmp_path_factory.mktemp("byday") / "pages")
    # warc_ts advances 17 s per index → ~5,083 pages/day; 12,000 spans 3 days.
    write_pages_by_day(spark, path, 12_000, seed=7)

    days = sorted(d for d in os.listdir(path) if d.startswith("warc_day="))
    assert len(days) == 3, days

    pages = spark.read.parquet(path)
    first_day = days[0].split("=", 1)[1]
    one_day = pages.filter(F.col("warc_day") == first_day)

    formatted = _formatted(one_day)
    pf_line = next(
        line for line in formatted.splitlines() if "PartitionFilters" in line
    )
    assert "warc_day" in pf_line, pf_line

    expected = pages.filter(F.to_date("warc_ts") == first_day).count()
    assert one_day.count() == expected > 0
    # The full read still sees every row exactly once across partitions.
    assert pages.count() == 12_000


def test_day_bucket_layout_prunes_both_dimensions_in_one_scan(spark, tmp_path_factory):
    """VERDICT r4 #7: the two-level `days(warc_ts) × bucket(url)` layout
    must prune BOTH dimensions in a single scan — the PartitionFilters
    clause carries the warc_day AND url_bucket predicates together, and
    no post-scan Filter re-applies either. This is the access path that
    makes a day-scoped url-keyed read O(day/buckets) at 10^12 docs.
    Counts cross-checked against the unpartitioned derivation of the
    same predicate pair."""
    from riptide_spark.operators.partitioning import url_bucket_column
    from riptide_spark.sources.pages import write_pages_by_day_bucket

    path = str(tmp_path_factory.mktemp("daybucket") / "pages")
    write_pages_by_day_bucket(spark, path, 12_000, seed=7, buckets=8)

    days = sorted(d for d in os.listdir(path) if d.startswith("warc_day="))
    assert len(days) == 3, days
    first_day = days[0].split("=", 1)[1]
    inner = sorted(
        d
        for d in os.listdir(os.path.join(path, days[0]))
        if d.startswith("url_bucket=")
    )
    assert len(inner) == 8, inner

    pages = spark.read.parquet(path)
    scoped = pages.filter(
        (F.col("warc_day") == first_day) & (F.col("url_bucket") == 3)
    )
    formatted = _formatted(scoped)
    pf_line = next(
        line for line in formatted.splitlines() if "PartitionFilters" in line
    )
    assert "warc_day" in pf_line and "url_bucket" in pf_line, pf_line

    expected = (
        pages.withColumn("b2", url_bucket_column("url", 8))
        .filter((F.to_date("warc_ts") == first_day) & (F.col("b2") == 3))
        .count()
    )
    assert scoped.count() == expected > 0
    assert pages.count() == 12_000
