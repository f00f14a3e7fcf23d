"""The gate runs inside the extraction UDF: every row's ``content_mode`` is
``functions.gate.route`` of its page, through the batch job and through the
stream (which runs the batch job on each micro-batch), on a corpus that
covers every archetype, the rows with invalid UTF-8 and one oversized row,
which both paths turn into the same ``oversize`` error row. Every batch
row, the oversized one included, is ``_extract_one`` of its page, called
outside Spark."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from riptide_spark.functions.gate import route
from riptide_spark.operators import extract_udf
from riptide_spark.operators.extract_udf import _extract_one
from riptide_spark.plans.pipeline import (
    MAX_CONTENT_BYTES,
    ExtractionJobConfig,
    run_extraction_job,
)
from riptide_spark.schema import OUTPUT_COLUMNS, PAGES_SCHEMA
from riptide_spark.sources.catalog import TableIO
from riptide_spark.sources.pages import ARCHETYPES, synth_pages
from riptide_spark.streaming.ndjson import StreamConfig, start_stream

N = 160
SEED = 42
PAD = MAX_CONTENT_BYTES + 1


def _invalid_utf8(page: dict) -> bool:
    try:
        page["html"].decode("utf-8")
    except UnicodeDecodeError:
        return True
    return False


@pytest.fixture(scope="module")
def corpus():
    pages = synth_pages(N, SEED)
    assert {p["archetype"] for p in pages} == {name for name, _ in ARCHETYPES}
    assert sum(_invalid_utf8(p) for p in pages) >= 2
    oversize = dict(pages[0], url=pages[0]["url"] + "-oversize",
                    html=pages[0]["html"] + b" " * PAD)
    return pages, oversize


def _frame(spark, pages, oversize):
    df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"], p["text"], p["lang"]) for p in pages],
        PAGES_SCHEMA,
    )
    big = df.filter(F.col("url") == pages[0]["url"]).select(
        F.lit(oversize["url"]).alias("url"),
        "warc_ts",
        F.concat("html", F.lit(b" " * PAD)).alias("html"),
        "text",
        "lang",
    )
    return df.union(big)


def _routes(pages) -> dict[str, str]:
    return {p["url"]: route(p["html"].decode("utf-8", "replace"), p["url"]) for p in pages}


@pytest.fixture(scope="module")
def batch_rows(spark, corpus, tmp_path_factory):
    """The batch job's output table over the corpus, by url."""
    pages, oversize = corpus
    cfg = ExtractionJobConfig(output_path=str(tmp_path_factory.mktemp("gate_udf") / "out"),
                              resume=False, target_partitions=4)
    run_extraction_job(spark, _frame(spark, pages, oversize), cfg)
    rows = TableIO(spark, cfg.output_path).read().collect()
    return {r["url"]: r.asDict(recursive=True) for r in rows}


def test_batch_job_content_mode_is_the_gate_route(corpus, batch_rows):
    pages, oversize = corpus
    got = {url: r["content_mode"] for url, r in batch_rows.items()}
    assert got.pop(oversize["url"]) == "oversize"
    assert got == _routes(pages)


def test_batch_rows_are_extract_one_of_the_page(corpus, batch_rows):
    """Routing, extraction and the row mapping are one function: every
    batch row, the oversize one included, equals ``_extract_one`` of its
    page with no mode, ``content_mode`` and ``error`` included."""
    pages, oversize = corpus
    assert set(batch_rows) == {p["url"] for p in pages} | {oversize["url"]}
    fields = [c for c in OUTPUT_COLUMNS if c not in ("url", "extract_ms")]
    for page in pages + [oversize]:
        want = _extract_one(page["html"], page["url"])
        row = batch_rows[page["url"]]
        assert {f: row[f] for f in fields} == {f: want[f] for f in fields}, page["url"]


@pytest.mark.parametrize("mode", [None, "article", "dom", "pdf", "skip"])
def test_oversize_payload_is_an_oversize_row_without_decoding(corpus, mode):
    """The 20 MB rule comes first: whatever the mode, a payload over the
    cap is the oversize row with its true size, in far less time than a
    decode or a route of 20 MB would take."""
    page = corpus[0][0]
    html = page["html"] + b" " * (MAX_CONTENT_BYTES + 1 - len(page["html"]))
    started = time.perf_counter()
    row = _extract_one(html, page["url"], mode)
    assert time.perf_counter() - started < 0.05
    assert row["content_mode"] == "oversize"
    assert row["error"] == (
        f"invalid-html: Content size {MAX_CONTENT_BYTES + 1} exceeds maximum {MAX_CONTENT_BYTES}"
    )
    assert row["extracted_text"] is None


@pytest.mark.parametrize("mode", ["custom", "bogus", ""])
def test_unknown_forced_mode_is_an_error_row_before_decoding(corpus, monkeypatch, mode):
    def never(*args, **kwargs):
        raise AssertionError("page decoded")

    monkeypatch.setattr(extract_udf, "_decode_lossy", never)
    monkeypatch.setattr(extract_udf.dom, "parse", never)
    page = corpus[0][0]
    row = _extract_one(page["html"], page["url"], mode)
    assert row["error"] == f"invalid-html: Unknown extraction mode: {mode}"
    assert row["content_mode"] == mode
    assert row["extracted_text"] is None


def test_streaming_plan_content_mode_is_the_gate_route(spark, corpus, tmp_path):
    pages, oversize = corpus
    _frame(spark, pages, oversize).write.parquet(str(tmp_path / "pages"))
    config = StreamConfig(
        input_path=str(tmp_path / "pages"),
        output_path=str(tmp_path / "out"),
        ndjson_path=None,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    query = start_stream(spark, config)
    query.awaitTermination(timeout=300)
    assert not query.isActive
    rows = TableIO(spark, config.output_path).read().select("url", "content_mode", "error")
    got = {r["url"]: r for r in rows.collect()}
    big = got.pop(oversize["url"])
    assert big["content_mode"] == "oversize"
    assert big["error"] == (
        f"invalid-html: Content size {len(oversize['html'])} "
        f"exceeds maximum {MAX_CONTENT_BYTES}"
    )
    assert {u: r["content_mode"] for u, r in got.items()} == _routes(pages)
