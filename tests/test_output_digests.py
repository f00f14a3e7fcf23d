"""The extractor's output bytes against ``tests/output_digests.json``.

The corpus is ``synth_page`` 0..799 at seed 42 (every archetype, PDFs and
the invalid-UTF-8 rows) plus four hand-made rows: one over 20 MB, one with
null html, one with empty html and one with garbage html. Each row is
extracted by ``_extract_one(html, url)`` and by the ``extraction_plan``
job, and every field but ``extract_ms`` is hashed, once per url and once
per field; the two must agree on every field the table keeps. A refactor
of the parser or the extractors must leave the digests unchanged;
``python scripts/output_digests.py --write`` regenerates them, and every
regeneration is a reviewed change.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from riptide_spark.sources.pages import ARCHETYPES, synth_page

DIGESTS_PATH = Path(__file__).with_name("output_digests.json")
_EXTRA = {
    "https://digest.example.com/oversize": (
        b"<html><body><p>" + b"lorem ipsum " * (20 * 2**20 // 12 + 1) + b"</p></body></html>"
    ),
    "https://digest.example.com/null": None,
    "https://digest.example.com/empty": b"",
    "https://digest.example.com/garbage": (
        b"<html><body><<div>>< p a='<\x00 &bogus;</b></i>\xc3( <tr><td x=\"\n</html>>"
    ),
}


def corpus() -> list[dict]:
    rows = [synth_page(i, 42) for i in range(800)]
    rows += [
        {"url": url, "warc_ts": None, "html": html, "text": None, "lang": None}
        for url, html in _EXTRA.items()
    ]
    return rows


def _sha(value) -> str:
    encoded = json.dumps(value, sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(encoded.encode("utf-8", "surrogatepass")).hexdigest()


def digests(rows: dict[str, dict]) -> dict:
    """``rows`` maps url to its row, every field but ``extract_ms``."""
    urls = sorted(rows)
    fields = sorted(rows[urls[0]])
    return {
        "rows": {url: _sha(rows[url]) for url in urls},
        "fields": {f: _sha([rows[url][f] for url in urls]) for f in fields},
    }


def mismatches(expected: dict, actual: dict) -> list[str]:
    """One line per url whose row differs, naming the fields that differ."""
    fields = sorted(
        f for f in expected["fields"].keys() | actual["fields"].keys()
        if expected["fields"].get(f) != actual["fields"].get(f)
    )
    return [
        f"{url}: {', '.join(fields) or '?'}"
        for url in sorted(expected["rows"].keys() | actual["rows"].keys())
        if expected["rows"].get(url) != actual["rows"].get(url)
    ]


def extract_one_rows(pages: list[dict]) -> dict[str, dict]:
    from riptide_spark.operators.extract_udf import _extract_one

    rows = {p["url"]: _extract_one(p["html"], p["url"]) for p in pages}
    for row in rows.values():
        del row["extract_ms"]
    return rows


def extraction_plan_rows(spark, pages: list[dict]) -> dict[str, dict]:
    from riptide_spark.plans.pipeline import ExtractionJobConfig, extraction_plan
    from riptide_spark.schema import PAGES_SCHEMA

    df = spark.createDataFrame(
        [tuple(p[c] for c in PAGES_SCHEMA.fieldNames()) for p in pages], PAGES_SCHEMA
    )
    out = extraction_plan(df, ExtractionJobConfig(output_path="", target_partitions=4))
    rows = {}
    for r in out.drop("url_bucket", "extract_ms").collect():
        row = r.asDict(recursive=True)
        rows[row.pop("url")] = row
    return rows


@pytest.fixture(scope="module")
def expected():
    return json.loads(DIGESTS_PATH.read_text())


@pytest.fixture(scope="module")
def pages():
    return corpus()


@pytest.fixture(scope="module")
def one_rows(pages):
    return extract_one_rows(pages)


@pytest.fixture(scope="module")
def plan_rows(spark, pages):
    return extraction_plan_rows(spark, pages)


def test_corpus_covers_every_archetype_and_edge_row(pages):
    assert {p.get("archetype") for p in pages} == {a for a, _ in ARCHETYPES} | {None}
    assert sum(b"\xff\xfe trailing garbage" in (p["html"] or b"") for p in pages) >= 5
    sizes = [len(p["html"]) for p in pages if p["html"] is not None]
    assert max(sizes) > 20 * 2**20 and min(sizes) == 0
    assert any(p["html"] is None for p in pages)


def test_extract_one_matches_digests(expected, one_rows):
    assert mismatches(expected["extract_one"], digests(one_rows)) == []


def test_extraction_plan_matches_digests(expected, plan_rows):
    assert mismatches(expected["extraction_plan"], digests(plan_rows)) == []


def test_extract_one_is_the_table_row_of_every_page(one_rows, plan_rows):
    """Every field the two halves share (all but the table's ``markdown``)
    is equal on every row, the oversize and null-html rows included."""
    assert one_rows.keys() == plan_rows.keys()
    first = next(iter(one_rows))
    shared = sorted(one_rows[first].keys() & plan_rows[first].keys())
    assert one_rows[first].keys() - set(shared) == {"markdown"}
    differ = [
        f"{url}: {f}" for url in sorted(one_rows) for f in shared
        if one_rows[url][f] != plan_rows[url][f]
    ]
    assert differ == []


def test_one_flipped_byte_names_its_url_and_field(expected, one_rows):
    url = sorted(one_rows)[123]
    row = one_rows[url]
    text = row["extracted_text"]
    flipped = {**one_rows, url: {**row, "extracted_text": text[:-1] + chr(ord(text[-1]) ^ 1)}}
    assert mismatches(expected["extract_one"], digests(flipped)) == [f"{url}: extracted_text"]
