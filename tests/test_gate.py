"""Unit tests for the adaptive-routing gate (pure-Python oracle).

Vectors mirror the reference's inline tests
(``/root/reference/crates/riptide-reliability/src/gate.rs:248-325``) plus
feature-extraction checks against ``pipeline.rs:769-841`` semantics.
"""

from __future__ import annotations

import os
import unicodedata
from collections import Counter

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from riptide_spark import oracle_queries as OQ
from riptide_spark.functions.gate import (
    GateFeatures,
    analyze_content,
    decide,
    domain_prior,
    is_pdf,
    route,
    score,
    script_bytes_of,
)
from riptide_spark.sources.pages import synth_page

from .test_oracle_parity import SF_DIR


def test_score_simple_article():
    # gate.rs:253-268
    features = GateFeatures(
        html_bytes=10000,
        visible_text_chars=5000,
        p_count=10,
        article_count=1,
        h1h2_count=3,
        script_bytes=500,
        has_og=True,
        has_jsonld_article=True,
        spa_markers=0,
        domain_prior=0.7,
    )
    assert score(features) > 0.5


def test_decide_spa_headless():
    # gate.rs:271-285
    features = GateFeatures(
        html_bytes=10000,
        visible_text_chars=500,
        p_count=2,
        article_count=0,
        h1h2_count=1,
        script_bytes=8000,
        has_og=False,
        has_jsonld_article=False,
        spa_markers=3,
        domain_prior=0.5,
    )
    assert decide(features) == "headless"


def test_decide_thresholds():
    base = dict(
        html_bytes=10000,
        visible_text_chars=9000,
        p_count=30,
        article_count=1,
        h1h2_count=3,
        script_bytes=0,
        has_og=True,
        has_jsonld_article=True,
        spa_markers=0,
        domain_prior=0.9,
    )
    assert decide(GateFeatures(**base)) == "raw"
    mid = dict(base, visible_text_chars=2500, p_count=2, article_count=0,
               has_og=False, has_jsonld_article=False, domain_prior=0.5)
    assert decide(GateFeatures(**mid)) == "probes_first"
    low = dict(mid, visible_text_chars=300, script_bytes=6000)
    assert decide(GateFeatures(**low)) == "headless"


def test_script_bytes_matches_reference_semantics():
    html = b'<html><script src="x">var a=1;</script><p>hi</p><script>tail'
    # First segment: ' src="x">var a=1;' + '</script>' -> find gives index of
    # "</script>"; contribution end+9. Second: unterminated -> len(part)
    # (note the '>' of the opening tag stays in the split segment).
    part1 = b' src="x">var a=1;'
    part2 = b'>tail'
    assert script_bytes_of(html) == len(part1) + 9 + len(part2)
    assert script_bytes_of(b"no scripts here") == 0


def test_analyze_content_counts():
    html = (
        '<html><body><p>a</p><p>b</p><pre>x</pre><article>c</article>'
        '<main>d</main><h1>t</h1><h2>s</h2><h2>u</h2></body></html>'
    )
    f = analyze_content(html, "https://example.com/x")
    # "<p" matches <p>, <p>, <pre> — substring semantics, pinned.
    assert f.p_count == 3
    assert f.article_count == 2
    assert f.h1h2_count == 3
    assert f.html_bytes == len(html.encode())
    assert f.spa_markers == 0
    assert f.domain_prior == 0.5


def test_spa_markers():
    html = (
        "<html><body>"
        + '<script>window.__NEXT_DATA__={}</script>'
        + '<div id="root" data-reactroot></div>'
        + "<div></div>" * 25
        + "</body></html>"
    )
    f = analyze_content(html, "https://app.example.com/")
    assert f.spa_markers >= 3
    assert decide(f) == "headless"


def test_domain_priors():
    assert domain_prior("https://en.wikipedia.org/wiki/X") == 0.9
    assert domain_prior("https://github.com/foo/bar") == 0.9
    assert domain_prior("https://medium.com/@x/y") == 0.8
    assert domain_prior("https://dev.to/x") == 0.8
    assert domain_prior("https://example.com/") == 0.5


def test_pdf_bypass():
    assert is_pdf("https://example.com/doc.pdf", b"<html")
    assert is_pdf("https://example.com/doc.PDF", b"<html")
    assert is_pdf("https://example.com/doc", b"%PDF-1.7")
    assert not is_pdf("https://example.com/pdf-viewer", b"<html")
    assert route("x", "https://example.com/doc.pdf") == "pdf"


def test_visible_text_chars_excludes_control():
    f = analyze_content("ab\ncd\te", "https://example.com/")
    # \n and \t are Cc controls.
    assert f.visible_text_chars == 5


_PIECES = st.one_of(
    st.characters(max_codepoint=0xA0),  # ASCII, C0, DEL and C1 controls
    st.characters(min_codepoint=0x10000),  # astral characters
    st.characters(),
    st.just("\r\n\r\n"),
    # Invalid UTF-8 decodes to U+FFFD, as the extraction UDF decodes it.
    st.binary(max_size=6).map(lambda b: b.decode("utf-8", "replace")),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_PIECES, max_size=120).map("".join))
def test_visible_text_chars_is_the_non_cc_count(html):
    want = sum(1 for ch in html if unicodedata.category(ch) != "Cc")
    assert analyze_content(html, "https://example.com/").visible_text_chars == want


def test_route_pinned_on_invalid_utf8_and_pdf_rows():
    # The rows of synth_page(i, 42), i < 400, whose html is invalid UTF-8.
    pinned = {5: "raw", 23: "probes_first", 143: "probes_first", 224: "raw",
              307: "raw", 361: "probes_first"}
    pages = {i: synth_page(i, 42) for i in range(400)}
    invalid = {i for i, p in pages.items() if b"\xff\xfe" in p["html"]}
    assert invalid == set(pinned)
    assert {i: route(pages[i]["text"], pages[i]["url"]) for i in invalid} == pinned

    pdfs = [p for p in pages.values() if p["archetype"] == "pdf_doc"]
    assert pdfs
    for p in pdfs:
        assert route(p["text"], p["url"]) == "pdf"
        # Without the .pdf suffix the %PDF- content sniff alone routes it.
        assert route(p["text"], p["url"][: -len(".pdf")]) == "pdf"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata not present")
def test_sql_gate_is_the_production_gate():
    """The driver's ``gate_features`` / ``gate_route_counts`` SQL (the DuckDB
    rendering; ``test_oracle_parity`` ties the Spark one to it) computes,
    per synthesized page, the features and routes of ``functions/gate.py``."""
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    pages = con.sql(OQ.pages_cte(OQ.DUCK) + " SELECT doc_id, url, html FROM pages").fetchall()
    sql = con.sql(OQ.q_gate_features(OQ.DUCK))
    sql_features = {row[0]: row[1:] for row in sql.fetchall()}
    assert sql.columns[1:] == [
        "html_len", "visible_chars", "p_count", "article_count", "h1h2_count",
        "script_bytes", "has_og", "has_jsonld", "spa_markers", "domain_prior",
    ]
    assert len(pages) == len(sql_features) > 0
    for doc_id, url, html in pages:
        f = analyze_content(html, url)
        assert sql_features[doc_id] == (
            f.html_bytes, f.visible_text_chars, f.p_count, f.article_count,
            f.h1h2_count, f.script_bytes, int(f.has_og),
            int(f.has_jsonld_article), f.spa_markers, f.domain_prior,
        ), doc_id

    routes = Counter(route(html, url) for _, url, html in pages)
    assert len(routes) >= 2
    assert dict(con.sql(OQ.q_route_counts(OQ.DUCK)).fetchall()) == routes
