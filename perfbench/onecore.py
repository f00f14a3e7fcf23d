"""One-core pass over a fixed sample of pages, with no Spark.

Times the extractor's building blocks directly, so the pure-Python cost per
document has a home of its own: ``html.dom.parse``, and with the root
pre-parsed ``functions.extract.extract_document`` (article), the
``functions.native_extract.extract_native`` ladder, ``functions.pdftext``
and ``functions.chunking.spans_for_text``. Pages are grouped by the gate's
route, as the extraction job would see them.
"""

from __future__ import annotations

import statistics
import time

from riptide_spark.functions import chunking
from riptide_spark.functions.extract import ExtractionInvalid, extract_document
from riptide_spark.functions.gate import route
from riptide_spark.functions.native_extract import extract_native
from riptide_spark.functions.pdftext import PdfInvalid, parse_pdf
from riptide_spark.html import dom
from riptide_spark.sources.pages import synth_page

SAMPLE_SEED = 42  # fixed sample: comparable across runs and seeds
SAMPLE_PAGES = 600
PASSES = 3


def _timed_ms(fn, items) -> float:
    """Mean wall ms per item of ``fn(item)``; rejected inputs still count."""
    if not items:
        return 0.0
    started = time.perf_counter()
    for item in items:
        try:
            fn(item)
        except (ExtractionInvalid, PdfInvalid):
            pass
    return (time.perf_counter() - started) * 1000.0 / len(items)


def one_core_pass() -> dict[str, float]:
    pages = [synth_page(i, SAMPLE_SEED) for i in range(SAMPLE_PAGES)]
    by_route: dict[str, list] = {}
    for p in pages:
        by_route.setdefault(route(p["text"], p["url"]), []).append(p)
    html_pages = [p for r, ps in by_route.items() if r != "pdf" for p in ps]
    roots = {p["url"]: dom.parse(p["text"]) for p in html_pages}

    def article(p):
        return extract_document(p["text"], p["url"], "article", root=roots[p["url"]])

    texts = []
    for p in by_route.get("raw", []):
        try:
            texts.append(article(p)["text"])
        except ExtractionInvalid:
            continue

    cells = {
        "html.parse_ms_per_doc": (lambda p: dom.parse(p["text"]), html_pages),
        "functions.article_ms_per_doc": (article, by_route.get("raw", [])),
        "functions.probes_first_ms_per_doc": (article, by_route.get("probes_first", [])),
        "functions.dom_ms_per_doc": (
            lambda p: extract_native(p["text"], p["url"], root=roots[p["url"]]),
            by_route.get("headless", []),
        ),
        "functions.pdf_ms_per_doc": (lambda p: parse_pdf(p["html"]), by_route.get("pdf", [])),
        "functions.spans_ms_per_doc": (chunking.spans_for_text, texts),
    }
    samples: dict[str, list[float]] = {name: [] for name in cells}
    for _ in range(PASSES):
        for name, (fn, items) in cells.items():
            samples[name].append(_timed_ms(fn, items))
    return {name: statistics.median(vals) for name, vals in samples.items()}
