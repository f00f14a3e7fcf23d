"""Arrow-vectorized extraction UDF — the engine's one Python hot path.

The reference's extensibility surface is a WASM component with contract
``extract(html, url, mode) -> result<extracted-content, extraction-error>``
(``/root/reference/wasm/riptide-extractor-wasm/wit/extractor.wit:117-145``),
invoked once per document from a host pool. The Spark-first equivalent is a
single scalar pandas UDF over Arrow batches: the per-document loop lives
*inside* the vectorized UDF, exactly like the reference loops inside one WASM
call per document — but the batch crosses the JVM↔Python boundary once per
``maxRecordsPerBatch`` rows instead of once per row.

Routing happens in the same pass: a row whose mode is null is decoded once,
routed by the adaptive gate (``functions/gate.py``) and extracted with the
mode :data:`MODE_FOR_ROUTE` maps its route to; the route comes back as the
``content_mode`` field. A non-null mode forces that mode and is reported as
given (the pipeline forces ``'oversize'`` for blanked oversized rows; tests
and the golden-fixture query force explicit modes).

Error isolation: a bad row never kills the task (at 10^12 documents, row
failures are certain) — failures land in the ``error`` column with null
fields, mirroring the reference's per-URL error envelope
(``crates/riptide-api/src/pipeline.rs:525-557``).

The parser is imported at module level so each reused Python worker pays
import cost once (the analog of the reference's WASM instance pool + AOT
cache, ``wasm_extraction.rs:361-389``).
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import chunking
from ..functions.extract import ExtractionInvalid, extract_document
from ..functions.gate import route
from ..functions.native_extract import extract_native
from ..functions.pdftext import parse_pdf
from ..schema import EXTRACTED_STRUCT

# Gate route → extraction mode. raw → fast article path; probes_first →
# probe-then-escalate (row-local, see _extract_text); headless → the native
# DOM-heuristic path (the analog of extracting from a rendered DOM, with the
# reference's quality-gated fallback ladder); pdf → pdf.
MODE_FOR_ROUTE = {
    "raw": "article",
    "probes_first": "probes_first",
    "headless": "dom",
    "pdf": "pdf",
}

_EMPTY = {
    "title": None,
    "byline": None,
    "published_iso": None,
    "extracted_text": None,
    "markdown": None,
    "links": None,
    "media": None,
    "language": None,
    "reading_time": None,
    "quality_score": None,
    "word_count": None,
    "categories": None,
    "site_name": None,
    "description": None,
    "spans": None,
    "escalated": False,
    "extract_ms": None,
}


def _decode_lossy(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


def _pdf_row(url: str, html: bytes) -> dict:
    """PDF branch (S7/E18) via the vendored classic-PDF parser
    (``functions/pdftext.py`` — pdfium is not in this container, so the
    deterministic subset parser stands in). Field mapping mirrors
    ``process_pdf_bytes`` (``crates/riptide-pdf/src/processor.rs:642-760``):
    per-page text each followed by '\\n', ``pdf:image:{i}`` media
    placeholders, Info Title/Author/Producer/Subject → title/byline/
    site_name/description, quality 85, reading_time = max(words/200, 1)
    (``utils.rs:117-121``). Unparseable bytes yield the reference's
    fallback doc (``pipeline.rs:744-765``): quality 20, [pdf, error]."""
    try:
        doc = parse_pdf(html)
    except Exception:  # PdfInvalid + any parser edge: fallback doc, not a task death
        row = dict(_EMPTY)
        row.update(
            extracted_text="",
            markdown="",
            quality_score=20,
            categories=["pdf", "error"],
            links=[],
            media=[],
            description="Failed to process PDF document",
        )
        return {**row, "error": None}
    text = doc.text
    words = len(text.split())
    row = dict(_EMPTY)
    row.update(
        title=doc.info.get("Title"),
        byline=doc.info.get("Author"),
        site_name=doc.info.get("Producer"),
        description=doc.info.get("Subject"),
        extracted_text=text,
        markdown=text,
        word_count=words,
        reading_time=max(words // 200, 1),
        quality_score=85,
        categories=["document", "pdf"],
        links=[],
        media=[f"pdf:image:{i}" for i in range(doc.image_count)],
        spans=chunking.spans_for_text(text),
    )
    return {**row, "error": None}


def _needs_escalation(doc: dict) -> bool:
    """Probe-first escalation rule (engine_selection.rs:450-469)."""
    quality = doc["quality_score"] or 0
    words = doc["word_count"] or 0
    return quality < 30 or words < 50 or (quality < 50 and words < 100)


def _dom_heuristic_doc(text: str, url: str, root=None) -> dict:
    """The headless-analog path: ONE DOM parse feeding the native content
    ladder + markdown + quality (functions/native_extract.py — E7/E8/E16),
    the native metadata chains (E2′: the itemprop/.author/time[datetime]
    chains of native_parser/extractors/metadata.rs:9-209), the native
    link/media extractors (parser.rs:101-112), and the shared
    language/category detectors. The earlier implementation ran the full
    WASM-contract extraction first and overwrote almost everything it
    computed — including per-link URL resolution — with native results;
    only language and categories survived, so only those are computed
    from the WASM side now."""
    from ..functions.extract import (
        detect_language,
        extract_categories,
        extract_title,
        validate_input,
    )
    from ..functions.native_extract import (
        extract_native_byline,
        extract_native_description,
        extract_native_published,
        extract_native_site_name,
    )
    from ..html import dom as _dom

    validate_input(text, url)
    if root is None:
        root = _dom.parse(text)
    native = extract_native(text, url, root=root)
    title = native.title if native.title is not None else extract_title(root)
    return {
        "url": url,
        "title": title,
        "byline": extract_native_byline(root),
        "published_iso": extract_native_published(root),
        "description": extract_native_description(root),
        "site_name": extract_native_site_name(root),
        "text": native.text,
        "markdown": native.markdown or "",
        "quality_score": native.quality_score,
        "word_count": native.word_count,
        "reading_time": native.reading_time,
        # Fallback docs carry empty link/media lists (fallbacks.rs:19-41).
        "links": native.links if native.links is not None else [],
        "media": native.media if native.media is not None else [],
        "language": detect_language(root),
        "categories": extract_categories(root),
    }


def _extract_one(html, url: str, mode: str) -> dict:
    if mode == "pdf":
        # Row isolation: a str-typed html column (bytes() raises TypeError
        # without an encoding) must become an error row, not a task death.
        try:
            raw = (
                html.encode("utf-8", "surrogateescape")
                if isinstance(html, str)
                else bytes(html) if html is not None else b""
            )
        except Exception as exc:
            return {**_EMPTY, "error": f"internal: {type(exc).__name__}: {exc}"}
        return _pdf_row(url, raw)
    return _extract_text(_decode_lossy(html), url, mode)


def _extract_text(text: str, url: str, mode: str) -> dict:
    """Every non-PDF mode, over the lossy-decoded page."""
    if mode == "oversize":
        # Blanked by the pipeline's 20 MB guard, which writes the message
        # with the true size (common_validation.rs:81-85).
        return {**_EMPTY, "error": "invalid-html: Content size exceeds maximum"}
    if mode == "skip":
        # P10 skip_extraction passthrough (pipeline.rs:382-404): raw page
        # text as-is, no parsing, no enrichment.
        return {
            **_EMPTY,
            "extracted_text": text,
            "markdown": "",
            "word_count": len(text.split()),
            "links": [],
            "media": [],
            "categories": [],
            "spans": [],
            "error": None,
        }
    escalated = False
    try:
        if mode == "probes_first":
            # Two-phase probe: fast article pass; if the probe looks weak,
            # escalate to the heavy DOM-heuristic pass *row-locally*. Doing
            # this inside the UDF instead of a second Spark pass avoids a
            # url-keyed shuffle/join at 10^12-row scale — escalation depends
            # only on row-local data, so there is nothing to co-locate. The
            # parse is shared across both phases (parsing dominates the
            # pure-Python cost).
            from ..html import dom as _dom

            from ..functions.extract import validate_input as _vi

            _vi(text, url)
            root = _dom.parse(text)
            doc = extract_document(text, url, "article", root=root)
            if _needs_escalation(doc):
                doc = _dom_heuristic_doc(text, url, root=root)
                escalated = True
        elif mode == "dom":
            doc = _dom_heuristic_doc(text, url)
        else:
            doc = extract_document(text, url, mode)
    except ExtractionInvalid as exc:
        return {**_EMPTY, "error": f"invalid-html: {exc}"}
    except Exception as exc:  # never kill the task for one row
        return {**_EMPTY, "error": f"internal: {type(exc).__name__}: {exc}"}
    return {
        "escalated": escalated,
        "title": doc["title"],
        "byline": doc["byline"],
        "published_iso": doc["published_iso"],
        "extracted_text": doc["text"],
        "markdown": doc["markdown"],
        "links": doc["links"],
        "media": doc["media"],
        "language": doc["language"],
        "reading_time": doc["reading_time"],
        "quality_score": doc["quality_score"],
        "word_count": doc["word_count"],
        "categories": doc["categories"],
        "site_name": doc["site_name"],
        "description": doc["description"],
        "spans": chunking.spans_for_text(doc["text"]),
        "error": None,
    }


@F.pandas_udf(EXTRACTED_STRUCT)
def extract_udf(html: pd.Series, url: pd.Series, mode: pd.Series) -> pd.DataFrame:
    """Vectorized route-and-extract over one Arrow batch.

    ``mode`` is per-row: null routes the row through the gate and extracts
    with :data:`MODE_FOR_ROUTE` of its route; any other value ('article',
    'dom', 'probes_first', 'metadata', 'full', 'pdf', 'skip', 'oversize')
    forces that mode. ``content_mode`` is the route, or the forced mode.
    """
    rows = []
    for h, u, m in zip(html, url, mode):
        if m is None:
            text = _decode_lossy(h)
            content_mode = route(text, u or "")
            m = MODE_FOR_ROUTE[content_mode]
        else:
            text, content_mode = None, m
        started = time.perf_counter()
        if text is None or m == "pdf":
            row = _extract_one(h, u, m)
        else:
            row = _extract_text(text, u, m)
        # Per-document extraction time, routing excluded (A2 metrics;
        # ExtractionStats analog of wit extract-with-stats).
        row["extract_ms"] = round((time.perf_counter() - started) * 1000.0, 3)
        row["content_mode"] = content_mode
        rows.append(row)
    return pd.DataFrame(rows, columns=list(EXTRACTED_STRUCT.fieldNames()))


def extraction_mode_for_route(content_mode: Column) -> Column:
    """:data:`MODE_FOR_ROUTE` as a column expression; any other value
    (e.g. 'oversize') maps to 'article'."""
    mode = F.lit("article")
    for route_name, extraction_mode in MODE_FOR_ROUTE.items():
        mode = F.when(content_mode == route_name, F.lit(extraction_mode)).otherwise(mode)
    return mode
