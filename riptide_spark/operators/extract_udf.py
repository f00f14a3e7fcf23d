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
``content_mode`` field. A non-null mode forces one of :data:`MODES` and is
reported as given: ``article``, ``full`` and ``metadata`` (the WASM
contract's modes), ``dom`` and ``probes_first`` (the native ladder, and the
probe that escalates to it), ``pdf``, ``skip`` (raw text passthrough) and
``oversize`` (the pipeline forces it on rows its size guard blanked). Any
other mode, ``custom`` included (the UDF has no selector column;
``operators/css_udf.py`` is the selector path), is an error row. A payload
over the 20 MB cap is an ``oversize`` row whatever its mode, before it is
decoded.

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
from ..functions.extract import (
    CONTENT_SIZE_ERROR,
    MAX_CONTENT_SIZE,
    ExtractionInvalid,
    detect_language,
    extract_categories,
    extract_document,
    extract_title,
    validate_input,
)
from ..functions.gate import route
from ..functions.native_extract import (
    extract_native,
    extract_native_byline,
    extract_native_description,
    extract_native_published,
    extract_native_site_name,
)
from ..functions.pdftext import parse_pdf
from ..html import dom
from ..schema import EXTRACTED_STRUCT

# Gate route → extraction mode. raw → fast article path; probes_first →
# probe-then-escalate (row-local, see _page_row); headless → the native
# DOM-heuristic path (the analog of extracting from a rendered DOM, with the
# reference's quality-gated fallback ladder); pdf → pdf.
MODE_FOR_ROUTE = {
    "raw": "article",
    "probes_first": "probes_first",
    "headless": "dom",
    "pdf": "pdf",
}

MODES = frozenset({*MODE_FOR_ROUTE.values(), "full", "metadata", "skip", "oversize"})

_FIELDS = EXTRACTED_STRUCT.fieldNames()
_EMPTY = {**dict.fromkeys(_FIELDS), "escalated": False}


def _payload_bytes(html) -> int:
    if html is None:
        return 0
    if isinstance(html, str):
        return len(html.encode("utf-8", errors="replace"))
    return len(html)


def _decode_lossy(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


def _pdf_row(html: bytes) -> dict:
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
        return {
            **_EMPTY,
            "extracted_text": "",
            "markdown": "",
            "quality_score": 20,
            "categories": ["pdf", "error"],
            "links": [],
            "media": [],
            "description": "Failed to process PDF document",
        }
    text = doc.text
    words = len(text.split())
    return {
        **_EMPTY,
        "title": doc.info.get("Title"),
        "byline": doc.info.get("Author"),
        "site_name": doc.info.get("Producer"),
        "description": doc.info.get("Subject"),
        "extracted_text": text,
        "markdown": text,
        "word_count": words,
        "reading_time": max(words // 200, 1),
        "quality_score": 85,
        "categories": ["document", "pdf"],
        "links": [],
        "media": [f"pdf:image:{i}" for i in range(doc.image_count)],
        "spans": chunking.spans_for_text(text),
    }


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
    validate_input(text, url)
    if root is None:
        root = dom.parse(text)
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


def _page_row(html, text: str | None, url: str, mode: str) -> dict:
    """The row of one page in one mode; ``text`` is the page already
    decoded, or None."""
    if mode not in MODES:
        raise ExtractionInvalid(f"Unknown extraction mode: {mode}")
    if mode == "oversize":
        # P3 (common_validation.rs:81-85). A row blanked by the pipeline's
        # guard reaches here empty; the pipeline writes its true size.
        raise ExtractionInvalid(CONTENT_SIZE_ERROR % (_payload_bytes(html), MAX_CONTENT_SIZE))
    if mode == "pdf":
        # A str-typed html column is re-encoded; bytes() would raise.
        if isinstance(html, str):
            return _pdf_row(html.encode("utf-8", "surrogateescape"))
        return _pdf_row(bytes(html) if html is not None else b"")
    if text is None:
        text = _decode_lossy(html)
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
        }
    escalated = False
    if mode == "probes_first":
        # Two-phase probe: fast article pass; if the probe looks weak,
        # escalate to the heavy DOM-heuristic pass *row-locally*. Doing
        # this inside the UDF instead of a second Spark pass avoids a
        # url-keyed shuffle/join at 10^12-row scale — escalation depends
        # only on row-local data, so there is nothing to co-locate. The
        # parse is shared across both phases (parsing dominates the
        # pure-Python cost).
        validate_input(text, url)
        root = dom.parse(text)
        doc = extract_document(text, url, "article", root=root)
        if _needs_escalation(doc):
            doc = _dom_heuristic_doc(text, url, root=root)
            escalated = True
    elif mode == "dom":
        doc = _dom_heuristic_doc(text, url)
    else:
        doc = extract_document(text, url, mode)
    # A document's fields keep their names in the row, but for its text.
    row = {f: doc.get(f) for f in _FIELDS}
    row.update(
        extracted_text=doc["text"],
        spans=chunking.spans_for_text(doc["text"]),
        escalated=escalated,
    )
    return row


def _extract_one(html, url: str, mode: str | None = None) -> dict:
    """The one function from a page to an ``EXTRACTED_STRUCT`` row.

    A payload over the 20 MB cap is an ``oversize`` error row, whatever
    ``mode`` says. Otherwise a null ``mode`` decodes the page once, routes
    it with the gate and extracts it with :data:`MODE_FOR_ROUTE` of its
    route; any other value forces that mode (see :data:`MODES`).
    ``content_mode`` is the route, or the forced mode. A failing row
    becomes an error row with null fields."""
    text = None
    if _payload_bytes(html) > MAX_CONTENT_SIZE:
        mode = content_mode = "oversize"
    elif mode is None:
        text = _decode_lossy(html)
        content_mode = route(text, url or "")
        mode = MODE_FOR_ROUTE[content_mode]
    else:
        content_mode = mode
    started = time.perf_counter()
    try:
        row = _page_row(html, text, url, mode)
    except ExtractionInvalid as exc:
        row = {**_EMPTY, "error": f"invalid-html: {exc}"}
    except Exception as exc:  # never kill the task for one row
        row = {**_EMPTY, "error": f"internal: {type(exc).__name__}: {exc}"}
    # Per-document extraction time, routing excluded (A2 metrics;
    # ExtractionStats analog of wit extract-with-stats).
    row["extract_ms"] = round((time.perf_counter() - started) * 1000.0, 3)
    row["content_mode"] = content_mode
    return row


@F.pandas_udf(EXTRACTED_STRUCT)
def extract_udf(html: pd.Series, url: pd.Series, mode: pd.Series) -> pd.DataFrame:
    """Vectorized route-and-extract over one Arrow batch: :func:`_extract_one`
    of each row, with its per-row ``mode``."""
    return pd.DataFrame(
        [_extract_one(h, u, m) for h, u, m in zip(html, url, mode)], columns=_FIELDS
    )


def extraction_mode_for_route(content_mode: Column) -> Column:
    """:data:`MODE_FOR_ROUTE` as a column expression; any other value
    (e.g. 'oversize') maps to 'article'."""
    mode = F.lit("article")
    for route_name, extraction_mode in MODE_FOR_ROUTE.items():
        mode = F.when(content_mode == route_name, F.lit(extraction_mode)).otherwise(mode)
    return mode
