"""Pure-Python document extraction — the engine inside the pandas UDF.

This is a from-scratch reimplementation of the semantics of the reference's
WASM extractor component (the oracle for byte-identical output):

* contract:   ``/root/reference/wasm/riptide-extractor-wasm/wit/extractor.wit:117-145``
* extraction: ``wasm/riptide-extractor-wasm/src/lib.rs:302-606``
* enrichment: ``wasm/riptide-extractor-wasm/src/extraction.rs`` (links, media,
  language, categories)
* scoring:    ``wasm/riptide-extractor-wasm/src/extraction_helpers.rs:3-65``
* validation: ``wasm/riptide-extractor-wasm/src/common_validation.rs:9-127``

Everything here is deterministic, allocation-light, per-document pure Python.
The Spark layer batches rows through :func:`extract_document` inside an
Arrow-vectorized pandas UDF (see ``riptide_spark/operators/extract_udf.py``);
there is intentionally no Spark import in this module so it unit-tests
byte-for-byte against the reference golden snapshots without a JVM.

Pinned divergences from the reference (documented, not observable on the
golden corpus):

* attribute values are entity-decoded by the tokenizer (tl keeps raw bytes);
* the statistical language fallback (priority 5) is a small deterministic
  stopword/character heuristic, not a whatlang trigram port — the golden
  corpus always resolves at priorities 1-4;
* float arithmetic is f64, not f32.
"""

from __future__ import annotations

import json
import math
import re

from ..html import dom
from ..html.urls import parse_ok, resolve_url
from .langid import detect_language_statistical

MAX_CONTENT_SIZE = 20 * 1024 * 1024  # bytes; common_validation.rs:79
# P3's message, as Python %-format and Spark format_string both read it
# (common_validation.rs:81-85).
CONTENT_SIZE_ERROR = "Content size %d exceeds maximum %d"

ARTICLE_SELECTORS = (
    "article",
    "main",
    "[role='main']",
    ".article-content",
    ".post-content",
    ".entry-content",
    "#content",
)  # lib.rs:481-489

_CATEGORY_NUMBER_RE = re.compile(r"\d{4}|\d+\.\d+|page\s+\d+")
_CATEGORY_SKIP_WORDS = (
    "home",
    "index",
    "main",
    "page",
    "click",
    "here",
    "read more",
    "continue",
)  # extraction.rs:756-765


class ExtractionInvalid(ValueError):
    """Raised for inputs the reference rejects (invalid-html class errors)."""


# ---------------------------------------------------------------------------
# validation (common_validation.rs)
# ---------------------------------------------------------------------------


def validate_input(html: str, url: str) -> None:
    if not html.strip():
        raise ExtractionInvalid("Empty HTML content")
    if not parse_ok(url):
        raise ExtractionInvalid(f"Invalid URL format: {url!r}")
    validate_html_structure(html)
    size = len(html.encode("utf-8", errors="replace"))
    if size > MAX_CONTENT_SIZE:
        raise ExtractionInvalid(CONTENT_SIZE_ERROR % (size, MAX_CONTENT_SIZE))


def validate_html_structure(html: str) -> None:
    if not html.strip():
        raise ExtractionInvalid("Empty HTML content")
    lower = html.lower()
    has_html_tags = "<html" in lower or "<!doctype" in lower
    has_body = "<body" in lower
    has_content_tags = (
        "<p>" in lower or "<div" in lower or "<article" in lower or "<main" in lower
    )
    if not (has_html_tags and (has_body or has_content_tags)):
        raise ExtractionInvalid("Invalid HTML structure - missing required HTML elements")


def validate_mode(mode: str, selectors: list[str] | None) -> None:
    if mode in ("article", "full", "metadata"):
        return
    if mode != "custom":
        raise ExtractionInvalid(f"Unknown extraction mode: {mode}")
    if not selectors:
        raise ExtractionInvalid("Custom extraction mode requires at least one selector")
    for selector in selectors:
        if not selector.strip():
            raise ExtractionInvalid("CSS selector cannot be empty")
        if ".." in selector or selector.startswith(">"):
            raise ExtractionInvalid(f"Invalid CSS selector format: {selector}")


# ---------------------------------------------------------------------------
# field extractors (lib.rs)
# ---------------------------------------------------------------------------


def extract_title(root: dom.Element) -> str | None:
    """<title> → meta[property='og:title'] → first <h1>. (lib.rs:374-425)"""
    title = dom.first_text(root, ("title",))
    if title is None:
        og = dom.query_selector(root, "meta[property='og:title']")
        title = (og.get("content") if og is not None else None) or dom.first_text(root, ("h1",))
    return title


def extract_meta_content(root: dom.Element, properties: tuple[str, ...]) -> str | None:
    """First non-empty content over meta[property=P] then meta[name=P] per P.

    (lib.rs:428-476)
    """
    for prop in properties:
        for attr in ("property", "name"):
            node = dom.query_selector(root, f"meta[{attr}='{prop}']")
            if node is not None:
                content = node.get("content")
                if content:
                    return content
    return None


def extract_article_text(root: dom.Element) -> str:
    """First article-selector whose trimmed inner_text exceeds 200 BYTES
    (Rust str::len — lib.rs:501), else fall back to full-mode body text.
    (lib.rs:479-509)"""
    for selector in ARTICLE_SELECTORS:
        node = dom.query_selector(root, selector)
        if node is not None:
            trimmed = node.inner_text().strip()
            if len(trimmed.encode("utf-8")) > 200:
                return trimmed
    return extract_full_text(root)


def extract_full_text(root: dom.Element) -> str:
    node = dom.query_selector(root, "body")
    if node is not None:
        return node.inner_text().strip()
    return ""


def extract_custom_text(root: dom.Element, selectors: list[str]) -> str:
    """All matches per selector, trimmed, non-empty, joined "\\n\\n".
    (lib.rs:528-552)"""
    parts: list[str] = []
    for selector in selectors:
        for node in dom.query_selector_all(root, selector):
            trimmed = node.inner_text().strip()
            if trimmed:
                parts.append(trimmed)
    return "\n\n".join(parts)


# ---------------------------------------------------------------------------
# links & media (extraction.rs:11-260)
# ---------------------------------------------------------------------------


def extract_links(root: dom.Element, base_url: str) -> list[str]:
    links: list[str] = []
    if not parse_ok(base_url):
        return links
    for node in dom.query_selector_all(root, "a[href]"):
        href = node.get("href")
        if href is None:
            continue
        absolute = resolve_url(base_url, href)
        if absolute is None:
            continue
        text = node.inner_text().strip()
        rel = node.get("rel") or ""
        hreflang = node.get("hreflang") or ""
        links.append(
            '{"url":"%s","text":"%s","rel":"%s","hreflang":"%s"}'
            % (absolute, text.replace('"', '\\"'), rel, hreflang)
        )
    for node in dom.query_selector_all(root, "area[href]"):
        href = node.get("href")
        if href is None:
            continue
        absolute = resolve_url(base_url, href)
        if absolute is not None:
            links.append(absolute)
    for node in dom.query_selector_all(root, "link[rel='canonical'][href]"):
        href = node.get("href")
        if href is None:
            continue
        absolute = resolve_url(base_url, href)
        if absolute is not None:
            links.append(f"canonical:{absolute}")
    return links


def _srcset_urls(srcset: str, base_url: str):
    for part in srcset.split(","):
        src = part.split()
        if src:
            absolute = resolve_url(base_url, src[0])
            if absolute is not None:
                yield absolute


def extract_media(root: dom.Element, base_url: str) -> list[str]:
    media: list[str] = []
    if not parse_ok(base_url):
        return media
    for node in dom.query_selector_all(root, "img"):
        src = node.get("src")
        if src is not None:
            absolute = resolve_url(base_url, src)
            if absolute is not None:
                media.append(f"image:{absolute}")
        srcset = node.get("srcset")
        if srcset is not None:
            media.extend(f"image:{u}" for u in _srcset_urls(srcset, base_url))
    for node in dom.query_selector_all(root, "picture source[srcset]"):
        srcset = node.get("srcset")
        if srcset is not None:
            media.extend(f"image:{u}" for u in _srcset_urls(srcset, base_url))
    for kind in ("video", "audio"):
        for node in dom.query_selector_all(root, f"{kind} source[src], {kind}[src]"):
            src = node.get("src")
            if src is not None:
                absolute = resolve_url(base_url, src)
                if absolute is not None:
                    media.append(f"{kind}:{absolute}")
    for node in dom.query_selector_all(
        root, "meta[property='og:image'], meta[property='og:image:url']"
    ):
        content = node.get("content")
        if content is not None:
            absolute = resolve_url(base_url, content)
            if absolute is not None:
                media.append(f"og:image:{absolute}")
    for node in dom.query_selector_all(
        root, "link[rel*='icon'][href], link[rel*='apple-touch-icon'][href]"
    ):
        href = node.get("href")
        if href is not None:
            absolute = resolve_url(base_url, href)
            if absolute is not None:
                rel = node.get("rel") or "icon"
                media.append(f"{rel}:{absolute}")
    return media


# ---------------------------------------------------------------------------
# language (extraction.rs:263-437)
# ---------------------------------------------------------------------------


def _normalize_lang(lang: str) -> str:
    lang = lang.strip().lower()
    if "-" in lang:
        return lang.split("-", 1)[0]
    if "_" in lang:
        return lang.split("_", 1)[0]
    return lang


def _json_ld_language(value) -> str | None:
    if isinstance(value, dict):
        in_language = value.get("inLanguage")
        if isinstance(in_language, str):
            return in_language
        # serde_json's default map is a BTreeMap: children visit in key order.
        for key in sorted(value.keys()):
            found = _json_ld_language(value[key])
            if found is not None:
                return found
    elif isinstance(value, list):
        for item in value:
            found = _json_ld_language(item)
            if found is not None:
                return found
    return None


def _reject_json_constant(_value: str):
    """serde_json rejects NaN/Infinity literals; json.loads accepts them by
    default — raising here makes the whole script skip, like the reference."""
    raise ValueError("non-standard JSON constant")


def _iter_json_ld(root: dom.Element):
    for node in dom.query_selector_all(root, "script[type='application/ld+json']"):
        try:
            yield json.loads(node.inner_text(), parse_constant=_reject_json_constant)
        except (ValueError, RecursionError):
            continue


def detect_language(root: dom.Element) -> str | None:
    node = dom.query_selector(root, "html[lang]")
    if node is not None:
        lang = node.get("lang")
        if lang is not None:
            normalized = _normalize_lang(lang)
            if normalized:
                return normalized
    node = dom.query_selector(root, "meta[property='og:locale']")
    if node is not None:
        content = node.get("content")
        if content is not None:
            normalized = _normalize_lang(content)
            if normalized:
                return normalized
    for payload in _iter_json_ld(root):
        lang = _json_ld_language(payload)
        if lang is not None:
            normalized = _normalize_lang(lang)
            if normalized:
                return normalized
    node = dom.query_selector(root, "meta[http-equiv='Content-Language']")
    if node is not None:
        content = node.get("content")
        if content is not None:
            normalized = _normalize_lang(content)
            if normalized:
                return normalized
    # Priority 5: statistical fallback on sampled text (≤10 nodes/selector,
    # first 1000 chars) — extraction.rs:392-421. Heuristic, not whatlang.
    sample: list[str] = []
    total = 0
    for selector in ("title", "h1", "h2", "h3", "p", "article", "main"):
        for node in dom.query_selector_all(root, selector)[:10]:
            text = node.inner_text()
            if text.strip():
                sample.append(text)
                sample.append(" ")
                total += len(text) + 1
        if total > 1000:
            break
    text = "".join(sample)[:1000]
    if text:
        return detect_language_statistical(text)
    return None


# ---------------------------------------------------------------------------
# categories (extraction.rs:515-789)
# ---------------------------------------------------------------------------


def _is_likely_category(text: str) -> bool:
    text = text.strip()
    nbytes = len(text.encode("utf-8"))  # Rust str::len (extraction.rs:753)
    if nbytes < 2 or nbytes > 50:
        return False
    lower = text.lower()
    if any(skip in lower for skip in _CATEGORY_SKIP_WORDS):
        return False
    if sum(1 for c in text if c == " ") > 3:
        return False
    if _CATEGORY_NUMBER_RE.search(lower):
        return False
    return True


def _push(categories: list[str], value: str) -> None:
    if value and value not in categories:
        categories.append(value)


def _json_ld_categories(value, categories: list[str]) -> None:
    if isinstance(value, dict):
        section = value.get("articleSection")
        if isinstance(section, str):
            _push(categories, section)
        elif isinstance(section, list):
            for item in section:
                if isinstance(item, str):
                    _push(categories, item)
        keywords = value.get("keywords")
        if isinstance(keywords, str):
            for keyword in keywords.split(","):
                _push(categories, keyword.strip())
        elif isinstance(keywords, list):
            for item in keywords:
                if isinstance(item, str):
                    _push(categories, item)
        for key in sorted(value.keys()):
            _json_ld_categories(value[key], categories)
    elif isinstance(value, list):
        for item in value:
            _json_ld_categories(item, categories)


def extract_categories(root: dom.Element) -> list[str]:
    categories: list[str] = []

    payloads = list(_iter_json_ld(root))
    for payload in payloads:
        _json_ld_categories(payload, categories)

    # Breadcrumbs: JSON-LD BreadcrumbList (top-level @type only) …
    for payload in payloads:
        if isinstance(payload, dict) and payload.get("@type") == "BreadcrumbList":
            items = payload.get("itemListElement")
            if isinstance(items, list):
                for item in items:
                    if isinstance(item, dict):
                        name = item.get("name")
                        if isinstance(name, str):
                            _push(categories, name.strip())
    # … then HTML breadcrumb elements.
    for selector in (
        "nav[aria-label*='breadcrumb'] a",
        ".breadcrumb a",
        ".breadcrumbs a",
        "[role='navigation'] a",
    ):
        for node in dom.query_selector_all(root, selector):
            text = node.inner_text().strip()
            if text and len(text.encode("utf-8")) < 100 and text not in categories and _is_likely_category(text):
                categories.append(text)

    for node in dom.query_selector_all(
        root,
        "meta[name='category'], meta[name='categories'], "
        "meta[property='article:section'], meta[property='article:tag']",
    ):
        content = node.get("content")
        if content is not None:
            for part in content.split(","):
                _push(categories, part.strip())

    for node in dom.query_selector_all(root, "meta[property^='article:']"):
        prop = node.get("property") or ""
        if "tag" in prop or "section" in prop:
            content = node.get("content")
            if content is not None:
                _push(categories, content.strip())

    class_nodes = dom.query_selector_all(
        root, "[class*='category'], [class*='tag'], [class*='topic']"
    )
    for node in class_nodes[:10]:
        text = node.inner_text().strip()
        if text and len(text.encode("utf-8")) < 50 and text not in categories and _is_likely_category(text):
            categories.append(text)

    # sort(); dedup(); truncate(20) — UTF-8 byte order == code-point order.
    categories.sort()
    deduped: list[str] = []
    for value in categories:
        if not deduped or deduped[-1] != value:
            deduped.append(value)
    return deduped[:20]


# ---------------------------------------------------------------------------
# scores (extraction_helpers.rs, lib.rs:576-606)
# ---------------------------------------------------------------------------


def count_words(text: str) -> int:
    return len(text.split())


def estimate_reading_time(word_count: int) -> int | None:
    if word_count == 0:
        return None
    return max(int(math.ceil(word_count / 225.0)), 1)


def basic_quality_score(
    title_len: int, content_len: int, has_author: bool, has_date: bool, word_count: int
) -> int:
    """Lengths are UTF-8 byte lengths (Rust ``str::len``)."""
    score = 30
    if 10 < title_len < 100:
        score += 15
    elif title_len > 5:
        score += 8
    if content_len > 2000:
        score += 20
    elif content_len > 1000:
        score += 15
    elif content_len > 500:
        score += 10
    elif content_len > 200:
        score += 5
    if has_author:
        score += 10
    if has_date:
        score += 10
    if word_count > 500:
        score += 10
    elif word_count > 200:
        score += 5
    return min(score, 100)


def enhanced_quality_score(
    base: int, link_count: int, media_count: int, has_language: bool, has_categories: bool
) -> int:
    score = base
    if link_count > 10:
        score += 10
    elif link_count > 5:
        score += 5
    if media_count > 5:
        score += 10
    elif media_count > 0:
        score += 5
    if has_language:
        score += 5
    if has_categories:
        score += 5
    return min(score, 100)


# ---------------------------------------------------------------------------
# top-level document extraction (the WASM `extract` contract)
# ---------------------------------------------------------------------------


def extract_document(
    html: str,
    url: str,
    mode: str = "article",
    selectors: list[str] | None = None,
    root: "dom.Element | None" = None,
) -> dict:
    """Extract one document. Mirrors ``perform_enhanced_extraction``
    (lib.rs:555-573). Raises :class:`ExtractionInvalid` on rejected input.
    Pass an already-parsed ``root`` (of the same html) to skip the parse —
    the probe-then-escalate path reuses one parse across both phases."""
    validate_input(html, url)
    validate_mode(mode, selectors)

    if root is None:
        root = dom.parse(html)

    title = extract_title(root)
    byline = extract_meta_content(root, ("author", "article:author"))
    published = extract_meta_content(root, ("article:published_time", "datePublished"))
    site_name = extract_meta_content(root, ("og:site_name", "twitter:site"))
    description = extract_meta_content(root, ("description", "og:description"))

    if mode == "article":
        text = extract_article_text(root)
    elif mode == "full":
        text = extract_full_text(root)
    elif mode == "metadata":
        text = ""
    else:
        text = extract_custom_text(root, selectors or [])

    word_count = count_words(text)
    reading_time = estimate_reading_time(word_count)
    base_score = basic_quality_score(
        len(title.encode("utf-8")) if title is not None else 0,
        len(text.encode("utf-8")),
        byline is not None,
        published is not None,
        word_count,
    )

    links = extract_links(root, url)
    media = extract_media(root, url)
    language = detect_language(root)
    categories = extract_categories(root)
    quality_score = enhanced_quality_score(
        base_score, len(links), len(media), language is not None, bool(categories)
    )

    return {
        "url": url,
        "title": title,
        "byline": byline,
        "published_iso": published,
        "markdown": "",
        "text": text,
        "links": links,
        "media": media,
        "language": language,
        "reading_time": reading_time,
        "quality_score": quality_score,
        "word_count": word_count,
        "categories": categories,
        "site_name": site_name,
        "description": description,
    }
