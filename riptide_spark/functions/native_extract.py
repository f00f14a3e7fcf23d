"""Native DOM-heuristic extraction — the "headless" analog path (E7/E8/E16).

Reimplements the reference's native Rust parser semantics
(``/root/reference/crates/riptide-extraction/src/native_parser/``): the
content heuristic that RipTide would run over a rendered DOM when the gate
routes a page to headless. This is the heavy path the probes-first flow
escalates to.

Pinned behaviors:

* content ladder (``extractors/content.rs:11-107``): article selectors →
  main selectors → body; **all** matches per selector, exact-text dedup,
  joined ``"\\n\\n"``, minimum 100 chars for the first two rungs;
* clean-text assembly (``content.rs:108-158``): exclusion sets from
  nav/footer/script/style/noscript, then 15 content selectors appending
  ``trim() + "\\n"``, skipping text contained in any excluded block;
* markdown rendering (``content.rs:160-206``): ``# h1``, paragraphs,
  ``##``-``######`` heading groups in that order;
* native title priority (``extractors/title.rs:9-82``): og:title →
  twitter:title → <title> → <h1> (h1 capped at 200 chars);
* native quality rubric (``quality.rs:7-56``): title 20 / length 40 /
  markdown structure 20 / words 10 / sentences 10;
* fallback ladder (``parser.rs:183-216`` + ``fallbacks.rs:12-72``):
  primary ≥ 60 → full-text fallback ≥ 40 (title "Fallback Extraction",
  quality 40) → regex tag-strip (title "Simple Extraction", quality 20);
* reading_time = ``max(words // 200, 1)`` (``parser.rs:130``) — the native
  200-wpm variant, vs the WASM path's 225-wpm ceil.

The DOM differs from scraper/html5ever only on malformed markup (our engine
is pinned by the WASM goldens; there are no native-path goldens).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..html import dom

_ARTICLE_SELECTORS = (
    "article",
    "[role='article']",
    ".article-content",
    ".post-content",
    ".entry-content",
    "main article",
)
_MAIN_SELECTORS = ("main", "[role='main']", ".main-content", "#content")
_EXCLUDE_SELECTORS = ("nav", "footer", "script", "style", "noscript")
_CONTENT_SELECTORS = (
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote",
    "div", "section", "aside", "code", "pre", "span",
)

_SCRIPT_BLOCK_RE = re.compile(r"<script[^>]*>.*?</script>", re.DOTALL | re.IGNORECASE)
_STYLE_BLOCK_RE = re.compile(r"<style[^>]*>.*?</style>", re.DOTALL | re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def _subtree_query(el: dom.Element, selector: str) -> list[dom.Element]:
    """Selector matches over the subtree *including* the element itself
    (the reference re-parses element.html() as a fragment, so the root
    element participates in matching)."""
    chains = dom.compile_selector(selector) or []
    itself = any(len(chain) == 1 and chain[0].matches(el) for chain in chains)
    return ([el] if itself else []) + dom.query_selector_all(el, selector)


def extract_clean_text(el: dom.Element) -> str:
    """content.rs:108-158: exclusion sets then content-selector walk."""
    excluded: set[str] = set()
    for selector in _EXCLUDE_SELECTORS:
        for node in _subtree_query(el, selector):
            excluded.add(node.inner_text())

    parts: list[str] = []
    for selector in _CONTENT_SELECTORS:
        for node in _subtree_query(el, selector):
            cleaned = node.inner_text().strip()
            if cleaned and not any(cleaned in ex for ex in excluded):
                parts.append(cleaned)
    return "\n".join(parts).strip() if parts else ""


def _ladder_rung(root: dom.Element, selectors: tuple[str, ...]) -> str | None:
    all_content: list[str] = []
    seen: set[str] = set()
    for selector in selectors:
        for el in dom.query_selector_all(root, selector):
            text = extract_clean_text(el)
            if text and text not in seen:
                seen.add(text)
                all_content.append(text)
    combined = "\n\n".join(all_content)
    return combined if len(combined.encode("utf-8")) > 100 else None


def extract_native_content(root: dom.Element) -> str | None:
    """article → main → body content ladder (content.rs:11-107)."""
    content = _ladder_rung(root, _ARTICLE_SELECTORS)
    if content is not None:
        return content
    content = _ladder_rung(root, _MAIN_SELECTORS)
    if content is not None:
        return content
    body = dom.query_selector(root, "body")
    if body is not None:
        text = extract_clean_text(body)
        if text:
            return text
    return None


def convert_to_markdown(root: dom.Element) -> str:
    """content.rs:160-206: # h1, paragraphs, then h2-h6 groups."""
    out: list[str] = []
    h1 = dom.query_selector(root, "h1")
    if h1 is not None:
        out.append(f"# {h1.inner_text().strip()}\n\n")
    for p in dom.query_selector_all(root, "p"):
        cleaned = p.inner_text().strip()
        if cleaned:
            out.append(f"{cleaned}\n\n")
    for level in range(2, 7):
        for heading in dom.query_selector_all(root, f"h{level}"):
            cleaned = heading.inner_text().strip()
            if cleaned:
                out.append(f"{'#' * level} {cleaned}\n\n")
    return "".join(out)


def extract_native_title(root: dom.Element) -> str | None:
    """og:title → twitter:title → <title> → <h1> ≤200 (title.rs:9-82)."""
    title = _first_attr(root, ("meta[property='og:title']", "meta[name='twitter:title']"))
    if title is None:
        title = dom.first_text(root, ("title",))
    if title is None:
        h1 = dom.first_text(root, ("h1",))
        title = h1 if h1 is not None and len(h1) <= 200 else None
    return title


# ---------------------------------------------------------------------------
# Native metadata chains (E2′) — extractors/metadata.rs:9-209. Each chain
# inspects only the FIRST element matching each selector (scraper's
# .select().next()), trims, and falls through on empty.
# ---------------------------------------------------------------------------

_META_AUTHOR_SELECTORS = (
    "meta[name='author']",
    "meta[property='article:author']",
    "meta[name='twitter:creator']",
)
_BYLINE_SELECTORS = (
    "[itemprop='author']",
    ".author",
    ".byline",
    "[rel='author']",
    ".author-name",
    ".post-author",
)
_META_DATE_SELECTORS = (
    "meta[property='article:published_time']",
    "meta[name='date']",
    "meta[name='publication_date']",
    "meta[property='og:published_time']",
)
_DESCRIPTION_SELECTORS = (
    "meta[property='og:description']",
    "meta[name='twitter:description']",
    "meta[name='description']",
)


def _first_attr(root: dom.Element, selectors: tuple[str, ...], attr: str = "content") -> str | None:
    for selector in selectors:
        node = dom.query_selector(root, selector)
        if node is not None:
            value = (node.get(attr) or "").strip()
            if value:
                return value
    return None


def extract_native_byline(root: dom.Element) -> str | None:
    """metadata.rs:9-22,69-124: meta author tags → schema.org
    [itemprop=author] text → byline class/rel selectors."""
    author = _first_attr(root, _META_AUTHOR_SELECTORS)
    return author if author is not None else dom.first_text(root, _BYLINE_SELECTORS)


def extract_native_published(root: dom.Element) -> str | None:
    """metadata.rs:25-38,126-180: meta date tags → [itemprop=datePublished]
    (datetime attribute wins unconditionally — the reference returns it
    even when empty — else text) → time[datetime]."""
    date = _first_attr(root, _META_DATE_SELECTORS)
    if date is not None:
        return date
    node = dom.query_selector(root, "[itemprop='datePublished']")
    if node is not None:
        datetime_attr = node.get("datetime")
        if datetime_attr is not None:
            return datetime_attr.strip()
        cleaned = node.inner_text().strip()
        if cleaned:
            return cleaned
    return _first_attr(root, ("time[datetime]",), attr="datetime")


def extract_native_description(root: dom.Element) -> str | None:
    """metadata.rs:41-54: og:description → twitter:description → meta
    description."""
    return _first_attr(root, _DESCRIPTION_SELECTORS)


def extract_native_site_name(root: dom.Element) -> str | None:
    """metadata.rs:57-67: og:site_name only."""
    return _first_attr(root, ("meta[property='og:site_name']",))


def native_quality_score(text: str, markdown: str | None, title: str | None) -> int:
    """quality.rs:7-56 rubric; lengths in UTF-8 bytes (Rust str::len)."""
    score = 0
    if title is not None and title.strip():
        score += 20
    text_len = len(text.encode("utf-8"))
    if text_len > 2000:
        score += 40
    elif text_len > 500:
        score += 25
    elif text_len > 100:
        score += 10
    if markdown is not None:
        indicators = markdown.count("#") + markdown.count("*") + markdown.count("[")
        if indicators > 10:
            score += 20
        elif indicators > 5:
            score += 12
        elif indicators > 2:
            score += 6
    words = len(text.split())
    if words > 500:
        score += 10
    elif words > 100:
        score += 5
    sentences = text.count(".")
    if sentences > 10:
        score += 10
    elif sentences > 3:
        score += 5
    return min(score, 100)


# ---------------------------------------------------------------------------
# Native-path link/media extractors (E9'/E10')
# ---------------------------------------------------------------------------

_LINK_EXCLUDED_PATTERNS = ("#", "javascript:", "mailto:", "tel:", ".pdf", ".zip", ".exe")
_MEDIA_EXTENSIONS = (
    ".jpg", ".jpeg", ".png", ".gif", ".webp", ".svg",
    ".mp4", ".webm", ".ogg", ".mov",
)


def _is_valid_native_link(url: str) -> bool:
    """extractors/links.rs:38-62 — http(s) only, substring-excluded patterns.
    (The reference checks ``url.contains(pattern)``, so a '#' anywhere — i.e.
    any fragment — rejects the whole URL, not just bare-fragment hrefs.)"""
    if not url.startswith(("http://", "https://")):
        return False
    return not any(p in url for p in _LINK_EXCLUDED_PATTERNS)


def _is_valid_media_url(url: str) -> bool:
    """extractors/media.rs:55-73 — data: always ok; else http(s) AND a known
    media extension appearing anywhere in the lowercased URL."""
    if url.startswith("data:"):
        return True
    if not url.startswith(("http://", "https://")):
        return False
    lowered = url.lower()
    return any(ext in lowered for ext in _MEDIA_EXTENSIONS)


def extract_native_links(root: dom.Element, base_url: str) -> list[str]:
    """Native link extractor (extractors/links.rs:11-36): a[href], resolved
    against base, filtered, HashSet-deduped. The reference's HashSet iteration
    order is nondeterministic (SURVEY §2.5 A5); we pin sorted order so a
    retried Spark task reproduces identical rows."""
    from ..html.urls import resolve_url

    links: set[str] = set()
    base_ok = True
    try:
        from urllib.parse import urlsplit

        base_ok = bool(urlsplit(base_url).scheme)
    except ValueError:
        base_ok = False
    for el in dom.query_selector_all(root, "a[href]"):
        href = el.get("href")
        if href is None:
            continue
        resolved = resolve_url(base_url, href) if base_ok else href
        if resolved is not None and _is_valid_native_link(resolved):
            links.add(resolved)
    return sorted(links)


def extract_native_media(root: dom.Element, base_url: str) -> list[str]:
    """Native media extractor (extractors/media.rs:10-53): img[src] then
    video source[src] / video[src], resolved against base, filtered; document
    order preserved, duplicates kept (the reference uses a Vec, not a set)."""
    from ..html.urls import resolve_url

    media: list[str] = []

    def _collect(elements: list[dom.Element]) -> None:
        for el in elements:
            src = el.get("src")
            if src is None:
                continue
            # Url::join passes absolute data: URLs through unchanged, and
            # media.rs:57 accepts them; resolve_url is http(s)-only.
            if src.startswith("data:"):
                media.append(src)
                continue
            resolved = resolve_url(base_url, src)
            if resolved is not None and _is_valid_media_url(resolved):
                media.append(resolved)

    _collect(dom.query_selector_all(root, "img[src]"))
    # Comma selector so matches arrive in document order across both
    # alternatives, as scraper's union iteration does (media.rs:34).
    _collect(dom.query_selector_all(root, "video source[src], video[src]"))
    return media


@dataclass
class NativeDoc:
    title: str | None
    text: str
    markdown: str | None
    quality_score: int
    word_count: int
    reading_time: int
    fallback: str | None  # None | "full_content" | "simple_text"
    # Primary path only; fallback docs are ..Default::default() in the
    # reference (fallbacks.rs:19-41) → empty lists.
    links: list[str] | None = None
    media: list[str] | None = None


def _strip_html_tags(html: str) -> str:
    """fallbacks.rs:55-72: drop script/style blocks, strip tags, squash ws."""
    without_scripts = _SCRIPT_BLOCK_RE.sub(" ", html)
    without_styles = _STYLE_BLOCK_RE.sub(" ", without_scripts)
    text = _TAG_RE.sub(" ", without_styles)
    return _WS_RE.sub(" ", text).strip()


def extract_native(html: str, url: str, root: dom.Element | None = None) -> NativeDoc:
    """parse_headless_html + extract_with_fallbacks (parser.rs:77-216).
    Pass an already-parsed ``root`` to avoid a second DOM parse when the
    caller also runs the metadata chains."""
    if root is None:
        root = dom.parse(html)
    title = extract_native_title(root)
    content = extract_native_content(root)
    if content is not None:
        markdown = convert_to_markdown(root)
        quality = native_quality_score(content, markdown, title)
        if quality >= 60:
            words = len(content.split())
            return NativeDoc(
                title=title,
                text=content,
                markdown=markdown,
                quality_score=quality,
                word_count=words,
                reading_time=max(words // 200, 1),
                fallback=None,
                links=extract_native_links(root, url),
                media=extract_native_media(root, url),
            )
    # Fallback 1: full body text (fixed quality 40, passes the ≥40 gate).
    body = dom.query_selector(root, "body")
    body_text = body.inner_text().strip() if body is not None else ""
    if body_text:
        words = len(body_text.split())
        return NativeDoc(
            title="Fallback Extraction",
            text=body_text,
            markdown=None,
            quality_score=40,
            word_count=words,
            reading_time=max(words // 200, 1),
            fallback="full_content",
            links=[],
            media=[],
        )
    # Fallback 2: regex tag strip (quality 20).
    text = _strip_html_tags(html)
    words = len(text.split())
    return NativeDoc(
        title="Simple Extraction",
        text=text,
        markdown=None,
        quality_score=20,
        word_count=words,
        reading_time=max(words // 200, 1),
        fallback="simple_text",
        links=[],
        media=[],
    )
