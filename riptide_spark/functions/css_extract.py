"""CSS-selector field extraction with content transformers (the "fast CSS
path" / schema-driven extraction).

Reimplements the semantics of the reference's CSS extraction strategy
(``/root/reference/crates/riptide-extraction/src/css_extraction.rs``):

* field → selector config with fallback selectors (``:230-253``);
* element text = the ``content`` attribute if present, else all descendant
  text nodes joined by single spaces and trimmed (``:265-276`` — NB this is
  the scraper-path text assembly, distinct from the WASM path's raw
  ``inner_text``);
* ``:has-text()`` pseudo-selector as a post-filter with literal/regex,
  case-sensitivity and partial/exact modes (``:39-52,354-393``);
* pseudo-selector rewrites ``:nth-of-type``→``:nth-child`` etc. (``:338-351``
  — parsed out; positional pseudo-classes are unsupported by the pinned DOM
  and stripped like ``:has-text``);
* the 14 content transformers (``:89-113`` registry, ``:508-760`` impls),
  applied per-field in order, dropping values a transformer rejects
  (``:300-313``);
* merge policies CssWins/OtherWins/Merge/FirstValid with conflict audit
  (``:54-75,396-457``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from ..html import dom
from ..html.urls import resolve_url

_WS_RE = re.compile(r"\s+")
_NUMBER_RE = re.compile(r"[-+]?\d*\.?\d+([eE][-+]?\d+)?")
_CURRENCY_RE = re.compile(r"[$€£¥]?\s*(\d+(?:[.,]\d{3})*(?:[.,]\d{2})?)")
_DATE_ISO_RE = re.compile(r"(\d{4})-(\d{2})-(\d{2})")
_DATE_MDY_RE = re.compile(r"(\d{1,2})/(\d{1,2})/(\d{4})")
_DATE_DMY_RE = re.compile(r"(\d{1,2})\.(\d{1,2})\.(\d{4})")
_EMAIL_RE = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
_TAG_RE = re.compile(r"<[^>]*>")
_NUM_ENTITY_RE = re.compile(r"&#(\d+);")
_HAS_TEXT_RE = re.compile(r":has-text\([^)]+\)")
_HAS_TEXT_CAPTURE_RE = re.compile(r":has-text\(\s*['\"]?(.*?)['\"]?\s*\)")
_NTH_OF_TYPE_RE = re.compile(r":nth-of-type\((\w+)\)")
_PSEUDO_RE = re.compile(r":[a-z-]+(\(\w*\))?")


class TransformFailed(ValueError):
    """A transformer rejected the value (the reference drops such values)."""


# --- the 14 transformers ----------------------------------------------------


def t_trim(content: str, base_url: str | None = None) -> str:
    return content.strip()


def t_normalize_ws(content: str, base_url: str | None = None) -> str:
    return _WS_RE.sub(" ", content.strip())


def t_number(content: str, base_url: str | None = None) -> str:
    match = _NUMBER_RE.search(content)
    if match is None:
        raise TransformFailed(f"No numeric value found in: {content}")
    return match.group(0)


def t_currency(content: str, base_url: str | None = None) -> str:
    match = _CURRENCY_RE.search(content)
    if match is None:
        raise TransformFailed(f"No currency value found in: {content}")
    return match.group(1).replace(",", ".")


def t_date_iso(content: str, base_url: str | None = None) -> str:
    if _DATE_ISO_RE.search(content):
        return content
    match = _DATE_MDY_RE.search(content)
    if match:
        month, day, year = match.groups()
        return f"{year}-{int(month):02d}-{int(day):02d}"
    match = _DATE_DMY_RE.search(content)
    if match:
        day, month, year = match.groups()
        return f"{year}-{int(month):02d}-{int(day):02d}"
    raise TransformFailed(f"No recognizable date found in: {content}")


def t_url_abs(content: str, base_url: str | None = None) -> str:
    if base_url:
        absolute = resolve_url(base_url, content.strip())
        if absolute is None:
            raise TransformFailed(f"Failed to join URL: {content}")
        return absolute
    return content


def t_lowercase(content: str, base_url: str | None = None) -> str:
    return content.lower()


def t_uppercase(content: str, base_url: str | None = None) -> str:
    return content.upper()


def t_split(content: str, base_url: str | None = None) -> str:
    parts = [p.strip() for p in content.split(",")]
    return json.dumps(parts)


def t_join(content: str, base_url: str | None = None) -> str:
    try:
        parsed = json.loads(content)
    except ValueError:
        parsed = None
    if isinstance(parsed, list):
        strings = []
        for value in parsed:
            if isinstance(value, str):
                strings.append(value)
            elif isinstance(value, bool):
                strings.append("true" if value else "false")
            elif isinstance(value, (int, float)):
                strings.append(json.dumps(value))
        return ", ".join(strings)
    parts = [p.strip() for p in re.split(r"[,;\n\t]", content) if p.strip()]
    return ", ".join(parts)


def t_regex_extract(content: str, base_url: str | None = None) -> str:
    match = _EMAIL_RE.search(content)
    if match is None:
        raise TransformFailed(f"No match found for regex pattern in: {content}")
    return match.group(0)


def t_regex_replace(content: str, base_url: str | None = None) -> str:
    cleaned = _TAG_RE.sub("", content)
    return _WS_RE.sub(" ", cleaned.strip())


def t_json_parse(content: str, base_url: str | None = None) -> str:
    try:
        parsed = json.loads(content.strip())
    except ValueError as exc:
        raise TransformFailed(f"Failed to parse JSON: {exc}") from exc
    return json.dumps(parsed, indent=2, ensure_ascii=False)


_NAMED_ENTITIES = (
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&hellip;", "..."),
    ("&mdash;", "—"), ("&ndash;", "–"), ("&copy;", "©"),
    ("&reg;", "®"), ("&trade;", "™"),
)


def t_html_decode(content: str, base_url: str | None = None) -> str:
    decoded = content
    for entity, char in _NAMED_ENTITIES:
        decoded = decoded.replace(entity, char)

    def numeric(match: re.Match) -> str:
        try:
            return chr(int(match.group(1)))
        except (ValueError, OverflowError):
            return match.group(0)

    return _NUM_ENTITY_RE.sub(numeric, decoded)


TRANSFORMERS = {
    "trim": t_trim,
    "normalize_ws": t_normalize_ws,
    "number": t_number,
    "currency": t_currency,
    "date_iso": t_date_iso,
    "url_abs": t_url_abs,
    "lowercase": t_lowercase,
    "uppercase": t_uppercase,
    "split": t_split,
    "join": t_join,
    "regex_extract": t_regex_extract,
    "regex_replace": t_regex_replace,
    "json_parse": t_json_parse,
    "html_decode": t_html_decode,
}


# --- :has-text() ------------------------------------------------------------


@dataclass
class HasTextFilter:
    pattern: str
    case_insensitive: bool = True
    partial_match: bool = True
    regex_mode: bool = False

    def matches(self, text: str) -> bool:
        if self.regex_mode:
            flags = re.IGNORECASE if self.case_insensitive else 0
            try:
                return re.search(self.pattern, text, flags) is not None
            except re.error:
                return False
        haystack = text.lower() if self.case_insensitive else text
        needle = self.pattern.lower() if self.case_insensitive else self.pattern
        return needle in haystack if self.partial_match else haystack == needle


# --- field extraction -------------------------------------------------------


@dataclass
class FieldConfig:
    selector: str
    fallbacks: list[str] = field(default_factory=list)
    transformers: list[str] = field(default_factory=list)
    has_text: HasTextFilter | None = None
    required: bool = False
    merge_policy: str | None = None  # CssWins | OtherWins | Merge | FirstValid


def _split_brackets(selector: str) -> list[tuple[bool, str]]:
    """Split into (is_attribute_bracket, text) segments, quote-aware, so
    pseudo-class rewrites never touch quoted attribute values (e.g. the
    ':title' inside [property='og:title'])."""
    segments: list[tuple[bool, str]] = []
    plain: list[str] = []
    i, n = 0, len(selector)
    while i < n:
        ch = selector[i]
        if ch == "[":
            if plain:
                segments.append((False, "".join(plain)))
                plain = []
            j = i + 1
            quote: str | None = None
            while j < n:
                cj = selector[j]
                if quote is not None:
                    if cj == quote:
                        quote = None
                elif cj in "'\"":
                    quote = cj
                elif cj == "]":
                    break
                j += 1
            segments.append((True, selector[i : j + 1]))
            i = j + 1
        else:
            plain.append(ch)
            i += 1
    if plain:
        segments.append((False, "".join(plain)))
    return segments


def _clean_selector(selector: str) -> tuple[str, HasTextFilter | None]:
    """Strip :has-text() (returned as a post-filter) and positional
    pseudo-classes (css_extraction.rs:317-351) — outside attribute
    brackets only."""
    has_text = None
    match = _HAS_TEXT_CAPTURE_RE.search(selector)
    if match:
        has_text = HasTextFilter(pattern=match.group(1))
    out: list[str] = []
    for is_bracket, segment in _split_brackets(selector):
        if is_bracket:
            out.append(segment)
            continue
        segment = _HAS_TEXT_RE.sub("", segment)
        segment = _NTH_OF_TYPE_RE.sub(r":nth-child(\1)", segment)
        segment = segment.replace(":first-of-type", ":first-child")
        segment = segment.replace(":last-of-type", ":last-child")
        # Positional pseudo-classes are outside the pinned selector subset —
        # strip them (lenient, like the reference's approximation rewrites).
        segment = _PSEUDO_RE.sub("", segment)
        out.append(segment)
    return "".join(out).strip(), has_text


def extract_field(root: dom.Element, config: FieldConfig, base_url: str) -> list[str]:
    for selector in [config.selector, *config.fallbacks]:
        cleaned, inline_filter = _clean_selector(selector)
        if not cleaned:
            continue
        has_text = config.has_text or inline_filter
        values: list[str] = []
        for el in dom.query_selector_all(root, cleaned):
            text = el.get("content")
            if text is None:
                text = dom.joined_text(el)
            if not text:
                continue
            if has_text is not None and not has_text.matches(text):
                continue
            values.append(text)
        if not values:
            continue
        for name in config.transformers:
            transformer = TRANSFORMERS.get(name)
            if transformer is None:
                continue
            kept: list[str] = []
            for value in values:
                try:
                    kept.append(transformer(value, base_url))
                except (TransformFailed, Exception):
                    continue
            values = kept
        return values
    return []


def extract_fields(
    html: str, base_url: str, fields: dict[str, FieldConfig]
) -> dict[str, list[str]]:
    root = dom.parse(html)
    return {name: extract_field(root, config, base_url) for name, config in fields.items()}


# --- merge policies (CSS-004) -----------------------------------------------


def merge_results(
    css: dict[str, list[str]],
    other: dict[str, list[str]],
    policies: dict[str, str] | None = None,
    default_policy: str = "CssWins",
) -> tuple[dict[str, list[str]], list[dict]]:
    """Merge two extraction result maps; returns (merged, conflict audit)."""
    policies = policies or {}
    merged: dict[str, list[str]] = {}
    conflicts: list[dict] = []
    for name in sorted(set(css) | set(other)):
        c = css.get(name)
        o = other.get(name)
        policy = policies.get(name, default_policy)
        if c is not None and o is not None and c != o:
            if policy == "CssWins":
                value, desc = c, "CSS wins"
            elif policy == "OtherWins":
                value, desc = o, "Other wins"
            elif policy == "Merge":
                value, desc = c + o, "Merged both"
            else:  # FirstValid
                value, desc = c, "First valid (CSS)"
            conflicts.append(
                {
                    "field": name,
                    "css_value": c[0] if c else None,
                    "other_value": o[0] if o else None,
                    "resolution": desc,
                    "policy_used": policy,
                }
            )
            merged[name] = value
        elif c is not None:
            merged[name] = c
        elif o is not None:
            merged[name] = o
    return merged, conflicts
