"""URL resolution with semantics pinned to the reference's ``url`` crate use.

The reference resolves every link/media href against the page URL via
``url::Url::join`` (``/root/reference/wasm/riptide-extractor-wasm/src/extraction.rs:34``)
with **no scheme filter** — mailto:/tel:/javascript:/data: hrefs join to
themselves and are emitted (the native path filters schemes separately in
``native_parser/extractors/links.rs:38-62``). The url crate also serializes
WHATWG-normalized: lowercase scheme+host, default port stripped, an empty
path as "/", and the path/query/fragment percent-encode sets applied
(space → %20 etc., non-ASCII → UTF-8 percent-escapes).

One quirk exercised by the golden snapshots: ``join("#")`` keeps the
trailing ``#`` in the url crate
(``https://…/ai-breakthrough-2024#`` in ``news_site_article.json:23-25``)
while ``urljoin`` drops it; ``resolve_url`` papers over that.
"""

from __future__ import annotations

from urllib.parse import urljoin, urlsplit

MAX_URL_LEN = 2048  # bytes — common_validation.rs:34 (Rust str::len)

_DEFAULT_PORTS = {"http": 80, "https": 443}
# Characters the url crate rejects inside a domain (invalid-domain-character).
_BAD_HOST_CHARS = ' \t\n\r<>"{}|\\^`%'
import re as _re

_BAD_HOST_RE = _re.compile("[" + _re.escape(_BAD_HOST_CHARS) + "]")

# WHATWG percent-encode sets (url crate serialization): controls and
# non-ASCII always; plus these per component. Special schemes (http/https)
# use the special-query set, which adds the apostrophe.
_PATH_EXTRA = ' "<>`{}'
_QUERY_EXTRA = ' "<>'
_SPECIAL_QUERY_EXTRA = _QUERY_EXTRA + "'"
_FRAG_EXTRA = ' "<>`'


def parse_ok(url: str) -> bool:
    """True iff the URL parses like ``Url::parse`` accepts it.

    Mirrors ``validate_url_format``
    (``wasm/riptide-extractor-wasm/src/common_validation.rs:32-49``):
    byte length ≤ 2048, absolute, scheme ∈ {http, https}, and a host free
    of the characters Url::parse rejects (space etc.).
    """
    if not url or len(url.encode("utf-8")) > MAX_URL_LEN:
        return False
    try:
        parts = urlsplit(url)
    except ValueError:
        return False
    if parts.scheme not in ("http", "https") or not parts.netloc:
        return False
    try:
        host = parts.hostname or ""
    except ValueError:
        return False
    return bool(host) and _BAD_HOST_RE.search(host) is None


_NEEDS_ENCODE_RE: dict[str, "object"] = {}


def _needs_encode_re(extra: str):
    rx = _NEEDS_ENCODE_RE.get(extra)
    if rx is None:
        import re

        # Encode anything outside printable ASCII 0x20-0x7E, plus `extra`.
        rx = re.compile("[^\x20-\x7e]|[" + re.escape(extra) + "]" if extra else "[^\x20-\x7e]")
        _NEEDS_ENCODE_RE[extra] = rx
    return rx


def _percent_encode(component: str, extra: str) -> str:
    """Percent-encode controls, non-ASCII (as UTF-8) and ``extra`` chars,
    leaving existing %XX sequences untouched (the url crate does not
    re-encode '%'). Clean components (the overwhelming case in the hot
    link-extraction path) return unchanged after one C-speed regex scan."""
    if _needs_encode_re(extra).search(component) is None:
        return component
    out: list[str] = []
    for ch in component:
        o = ord(ch)
        if o < 0x20 or o == 0x7F or o > 0x7E or ch in extra:
            out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
        else:
            out.append(ch)
    return "".join(out)


_SCHEME_RE = None  # compiled lazily to keep import light


def _scheme_of(url: str) -> str | None:
    global _SCHEME_RE
    if _SCHEME_RE is None:
        import re

        _SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):")
    m = _SCHEME_RE.match(url)
    return m.group(1).lower() if m else None


def resolve_url(base: str, href: str) -> str | None:
    """``Url::join``-faithful resolution; None when the crate would error."""
    # WHATWG: for special schemes (http/https) '\' is an alias of '/' both
    # in relative references and in paths — Url::join("p\\q") serializes
    # "p/q". Applied before urljoin so relative resolution also sees it.
    if (_scheme_of(href) or _scheme_of(base)) in ("http", "https"):
        href = href.replace("\\", "/")
    try:
        # Absolute http(s) hrefs pass through urljoin unchanged (RFC 3986
        # §5.2.2 non-strict merge never fires when the href has a scheme
        # and authority); skip the double urlparse. Pinned by the
        # differential test in tests/test_urls_fastpath.py.
        if href.startswith(("http://", "https://")):
            joined = href
        else:
            joined = urljoin(base, href)
    except ValueError:
        return None
    had_fragment = "#" in href or "#" in joined
    try:
        parts = urlsplit(joined)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme:
        return None
    if scheme not in ("http", "https"):
        # Non-special scheme (mailto:, data:, javascript:, tel:): Url::join
        # keeps it; pass through unmodified like the crate's serialization
        # of opaque paths.
        return joined
    if not parts.netloc:
        return None
    try:
        host = (parts.hostname or "").lower()
        port = parts.port
    except ValueError:
        return None
    if not host or _BAD_HOST_RE.search(host) is not None:
        return None
    if not host.isascii():
        # The url crate punycodes IDN hosts (UTS-46); Python's idna codec
        # (IDNA2003) matches on common hosts. Unencodable → parse error.
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError:
            return None
    netloc = host
    if port is not None and port != _DEFAULT_PORTS[scheme]:
        netloc = f"{netloc}:{port}"
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo = f"{userinfo}:{parts.password}"
        netloc = f"{userinfo}@{netloc}"
    # The url crate serializes an empty path as "/" (also before ?/#);
    # remaining backslashes (e.g. from the base's own path) map to "/".
    path = _percent_encode(parts.path.replace("\\", "/"), _PATH_EXTRA) or "/"
    out = f"{scheme}://{netloc}{path}"
    if parts.query:
        out += "?" + _percent_encode(parts.query, _SPECIAL_QUERY_EXTRA)
    elif "?" in joined:
        out += "?"
    if parts.fragment:
        out += "#" + _percent_encode(parts.fragment, _FRAG_EXTRA)
    elif had_fragment:
        out += "#"
    return out


def host_of(url: str) -> str | None:
    try:
        host = urlsplit(url).hostname
    except ValueError:
        return None
    return host or None
