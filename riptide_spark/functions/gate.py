"""Adaptive-routing gate — the engine's one routing implementation.

Semantics from the reference:

* feature extraction: ``/root/reference/crates/riptide-api/src/pipeline.rs:769-841``
* score:              ``/root/reference/crates/riptide-reliability/src/gate.rs:83-137``
* decide:             ``gate.rs:233-246`` (thresholds :data:`GATE_HI` /
  :data:`GATE_LO`, the defaults of ``crates/riptide-api/src/context.rs:402-409``)
* PDF bypass:         ``gate.rs:165-180`` + content sniff
  ``crates/riptide-api/src/pipeline.rs:286-329``

The extraction UDF (``operators/extract_udf.py``) calls :func:`route` on
each page it has already decoded, in the same pass as extraction, so the
gate adds no transfer and no JVM stage. Every feature is a C-speed count
over the page (``bytes.count``, one regex count of the control characters),
about 0.1 ms per page.

Byte/char conventions (pinned): ``html_bytes``/``script_bytes`` are UTF-8
byte counts of the lossy-decoded string (Rust ``str::len``);
``visible_text_chars`` counts non-control *characters* (Rust
``char::is_control`` == Unicode category Cc).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from ..html.urls import host_of

GATE_HI = 0.7
GATE_LO = 0.3

DOMAIN_PRIORS: tuple[tuple[str, float], ...] = (
    ("wikipedia.", 0.9),
    ("github.", 0.9),
    ("medium.", 0.8),
    ("dev.to", 0.8),
)  # pipeline.rs:816-827


@dataclass
class GateFeatures:
    html_bytes: int
    visible_text_chars: int
    p_count: int
    article_count: int
    h1h2_count: int
    script_bytes: int
    has_og: bool
    has_jsonld_article: bool
    spa_markers: int
    domain_prior: float


# Unicode category Cc is exactly these 65 code points (C0, DEL, C1).
_CONTROL = re.compile(r"[\x00-\x1f\x7f-\x9f]")


def domain_prior(url: str) -> float:
    host = host_of(url)
    if host is None:
        return 0.5
    for needle, prior in DOMAIN_PRIORS:
        if needle in host:
            return prior
    return 0.5


def script_bytes_of(html_bytes_data: bytes) -> int:
    """Σ per-segment lengths after each ``<script``, up to and including the
    closing ``</script>`` (or to end of input). Byte-exact port of
    pipeline.rs:785-793."""
    total = 0
    parts = html_bytes_data.split(b"<script")
    for part in parts[1:]:
        end = part.find(b"</script>")
        if end >= 0:
            total += end + 9
        else:
            total += len(part)
    return total


def analyze_content(html: str, url: str) -> GateFeatures:
    return _features(html, html.encode("utf-8", errors="replace"), url)


def _features(html: str, raw: bytes, url: str) -> GateFeatures:
    """Features of ``html``, whose UTF-8 encoding ``raw`` the caller made."""
    html_bytes = len(raw)
    visible_text_chars = len(html) - len(_CONTROL.findall(html))
    p_count = raw.count(b"<p")
    article_count = raw.count(b"<article") + raw.count(b"<main")
    h1h2_count = raw.count(b"<h1") + raw.count(b"<h2")
    script_bytes = script_bytes_of(raw)
    has_og = b'property="og:' in raw or b"property='og:" in raw
    has_jsonld_article = b'"@type":"Article"' in raw or b"'@type':'Article'" in raw

    spa_markers = 0
    if b"__NEXT_DATA__" in raw:
        spa_markers += 1
    if b"data-reactroot" in raw or b"data-react-helmet" in raw:
        spa_markers += 1
    if b'id="root"' in raw and raw.count(b"<div") > 20:
        spa_markers += 1
    if script_bytes > html_bytes // 2:
        spa_markers += 1

    return GateFeatures(
        html_bytes=html_bytes,
        visible_text_chars=visible_text_chars,
        p_count=p_count,
        article_count=article_count,
        h1h2_count=h1h2_count,
        script_bytes=script_bytes,
        has_og=has_og,
        has_jsonld_article=has_jsonld_article,
        spa_markers=spa_markers,
        domain_prior=domain_prior(url),
    )


def _clamp(value: float, lo: float, hi: float) -> float:
    return max(lo, min(hi, value))


def score(features: GateFeatures) -> float:
    if features.html_bytes == 0:
        text_ratio = 0.0
        script_density = 0.0
    else:
        text_ratio = features.visible_text_chars / features.html_bytes
        script_density = features.script_bytes / features.html_bytes

    total = 0.0
    total += _clamp(text_ratio * 1.2, 0.0, 0.6)
    total += _clamp(math.log(features.p_count + 1.0) * 0.06, 0.0, 0.3)
    if features.article_count > 0:
        total += 0.15
    if features.has_og:
        total += 0.08
    if features.has_jsonld_article:
        total += 0.12
    total -= _clamp(script_density * 0.8, 0.0, 0.4)
    if features.spa_markers >= 2:
        total -= 0.25
    total += (features.domain_prior - 0.5) * 0.1
    return _clamp(total, 0.0, 1.0)


def decide(features: GateFeatures) -> str:
    content_score = score(features)
    if content_score >= GATE_HI:
        return "raw"
    if content_score <= GATE_LO or features.spa_markers >= 3:
        return "headless"
    return "probes_first"


def is_pdf(url: str, html_prefix: bytes) -> bool:
    """PDF bypass: url ends .pdf (case-insensitive) or body sniffs %PDF-."""
    return url.lower().endswith(".pdf") or html_prefix.startswith(b"%PDF-")


def route(html: str, url: str) -> str:
    raw = html.encode("utf-8", errors="replace")
    if is_pdf(url, raw[:5]):
        return "pdf"
    return decide(_features(html, raw, url))
