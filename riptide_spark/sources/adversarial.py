"""Adversarial pages: one pathological shape each, at any size ``n``.

Each page is valid enough to pass the extractor's input checks, so every
route does its full work on it. Used to show that no route's cost grows
faster than the page (the cost of a page at 2n stays near twice its cost
at n).
"""

from __future__ import annotations

_SENTENCE = "The quick brown fox jumps over the lazy dog. "

SHAPES = {
    "nested_divs": lambda n: "<div>" * n + "</div>" * n,
    "nested_divs_newlines": lambda n: "<div>\n" * n + "</div>\n" * n,
    "nested_div_p_in_article": lambda n: (
        "<article>" + "<div><p>Deeper.</p>" * n + "</div>" * n + "</article>"
    ),
    "sibling_p": lambda n: f"<p>{_SENTENCE}</p>" * n,
    "unclosed_a": lambda n: "<p>" + "<a" * n,
    "huge_attribute": lambda n: f"<div title='{'x' * n}'><p>{_SENTENCE}</p></div>",
    "many_links": lambda n: "".join(f"<a href='/page/{i}'>link {i}</a> " for i in range(n)),
    "long_word": lambda n: "<p>" + "w" * n + "</p>",
    "short_sentences": lambda n: "<p>" + "Go now. " * n + "</p>",
}


def adversarial_page(shape: str, n: int) -> bytes:
    """The page of ``shape`` at size ``n`` (nesting depth, element count,
    or characters), as the html bytes of a page row."""
    body = SHAPES[shape](n)
    return f"<html><head><title>{shape}</title></head><body>{body}</body></html>".encode()
