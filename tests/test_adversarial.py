"""No route's cost may grow faster than the page (``sources/adversarial.py``).

For each shape and route, the best of three runs at size 2n must take at
most 3x the best of three at n; a linear route takes about 2x. Sizes are
picked so the run at n takes at least 50 ms on one core, enough to rise
above timer and scheduling noise.
"""

from __future__ import annotations

import time

import pytest

from riptide_spark.operators.extract_udf import _extract_one
from riptide_spark.sources.adversarial import SHAPES, adversarial_page

ROUTES = (None, "article", "dom", "probes_first")
URL = "https://adversarial.example.com/page"

SIZES = {
    "nested_divs": 6_000,
    "nested_divs_newlines": 6_000,
    "nested_div_p_in_article": 3_000,
    "sibling_p": 4_000,
    "unclosed_a": 1_500_000,
    "huge_attribute": 8_000_000,
    "many_links": 3_000,
    "long_word": 8_000_000,
    "short_sentences": 25_000,
}
# Still super-linear: the native ladder joins the text of every nested
# <div>, each holding all the text below it, so its content string grows
# as n^2. They reach 50 ms at a smaller n.
SUPER_LINEAR = {
    ("nested_div_p_in_article", "dom"): 1_200,
    ("nested_div_p_in_article", "probes_first"): 1_200,
}


def _seconds(html: bytes, mode: str | None) -> float:
    started = time.perf_counter()
    _extract_one(html, URL, mode)
    return time.perf_counter() - started


def _case(shape: str, mode: str | None):
    marks = ()
    if (shape, mode) in SUPER_LINEAR:
        marks = pytest.mark.xfail(strict=True, reason="super-linear; see CHANGES.md FOUND")
    return pytest.param(shape, mode, marks=marks, id=f"{shape}-{mode}")


def test_every_shape_has_a_size():
    assert SIZES.keys() == SHAPES.keys()


@pytest.mark.parametrize("mode", ROUTES)
def test_8000_deep_divs_take_under_half_a_second(mode):
    html = adversarial_page("nested_divs", 8_000)
    assert len(html) > 88_000
    assert min(_seconds(html, mode) for _ in range(3)) < 0.5


@pytest.mark.parametrize("shape,mode", [_case(s, m) for s in SHAPES for m in ROUTES])
def test_doubling_the_page_at_most_triples_its_cost(shape, mode):
    n = SUPER_LINEAR.get((shape, mode), SIZES[shape])
    small, large = adversarial_page(shape, n), adversarial_page(shape, 2 * n)
    bound = 3 * min(_seconds(small, mode) for _ in range(3))
    # The best of three at 2n is within the bound iff any one run is.
    assert any(_seconds(large, mode) <= bound for _ in range(3))
