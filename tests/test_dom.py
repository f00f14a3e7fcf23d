"""Unit tests for the pinned HTML DOM engine (inner_text + selector subset)."""

from __future__ import annotations

from riptide_spark.html import dom
from riptide_spark.html.urls import host_of, parse_ok, resolve_url


def _root(html: str) -> dom.Element:
    return dom.parse(html)


def test_inner_text_preserves_raw_whitespace():
    html = "<div>\n    <h1>Title</h1>\n    <p>Body</p>\n</div>"
    root = _root(html)
    div = dom.query_selector(root, "div")
    assert div.inner_text() == "\n    Title\n    Body\n"


def test_inline_tags_transparent():
    root = _root("<p><strong>X</strong> - Y <em>Z</em></p>")
    assert dom.query_selector(root, "p").inner_text() == "X - Y Z"


def test_entities_decoded_comments_dropped():
    root = _root("<div>&copy; 2024 <!-- hidden -->&amp; more</div>")
    assert dom.query_selector(root, "div").inner_text() == "\xa9 2024 & more"


def test_script_content_raw():
    root = _root("<div><script>if (a &amp;& b) {}</script>t</div>")
    # charrefs inside script are NOT decoded (tokenizer CDATA mode).
    assert dom.query_selector(root, "div").inner_text() == "if (a &amp;& b) {}t"


def test_void_elements_take_no_children():
    root = _root("<p>before<img src='x.jpg'>after<br>end</p>")
    assert dom.query_selector(root, "p").inner_text() == "beforeafterend"
    img = dom.query_selector(root, "img")
    assert img.children == []
    assert img.get("src") == "x.jpg"


def test_unmatched_close_tags_ignored():
    root = _root("<div><p>a</span></p>b</div>")
    assert dom.query_selector(root, "div").inner_text() == "ab"


def test_unclosed_tags_closed_by_ancestor():
    root = _root("<div><p>a<p>b</div><p>c</p>")
    assert dom.query_selector(root, "div") is not None
    all_p = dom.query_selector_all(root, "p")
    assert [p.inner_text() for p in all_p][-1] == "c"


def test_duplicate_attr_first_wins():
    root = _root("<a href='one' href='two'>x</a>")
    assert dom.query_selector(root, "a").get("href") == "one"


def test_selectors_document_order():
    html = "<body><i id='a'></i><b class='k'></b><i class='k'></i></body>"
    root = _root(html)
    matched = dom.query_selector_all(root, ".k")
    assert [el.tag for el in matched] == ["b", "i"]


def test_attribute_operators():
    html = (
        "<body>"
        "<meta property='og:image' content='1'>"
        "<meta property='og:image:url' content='2'>"
        "<link rel='shortcut icon' href='i'>"
        "<meta property='article:tag' content='t'>"
        "</body>"
    )
    root = _root(html)
    assert len(dom.query_selector_all(root, "meta[property='og:image']")) == 1
    assert len(dom.query_selector_all(root, "meta[property^='og:image']")) == 2
    assert len(dom.query_selector_all(root, "link[rel*='icon']")) == 1
    assert len(dom.query_selector_all(root, "meta[property^='article:']")) == 1
    assert (
        len(dom.query_selector_all(root, "meta[property='og:image'], meta[property='article:tag']"))
        == 2
    )


def test_descendant_combinator():
    html = (
        "<body><picture><source srcset='a'></picture>"
        "<source srcset='b'>"
        "<nav aria-label='breadcrumb trail'><span><a href='x'>X</a></span></nav>"
        "<a href='y'>Y</a></body>"
    )
    root = _root(html)
    assert len(dom.query_selector_all(root, "picture source[srcset]")) == 1
    crumbs = dom.query_selector_all(root, "nav[aria-label*='breadcrumb'] a")
    assert [a.get("href") for a in crumbs] == ["x"]


def test_class_selector_word_match():
    root = _root("<div class='breadcrumb main'><a href='x'>X</a></div>")
    assert len(dom.query_selector_all(root, ".breadcrumb a")) == 1
    assert dom.query_selector_all(root, ".bread a") == []


def test_malformed_html_never_raises():
    for bad in ["<", "<div", "<<>><", "<a href=>", "\x00\xff<p>", "<![bogus["]:
        dom.parse(bad)


def _query_article_first(html: str) -> dom.Element:
    # A query on a sub-element reads the root's one index, so it must not
    # disturb the document order that root-level comma queries sort by.
    root = _root(html)
    article = dom.query_selector(root, "article")
    assert [p.inner_text() for p in dom.query_selector_all(article, "p")] == ["One", "Two"]
    return root


def test_media_comma_query_after_subtree_query():
    root = _query_article_first(
        "<html><body><video src='a.mp4'></video>"
        "<article><p>One</p><video><source src='b.mp4'></video><p>Two</p></article>"
        "<video src='c.mp4'></video></body></html>"
    )
    media = dom.query_selector_all(root, "video source[src], video[src]")
    assert [el.get("src") for el in media] == ["a.mp4", "b.mp4", "c.mp4"]


def test_category_comma_query_after_subtree_query():
    root = _query_article_first(
        "<html><body><div class='category'>News</div>"
        "<article><p>One</p><span class='tag'>Inner</span><p>Two</p></article>"
        "<div class='topic'>World</div></body></html>"
    )
    classed = dom.query_selector_all(
        root, "[class*='category'], [class*='tag'], [class*='topic']"
    )
    assert [el.inner_text() for el in classed] == ["News", "Inner", "World"]


def test_subtree_query_sees_only_descendants():
    root = _root("<div id='a'><p>1</p><div id='b'><p>2</p></div></div><p>3</p>")
    outer, inner = dom.query_selector(root, "#a"), dom.query_selector(root, "#b")
    assert [p.inner_text() for p in dom.query_selector_all(outer, "p")] == ["1", "2"]
    assert [p.inner_text() for p in dom.query_selector_all(inner, "p")] == ["2"]
    assert dom.query_selector(inner, "div") is None
    assert [el.tag for el in outer.iter_elements()] == ["p", "div", "p"]
    assert dom.query_selector_all(root, "p")[-1].inner_text() == "3"


def test_text_nodes_joined_by_one_space():
    root = _root("<div> a <b>b</b>c<i></i><p>\nd </p></div>")
    div = dom.query_selector(root, "div")
    assert div.inner_text() == " a bc\nd "
    assert dom.joined_text(div) == "a  b c \nd"
    assert dom.joined_text(dom.query_selector(root, "i")) == ""


def test_deep_nesting_indexes_without_recursion():
    depth = 8000
    root = _root("<div>" * depth + "x" + "</div>" * depth)
    divs = dom.query_selector_all(root, "div")
    assert len(divs) == depth
    assert divs[0].inner_text() == divs[-1].inner_text() == "x"
    assert len(divs[1].iter_elements()) == depth - 2


# URL resolution -----------------------------------------------------------


def test_resolve_url_pinned_to_url_crate():
    base = "https://news.example.com/tech/ai-breakthrough-2024"
    assert resolve_url(base, "#") == base + "#"
    assert resolve_url(base, "#frag") == base + "#frag"
    assert resolve_url(base, "/home") == "https://news.example.com/home"
    assert resolve_url(base, "rel/x") == "https://news.example.com/tech/rel/x"
    assert resolve_url(base, "https://other.org/p") == "https://other.org/p"
    assert resolve_url("https://a.com", "") == "https://a.com/"
    # Url::join has no scheme filter (extraction.rs:34) — non-special
    # schemes pass through; the native path filters them downstream.
    assert resolve_url(base, "mailto:x@y.z") == "mailto:x@y.z"
    assert resolve_url(base, "photo 1.jpg").endswith("/tech/photo%201.jpg")
    assert resolve_url(base, "http://EX.com:80/P") == "http://ex.com/P"
    assert resolve_url(base, "http://a.com?q=1") == "http://a.com/?q=1"


def test_parse_ok():
    assert parse_ok("https://example.com/x")
    assert parse_ok("http://example.com")
    assert not parse_ok("ftp://example.com")
    assert not parse_ok("not-a-url")
    assert not parse_ok("https://" + "x" * 2050)
    assert host_of("https://sub.example.com:8080/p") == "sub.example.com"
