"""Native DOM-heuristic path (E7/E8/E16 + fallback ladder)."""

from __future__ import annotations

from riptide_spark.functions.native_extract import (
    convert_to_markdown,
    extract_clean_text,
    extract_native,
    extract_native_content,
    extract_native_title,
    native_quality_score,
)
from riptide_spark.html import dom

RICH = """
<html><head>
  <title>Tag Title</title>
  <meta property="og:title" content="OG Title">
  <meta name="twitter:title" content="TW Title">
</head><body>
  <nav><a href="/x">Navigation item that should vanish</a></nav>
  <article>
    <h1>Heading One</h1>
    <p>%s</p>
    <p>%s</p>
    <h2>Second</h2>
    <p>%s</p>
  </article>
  <footer>Footer text that should vanish</footer>
</body></html>
""" % (
    "alpha beta gamma delta. " * 30,
    "epsilon zeta eta theta. " * 30,
    "iota kappa lambda mu. " * 30,
)


def test_native_title_priority():
    root = dom.parse(RICH)
    assert extract_native_title(root) == "OG Title"
    no_og = dom.parse(RICH.replace('property="og:title"', 'property="x"'))
    assert extract_native_title(no_og) == "TW Title"
    plain = dom.parse("<html><head><title> T </title></head><body><h1>H</h1></body></html>")
    assert extract_native_title(plain) == "T"
    h1_only = dom.parse("<html><body><h1>H1 Title</h1></body></html>")
    assert extract_native_title(h1_only) == "H1 Title"
    long_h1 = dom.parse("<html><body><h1>" + "x" * 250 + "</h1></body></html>")
    assert extract_native_title(long_h1) is None


def test_clean_text_excludes_nav_footer():
    root = dom.parse(RICH)
    body = dom.query_selector(root, "body")
    text = extract_clean_text(body)
    assert "Navigation item" not in text
    assert "Footer text" not in text
    assert "alpha beta gamma" in text
    assert "Heading One" in text


def test_content_ladder_article_first():
    content = extract_native_content(dom.parse(RICH))
    assert content is not None
    assert "alpha beta gamma" in content
    # A page with only a <main> block still extracts via the second rung.
    main_only = (
        "<html><body><main><p>" + ("content words here. " * 20) + "</p></main></body></html>"
    )
    content = extract_native_content(dom.parse(main_only))
    assert content is not None and "content words" in content


def test_markdown_rendering_order():
    md = convert_to_markdown(dom.parse(RICH))
    assert md.startswith("# Heading One\n\n")
    assert "## Second\n\n" in md
    # h1 block first, paragraphs before the h2 group (document of groups).
    assert md.index("# Heading One") < md.index("alpha beta") < md.index("## Second")


def test_native_quality_rubric():
    text_long = "word " * 600 + "." * 12  # >2000 bytes, >500 words, >10 '.'
    md = "# t\n\n" + "## s\n\n" * 6  # 13 '#' indicators
    assert native_quality_score(text_long, md, "Title") == 100
    assert native_quality_score("", None, None) == 0
    # title(20) + 100<len≤500 bytes(10); 24 words and 0 sentences score 0.
    assert native_quality_score("short text over one hundred bytes " * 4, None, "T") == 30


def test_fallback_ladder():
    # Rich page → primary path, quality ≥ 60, no fallback.
    doc = extract_native(RICH, "https://x.example/")
    assert doc.fallback is None
    assert doc.quality_score >= 60
    assert doc.title == "OG Title"

    # Thin page: primary quality < 60 → full-content fallback (quality 40).
    thin = "<html><body><div>just a little text here</div></body></html>"
    doc = extract_native(thin, "https://x.example/")
    assert doc.fallback == "full_content"
    assert doc.quality_score == 40
    assert doc.title == "Fallback Extraction"
    assert doc.text == "just a little text here"

    # No body at all → regex tag-strip fallback (quality 20).
    headless = "<html><head><title>T</title></head></html>"
    doc = extract_native(headless, "https://x.example/")
    assert doc.fallback == "simple_text"
    assert doc.quality_score == 20
    assert doc.title == "Simple Extraction"
    assert doc.text == "T"


def test_reading_time_200wpm_floor():
    doc = extract_native(RICH, "https://x.example/")
    assert doc.reading_time == max(doc.word_count // 200, 1)


def test_headless_route_uses_dom_path(spark):
    from pyspark.sql import functions as F

    from riptide_spark.operators.extract_udf import extract_udf

    df = spark.createDataFrame(
        [("https://x.example/app", RICH.encode(), "dom")],
        "url string, html binary, mode string",
    )
    row = df.select(
        extract_udf(F.col("html"), F.col("url"), F.col("mode")).alias("ex")
    ).select("ex.*").collect()[0]
    assert row["error"] is None
    assert row["title"] == "OG Title"
    assert "alpha beta gamma" in row["extracted_text"]
    assert row["markdown"].startswith("# Heading One")
    assert "Navigation item" not in row["extracted_text"]


# ---------------------------------------------------------------------------
# Native link/media extractors (extractors/links.rs, extractors/media.rs)
# ---------------------------------------------------------------------------


def test_native_links_filter_resolve_dedup():
    from riptide_spark.functions.native_extract import extract_native_links
    from riptide_spark.html import dom

    html = """
    <html><body>
      <a href="/relative/page">rel</a>
      <a href="https://other.example.com/abs">abs</a>
      <a href="https://other.example.com/abs">dup</a>
      <a href="javascript:void(0)">js</a>
      <a href="mailto:x@example.com">mail</a>
      <a href="tel:+1555">tel</a>
      <a href="https://x.example.com/file.pdf">pdf</a>
      <a href="https://x.example.com/file.zip">zip</a>
      <a href="https://x.example.com/page#frag">fragment</a>
      <a href="ftp://files.example.com/f">ftp</a>
    </body></html>
    """
    links = extract_native_links(dom.parse(html), "https://base.example.com/dir/")
    # links.rs:38-62 — http(s) only; '#', javascript:, mailto:, tel:, .pdf,
    # .zip substring-excluded; HashSet dedup (we pin sorted order).
    assert links == sorted(
        [
            "https://base.example.com/relative/page",
            "https://other.example.com/abs",
        ]
    )


def test_native_media_order_and_filters():
    from riptide_spark.functions.native_extract import extract_native_media
    from riptide_spark.html import dom

    html = """
    <html><body>
      <img src="/img/a.jpg">
      <img src="https://cdn.example.com/b.PNG">
      <img src="data:image/gif;base64,R0lGOD==">
      <img src="https://cdn.example.com/not-media">
      <video src="https://cdn.example.com/v.mp4"></video>
      <video><source src="/clips/c.webm"></video>
      <img src="ftp://cdn.example.com/d.jpg">
    </body></html>
    """
    media = extract_native_media(dom.parse(html), "https://base.example.com/")
    # media.rs:10-53 — img[src] first (document order, dups kept), then
    # video source[src] / video[src]; data: passes; extension-less http and
    # non-http schemes rejected. Case-insensitive extension match (.PNG ok).
    assert media == [
        "https://base.example.com/img/a.jpg",
        "https://cdn.example.com/b.PNG",
        "data:image/gif;base64,R0lGOD==",
        "https://cdn.example.com/v.mp4",
        "https://base.example.com/clips/c.webm",
    ]


def test_dom_route_keeps_every_video_in_document_order():
    # The ladder queries inside <article> before the media query runs; the
    # video before the article must survive it.
    from riptide_spark.operators.extract_udf import _extract_one

    body = " ".join(["A sentence about the videos on this page."] * 12)
    html = f"""<html><head><title>Three videos</title></head><body>
      <video src="https://cdn.example.com/a.mp4"></video>
      <article><h1>Three videos</h1><p>{body}</p>
        <video><source src="https://cdn.example.com/b.mp4"></video>
        <h2>More</h2><p>{body}</p></article>
      <video src="https://cdn.example.com/c.mp4"></video>
    </body></html>"""
    row = _extract_one(html.encode(), "https://example.com/videos", "dom")
    assert row["error"] is None and row["quality_score"] >= 60
    assert row["media"] == [f"https://cdn.example.com/{c}.mp4" for c in "abc"]


def test_native_doc_carries_links_media_on_primary_path():
    from riptide_spark.functions.native_extract import extract_native

    html = (
        "<html><head><title>T</title></head><body><article>"
        + "<h1>Heading One</h1>"
        + "".join(
            f"<p>Long paragraph number {i} with plenty of meaningful prose "
            "content that scores well. It continues with several sentences. "
            "More text here to pass thresholds.</p>"
            for i in range(12)
        )
        + '<a href="https://other.example.com/next">next</a>'
        + '<img src="https://cdn.example.com/pic.jpg">'
        + "</article></body></html>"
    )
    doc = extract_native(html, "https://base.example.com/")
    assert doc.fallback is None
    assert doc.links == ["https://other.example.com/next"]
    assert doc.media == ["https://cdn.example.com/pic.jpg"]


def test_native_fallback_docs_have_empty_links_media():
    from riptide_spark.functions.native_extract import extract_native

    doc = extract_native("<html><body><p>tiny</p></body></html>", "https://b.example.com/")
    assert doc.fallback is not None
    assert doc.links == [] and doc.media == []


# ---------------------------------------------------------------------------
# Native metadata chains (E2': extractors/metadata.rs:9-209)
# ---------------------------------------------------------------------------


def _meta_root(html: str):
    from riptide_spark.html import dom

    return dom.parse(html)


def test_byline_meta_tag_priority():
    from riptide_spark.functions.native_extract import extract_native_byline

    root = _meta_root(
        "<html><head><meta name='author' content=' Jane Roe '>"
        "<meta property='article:author' content='Other'></head>"
        "<body><span itemprop='author'>Schema Person</span></body></html>"
    )
    assert extract_native_byline(root) == "Jane Roe"


def test_byline_schema_org_beats_class_selectors():
    from riptide_spark.functions.native_extract import extract_native_byline

    root = _meta_root(
        "<html><body><span itemprop='author'> Schema Person </span>"
        "<div class='author'>Class Person</div></body></html>"
    )
    assert extract_native_byline(root) == "Schema Person"


def test_byline_class_selector_chain():
    from riptide_spark.functions.native_extract import extract_native_byline

    root = _meta_root(
        "<html><body><div class='byline'>By Line</div>"
        "<a rel='author'>Rel Author</a></body></html>"
    )
    assert extract_native_byline(root) == "By Line"
    root = _meta_root("<html><body><a rel='author'> Rel Author </a></body></html>")
    assert extract_native_byline(root) == "Rel Author"


def test_byline_empty_values_fall_through():
    from riptide_spark.functions.native_extract import extract_native_byline

    root = _meta_root(
        "<html><head><meta name='author' content='  '></head>"
        "<body><p class='post-author'>Post Author</p></body></html>"
    )
    assert extract_native_byline(root) == "Post Author"


def test_published_meta_then_itemprop_then_time():
    from riptide_spark.functions.native_extract import (
        extract_native_published,
    )

    root = _meta_root(
        "<html><head><meta property='article:published_time' content='2024-01-02'>"
        "</head><body><time datetime='2023-01-01'>old</time></body></html>"
    )
    assert extract_native_published(root) == "2024-01-02"
    # itemprop datetime attribute wins over its text
    root = _meta_root(
        "<html><body><span itemprop='datePublished' datetime=' 2024-05-06 '>"
        "May sixth</span></body></html>"
    )
    assert extract_native_published(root) == "2024-05-06"
    # itemprop text when no datetime attr
    root = _meta_root(
        "<html><body><span itemprop='datePublished'>2024-07-08</span></body></html>"
    )
    assert extract_native_published(root) == "2024-07-08"
    # time[datetime] is the last rung
    root = _meta_root(
        "<html><body><time datetime='2022-12-31'>NYE</time></body></html>"
    )
    assert extract_native_published(root) == "2022-12-31"


def test_description_and_site_name_chains():
    from riptide_spark.functions.native_extract import (
        extract_native_description,
        extract_native_site_name,
    )

    root = _meta_root(
        "<html><head>"
        "<meta property='og:description' content='OG desc'>"
        "<meta name='description' content='Plain desc'>"
        "<meta property='og:site_name' content='My Site'>"
        "</head><body></body></html>"
    )
    assert extract_native_description(root) == "OG desc"
    assert extract_native_site_name(root) == "My Site"
    root = _meta_root(
        "<html><head><meta name='twitter:description' content='TW desc'>"
        "</head></html>"
    )
    assert extract_native_description(root) == "TW desc"


def test_dom_path_carries_native_metadata():
    from riptide_spark.operators.extract_udf import _extract_one

    html = (
        "<html><head><title>T</title></head><body>"
        "<div class='byline'>Page Author</div>"
        "<time datetime='2024-03-04'>March</time>"
        "<p>Some body content for the dom path.</p></body></html>"
    )
    row = _extract_one(html.encode(), "https://x.example.com/a", "dom")
    assert row["error"] is None
    assert row["byline"] == "Page Author"
    assert row["published_iso"] == "2024-03-04"
