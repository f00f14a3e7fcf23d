"""Deterministic synthetic Common-Crawl-style page corpus (FIXTURES.md §1/§3).

Every page is fully determined by ``(seed, i)`` — no wall clock, no global
RNG state — so tests, the resume/idempotency check, and the two-parallelism
scaling bench all see identical bytes for identical inputs on every run and
every executor. Archetypes model the reference's fixture corpus
(``/root/reference/wasm/riptide-extractor-wasm/tests/fixtures/``): news
articles, long blogs, galleries, nav-heavy dashboards, SPA shells, ecommerce,
edge cases, invalid documents and %PDF bodies, in proportions that exercise
every routing branch of the gate.

Host distribution is intentionally skewed (two hot hosts carry ~50 % of rows)
to exercise host-keyed stages and show that url-keyed ones stay balanced.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

ARCHETYPES = (
    # (name, weight)
    ("news_article", 30),
    ("blog_post", 22),
    ("gallery", 12),
    ("nav_heavy_app", 10),
    ("spa_shell", 10),
    ("ecommerce", 8),
    ("edge_cases", 4),
    ("minimal_invalid", 2),
    ("pdf_doc", 2),
)
_TOTAL_WEIGHT = sum(w for _, w in ARCHETYPES)

# Zipf-ish host pool: first two hosts are "hot" (~50 % of all rows).
HOSTS = (
    ("big-portal.example.com", 30),
    ("mega-news.example.org", 20),
    ("blog-a.example.net", 12),
    ("shop.example.io", 10),
    ("app.example.dev", 8),
    ("gallery.example.art", 8),
    ("en.wikipedia.org", 5),
    ("github.com", 4),
    ("medium.com", 3),
)
_HOST_TOTAL = sum(w for _, w in HOSTS)

LANGS = (("en", 60), ("de", 12), ("fr", 10), ("es", 10), ("nl", 8))
_LANG_TOTAL = sum(w for _, w in LANGS)

_WORDS = (
    "analysis breakthrough capability data engine framework growth horizon "
    "industry journal knowledge latency metric network outcome pipeline "
    "quality resource system throughput upgrade vector workload yield zone "
    "adaptive robust scalable parallel efficient deterministic measured "
    "report market science research policy design review update launch"
).split()

_LANG_STOP = {
    "en": "the and of to in is that for with was",
    "de": "der die und das ist nicht mit ein von für",
    "fr": "le la les des est dans pour que une avec",
    "es": "el los las es en por que una para con",
    "nl": "de het een van en dat is voor met niet",
}

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _pick(weighted, roll: int):
    acc = 0
    for name, weight in weighted:
        acc += weight
        if roll < acc:
            return name
    return weighted[-1][0]


def _rng(seed: int, i: int) -> random.Random:
    digest = hashlib.sha256(f"riptide:{seed}:{i}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _sentence(rng: random.Random, lang: str, n: int) -> str:
    stop = _LANG_STOP[lang].split()
    words = []
    for k in range(n):
        pool = stop if k % 3 == 1 else _WORDS
        words.append(rng.choice(pool))
    text = " ".join(words)
    return text[0].upper() + text[1:] + "."


def _paragraph(rng: random.Random, lang: str, sentences: int) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(8, 16)) for _ in range(sentences))


def _meta_block(title: str, author: str, site: str, desc: str, lang: str) -> str:
    return (
        f'<meta charset="UTF-8">\n'
        f"<title>{title}</title>\n"
        f'<meta name="description" content="{desc}">\n'
        f'<meta name="author" content="{author}">\n'
        f'<meta property="og:title" content="{title}">\n'
        f'<meta property="og:site_name" content="{site}">\n'
        f'<meta property="og:locale" content="{lang}_XX">\n'
        f'<meta property="article:published_time" content="2024-06-01T10:00:00Z">\n'
    )


def _news(rng: random.Random, lang: str, url: str) -> str:
    title = _sentence(rng, lang, 8)[:-1]
    author = f"{rng.choice(['Alex', 'Sam', 'Kim', 'Lee', 'Max'])} {rng.choice(['Reed', 'Cole', 'Hart', 'Wolf', 'Vale'])}"
    paragraphs = [_paragraph(rng, lang, rng.randint(3, 6)) for _ in range(rng.randint(5, 10))]
    body = "\n".join(f"        <p>{p}</p>" for p in paragraphs)
    tags = rng.sample(["Tech", "Science", "Business", "Culture", "Policy", "Health"], 3)
    tag_spans = "".join(f'<span class="tag">{t}</span>' for t in tags)
    related = "\n".join(
        f'            <li><a href="/{rng.choice(["tech", "biz", "sci"])}/story-{rng.randint(1, 999)}">{_sentence(rng, lang, 4)[:-1]}</a></li>'
        for _ in range(4)
    )
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{_meta_block(title, author, 'Synth News', _sentence(rng, lang, 12)[:-1], lang)}
<link rel="canonical" href="{url}">
<meta property="og:image" content="/images/hero-{rng.randint(1, 99)}.jpg">
</head>
<body>
    <nav><ul>
{related}
    </ul></nav>
    <main class="main-content">
    <article>
        <h1>{title}</h1>
        <div class="article-meta"><span class="author">By {author}</span></div>
        <img src="/images/hero-{rng.randint(1, 99)}.jpg" alt="hero">
{body}
    </article>
    </main>
    <footer class="tags">{tag_spans}</footer>
</body>
</html>"""


def _blog(rng: random.Random, lang: str, url: str) -> str:
    title = _sentence(rng, lang, 9)[:-1]
    author = f"{rng.choice(['Jo', 'Ria', 'Tom', 'Ana'])} {rng.choice(['Kern', 'Boyd', 'Zhou', 'Lund'])}"
    sections = []
    for s in range(rng.randint(3, 6)):
        heading = _sentence(rng, lang, 5)[:-1]
        paragraphs = "\n".join(
            f"            <p>{_paragraph(rng, lang, rng.randint(3, 5))}</p>" for _ in range(3)
        )
        sections.append(f"            <h2>{heading}</h2>\n{paragraphs}")
    body = "\n".join(sections)
    keywords = ", ".join(rng.sample(["spark", "arrow", "parquet", "udf", "scale", "join"], 4))
    json_ld = (
        '{"@context":"https://schema.org","@type":"Article",'
        f'"articleSection":"Engineering","keywords":"{keywords}","inLanguage":"{lang}"}}'
    )
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{_meta_block(title, author, 'Synth DevBlog', _sentence(rng, lang, 10)[:-1], lang)}
<script type="application/ld+json">{json_ld}</script>
</head>
<body>
    <nav class="breadcrumbs"><a href="/">Start</a> <a href="/engineering">Engineering</a></nav>
    <article class="post-content">
        <h1>{title}</h1>
        <pre><code>df.groupBy("k").agg(F.sum("v"))</code></pre>
{body}
    </article>
    <aside><a href="/subscribe">Subscribe</a></aside>
</body>
</html>"""


def _gallery(rng: random.Random, lang: str, url: str) -> str:
    title = _sentence(rng, lang, 6)[:-1]
    figures = "\n".join(
        f'        <figure><img src="/photos/p{rng.randint(1, 999)}.jpg" '
        f'srcset="/photos/p{n}-small.jpg 1x, /photos/p{n}-large.jpg 2x">'
        f"<figcaption>{_sentence(rng, lang, 6)}</figcaption></figure>"
        for n in range(rng.randint(6, 14))
    )
    intro = _paragraph(rng, lang, 6)
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{_meta_block(title, 'Curator Team', 'Synth Gallery', _sentence(rng, lang, 10)[:-1], lang)}
</head>
<body>
    <nav aria-label="breadcrumb trail"><a href="/">Start</a> <a href="/collections">Collections</a></nav>
    <main>
        <h1>{title}</h1>
        <p>{intro}</p>
{figures}
        <picture><source srcset="/photos/cover-hd.jpg 2x"><img src="/photos/cover.jpg"></picture>
    </main>
</body>
</html>"""


def _nav_heavy(rng: random.Random, lang: str, url: str) -> str:
    title = "Dashboard - " + _sentence(rng, lang, 4)[:-1]
    menus = []
    for m in range(rng.randint(6, 10)):
        items = "\n".join(
            f'                <li><a href="/section-{m}/item-{k}">Item {m}-{k}</a></li>'
            for k in range(rng.randint(6, 12))
        )
        menus.append(f'        <nav class="menu"><ul>\n{items}\n        </ul></nav>')
    navs = "\n".join(menus)
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{_meta_block(title, 'Synth Apps', 'Synth Suite', 'Enterprise dashboard', lang)}
</head>
<body>
    <div class="shell">
{navs}
        <div class="content"><span>Loading widgets…</span></div>
    </div>
</body>
</html>"""


def _spa(rng: random.Random, lang: str, url: str) -> str:
    payload = '{"props":{"page":"' + "x" * rng.randint(2000, 6000) + '"}}'
    divs = "<div></div>" * 30
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head><meta charset="UTF-8"><title>App</title></head>
<body>
    <div id="root" data-reactroot></div>
    {divs}
    <script>window.__NEXT_DATA__ = {payload}</script>
    <script src="/static/main.js"></script>
</body>
</html>"""


def _ecommerce(rng: random.Random, lang: str, url: str) -> str:
    name = _sentence(rng, lang, 4)[:-1]
    price = f"{rng.randint(5, 500)}.{rng.randint(0, 99):02d}"
    desc = _paragraph(rng, lang, 5)
    json_ld = (
        '{"@context":"https://schema.org","@type":"Product",'
        f'"name":"{name}","offers":{{"price":"{price}","priceCurrency":"USD"}}}}'
    )
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{_meta_block(name, 'Synth Shop', 'Synth Shop', desc[:80], lang)}
<script type="application/ld+json">{json_ld}</script>
</head>
<body>
    <main>
        <h1>{name}</h1>
        <div class="price">${price}</div>
        <p class="description">{desc}</p>
        <img src="/products/{rng.randint(1, 999)}.jpg">
        <div class="category-badge">Gadgets</div>
    </main>
</body>
</html>"""


def _edge(rng: random.Random, lang: str, url: str) -> str:
    body = _paragraph(rng, lang, 4)
    return (
        "<!DOCTYPE html>\n<html>\n<head><title>Edge &amp; Case</title></head>\n<body>"
        "<div><p>Unclosed paragraph<p>Another & raw ampersand"
        f"<article>夏目漱石 — עברית — 🎉 {body}</article>"
        "<!-- comment <div>inside</div> -->"
        "<span></span><div class='a'></div></body></html>"
    )


def _minimal_invalid(rng: random.Random, lang: str, url: str) -> str:
    return "plain text " + _sentence(rng, lang, 10)


def _pdf_body(rng: random.Random, lang: str, url: str) -> bytes:
    """Real minimal PDFs (vendored writer) so the pipeline exercises the
    actual text path; ~10% stay structurally corrupt to exercise the
    reference's fallback error document (pipeline.rs:744-765)."""
    from ..functions.pdftext import build_minimal_pdf

    inner = _paragraph(rng, lang, 8)
    if rng.random() < 0.1:
        return b"%PDF-1.7\n% corrupt synthetic document\n" + inner.encode() + b"\n%%EOF"
    return build_minimal_pdf(
        [inner, _paragraph(rng, lang, 4)],
        images_per_page=rng.randrange(3),
        info={
            "Title": "Synthetic report " + url.rsplit("/", 1)[-1],
            "Author": "Synth Author",
            "Producer": "riptide-spark-synth",
            "Subject": "synthetic evaluation document",
        },
        compress=rng.random() < 0.5,
    )


_BUILDERS = {
    "news_article": _news,
    "blog_post": _blog,
    "gallery": _gallery,
    "nav_heavy_app": _nav_heavy,
    "spa_shell": _spa,
    "ecommerce": _ecommerce,
    "edge_cases": _edge,
    "minimal_invalid": _minimal_invalid,
}


def synth_page(i: int, seed: int = 42) -> dict:
    """One deterministic page row: (url, warc_ts, html, text, lang)."""
    rng = _rng(seed, i)
    archetype = _pick(ARCHETYPES, rng.randrange(_TOTAL_WEIGHT))
    host = _pick(HOSTS, rng.randrange(_HOST_TOTAL))
    lang = _pick(LANGS, rng.randrange(_LANG_TOTAL))
    section = rng.choice(["tech", "culture", "news", "product", "app"])
    if archetype == "pdf_doc":
        url = f"https://{host}/{section}/doc-{i}.pdf"
        html_bytes = _pdf_body(rng, lang, url)
        text = html_bytes.decode("utf-8", errors="replace")
    else:
        url = f"https://{host}/{section}/{archetype.replace('_', '-')}-{i}"
        html = _BUILDERS[archetype](rng, lang, url)
        html_bytes = html.encode("utf-8")
        # ~1% of rows get invalid UTF-8 injected (exercises lossy decode).
        if rng.random() < 0.01:
            html_bytes += b"\xff\xfe trailing garbage \x80"
        text = html_bytes.decode("utf-8", errors="replace")
    return {
        "url": url,
        "warc_ts": EPOCH + dt.timedelta(seconds=i * 17 % 31_536_000),
        "html": html_bytes,
        "text": text,
        "lang": lang,
        "archetype": archetype,  # dropped before write; handy for tests
    }


def synth_pages(n: int, seed: int = 42) -> list[dict]:
    return [synth_page(i, seed) for i in range(n)]


def pages_dataframe(spark, n: int, seed: int = 42, partitions: int | None = None):
    """Synthesize n pages as a Spark DataFrame with PAGES_SCHEMA.

    Rows are generated *on the executors* (one lightweight index RDD →
    mapPartitions) so corpus construction itself scales with the cluster
    instead of bottlenecking on the driver.
    """
    from ..schema import PAGES_SCHEMA

    partitions = partitions or spark.sparkContext.defaultParallelism

    def build(indices):
        for i in indices:
            row = synth_page(i, seed)
            yield (row["url"], row["warc_ts"], row["html"], row["text"], row["lang"])

    rdd = spark.sparkContext.range(0, n, numSlices=partitions).mapPartitions(build)
    return spark.createDataFrame(rdd, PAGES_SCHEMA)


def write_pages_parquet(spark, path: str, n: int, seed: int = 42) -> None:
    pages_dataframe(spark, n, seed).write.mode("overwrite").parquet(path)


def write_pages_by_day(spark, path: str, n: int, seed: int = 42) -> None:
    """The north rule's crawl layout on plain parquet: `days(warc_ts)` as a
    materialized `warc_day` partition column (Iceberg applies the transform
    in metadata; hive-style parquet needs the column spelled out). A reader
    filtering on `warc_day` scans only the matching day directories —
    partition pruning, the access path for incremental per-crawl-day
    processing at 10^12-doc scale."""
    from pyspark.sql import functions as F

    (
        pages_dataframe(spark, n, seed)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("warc_day")
        .parquet(path)
    )


def write_pages_by_day_bucket(
    spark, path: str, n: int, seed: int = 42, buckets: int = 8
) -> None:
    """The full two-level production layout (SURVEY §4): outer
    `days(warc_ts)` time partition × inner `bucket(url)` hash partition —
    Iceberg's `days(warc_ts), bucket(B, url)` spec spelled out as
    materialized hive columns. A day-scoped re-crawl reads one day
    directory; a url-keyed lookup or co-located join inside it reads one
    bucket subdirectory — both predicates land in the SAME scan's
    PartitionFilters, so the read is O(day/buckets), not O(table)."""
    from pyspark.sql import functions as F

    from ..operators.partitioning import url_bucket_column

    (
        pages_dataframe(spark, n, seed)
        .withColumn("warc_day", F.to_date("warc_ts"))
        .withColumn("url_bucket", url_bucket_column("url", buckets))
        .write.mode("overwrite")
        .partitionBy("warc_day", "url_bucket")
        .parquet(path)
    )
