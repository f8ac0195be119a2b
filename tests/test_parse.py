"""Parse-stage tests mirroring the reference's golden-file strategy
(SURVEY.md §5: JSoupParserBoltTest, SiteMapParserBoltTest, FeedParserBolt,
DuplicateLinksTest) with synthetic fixtures per FIXTURES.md §4-5."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from incubator_stormcrawler_spark.parse.feed import parse_feed, sniff_feed
from incubator_stormcrawler_spark.parse.html import (
    detect_charset,
    looks_like_html,
    parse_html_page,
)
from incubator_stormcrawler_spark.parse.sitemap import parse_sitemap, sniff_sitemap

HTML = b"""<!DOCTYPE html>
<html><head>
<title>Test Page</title>
<meta charset="utf-8">
</head><body>
<script>var x = "SCRIPT NOISE";</script>
<style>.c { color: red }</style>
<h1>Heading</h1>
<p>Some body text here.</p>
<a href="/rel">Relative</a>
<a href="https://other.example/abs">Absolute</a>
<a href="#frag">Fragment only</a>
<a href="mailto:x@y.z">Mail</a>
<a href="javascript:void(0)">JS</a>
<a href="/nf" rel="nofollow">NoFollow</a>
<a href="/rel">Duplicate</a>
</body></html>"""


def test_parse_html_links_and_text():
    p = parse_html_page("https://site.example/page", HTML)
    assert p.error is None
    assert p.title == "Test Page"
    targets = [t for t, _, _ in p.outlinks]
    # resolved, deduped, no fragment/mailto/javascript
    assert targets == [
        "https://site.example/rel",
        "https://other.example/abs",
        "https://site.example/nf",
    ]
    anchors = {t: a for t, a, _ in p.outlinks}
    assert anchors["https://site.example/rel"] == "Relative"
    nofollow = {t: nf for t, _, nf in p.outlinks}
    assert nofollow["https://site.example/nf"] is True
    assert nofollow["https://site.example/rel"] is False
    assert "SCRIPT NOISE" not in p.text and "color" not in p.text
    assert "Some body text here." in p.text and "Heading" in p.text


def test_parse_html_base_href():
    html = b'<html><head><base href="https://cdn.example/dir/"></head>' \
           b'<body><a href="x.html">X</a></body></html>'
    p = parse_html_page("https://site.example/page", html)
    assert p.outlinks[0][0] == "https://cdn.example/dir/x.html"


def test_parse_html_meta_refresh():
    html = b'<html><head><meta http-equiv="refresh" content="0;url=/new"></head></html>'
    p = parse_html_page("https://site.example/old", html)
    assert p.redirect == "https://site.example/new"


def test_parse_html_robots_meta():
    html = (b'<html><head><meta name="robots" content="noindex, nofollow"></head>'
            b'<body><a href="/x">X</a></body></html>')
    p = parse_html_page("https://s.example/", html)
    assert p.robots_noindex and p.robots_nofollow
    assert p.outlinks[0][2] is True  # page-level nofollow applies


def test_parse_html_charset_detection():
    latin = '<html><head><meta charset="iso-8859-1"></head><body>caf\xe9</body></html>'
    content = latin.encode("iso-8859-1")
    assert detect_charset(content) == "iso-8859-1"
    p = parse_html_page("https://s.example/", content)
    assert "café" in p.text


def test_parse_html_rejects_binary():
    p = parse_html_page("https://s.example/x.pdf", b"%PDF-1.4 binary stuff")
    assert p.error == "content not HTML"
    assert not looks_like_html(b"%PDF-1.4")


def test_parse_html_outlink_cap():
    links = "".join(f'<a href="/p{i}">l</a>' for i in range(50))
    html = f"<html><body>{links}</body></html>".encode()
    p = parse_html_page("https://s.example/", html, max_outlinks=10)
    assert len(p.outlinks) == 10


SITEMAP = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://s.example/a</loc><lastmod>2024-01-10</lastmod></url>
  <url><loc>https://s.example/b</loc><lastmod>2023-01-01</lastmod></url>
  <url><loc>https://s.example/c</loc></url>
</urlset>"""

SITEMAP_INDEX = b"""<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://s.example/sitemap1.xml</loc></sitemap>
  <sitemap><loc>https://s.example/sitemap2.xml</loc></sitemap>
</sitemapindex>"""


def test_sitemap_sniff_and_parse():
    assert sniff_sitemap(SITEMAP)
    assert not sniff_sitemap(HTML)
    assert sniff_sitemap(b"whatever", {"isSitemap": ["true"]})
    r = parse_sitemap(SITEMAP)
    assert r.is_sitemap and [u for u, _ in r.urls] == [
        "https://s.example/a", "https://s.example/b", "https://s.example/c",
    ]


def test_sitemap_lastmod_filter():
    now = datetime(2024, 1, 15, tzinfo=timezone.utc)
    r = parse_sitemap(SITEMAP, filter_hours_since_modified=24 * 30, now=now)
    urls = [u for u, _ in r.urls]
    # b is stale (2023); c kept (no lastmod); a fresh
    assert urls == ["https://s.example/a", "https://s.example/c"]


def test_sitemap_index():
    r = parse_sitemap(SITEMAP_INDEX)
    assert r.sub_sitemaps == [
        "https://s.example/sitemap1.xml", "https://s.example/sitemap2.xml",
    ]
    assert r.urls == []


def test_sitemap_gzip():
    import gzip

    r = parse_sitemap(gzip.compress(SITEMAP))
    assert r.is_sitemap and len(r.urls) == 3


RSS = b"""<?xml version="1.0"?>
<rss version="2.0"><channel>
  <title>Feed</title>
  <item><title>One</title><link>https://s.example/one</link></item>
  <item><title>Two</title><guid>https://s.example/two</guid></item>
  <item><title>NoUrl</title><guid>not-a-url</guid></item>
</channel></rss>"""

ATOM = b"""<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <entry><title>A</title><link href="https://s.example/atom-a"/></entry>
</feed>"""


def test_feed_rss():
    assert sniff_feed(RSS)
    assert not sniff_feed(HTML)
    r = parse_feed(RSS)
    assert r.is_feed
    assert [u for u, _ in r.entries] == [
        "https://s.example/one", "https://s.example/two",
    ]


def test_feed_atom():
    r = parse_feed(ATOM)
    assert r.is_feed and r.entries == [("https://s.example/atom-a", "A")]


def test_feed_content_type_sniff():
    assert sniff_feed(b"<?xml ...", "application/rss+xml")


def test_parse_pages_spark_stage(spark):
    from incubator_stormcrawler_spark.parse.html import parse_pages
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(url="https://a.example/", content=bytearray(HTML)),
            Row(url="https://a.example/bad", content=bytearray(b"%PDF-1.4")),
        ]
    )
    rows = {r.url: r for r in parse_pages(df).collect()}
    assert rows["https://a.example/"].error is None
    assert len(rows["https://a.example/"].outlinks) == 3
    assert rows["https://a.example/bad"].error == "content not HTML"


def test_parse_router(spark):
    """Shunt routing (RedirectionBolt pattern): each content kind lands in
    its branch."""
    from pyspark.sql import Row
    from incubator_stormcrawler_spark.parse.router import parse_routed

    df = spark.createDataFrame(
        [
            Row(url="https://a.example/page", content=bytearray(HTML)),
            Row(url="https://a.example/map", content=bytearray(SITEMAP)),
            Row(url="https://a.example/feed", content=bytearray(RSS)),
            Row(url="https://a.example/note", content=bytearray(b"just plain text")),
            Row(url="https://a.example/doc.pdf", content=bytearray(b"%PDF-1.4 xx")),
            Row(url="https://a.example/img.png",
                content=bytearray(b"\x89PNG\r\n\x1a\nxx")),
        ]
    )
    out = parse_routed(df)
    assert [r.url for r in out["html"].collect()] == ["https://a.example/page"]
    assert [r.url for r in out["sitemaps"].collect()] == ["https://a.example/map"]
    assert [r.url for r in out["feeds"].collect()] == ["https://a.example/feed"]
    texts = out["texts"].collect()
    assert texts[0].url == "https://a.example/note" and texts[0].text == "just plain text"
    # PDFs go to the rich-document branch now; other binaries stay "other"
    assert [r.url for r in out["richdocs"].collect()] == ["https://a.example/doc.pdf"]
    assert [r.url for r in out["other"].collect()] == ["https://a.example/img.png"]


def test_route_and_parse_matches_branch_stages(spark):
    """The one-pass router's html/sitemap/feed projections equal the
    per-branch parse stages over classify_pages' branches, on the router
    test's mixed corpus plus a sitemap index and an Atom feed."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from incubator_stormcrawler_spark.parse.feed import parse_feeds
    from incubator_stormcrawler_spark.parse.html import parse_pages
    from incubator_stormcrawler_spark.parse.router import (
        classify_pages,
        route_and_parse,
        routed_branches,
    )
    from incubator_stormcrawler_spark.parse.sitemap import parse_sitemaps

    df = spark.createDataFrame(
        [
            Row(url="https://a.example/page", content=bytearray(HTML)),
            Row(url="https://a.example/map", content=bytearray(SITEMAP)),
            Row(url="https://a.example/index", content=bytearray(SITEMAP_INDEX)),
            Row(url="https://a.example/feed", content=bytearray(RSS)),
            Row(url="https://a.example/atom", content=bytearray(ATOM)),
            Row(url="https://a.example/note", content=bytearray(b"just plain text")),
            Row(url="https://a.example/doc.pdf", content=bytearray(b"%PDF-1.4 xx")),
            Row(url="https://a.example/img.png",
                content=bytearray(b"\x89PNG\r\n\x1a\nxx")),
        ]
    )

    def rows(d):
        return sorted((r.asDict(recursive=True) for r in d.collect()),
                      key=lambda r: r["url"])

    classified = classify_pages(df)
    branch = {k: classified.where(F.col("kind") == k)
              for k in ("html", "sitemap", "feed")}
    parsed, sitemaps, feeds = routed_branches(route_and_parse(df, max_outlinks=2))
    want_html = parse_pages(branch["html"], max_outlinks=2)
    assert parsed.schema.simpleString() == want_html.schema.simpleString()
    assert rows(parsed) == rows(want_html)
    assert len(rows(parsed)[0]["outlinks"]) == 2
    want_sitemaps = parse_sitemaps(branch["sitemap"])
    assert sitemaps.schema.simpleString() == want_sitemaps.schema.simpleString()
    assert rows(sitemaps) == rows(want_sitemaps)
    assert [r["url"] for r in rows(sitemaps)] == [
        "https://a.example/index", "https://a.example/map"]
    want_feeds = parse_feeds(branch["feed"])
    assert feeds.schema.simpleString() == want_feeds.schema.simpleString()
    assert rows(feeds) == rows(want_feeds)
    assert [r["url"] for r in rows(feeds)] == [
        "https://a.example/atom", "https://a.example/feed"]


def test_media_link_extraction():
    """LinkParseFilter analog (parse/filter/LinkParseFilter.java): harvest
    //IMG/@src-style links."""
    html = (b'<html><body><img src="/pics/a.jpg"><img src="https://cdn.x/b.png">'
            b'<a href="/page">p</a></body></html>')
    p = parse_html_page("https://s.example/", html,
                        media_tags={"img": "src"})
    assert p.media_links == [
        ("img", "https://s.example/pics/a.jpg"),
        ("img", "https://cdn.x/b.png"),
    ]
    assert [t for t, _, _ in p.outlinks] == ["https://s.example/page"]


def test_sitemap_extensions():
    """Sitemap extensions (IMAGE/NEWS..., SiteMapParserBolt extension
    support, crawler-default.yaml:259-269)."""
    sm = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"
        xmlns:image="http://www.google.com/schemas/sitemap-image/1.1">
  <url><loc>https://s.example/a</loc>
    <image:image><image:loc>https://s.example/img.jpg</image:loc>
      <image:title>Pic</image:title></image:image>
  </url>
</urlset>"""
    r = parse_sitemap(sm)
    assert [u for u, _ in r.urls] == ["https://s.example/a"]
    exts = dict(r.extensions["https://s.example/a"])
    assert exts["image.loc"] == "https://s.example/img.jpg"
    assert exts["image.title"] == "Pic"
