"""Parse routing — the shunt pattern (tika/RedirectionBolt.java:54,43-53
plus SiteMapParserBolt/FeedParserBolt pass-through): classify each fetched
page by sniffing, route to the right parse branch, union the statuses.

Branches: sitemap → sitemap parser; feed → feed parser; html → HTML
parser; text/plain → trivial text doc; PDF → the rich-document branch
(Tika in the reference — parse/richdoc.py extracts text/title/outlinks
natively); remaining binary types → a clear error row, the pluggable slot
for further extractors.

Classification runs in ONE Arrow pass over the head bytes; each branch
then processes only its rows (filter pushdown keeps bytes out of branches
that don't need them). ``route_and_parse`` is the crawl loop's form: the
sniff and the HTML/sitemap/feed parses in one Arrow pass, whose output the
three branches read as column projections (``routed_branches``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .feed import parse_feed, parse_feeds, sniff_feed
from .html import (
    PARSE_RESULT_DDL,
    looks_like_html,
    page_record,
    parse_html_page,
    parse_pages,
)
from .sitemap import parse_sitemap, parse_sitemaps, sniff_sitemap

KIND_DDL = "url string, kind string"


def sniff_kind(content: bytes) -> str:
    """The sniff ladder: sitemap | feed | html | richdoc | text | other."""
    head = content[:512].lstrip()
    if sniff_sitemap(content):
        return "sitemap"
    if sniff_feed(content):
        return "feed"
    if looks_like_html(content):
        return "html"
    if head.startswith(b"%PDF"):
        return "richdoc"  # PDF → rich-document branch
    if content[:4] == b"PK\x03\x04" and b"word/document.xml" in content:
        return "richdoc"  # DOCX (OOXML zip)
    if content[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        return "richdoc"  # OLE2 (.doc legacy Word)
    if head.startswith(
        (b"PK\x03\x04", b"\x89PNG", b"GIF8", b"\xff\xd8", b"\x1f\x8b")
    ):
        return "other"  # binary magic without an extractor
    if not content[:512].translate(None, bytes(range(32, 127)) + b"\t\r\n"):
        return "text"
    return "other"


def classify_pages(pages: DataFrame) -> DataFrame:
    """Adds a ``kind`` column: sitemap | feed | html | richdoc | text | other."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            kinds = [
                sniff_kind(bytes(c) if c is not None else b"")
                for c in pdf["content"]
            ]
            yield pd.DataFrame({"url": pdf["url"], "kind": kinds})

    kinds = pages.select("url", "content").mapInPandas(run, schema=KIND_DDL)
    return pages.join(kinds, "url")


# one row per page: its kind, then the parse fields of that kind — the
# HTML fields (``error`` shared by all three parsers), the sitemap and the
# feed fields; the fields of the other kinds are null
ROUTED_DDL = (
    "url string, kind string, "
    + PARSE_RESULT_DDL.split(", ", 1)[1]  # the HTML fields after url
    + ", sub_sitemaps array<string>, "
    "sitemap_entries array<struct<loc:string, lastmod:string>>, "
    "feed_entries array<struct<link:string, title:string>>"
)


def route_and_parse(pages: DataFrame, max_outlinks: int | None = 100) -> DataFrame:
    """One Arrow pass over DataFrame(url, content[, content_type]): sniff
    each page and parse it by kind (``ROUTED_DDL``). Equal, branch for
    branch, to ``parse_pages``/``parse_sitemaps``/``parse_feeds`` over
    ``classify_pages``' branches, without the second Python pass and the
    join that brings the content back to its kind."""
    import pandas as pd

    has_ct = "content_type" in pages.columns

    def run(batches):
        for pdf in batches:
            cts = pdf["content_type"] if has_ct else [None] * len(pdf)
            out = []
            for url, raw, ct in zip(pdf["url"], pdf["content"], cts):
                content = bytes(raw) if raw is not None else b""
                rec = dict.fromkeys(schema.names)
                rec.update(url=url, kind=sniff_kind(content))
                if rec["kind"] == "html":
                    rec.update(page_record(parse_html_page(
                        url, content, ct, max_outlinks=max_outlinks)))
                elif rec["kind"] == "sitemap":
                    r = parse_sitemap(content)
                    rec["error"] = r.error
                    rec["sub_sitemaps"] = r.sub_sitemaps
                    rec["sitemap_entries"] = [
                        {"loc": loc, "lastmod": lm} for loc, lm in r.urls
                    ]
                elif rec["kind"] == "feed":
                    r = parse_feed(content, ct)
                    rec["error"] = r.error
                    rec["feed_entries"] = [
                        {"link": u, "title": t} for u, t in r.entries
                    ]
                out.append(rec)
            yield pd.DataFrame(out, columns=schema.names)

    schema = StructType.fromDDL(ROUTED_DDL)
    cols = ["url", "content"] + (["content_type"] if has_ct else [])
    return pages.select(*cols).mapInPandas(run, schema=schema)


def routed_branches(routed: DataFrame):
    """(parsed, sitemaps, feeds): ``route_and_parse``'s output read as the
    results of ``parse_pages``, ``parse_sitemaps`` and ``parse_feeds``
    over the html, sitemap and feed branches (a sitemap or feed row is
    one the sniff accepted, hence ``is_sitemap``/``is_feed``)."""
    kind = F.col("kind")
    parsed = routed.where(kind == "html").select(
        "url", "text", "title", "charset", "redirect", "robots_noindex",
        "robots_nofollow", "error", "outlinks",
    )
    sitemaps = routed.where(kind == "sitemap").select(
        "url", F.lit(True).alias("is_sitemap"), "error", "sub_sitemaps",
        F.col("sitemap_entries").alias("entries"),
    )
    feeds = routed.where(kind == "feed").select(
        "url", F.lit(True).alias("is_feed"), "error",
        F.col("feed_entries").alias("entries"),
    )
    return parsed, sitemaps, feeds


def parse_routed(pages: DataFrame, max_outlinks: int = 100):
    """Returns dict of branch outputs:
    {"html": parsed-html DF, "sitemaps": sitemap results, "feeds": feed
    results, "texts": plain-text docs, "richdocs": PDF extractions,
    "other": unparsed rows}."""
    from .richdoc import parse_richdocs

    classified = classify_pages(pages).cache()
    html = parse_pages(
        classified.where(F.col("kind") == "html"), max_outlinks=max_outlinks
    )
    sitemaps = parse_sitemaps(classified.where(F.col("kind") == "sitemap"))
    feeds = parse_feeds(classified.where(F.col("kind") == "feed"))
    texts = classified.where(F.col("kind") == "text").select(
        "url",
        F.col("content").cast("string").alias("text"),
    )
    richdocs = parse_richdocs(classified.where(F.col("kind") == "richdoc"))
    other = classified.where(F.col("kind") == "other").select(
        "url", F.lit("unsupported content type (rich-document branch)").alias("error")
    )
    return {
        "html": html,
        "sitemaps": sitemaps,
        "feeds": feeds,
        "texts": texts,
        "richdocs": richdocs,
        "other": other,
    }
