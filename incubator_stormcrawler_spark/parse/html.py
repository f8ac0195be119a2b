"""HTML parsing — the engine's JSoupParserBolt
(core/.../bolt/JSoupParserBolt.java:75,168-430) re-expressed as one
pure-Python parse function + an Arrow-batched Spark stage.

Covered semantics (each a unit-testable branch):
  - mime sniff: non-HTML content (PDF magic etc.) → parse error, not crash
    (JSoupParserBolt.java:182-215)
  - charset identification: BOM / meta charset / content-type header /
    UTF-8 fallback (:217-233, util/CharsetIdentification.java)
  - <a href> extraction with anchors; rel="nofollow" and page-level
    nofollow from robots meta (:263-318)
  - <base href> and relative-URL resolution (:269-277, util/URLUtil)
  - meta robots + X-Robots-Tag directives (noindex/nofollow/none,
    util/RobotsTags.java)
  - meta-refresh redirect target (:339-367, util/RefreshTag.java)
  - per-page outlink cap (maxOutlinksPerPage, :505-513) and in-page dedup
    after normalization (:523-540)
  - text extraction skipping SCRIPT/STYLE with block-tag whitespace
    normalization (parse/TextExtractor.java:60-149)

The Spark stage (``parse_pages``) runs this in ``mapInPandas`` — Arrow
batches in, two exploded outputs (docs, outlinks) — so 100 TB of pages
stream through without per-row Python overhead.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit

BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "table", "tr", "td", "th", "section", "article", "header", "footer",
    "blockquote", "pre", "hr", "title",
}
SKIP_TEXT_TAGS = {"script", "style", "noscript", "template"}

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.I
)
_REFRESH_URL_RE = re.compile(r"""^\s*\d+\s*;\s*url\s*=\s*['"]?([^'">\s]+)""", re.I)
_HTML_SNIFF_RE = re.compile(rb"<(?:!doctype\s+html|html|head|body|meta|title|a\s)", re.I)


@dataclass
class ParsedPage:
    url: str
    text: str = ""
    title: str | None = None
    charset: str = "utf-8"
    outlinks: list[tuple[str, str, bool]] = field(default_factory=list)
    #                 (target, anchor, nofollow)
    media_links: list[tuple[str, str]] = field(default_factory=list)
    #                 (tag, url) — LinkParseFilter-style extraction
    redirect: str | None = None  # meta-refresh target
    robots_noindex: bool = False
    robots_nofollow: bool = False
    error: str | None = None


class _Extractor(HTMLParser):
    def __init__(self, base_url: str, media_tags: dict[str, str] | None = None):
        super().__init__(convert_charrefs=True)
        self.base = base_url
        # LinkParseFilter analog (parse/filter/LinkParseFilter.java:53 —
        # e.g. //IMG/@src): {tag: attribute} to harvest as media links
        self.media_tags = media_tags or {}
        self.media_links: list[tuple[str, str]] = []  # (tag, resolved url)
        self.text_parts: list[str] = []
        self.links: list[tuple[str, str, bool]] = []
        self.title: str | None = None
        self.redirect: str | None = None
        self.robots_noindex = False
        self.robots_nofollow = False
        self._skip_depth = 0
        self._in_title = False
        self._cur_link: tuple[str, bool] | None = None
        self._cur_anchor: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag in SKIP_TEXT_TAGS:
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "base" and a.get("href"):
            # first <base href> wins (URL.getFile semantics via urljoin)
            if self.base == getattr(self, "_orig_base", self.base):
                self._orig_base = self.base
                self.base = urljoin(self.base, a["href"])
        elif tag == "a":
            href = a.get("href")
            if href:
                rel = (a.get("rel") or "").lower()
                self._cur_link = (href, "nofollow" in rel)
                self._cur_anchor = []
        elif tag == "meta":
            name = (a.get("name") or "").lower()
            http_equiv = (a.get("http-equiv") or "").lower()
            content = a.get("content") or ""
            if name == "robots":
                directives = {d.strip().lower() for d in content.split(",")}
                if "noindex" in directives or "none" in directives:
                    self.robots_noindex = True
                if "nofollow" in directives or "none" in directives:
                    self.robots_nofollow = True
            elif http_equiv == "refresh":
                m = _REFRESH_URL_RE.match(content)
                if m and not self.redirect:
                    self.redirect = urljoin(self.base, m.group(1))
        if tag in self.media_tags:
            attr_val = a.get(self.media_tags[tag])
            if attr_val:
                try:
                    self.media_links.append((tag, urljoin(self.base, attr_val)))
                except ValueError:
                    pass
        if tag in BLOCK_TAGS:
            self.text_parts.append("\n")

    def handle_endtag(self, tag):
        if tag in SKIP_TEXT_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag == "title":
            self._in_title = False
        elif tag == "a" and self._cur_link is not None:
            href, nofollow = self._cur_link
            self.links.append((href, " ".join(self._cur_anchor).strip(), nofollow))
            self._cur_link = None
        if tag in BLOCK_TAGS:
            self.text_parts.append("\n")

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title and self.title is None:
            self.title = data.strip() or None
        if self._cur_link is not None:
            self._cur_anchor.append(data.strip())
        self.text_parts.append(data)


def _decodes_strict(sample: bytes, encoding: str) -> str | None:
    """Strict decode tolerating a multibyte char cut at the sample edge."""
    for trim in (0, 1, 2, 3):
        try:
            return sample[: len(sample) - trim or None].decode(encoding)
        except UnicodeDecodeError:
            continue
    return None


def sniff_charset_statistical(content: bytes) -> str:
    """Content-based charset detection — the fallback role ICU4J plays in
    the reference (util/CharsetIdentification.java, used from
    JSoupParserBolt.java:217-233). Frequency heuristic, no ICU needed:
    valid strict UTF-8 wins (multibyte UTF-8 is self-synchronizing, false
    positives are vanishingly rare); otherwise a strict Shift-JIS decode
    whose non-ASCII chars land mostly in the kana/CJK blocks picks
    Shift-JIS; anything else is ISO-8859-1 (which decodes any byte)."""
    sample = content[:8192]
    if _decodes_strict(sample, "utf-8") is not None:
        return "utf-8"
    txt = _decodes_strict(sample, "shift_jis")
    if txt is not None:
        jp = sum(
            1
            for ch in txt
            if "぀" <= ch <= "ヿ"  # hiragana + katakana
            or "一" <= ch <= "鿿"  # CJK unified
            or "｡" <= ch <= "ﾟ"  # half-width kana
        )
        non_ascii = sum(1 for ch in txt if ord(ch) > 127)
        if non_ascii and jp / non_ascii >= 0.5:
            return "shift_jis"
    return "iso-8859-1"


def detect_charset(content: bytes, content_type: str | None = None) -> str:
    """BOM → header charset → meta charset → content-based statistical
    fallback (CharsetIdentification.java order; the last step replaces the
    old blind utf-8-replace, which mojibake'd legacy-encoding pages and
    thereby corrupted dedup signatures and training text)."""
    if content.startswith(b"\xef\xbb\xbf"):
        return "utf-8"
    if content.startswith((b"\xff\xfe", b"\xfe\xff")):
        return "utf-16"
    if content_type:
        m = re.search(r"charset=([a-zA-Z0-9_\-]+)", content_type)
        if m:
            return m.group(1).lower()
    m = _META_CHARSET_RE.search(content[:4096])
    if m:
        return m.group(1).decode("ascii", "replace").lower()
    return sniff_charset_statistical(content)


def looks_like_html(content: bytes) -> bool:
    """Cheap mime sniff (guessMimeType, JSoupParserBolt.java:461-482):
    reject obvious binary (PDF/zip/png magic), accept on HTML markers."""
    head = content[:512].lstrip()
    if head.startswith((b"%PDF", b"PK\x03\x04", b"\x89PNG", b"GIF8", b"\xff\xd8")):
        return False
    return bool(_HTML_SNIFF_RE.search(head))


def parse_html_page(
    url: str,
    content: bytes,
    content_type: str | None = None,
    max_outlinks: int | None = None,
    normalize=None,
    media_tags: dict[str, str] | None = None,
) -> ParsedPage:
    """Parse one page. ``normalize``: optional url-normalizer callable
    applied to each outlink before dedup (None keeps raw resolution).
    ``media_tags`` ({tag: attr}, e.g. {"img": "src"}): extra link
    harvesting à la LinkParseFilter."""
    page = ParsedPage(url=url)
    if not content:
        page.error = "empty content"
        return page
    if not looks_like_html(content):
        page.error = "content not HTML"
        return page
    page.charset = detect_charset(content, content_type)
    try:
        html = content.decode(page.charset, errors="replace")
    except LookupError:
        page.charset = "utf-8"
        html = content.decode("utf-8", errors="replace")

    ex = _Extractor(url, media_tags=media_tags)
    try:
        ex.feed(html)
        ex.close()
    except Exception as e:  # malformed markup must never kill the stage
        page.error = f"parse error: {e}"
        return page

    page.title = ex.title
    page.media_links = ex.media_links
    page.redirect = ex.redirect
    page.robots_noindex = ex.robots_noindex
    page.robots_nofollow = ex.robots_nofollow

    # text: collapse whitespace, block tags → single newline
    text = "".join(ex.text_parts)
    text = re.sub(r"[ \t\r\f]+", " ", text)
    text = re.sub(r" ?\n ?", "\n", text)
    text = re.sub(r"\n{2,}", "\n", text).strip()
    page.text = text

    # outlinks: resolve, drop non-http(s) and fragments-only, normalize,
    # dedup keeping first occurrence (JSoupParserBolt.java:523-540),
    # cap at max_outlinks (:505-513)
    seen: set[str] = set()
    for href, anchor, nofollow in ex.links:
        href = href.strip()
        if not href or href.startswith("#"):
            continue
        try:
            target = urljoin(ex.base, href)
        except ValueError:
            continue
        scheme = urlsplit(target).scheme
        if scheme not in ("http", "https"):
            continue
        if normalize is not None:
            target = normalize(target)
            if target is None:
                continue
        if target in seen:
            continue
        seen.add(target)
        effective_nofollow = nofollow or ex.robots_nofollow
        page.outlinks.append((target, anchor, effective_nofollow))
        if max_outlinks is not None and len(page.outlinks) >= max_outlinks:
            break
    return page


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

PARSE_RESULT_DDL = (
    "url string, text string, title string, charset string, "
    "redirect string, robots_noindex boolean, robots_nofollow boolean, "
    "error string, "
    "outlinks array<struct<target_url:string, anchor:string, nofollow:boolean>>"
)


def page_record(p: ParsedPage) -> dict:
    """One ``PARSE_RESULT_DDL`` row."""
    return {
        "url": p.url,
        "text": p.text,
        "title": p.title,
        "charset": p.charset,
        "redirect": p.redirect,
        "robots_noindex": p.robots_noindex,
        "robots_nofollow": p.robots_nofollow,
        "error": p.error,
        "outlinks": [
            {"target_url": t, "anchor": a, "nofollow": nf}
            for (t, a, nf) in p.outlinks
        ],
    }


def parse_pages(
    pages,  # DataFrame(url, content, [content_type])
    max_outlinks: int | None = 100,
    normalize=None,
):
    """Arrow-batched parse stage: DataFrame(url, content) → parse results.

    ``mapInPandas`` keeps the Python boundary to one Arrow hop per batch;
    downstream explodes (docs / outlinks / status splits) stay JVM-side.
    """
    import pandas as pd

    has_ct = "content_type" in pages.columns

    def run(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ct = getattr(row, "content_type", None) if has_ct else None
                content = bytes(row.content) if row.content is not None else b""
                out.append(page_record(parse_html_page(
                    row.url, content, ct, max_outlinks=max_outlinks,
                    normalize=normalize,
                )))
            yield pd.DataFrame(out)

    cols = ["url", "content"] + (["content_type"] if has_ct else [])
    return pages.select(*cols).mapInPandas(run, schema=PARSE_RESULT_DDL)


def split_parse_streams(parsed):
    """Fan the parse result into the reference's streams
    (JSoupParserBolt.java:402-424 + RedirectionBolt shunt):

    returns (docs, outlinks, status) DataFrames:
      docs    — successfully parsed, indexable (no noindex, no error)
      outlinks— exploded follow-able discovered links
      status  — per-input-url status updates (FETCHED / REDIRECTION / ERROR)
    """
    from pyspark.sql import functions as F

    ok = parsed.where(F.col("error").isNull())
    docs = ok.where(~F.col("robots_noindex")).select(
        "url", "title", "text", "charset"
    )
    outlinks = (
        ok.select("url", F.explode("outlinks").alias("o"))
        .where(~F.col("o.nofollow"))
        .select(
            F.col("url").alias("source_url"),
            F.col("o.target_url").alias("target_url"),
            F.col("o.anchor").alias("anchor"),
        )
    )
    status = parsed.select(
        "url",
        F.when(F.col("error").isNotNull(), "ERROR")
        .when(F.col("redirect").isNotNull(), "REDIRECTION")
        .otherwise("FETCHED")
        .alias("status"),
    )
    return docs, outlinks, status
