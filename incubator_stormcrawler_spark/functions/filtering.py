"""URL filter chain — predicate/projection chain applied to every outlink
(core/.../filtering/URLFilter.java:31; chain short-circuits on null,
filtering/URLFilters.java:49; applied in StatusEmitterBolt.java:85-113).

Each filter: ``filter(source_url, source_metadata, target_url) ->
target-or-None``. The chain is config-driven (urlfilters.json-style).

Compile rule (``apply_filter_chain``): a filter may also carry a column
form, ``column(source, metadata, target) -> Column`` with null meaning
rejected. The longest prefix of the chain whose filters all have one is
compiled into Catalyst expressions and runs in the JVM; only the tail,
from the first filter without a column form on, runs in one Arrow-batched
``mapInPandas`` stage, which skips the rows the prefix already rejected.
A chain of column-form filters never crosses the Python boundary.
"""

from __future__ import annotations

import functools
import re
import sys
import unicodedata
from urllib.parse import urlsplit

from pyspark.sql import functions as F

from .urls import BasicURLNormalizer, paid_level_domain


class URLFilter:
    # Optional native form: ``column(source, metadata, target) -> Column``
    # over the outlink columns (``metadata`` is None when the frame has
    # none), null meaning rejected. It must give exactly ``filter``'s
    # verdict on every row and map a null target to null, so a compiled
    # prefix short-circuits like the Python chain. None: Python only.
    column = None

    def filter(self, source_url, source_metadata, target_url):
        raise NotImplementedError


def _reject_when(cond, target):
    """``target`` unless ``cond`` holds; null in stays null."""
    return F.when(cond, F.lit(None).cast("string")).otherwise(target)


# urlsplit's reading of a URL, as Java regexes (Python 3.11 urllib.parse):
# leading C0 controls and spaces are stripped and tab/CR/LF removed first;
# a scheme is an ASCII letter then scheme chars up to the first ':'; a
# netloc follows '//' up to '/', '?' or '#'; the path ends at '?' or '#'.
_SCHEME = r"^(?:[A-Za-z][A-Za-z0-9+.\-]*:)?"
_PATH_RE = _SCHEME + r"(?://[^/?#]*)?([^?#]*)"
_NETLOC_RE = _SCHEME + r"(//[^/?#]*)"
# a bracketed host urlsplit accepts: IPvFuture, or an IPv6 address as
# ipaddress parses it (RFC 3986 grammar, no leading-zero octets) with an
# optional non-empty '%scope'
_H16 = "[0-9A-Fa-f]{1,4}"
_OCTET = "(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
_LS32 = f"(?:{_H16}:{_H16}|{_OCTET}(?:\\.{_OCTET}){{3}})"
_IPV6 = "(?:" + "|".join(
    [f"(?:{_H16}:){{6}}{_LS32}", f"::(?:{_H16}:){{5}}{_LS32}"]
    + [
        f"(?:(?:{_H16}:){{0,{k - 1}}}{_H16})?::{tail}"
        for k, tail in [
            (1, f"(?:{_H16}:){{4}}{_LS32}"),
            (2, f"(?:{_H16}:){{3}}{_LS32}"),
            (3, f"(?:{_H16}:){{2}}{_LS32}"),
            (4, f"{_H16}:{_LS32}"),
            (5, _LS32),
            (6, _H16),
            (7, ""),
        ]
    ]
) + ")"
_BRACKETED_HOST_RE = (
    f"^(?:v[0-9A-Fa-f]+\\.[\\s\\S]+|{_IPV6}(?:%[^%]+)?)\\z"
)


@functools.cache
def _nfkc_netloc_re() -> str:
    """Character class of the code points whose NFKC form holds one of
    '/?#@:' — a netloc with any of them makes urlsplit raise."""
    chars = [
        c for c in map(chr, range(0x80, sys.maxunicode + 1))
        if unicodedata.decomposition(c)
        and any(d in unicodedata.normalize("NFKC", c) for d in "/?#@:")
    ]
    return "[" + "".join(f"\\x{{{ord(c):x}}}" for c in chars) + "]"


def _urlsplit_fails(url):
    """Column: ``urlsplit(url)`` raises ValueError (bad brackets or a
    netloc with NFKC-unsafe characters); ``url`` is already cleaned."""
    netloc = F.regexp_extract(url, _NETLOC_RE, 1)
    opened = netloc.contains("[")
    closed = netloc.contains("]")
    host = F.regexp_extract(netloc, r"\[([^\]]*)", 1)
    return (
        (opened != closed)
        | (opened & closed & ~host.rlike(_BRACKETED_HOST_RE))
        | netloc.rlike(_nfkc_netloc_re())
    )


class BasicURLFilter(URLFilter):
    """Reject over-long URLs and pathological repeated path elements
    (filtering/basic/BasicURLFilter.java:29,31-63). A URL ``urlsplit``
    cannot split is rejected too."""

    def __init__(self, max_path_repetition: int = 3, max_length: int = 512):
        self.max_rep = max_path_repetition
        self.max_len = max_length

    def filter(self, source_url, source_metadata, target_url):
        if self.max_len > 0 and len(target_url) > self.max_len:
            return None
        if self.max_rep >= 2:
            try:
                path = urlsplit(target_url).path
            except ValueError:
                return None
            counts: dict[str, int] = {}
            for seg in path.split("/"):
                if seg:
                    counts[seg] = counts.get(seg, 0) + 1
                    if counts[seg] > self.max_rep:
                        return None
        return target_url

    def column(self, source, metadata, target):
        reject = F.lit(False)
        if self.max_len > 0:
            # length() counts code points, like len()
            reject = F.length(target) > self.max_len
        if self.max_rep >= 2:
            url = F.regexp_replace(
                F.regexp_replace(target, r"^[\x00-\x20]+", ""), "[\t\r\n]", ""
            )
            segs = F.filter(
                F.split(F.regexp_extract(url, _PATH_RE, 1), "/"),
                lambda s: s != "",
            )
            repeated = F.exists(
                segs,
                lambda s: F.size(F.filter(segs, lambda t: t == s)) > self.max_rep,
            )
            reject = reject | _urlsplit_fails(url) | repeated
        return _reject_when(reject, target)


class SelfURLFilter(URLFilter):
    """Reject links to self (filtering/basic/SelfURLFilter.java:28)."""

    def filter(self, source_url, source_metadata, target_url):
        if source_url is not None and target_url == source_url:
            return None
        return target_url

    def column(self, source, metadata, target):
        return _reject_when(source.isNotNull() & (target == source), target)


class MaxDepthFilter(URLFilter):
    """Reject when depth > maxDepth; 0 = no outlinks at all; per-URL
    override via 'max.depth' metadata (filtering/depth/MaxDepthFilter.java:35)."""

    def __init__(self, max_depth: int = -1):
        self.max_depth = max_depth

    def filter(self, source_url, source_metadata, target_url):
        md = source_metadata or {}
        depth_vals = md.get("depth")
        depth = int(depth_vals[0]) if depth_vals else 0
        custom = md.get("max.depth")
        limit = int(custom[0]) if custom else self.max_depth
        if limit == 0:
            return None
        if limit > 0 and depth >= limit:
            return None
        return target_url

    def column(self, source, metadata, target):
        if metadata is None:
            depth, limit = F.lit(0), F.lit(self.max_depth)
        else:
            depth = F.coalesce(
                F.get(metadata["depth"], 0).cast("int"), F.lit(0)
            )
            limit = F.coalesce(
                F.get(metadata["max.depth"], 0).cast("int"),
                F.lit(self.max_depth),
            )
        return _reject_when(
            (limit == 0) | ((limit > 0) & (depth >= limit)), target
        )


class HostURLFilter(URLFilter):
    """Reject outlinks leaving the source's host and/or paid-level domain
    (filtering/host/HostURLFilter.java:41)."""

    def __init__(self, ignore_outside_host: bool = False,
                 ignore_outside_domain: bool = False):
        self.outside_host = ignore_outside_host
        self.outside_domain = ignore_outside_domain

    def filter(self, source_url, source_metadata, target_url):
        if not (self.outside_host or self.outside_domain) or source_url is None:
            return target_url
        try:
            s_host = (urlsplit(source_url).hostname or "").lower()
            t_host = (urlsplit(target_url).hostname or "").lower()
        except ValueError:
            return None
        if self.outside_host:
            return target_url if t_host == s_host else None
        if paid_level_domain(t_host) != paid_level_domain(s_host):
            return None
        return target_url


class MetadataFilter(URLFilter):
    """Reject outlinks whose source doc carries k=v metadata
    (filtering/metadata/MetadataFilter.java:33)."""

    def __init__(self, key: str, value: str):
        self.key, self.value = key, value

    def filter(self, source_url, source_metadata, target_url):
        vals = (source_metadata or {}).get(self.key) or []
        if self.value in vals:
            return None
        return target_url


class RegexURLFilter(URLFilter):
    """Nutch-style ordered +/- regex rules; first match decides; no match →
    reject (filtering/regex/RegexURLFilter.java:27, RegexURLFilterBase.java:39).
    Rules: list of strings like '+^https?://' or '-\\.jpg$'."""

    def __init__(self, rules: list[str]):
        self.rules = []
        for line in rules:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            sign, pattern = line[0], line[1:]
            if sign not in "+-":
                continue
            self.rules.append((sign == "+", re.compile(pattern)))

    def filter(self, source_url, source_metadata, target_url):
        for accept, rx in self.rules:
            if rx.search(target_url):
                return target_url if accept else None
        return None


class RegexURLNormalizer(URLFilter):
    """Nutch-style regex find/replace rules, applied once each in order
    (filtering/regex/RegexURLNormalizer.java:58). Rules: (pattern, sub)."""

    def __init__(self, rules: list[tuple[str, str]]):
        self.rules = [(re.compile(p), s) for p, s in rules]

    def filter(self, source_url, source_metadata, target_url):
        for rx, sub in self.rules:
            target_url = rx.sub(sub, target_url)
        return target_url or None


class FastURLFilter(URLFilter):
    """Scoped rules: scopes tried HOSTNAME → DOMAIN → METADATA → GLOBAL;
    within the first scope that has rules, first matching rule wins
    (filtering/regex/FastURLFilter.java:69,131-142,189-195,272-276).

    ``rules``: {"hostname": {host: [rule...]}, "domain": {domain: [...]},
    "metadata": {"k=v": [...]}, "global": [rule...]} where each rule is
    "AllowAll" | "DenyAll" | "Allow <regex>" | "Deny <regex>".
    """

    def __init__(self, rules: dict):
        self.hostname = rules.get("hostname", {})
        self.domain = rules.get("domain", {})
        self.metadata = rules.get("metadata", {})
        self.global_rules = rules.get("global", [])

    @staticmethod
    def _apply(rules: list[str], url: str):
        """Returns True (allow), False (deny), or None (no decision)."""
        for rule in rules:
            if rule == "AllowAll":
                return True
            if rule == "DenyAll":
                return False
            verb, _, pattern = rule.partition(" ")
            if pattern and re.search(pattern, url):
                return verb.lower() == "allow"
        return None

    def filter(self, source_url, source_metadata, target_url):
        try:
            host = (urlsplit(target_url).hostname or "").lower()
        except ValueError:
            return None
        scopes = []
        if host in self.hostname:
            scopes.append(self.hostname[host])
        dom = paid_level_domain(host) if host else ""
        if dom in self.domain:
            scopes.append(self.domain[dom])
        for kv, rules in self.metadata.items():
            k, _, v = kv.partition("=")
            if v in ((source_metadata or {}).get(k) or []):
                scopes.append(rules)
        scopes.append(self.global_rules)
        for rules in scopes:
            decision = self._apply(rules, target_url)
            if decision is not None:
                return target_url if decision else None
        return target_url


class RobotsURLFilter(URLFilter):
    """Discard URLs denied by robots.txt at DISCOVERY time
    (filtering/robots/RobotsFilter.java:50, doc :36-49). Cache-only option
    mirrored: with ``cache_only=True`` (the reference's safe default) a
    host with no cached rules passes the URL through rather than fetching
    robots.txt inside the filter chain."""

    def __init__(self, robots_cache, cache_only: bool = True):
        self.cache = robots_cache  # RobotsCache, or dict host->RobotRules
        self.cache_only = cache_only

    def _rules_for(self, host: str):
        if isinstance(self.cache, dict):
            return self.cache.get(host)
        if self.cache_only and hasattr(self.cache, "get_cached"):
            return self.cache.get_cached(host)
        return self.cache.get(host)

    def filter(self, source_url, source_metadata, target_url):
        try:
            host = (urlsplit(target_url).hostname or "").lower()
        except ValueError:
            return None
        rules = self._rules_for(host)
        if rules is None:  # no cached verdict → let it through (cache-only)
            return target_url
        return target_url if rules.is_allowed(target_url) else None


class SitemapURLFilter(URLFilter):
    """Once sitemaps were found for a host, discard non-sitemap-discovered
    URLs from that host (filtering/sitemap/SitemapFilter.java:47, doc
    :38-46): sitemap-complete hosts only accept URLs carrying
    ``isSitemap``/``sitemap.discovered`` metadata."""

    def __init__(self, hosts_with_sitemaps: set[str]):
        self.hosts = {h.lower() for h in hosts_with_sitemaps}

    def filter(self, source_url, source_metadata, target_url):
        try:
            host = (urlsplit(target_url).hostname or "").lower()
        except ValueError:
            return None
        if host not in self.hosts:
            return target_url
        md = source_metadata or {}
        if md.get("isSitemap") in (["true"],) or md.get("sitemap.discovered") in (
            ["true"],
        ):
            return target_url
        return None


_FILTER_REGISTRY = {
    "BasicURLFilter": BasicURLFilter,
    "SelfURLFilter": SelfURLFilter,
    "MaxDepthFilter": MaxDepthFilter,
    "HostURLFilter": HostURLFilter,
    "MetadataFilter": MetadataFilter,
    "RegexURLFilter": RegexURLFilter,
    "RegexURLNormalizer": RegexURLNormalizer,
    "FastURLFilter": FastURLFilter,
    "BasicURLNormalizer": None,  # handled below (different ctor signature)
}


class URLFilterChain:
    """Ordered chain; None from any filter rejects the URL
    (URLFilters.java:49). Normalizers may rewrite the URL mid-chain."""

    def __init__(self, filters: list[URLFilter]):
        self.filters = filters

    def filter(self, source_url, source_metadata, target_url):
        for f in self.filters:
            target_url = f.filter(source_url, source_metadata, target_url)
            if target_url is None:
                return None
        return target_url

    @classmethod
    def from_config(cls, config: list[dict]) -> "URLFilterChain":
        """urlfilters.json-style config: [{"class": name, "params": {...}}]."""
        filters: list[URLFilter] = []
        for entry in config:
            name = entry["class"]
            params = entry.get("params", {})
            if name == "BasicURLNormalizer":
                norm = BasicURLNormalizer(**params)
                filters.append(_NormalizerAdapter(norm))
                continue
            klass = _FILTER_REGISTRY.get(name)
            if klass is None:
                raise ValueError(f"unknown URL filter: {name}")
            filters.append(klass(**params))
        return cls(filters)


class _NormalizerAdapter(URLFilter):
    def __init__(self, normalizer: BasicURLNormalizer):
        self.normalizer = normalizer

    def filter(self, source_url, source_metadata, target_url):
        return self.normalizer.filter(target_url)


def apply_filter_chain(outlinks, chain: URLFilterChain):
    """Chain application over DataFrame(source_url, target_url[, metadata])
    → adds ``filtered_url`` (null = rejected). Keep the rejection rows until
    the caller drops them — useful for filter-efficacy metrics.

    The longest prefix of filters with a column form runs as Catalyst
    expressions; the rest of the chain runs in one Arrow-batched stage
    over the prefix's output (see the module docstring)."""
    import pandas as pd

    has_md = "metadata" in outlinks.columns
    md = F.col("metadata") if has_md else None
    out = outlinks.withColumn("filtered_url", F.col("target_url"))
    n_native = 0
    for f in chain.filters:
        if f.column is None:
            break
        out = out.withColumn(
            "filtered_url",
            f.column(F.col("source_url"), md, F.col("filtered_url")),
        )
        n_native += 1
    tail = URLFilterChain(chain.filters[n_native:])
    if not tail.filters:
        return out

    def run(batches):
        for pdf in batches:
            md_col = pdf["metadata"] if has_md else [None] * len(pdf)
            filtered = [
                None if t is None else tail.filter(s, m, t)
                for s, m, t in zip(pdf["source_url"], md_col, pdf["filtered_url"])
            ]
            yield pdf.assign(
                filtered_url=pd.Series(filtered, index=pdf.index, dtype=object)
            )

    return out.mapInPandas(run, schema=out.schema)
