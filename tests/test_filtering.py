"""URL filter chain tests — accept/reject tables in the reference's style
(FastURLFilterTest, filter config tables; SURVEY.md §2.6)."""

from __future__ import annotations

import pytest

from incubator_stormcrawler_spark.functions.filtering import (
    BasicURLFilter,
    FastURLFilter,
    HostURLFilter,
    MaxDepthFilter,
    MetadataFilter,
    RegexURLFilter,
    RegexURLNormalizer,
    SelfURLFilter,
    URLFilterChain,
)

SRC = "https://www.example.com/page"


def test_basic_filter_length_and_repetition():
    f = BasicURLFilter(max_path_repetition=3, max_length=50)
    assert f.filter(SRC, {}, "https://e.com/a/b/c") == "https://e.com/a/b/c"
    assert f.filter(SRC, {}, "https://e.com/" + "x" * 60) is None
    assert f.filter(SRC, {}, "https://e.com/a/a/a/a/b") is None
    assert f.filter(SRC, {}, "https://e.com/a/a/a/b") is not None


def test_self_filter():
    f = SelfURLFilter()
    assert f.filter(SRC, {}, SRC) is None
    assert f.filter(SRC, {}, SRC + "2") == SRC + "2"


def test_max_depth():
    f = MaxDepthFilter(max_depth=2)
    assert f.filter(SRC, {"depth": ["1"]}, "https://e.com/") is not None
    assert f.filter(SRC, {"depth": ["2"]}, "https://e.com/") is None
    # per-URL override
    assert f.filter(SRC, {"depth": ["2"], "max.depth": ["5"]}, "https://e.com/") \
        is not None
    assert MaxDepthFilter(0).filter(SRC, {}, "https://e.com/") is None


def test_host_filter():
    same_host = HostURLFilter(ignore_outside_host=True)
    assert same_host.filter(SRC, {}, "https://www.example.com/x") is not None
    assert same_host.filter(SRC, {}, "https://sub.example.com/x") is None
    same_dom = HostURLFilter(ignore_outside_domain=True)
    assert same_dom.filter(SRC, {}, "https://sub.example.com/x") is not None
    assert same_dom.filter(SRC, {}, "https://other.org/x") is None


def test_metadata_filter():
    f = MetadataFilter(key="isSitemap", value="true")
    assert f.filter(SRC, {"isSitemap": ["true"]}, "https://e.com/") is None
    assert f.filter(SRC, {}, "https://e.com/") is not None


def test_regex_filter_first_match_wins():
    f = RegexURLFilter([r"-\.jpg$", r"+^https://good\.", r"-."])
    assert f.filter(SRC, {}, "https://good.example/a") is not None
    assert f.filter(SRC, {}, "https://good.example/a.jpg") is None
    assert f.filter(SRC, {}, "https://bad.example/a") is None


def test_regex_normalizer():
    f = RegexURLNormalizer([(r";jsessionid=[0-9A-Fa-f]+", ""), (r"&{2,}", "&")])
    assert (
        f.filter(SRC, {}, "https://e.com/a;jsessionid=AB12?x=1")
        == "https://e.com/a?x=1"
    )


def test_fast_filter_scopes():
    f = FastURLFilter(
        {
            "hostname": {"blocked.example": ["DenyAll"]},
            "domain": {"example.org": ["Deny \\.pdf$", "AllowAll"]},
            "global": ["Deny private", "AllowAll"],
        }
    )
    assert f.filter(SRC, {}, "https://blocked.example/any") is None
    assert f.filter(SRC, {}, "https://a.example.org/doc.pdf") is None
    assert f.filter(SRC, {}, "https://a.example.org/doc.html") is not None
    assert f.filter(SRC, {}, "https://other.net/private/x") is None
    assert f.filter(SRC, {}, "https://other.net/public") is not None


def test_chain_from_config_and_shortcircuit():
    chain = URLFilterChain.from_config(
        [
            {"class": "BasicURLNormalizer", "params": {}},
            {"class": "SelfURLFilter"},
            {"class": "BasicURLFilter", "params": {"max_length": 100}},
        ]
    )
    # normalizer runs first (anchor removed), then self-filter compares
    assert chain.filter(SRC, {}, SRC + "#frag") is None  # normalizes to SRC → self
    assert (
        chain.filter(SRC, {}, "https://other.example/x#y")
        == "https://other.example/x"
    )


def test_apply_filter_chain_spark(spark):
    from incubator_stormcrawler_spark.functions.filtering import apply_filter_chain
    from pyspark.sql import Row

    chain = URLFilterChain.from_config(
        [{"class": "HostURLFilter", "params": {"ignore_outside_host": True}}]
    )
    df = spark.createDataFrame(
        [
            Row(source_url="https://a.com/", target_url="https://a.com/x"),
            Row(source_url="https://a.com/", target_url="https://b.com/x"),
        ]
    )
    got = {r.target_url: r.filtered_url for r in apply_filter_chain(df, chain).collect()}
    assert got["https://a.com/x"] == "https://a.com/x"
    assert got["https://b.com/x"] is None


def test_robots_url_filter():
    from incubator_stormcrawler_spark.functions.filtering import RobotsURLFilter
    from incubator_stormcrawler_spark.protocol.robots import parse_robots_txt

    rules = parse_robots_txt("User-agent: *\nDisallow: /private/\n", ["me"])
    f = RobotsURLFilter({"a.example": rules})
    assert f.filter(SRC, {}, "https://a.example/ok") is not None
    assert f.filter(SRC, {}, "https://a.example/private/x") is None
    # unknown host (no cached rules) passes through
    assert f.filter(SRC, {}, "https://b.example/private/x") is not None


def test_sitemap_url_filter():
    from incubator_stormcrawler_spark.functions.filtering import SitemapURLFilter

    f = SitemapURLFilter({"mapped.example"})
    # sitemap-complete host: only sitemap-discovered URLs pass
    assert f.filter(SRC, {}, "https://mapped.example/x") is None
    assert (
        f.filter(SRC, {"isSitemap": ["true"]}, "https://mapped.example/x")
        is not None
    )
    # other hosts unaffected
    assert f.filter(SRC, {}, "https://other.example/x") is not None


def test_delegator_protocol():
    from incubator_stormcrawler_spark.protocol.fetch import (
        DelegatorProtocol,
        MemoryProtocol,
    )

    fast = MemoryProtocol({"https://a.example/x": "FAST"})
    slow = MemoryProtocol({"https://a.example/x": "SLOW"})
    proto = DelegatorProtocol(
        rules=[(lambda url, md: md.get("js") == ["true"], slow)],
        default=fast,
    )
    assert proto.get_protocol_output("https://a.example/x", {}).content == b"FAST"
    assert (
        proto.get_protocol_output("https://a.example/x", {"js": ["true"]}).content
        == b"SLOW"
    )


def _url_corpus(n: int, seed: int) -> list[tuple]:
    """Seeded (source_url, metadata, target_url) rows covering how urlsplit
    and the native filters read a URL: scheme forms, bracketed and
    NFKC-unsafe hosts, whitespace and control characters, repetitions in
    path, query and fragment, non-ASCII and over-length URLs."""
    import random

    rnd = random.Random(seed)
    schemes = ["http://", "https://", "HTTP://", "HtTpS://", "", "//",
               "mailto:", "ftp://", "1x://", "a b:", "x+y.z-w:"]
    hosts = ["h.example", "h.example:8080", "H.EXAMPLE:99999", "[::1]",
             "[::1", "[zz]", "[v1.x]", "[1.2.3.4]", "[::ffff:1.2.3.4]",
             "[fe80::1%eth0]", "[fe80::1%]", "a]b", "ex\u2100mple",
             "\uff45xample", "u@h.example", "\u4f8b\u3048.jp", ""]
    segs = ["a", "b", "x", "\u00e9", "\u65e5\u672c", "", "..", "a a",
            "%2F", "a\x01", "\U0001f600"]
    pads = ["", "", " ", "\x00", "\x1f ", "\t", "\n", "\x7f", "\u00a0"]
    rows = []
    for _ in range(n):
        path = [rnd.choice(segs) for _ in range(rnd.randint(0, 6))]
        if rnd.random() < 0.4:
            path += [rnd.choice(segs)] * rnd.randint(2, 5)
            rnd.shuffle(path)
        url = rnd.choice(schemes) + rnd.choice(hosts) + "/" + "/".join(path)
        if rnd.random() < 0.25:
            url += "?q=/" + "/".join([rnd.choice(segs)] * rnd.randint(1, 5))
        if rnd.random() < 0.25:
            url += "#/" + "/".join([rnd.choice(segs)] * rnd.randint(1, 5))
        if rnd.random() < 0.1:
            url += "/" + "y" * rnd.choice([40, 300, 520])
        for _ in range(rnd.randint(0, 2)):
            i = rnd.randint(0, len(url))
            url = url[:i] + rnd.choice("\t\r\n") + url[i:]
        url = rnd.choice(pads) + url + rnd.choice(pads)
        source = rnd.choice([None, url, "https://h.example/src"])
        md = rnd.choice([
            None, {}, {"depth": [str(rnd.randint(0, 4))]},
            {"depth": [str(rnd.randint(0, 4))],
             "max.depth": [str(rnd.randint(0, 4))]},
            {"max.depth": []},
        ])
        rows.append((source, md, url))
    rows += [
        (None, None, u)
        for u in ["http://[::1]/a", "http://[::1/x", "http://[zz]/y",
                  "http://[v1.x]/y", "http://[1.2.3.4]/",
                  "http://h/a/a/a/a", " http://h/a/a/a/a ",
                  "http://h/a/a/a/a\x00", "http://h/?/a/a/a/a",
                  "http://h/#/a/a/a/a", "//h/a/a/a/a", "mailto:a/a/a/a"]
    ]
    return rows


@pytest.mark.parametrize(
    "filters",
    [
        lambda: [MaxDepthFilter(2), BasicURLFilter(), SelfURLFilter()],
        lambda: [BasicURLFilter(max_path_repetition=2, max_length=100),
                 MaxDepthFilter()],
        lambda: [BasicURLFilter(max_path_repetition=1, max_length=0),
                 SelfURLFilter(), MaxDepthFilter(0)],
    ],
)
def test_native_filter_chain_matches_python(spark, filters):
    """The compiled chain gives URLFilterChain.filter's verdict row for
    row, with no Python stage in the plan."""
    from incubator_stormcrawler_spark.functions.filtering import (
        apply_filter_chain,
    )

    chain = URLFilterChain(filters())
    rows = _url_corpus(3000, seed=11)
    df = spark.createDataFrame(
        [(i, s, m, t) for i, (s, m, t) in enumerate(rows)],
        "id int, source_url string, metadata map<string,array<string>>, "
        "target_url string",
    )
    out = apply_filter_chain(df, chain)
    assert "MapInPandas" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r.id: r.filtered_url for r in out.select("id", "filtered_url").collect()}
    want = {i: chain.filter(s, m, t) for i, (s, m, t) in enumerate(rows)}
    diff = [(rows[i], want[i], got[i]) for i in want if want[i] != got[i]]
    assert not diff, diff[:5]
    # the corpus exercises both verdicts
    assert any(v is None for v in want.values())
    assert any(v is not None for v in want.values())


def test_basic_filter_rejects_unsplittable_urls():
    f = BasicURLFilter()
    for url in ["http://[::1/x", "http://[zz]/y", "http://[1.2.3.4]/",
                "http://ex\u2100mple/"]:
        assert f.filter(SRC, {}, url) is None
    for url in ["http://[::1]/a", "http://[v1.x]/y"]:
        assert f.filter(SRC, {}, url) == url


def test_python_tail_keeps_chain_order_and_short_circuit(spark):
    """A Python-only filter between native ones: the native prefix runs
    first, the tail (from the first Python-only filter on) runs in order
    over the prefix's output and never sees a row the prefix rejected."""
    from incubator_stormcrawler_spark.functions.filtering import (
        apply_filter_chain,
    )

    src = "https://h.example/src"
    chain = URLFilterChain([
        SelfURLFilter(),
        # rewrites .../self to the source (after the self check ran) and
        # .../rep to a repeated path (before the repetition check runs)
        RegexURLNormalizer([(r"/self$", "/src"), (r"/rep$", "/a/a/a/a")]),
        BasicURLFilter(),
    ])
    rows = [
        (src, src),                            # prefix rejects
        (src, "https://h.example/self"),       # → source, Self already ran
        (src, "https://h.example/rep"),        # → repeated, tail rejects
        (src, "https://h.example/ok"),
    ]
    df = spark.createDataFrame(rows, "source_url string, target_url string")
    out = apply_filter_chain(df, chain)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    got = {r.target_url: r.filtered_url for r in out.collect()}
    assert got == {t: chain.filter(s, None, t) for s, t in rows}
    assert got == {
        src: None,
        "https://h.example/self": src,
        "https://h.example/rep": None,
        "https://h.example/ok": "https://h.example/ok",
    }
