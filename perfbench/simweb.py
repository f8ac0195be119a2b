"""Seeded simulated web for the crawl workloads.

Page ``i`` lives at ``https://h{host}.sim/p{i}``. Its host, text and links
are pure functions of ``(seed, i)``, so any worker regenerates any page with
no site table to ship. Ids below ``n_known`` are the pages the frontier is
seeded with; a fixed share of each page's links points past them, at ids
the frontier has never seen, so every merge both no-ops (known targets) and
inserts (new ones).

Text is a slice of one precomputed word block, never a per-word random
draw, so page generation stays cheap next to the engine's own work. The
time spent inside ``get_protocol_output`` is added to an optional Spark
accumulator, so the load generator's cost is reported apart from the
engine's.
"""

from __future__ import annotations

import bisect
import random
import re
import time

from incubator_stormcrawler_spark.protocol.fetch import Protocol, ProtocolResponse

_MASK = (1 << 64) - 1
_URL = re.compile(r"^https://h(\d+)\.sim/p(\d+)$")
_WORDS = (
    "crawl fetch parse index frontier host page link status merge bucket "
    "spark table query filter score rank token shard batch queue delay "
    "robots sitemap feed anchor title body text vector hash window join"
).split()


def mix64(*parts: int) -> int:
    """Deterministic 64-bit hash of integers (splitmix64 finalizer chain).

    Python's ``hash`` is salted per process; this is stable everywhere."""
    h = 0x9E3779B97F4A7C15
    for p in parts:
        h = (h ^ (p & _MASK)) * 0xBF58476D1CE4E5B9 & _MASK
        h = (h ^ (h >> 31)) * 0x94D049BB133111EB & _MASK
        h ^= h >> 29
    return h


class SimWeb(Protocol):
    """A ``Protocol`` over the seeded simulated web. Host popularity is
    Zipf-skewed: host rank r gets weight ``1 / r``."""

    def __init__(
        self,
        seed: int,
        n_known: int,
        hosts: int = 1000,
        page_bytes: int = 8192,
        links: int = 30,
        new_share: float = 0.1,
        timer=None,
    ):
        self.seed = seed
        self.n_known = n_known
        self.hosts = hosts
        self.page_bytes = page_bytes
        self.links = links
        self.new_per_mille = int(round(new_share * 1000))
        self.timer = timer
        rng = random.Random(seed)
        block = " ".join(rng.choice(_WORDS) for _ in range(16384))
        # doubled so any slice of page_bytes starting in the first half fits
        self._text = block + " " + block
        self._text_span = len(block)
        acc, cdf = 0.0, []
        for r in range(1, hosts + 1):
            acc += 1.0 / r
            cdf.append(acc)
        self._cdf = [c / acc for c in cdf]

    def host(self, i: int) -> int:
        u = (mix64(self.seed, i, 1) >> 11) / float(1 << 53)
        h = bisect.bisect_left(self._cdf, u)
        return min(h, self.hosts - 1)

    def url(self, i: int) -> str:
        return f"https://h{self.host(i)}.sim/p{i}"

    def targets(self, i: int) -> list[int]:
        """Link targets of page ``i``: known ids, plus a fixed share of ids
        past ``n_known`` (a new id space as large as the known one)."""
        out = []
        for k in range(self.links):
            r = mix64(self.seed, i, 2, k)
            if r % 1000 < self.new_per_mille:
                out.append(self.n_known + (r >> 10) % self.n_known)
            else:
                out.append((r >> 10) % self.n_known)
        return out

    def page(self, i: int) -> bytes:
        start = mix64(self.seed, i, 3) % self._text_span
        body = self._text[start:start + self.page_bytes]
        anchors = "".join(
            f'<a href="{self.url(t)}">p{t}</a> ' for t in self.targets(i)
        )
        return (
            f"<html><head><title>page {i}</title></head><body><p>{body}</p>"
            f"{anchors}</body></html>"
        ).encode()

    def get_protocol_output(self, url, metadata):
        t0 = time.perf_counter()
        m = _URL.match(url)
        if m is None or self.host(int(m.group(2))) != int(m.group(1)):
            resp = ProtocolResponse(None, 404)
        else:
            resp = ProtocolResponse(self.page(int(m.group(2))), 200)
        if self.timer is not None:
            self.timer.add(time.perf_counter() - t0)
        return resp
