"""S4 live-HTTP path plumbing via injected transport (no network in the
sandbox): conditional-GET headers, RFC-1123 parsing, error rows.

The fake transport runs inside Spark workers, so request headers are
observed by echoing them back through the response body (worker-side
globals never reach the driver), and it is defined as a local closure
(locals pickle by value; module-level functions would need the test
module importable on the worker).
"""

import json
from datetime import datetime, timezone

from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig
from sparkcrawl.schemas import FRONTIER_SCHEMA
from sparkcrawl.sources.fetch import http_fetch

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _batch(spark):
    rows = [
        ("http://a.example/fresh", "h1", "a.example", "a.example", 0, None, None,
         T0, 1, 0, "pending", 0),
        ("http://a.example/conditional", "h2", "a.example", "a.example", 0, '"etag-1"',
         T0, T0, 1, 0, "pending", 0),
        ("http://a.example/down", "h3", "a.example", "a.example", 0, None, None,
         T0, 1, 0, "pending", 0),
    ]
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def test_http_fetch_plumbing(spark):
    def fake_transport(url, headers):
        if url.endswith("/down"):
            raise ConnectionError("refused")
        if url.endswith("/conditional"):
            # 304 only when BOTH conditional headers arrived — the 304 in
            # the result is itself the proof they were sent
            if headers.get("If-None-Match") == '"etag-1"' and "If-Modified-Since" in headers:
                return 304, {"ETag": '"etag-1"'}, None
            return 500, {}, None
        return 200, {
            "Content-Type": "text/html; charset=utf-8",
            "ETag": '"etag-2"',
            "Last-Modified": "Wed, 01 Jan 2025 12:00:00 GMT",
        }, json.dumps(dict(headers))  # echo request headers for inspection

    out = {
        r["url"]: r
        for r in http_fetch(_batch(spark), CrawlConfig(), _transport=fake_transport).collect()
    }
    # fresh: 200, Last-Modified parsed, NO conditional headers were sent
    fresh = out["http://a.example/fresh"]
    assert fresh["status_code"] == 200
    assert fresh["rep_etag"] == '"etag-2"'
    assert fresh["rep_last_modified"].replace(tzinfo=timezone.utc) == datetime(
        2025, 1, 1, 12, 0, tzinfo=timezone.utc
    )
    sent = json.loads(fresh["body"])
    assert "If-None-Match" not in sent and "If-Modified-Since" not in sent
    # (User-Agent is attached by the default urllib transport itself,
    # not by the header-building layer an injected transport sees)
    # conditional: etag + mod_date produced both headers -> 304, no body
    cond = out["http://a.example/conditional"]
    assert cond["status_code"] == 304 and cond["body"] is None
    # connection error: null status row (T4 routes it to backoff)
    down = out["http://a.example/down"]
    assert down["status_code"] is None and down["body"] is None


def test_dns_cache_lru_ttl():
    """S5: repeated lookups of one host hit the executor-local cache;
    TTL expiry and LRU eviction re-resolve."""
    from sparkcrawl.sources.fetch import DnsCache

    calls = []
    clock_now = [0.0]

    def resolver(host, port, *a):
        calls.append(host)
        return [("fake-addrinfo", host, port)]

    cache = DnsCache(resolver=resolver, maxsize=2, ttl_s=10.0,
                     clock=lambda: clock_now[0])
    for _ in range(5):
        cache.getaddrinfo("a.example", 80)
    assert calls == ["a.example"]           # 4 hits, 1 resolve
    assert (cache.hits, cache.misses) == (4, 1)

    clock_now[0] = 11.0                      # TTL expired
    cache.getaddrinfo("a.example", 80)
    assert calls == ["a.example"] * 2

    cache.getaddrinfo("b.example", 80)       # fills maxsize=2
    cache.getaddrinfo("c.example", 80)       # evicts a (LRU)
    cache.getaddrinfo("a.example", 80)       # must re-resolve
    assert calls.count("a.example") == 3

    # the default urllib transport installs exactly one process cache
    import socket

    from sparkcrawl.sources.fetch import _urllib_transport

    _urllib_transport(1.0, "ua")
    installed = socket._sparkcrawl_dns_cache
    _urllib_transport(1.0, "ua")
    assert socket._sparkcrawl_dns_cache is installed  # no stacking


def test_live_mode_superstep_dispatch(spark, tmp_path, monkeypatch):
    """Regression (ADVICE r1): web=None is the documented live-HTTP mode —
    run_superstep must dispatch to the fetcher/http_fetch instead of
    crashing on synthetic_fetch(web=None)."""
    from pyspark.sql import DataFrame

    from sparkcrawl.plans.superstep import CrawlRun
    from sparkcrawl.schemas import SEEDS_SCHEMA

    cfg = CrawlConfig(num_queues=2, active_queues=2, compact_every=0)

    def fake_transport(url, headers):
        body = '<html><body><p>hi</p><a href="/next">n</a></body></html>'
        return 200, {"Content-Type": "text/html; charset=utf-8"}, body

    def live_fetcher(batch: DataFrame) -> DataFrame:
        return http_fetch(batch, cfg, _transport=fake_transport)

    seeds = spark.createDataFrame([("http://live.example/", 1)], SEEDS_SCHEMA)
    run = CrawlRun(spark, str(tmp_path / "live"), cfg, web=None,
                   fetcher=live_fetcher)
    stats = run.run(seeds, max_supersteps=2)
    assert stats[0].fetched == 1
    assert stats[0].discovered == 1  # /next was discovered over "HTTP"
    urls = {r["url"] for r in run.frontier.read(spark).collect()}
    assert "http://live.example/next" in urls

    # with no fetcher either, the default live path is http_fetch
    import sparkcrawl.sources.fetch as fetch_mod

    calls = []

    def spying_http_fetch(batch, cfg_, **kw):
        calls.append(True)
        return http_fetch(batch, cfg_, _transport=fake_transport)

    monkeypatch.setattr(fetch_mod, "http_fetch", spying_http_fetch)
    run2 = CrawlRun(spark, str(tmp_path / "live2"), cfg, web=None)
    run2.run(seeds, max_supersteps=1)
    assert calls
