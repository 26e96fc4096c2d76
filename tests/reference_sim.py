"""Sequential reference crawler — the parity oracle for the Spark engine.

A deliberately record-at-a-time, single-threaded reimplementation of the
pinned crawl semantics (SURVEY §2, golden spec): the same shape as the
reference Spyder's master loop + frontier heap + sequential
``UniqueUriFilter.is_known(add_if_unknown=True)`` dedup — but driven by
the virtual clock. The Spark engine must reproduce this crawler's fetch
order and final URL-seen set EXACTLY (tests/test_parity.py), which is
the sandbox re-expression of "matching the reference's crawl ordering
and URL-seen set" (BASELINE.json north_rule) while /root/reference is
empty (SURVEY §0).

Shares only the leaf scalar functions with the engine (canonicalize_one,
parse_document, md5 bucketing) — the scheduling/dedup/requeue logic here
is written independently, sequentially, with dicts and sorts.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone
from urllib.parse import urlsplit

from sparkcrawl.config import CrawlConfig
from sparkcrawl.functions.urlnorm import canonicalize_one
from sparkcrawl.operators.extract import parse_document


def _sha1(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8")).hexdigest()


def _queue(domain: str, nq: int) -> int:
    return int(hashlib.md5(domain.encode("utf-8")).hexdigest()[:8], 16) % nq


def _naive(t: datetime) -> datetime:
    return t.astimezone(timezone.utc).replace(tzinfo=None) if t.tzinfo else t


def engine_stats(stats) -> list[tuple]:
    """The engine's SuperstepStats list as comparable tuples."""
    import dataclasses

    return [
        tuple(_naive(v) if isinstance(v, datetime) else v
              for v in dataclasses.astuple(st))
        for st in stats
    ]


def _host(url: str) -> str:
    h = urlsplit(url).hostname
    return h.lower() if h else ""


class SeqCrawler:
    def __init__(self, cfg: CrawlConfig, web_pdf, robots_pdf):
        self.cfg = cfg
        self.web = {r.url: r for r in web_pdf.itertuples()}
        self.rules: dict[str, list] = {}
        for r in robots_pdf.itertuples():
            if r.agent in ("*", cfg.user_agent):
                self.rules.setdefault(r.host, []).append(r)
        self.frontier: dict[str, dict] = {}  # url_hash -> row
        self.fetch_log: list[tuple[int, int, str]] = []  # (superstep, slot_rank, url)
        # same rows with the fetch status (for the outcome-column oracle)
        self.fetch_log_full: list[tuple[int, int, str, int | None]] = []
        # one record per superstep, shaped like the engine's SuperstepStats
        # (see superstep_stats) plus the next superstep's virtual time
        self.stats: list[dict] = []

    # -- robots (longest prefix, allow wins ties, default allow) -----------
    def allowed(self, url: str) -> bool:
        host = _host(url)
        rules = self.rules.get(host)
        if not rules:
            return True
        path = urlsplit(url).path or "/"
        # delay-only rows carry a null path_prefix — never gate matches
        matches = [
            r for r in rules
            if isinstance(r.path_prefix, str) and path.startswith(r.path_prefix)
        ]
        if not matches:
            return True
        best = max(matches, key=lambda r: (len(r.path_prefix), bool(r.allow)))
        return bool(best.allow)

    def crawl_delay(self, host: str) -> float:
        ds = [
            r.crawl_delay
            for r in self.rules.get(host, [])
            if r.crawl_delay is not None and r.crawl_delay == r.crawl_delay
        ]
        return max(ds) if ds else self.cfg.crawl_delay_default

    # -- frontier ops --------------------------------------------------------
    def add_url(self, url: str, superstep: int, next_date: datetime,
                priority: int = 1) -> bool:
        """True when the URL was new (added to the frontier)."""
        if url is None:  # unparseable seed/link (canonicalize_one -> None)
            return False
        h = _sha1(url)
        if h in self.frontier:  # is_known(add_if_unknown=True)
            return False
        host = _host(url)
        self.frontier[h] = dict(
            url=url, url_hash=h, host=host,
            queue=_queue(host, self.cfg.num_queues),
            etag=None, mod_date=None, next_date=next_date,
            priority=priority, error_count=0, state="pending",
        )
        return True

    def seed(self, seeds_pdf):
        for r in seeds_pdf.itertuples():
            self.add_url(canonicalize_one(r.url), 0, self.cfg.t0, int(r.priority))

    # -- one superstep ---------------------------------------------------------
    def superstep(self, s: int, t: datetime) -> dict:
        cfg = self.cfg
        elig = [r for r in self.frontier.values()
                if r["state"] == "pending" and r["next_date"] <= t]
        # Q1: top active_queues by (count desc, queue asc)
        counts: dict[int, int] = {}
        for r in elig:
            counts[r["queue"]] = counts.get(r["queue"], 0) + 1
        active = [q for q, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: cfg.active_queues]]
        # W1/W2/A2: per-queue top-k
        k = min(cfg.heap_size, cfg.per_queue_budget)
        batch: list[dict] = []
        for q in active:
            qrows = sorted(
                (r for r in elig if r["queue"] == q),
                key=lambda r: (r["next_date"], r["priority"], r["url_hash"]),
            )
            batch.extend(qrows[:k])
        # W3: politeness slots per host
        slots: dict[str, int] = {}
        ordered = []
        for r in sorted(batch, key=lambda r: (r["next_date"], r["priority"], r["url_hash"])):
            slot = slots.get(r["host"], 0)
            slots[r["host"]] = slot + 1
            ordered.append((slot, r))
        # total fetch order = (slot, host, url_hash)
        ordered.sort(key=lambda p: (p[0], p[1]["host"], p[1]["url_hash"]))
        discovered: list[str] = []
        fetched = 0
        for rank, (slot, row) in enumerate(ordered):
            if not self.allowed(row["url"]):
                row["state"] = "gone"
                continue
            self.fetch_log.append((s, rank, row["url"]))
            fetched += 1
            status = self._fetch_one(row, t, discovered)
            self.fetch_log_full.append((s, rank, row["url"], status))
        # dedup sequential, first-discovery-wins, then add
        new_urls = sum(
            self.add_url(url, s, t + timedelta(seconds=cfg.tick_seconds))
            for url in discovered
        )
        pending = [r["next_date"] for r in self.frontier.values()
                   if r["state"] == "pending"]
        floor = t + timedelta(seconds=cfg.tick_seconds)
        stats = {
            "superstep": s, "virtual_time": t, "batch_size": len(ordered),
            "fetched": fetched, "denied": len(ordered) - fetched,
            "discovered": len(set(discovered)), "new_urls": new_urls,
            "pending_after": len(pending), "seen_total": len(self.frontier),
            "next_time": max(floor, min(pending)) if pending else floor,
        }
        self.stats.append(stats)
        return stats

    def _fetch_one(self, row: dict, t: datetime, discovered: list[str]) -> int | None:
        cfg = self.cfg
        page = self.web.get(row["url"])
        status = None if page is None else int(page.status_code)
        if status == 200 and row["etag"] is not None and page.etag == row["etag"]:
            status = 304
        links: list[str] = []
        if status == 200 and page.body and page.content_type and page.content_type.startswith("text/html") and len(page.body) <= cfg.max_content_length:
            links, _ = parse_document(row["url"], page.body, page.content_type)
        if status is not None and 300 <= status < 400 and page.location:
            loc = canonicalize_one(page.location, row["url"])
            if loc:
                links.append(loc)
        for u in links:
            if u.startswith("http"):
                discovered.append(u)
        # C8/T4 requeue math
        if status == 200:
            row["priority"] = 1
            row["error_count"] = 0
            row["etag"] = page.etag
            row["next_date"] = t + timedelta(seconds=cfg.delta_seconds * row["priority"])
        elif status == 304:
            row["priority"] = min(cfg.num_priorities, row["priority"] + 1)
            row["error_count"] = 0
            row["next_date"] = t + timedelta(seconds=cfg.delta_seconds * row["priority"])
        elif status is not None and 300 <= status < 400:
            row["error_count"] = 0
            row["next_date"] = t + timedelta(seconds=cfg.delta_seconds * row["priority"])
        elif status is not None and 400 <= status < 500:
            row["state"] = "gone"
        else:  # 5xx or connection error
            row["error_count"] += 1
            if row["error_count"] >= cfg.max_retries:
                row["state"] = "gone"
            else:
                row["next_date"] = t + timedelta(
                    seconds=cfg.error_backoff_seconds * row["error_count"]
                )
        return status

    # -- full run ----------------------------------------------------------------
    def run(self, seeds_pdf, max_supersteps: int,
            add_seeds: dict[int, list[tuple[str, int]]] | None = None) -> None:
        """``add_seeds`` maps a superstep to the (url, priority) seeds
        injected just before it runs — the engine's control.json."""
        self.seed(seeds_pdf)
        t = self.cfg.t0
        for s in range(1, max_supersteps + 1):
            for url, priority in (add_seeds or {}).get(s, []):
                self.add_url(canonicalize_one(url), s, self.cfg.t0, priority)
            stats = self.superstep(s, t)
            t = stats["next_time"]
            if stats["batch_size"] == 0 and not stats["pending_after"]:
                break

    @property
    def superstep_stats(self) -> list[tuple]:
        """The records as ``dataclasses.astuple(SuperstepStats)`` tuples
        with naive UTC times — compare with :func:`engine_stats`."""
        fields = ("superstep", "virtual_time", "batch_size", "fetched",
                  "denied", "discovered", "new_urls", "pending_after",
                  "seen_total")
        return [
            tuple(_naive(st[f]) if f == "virtual_time" else st[f] for f in fields)
            for st in self.stats
        ]

    @property
    def seen_hashes(self) -> list[str]:
        return sorted(self.frontier.keys())
