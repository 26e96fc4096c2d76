"""Crawl configuration.

Replaces the reference's ``defaultsettings.py`` + ``core/settings.py``
(Settings object merging defaults with a user module — SURVEY §1.1).
We use a frozen dataclass; plugin points (X1-X3) take import paths.

Reference defaults mirrored (SURVEY C8/A2, FIXTURES.md A5):
  prioritizer: num_priorities=10, delta_seconds=500
  frontier:    per-queue budget 50, crawl-delay factor
NOTE: /root/reference was empty at survey AND build time, so these
constants are pinned as spec by the golden files (SURVEY §0, §5.2).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone


T0 = datetime(2026, 1, 1, 0, 0, 0, tzinfo=timezone.utc)


@dataclass(frozen=True)
class CrawlConfig:
    # --- scheduling (SURVEY §2.5/§2.6) ---
    num_queues: int = 8                 # Q2 hash(registered_domain) % NQ
    active_queues: int = 4              # Q1 deterministic top-weight selection
    per_queue_budget: int = 50          # A2 FRONTIER_QUEUE_BUDGET analog
    heap_size: int = 500                # W2 per-queue top-k cap (HEAP_SIZE analog)
    crawl_delay_default: float = 1.0    # W3 seconds between fetches on one host
    # IP-level politeness (operators/schedule.py::ip_politeness_slots,
    # IRLbot/Heritrix behavior): slot the fetch batch by resolved IP so
    # co-hosted virtual hosts share one delay sequence. Off by default —
    # the parity goldens pin host-keyed slotting (the reference slots by
    # host). host_ip_file: optional (host, ip) parquet (e.g. exported
    # from the DNS cache); unmapped hosts fall back to a deterministic
    # synthetic IP in [0, n_synthetic_ips).
    politeness_by_ip: bool = False
    host_ip_file: str | None = None
    n_synthetic_ips: int = 1024
    # --- prioritizer (C8, SimpleTimestampPrioritizer analog) ---
    num_priorities: int = 10            # PRIORITIZER_NUM_PRIORITIES analog
    delta_seconds: int = 500            # PRIORITIZER_CRAWL_DELTA analog
    # A2: carry unused per-queue budget into the next superstep via the
    # queue_state table (starved queues catch up). Off by default: the
    # parity goldens pin the reset-every-superstep reference behavior.
    budget_carry: bool = False
    # --- errors / retry (T4) ---
    max_retries: int = 3
    error_backoff_seconds: int = 3600
    # --- dedup (F1, UniqueUriFilter analog) ---
    shard_prefix_depth: int = 2         # hex-prefix shards of the seen-set
    bloom_capacity_per_shard: int = 1 << 16
    bloom_fpp: float = 0.01
    # Off by default: dedup is then the authoritative left_anti join of
    # the batch-distinct candidates against the frontier keys alone. The
    # prefilter cannot skip that join (the seen side is read in full
    # either way); it only adds a pandas-UDF probe lane, a broadcast of
    # every shard and a driver-side collect + npz rewrite per superstep.
    # Measured on one 4-vCPU VM over 3 crawl_wide pairs (40 hosts x 20
    # pages, 64 queues) and 2 crawl_small pairs: the prefilter made the
    # superstep slower in 4 of the 5 (crawl_wide median superstep 8.8 s
    # off vs 11.7 s on), with identical crawl output. Opting in is
    # unchanged (bloom or cuckoo via membership_kind).
    use_bloom_prefilter: bool = False
    # membership structure behind the prefilter seam: "bloom" (default;
    # OR-mergeable, replay-trivially-idempotent) or "cuckoo" (same probe
    # surface + DELETION, so retired keys' slots recycle at 10^10 keys).
    membership_kind: str = "bloom"
    # cuckoo only: retire state=gone URLs (robots-denied, 404, retries
    # exhausted) from the prefilter at merge time so their slots
    # recycle. Documented trade-off (plans/superstep.py): a
    # RE-discovered gone URL is re-admitted once and re-resolved to
    # gone — idempotent, no duplicate document rows, but it occupies
    # batch slots, so the flag is off by default to pin the crawl-order
    # goldens exactly.
    retire_gone_urls: bool = False
    # content-seen dedup (S6 + exact-dedup composed into the engine):
    # mirrors/aliases fetch identical bodies under different URLs; when
    # on, only the FIRST document per content hash is stored. Off by
    # default to pin the documents-table goldens exactly.
    dedup_documents: bool = False
    # record the host->host link graph (one aggregated row per
    # (src_host, dst_host) per superstep, superstep-tagged like
    # fetch_log) so the offline PageRank priority refresh
    # (plans/rank.py) has its input. Off by default: parity goldens
    # pin the workdir layout, and the reference has no such table.
    record_link_graph: bool = False
    # --- virtual clock (T1) ---
    t0: datetime = T0
    tick_seconds: float = 1.0
    # --- skew (north_rule: salted keys defuse hot-host skew) ---
    # Unused by the engine: per_queue_topk's partial WindowGroupLimit
    # already bounds a hot queue to k rows per map task below the queue
    # exchange, with no salt and no second shuffle. Kept so configs that
    # set it (bench.py) still construct.
    skew_salt_buckets: int = 4
    # --- registered domain (C9) ---
    # False = host-based parity mode (pins the goldens; the reference
    # groups by host). True = eTLD+1 via the bundled public-suffix
    # snapshot (functions/domains.py) so subdomains of one registrable
    # domain share a politeness queue, as north_star requires.
    use_public_suffix: bool = False
    # optional path to a real public_suffix_list.dat (publicsuffix.org
    # syntax); None = bundled snapshot. Loaded once at plan time via
    # functions.domains.load_public_suffix_list.
    public_suffix_file: str | None = None
    # optional mined DUST-rules parquet (operators/dust.py
    # mine_dust_rules output, e.g. run_crawl --mine-dust from a prior
    # generation): discovered links are rewritten by the top rules
    # BEFORE dedup/fetch — aliases collapse without spending fetch
    # budget. Rules compile to one codegen CASE chain (zero joins);
    # the collect is bounded by dust_max_rules, never data-sized.
    dust_rules_file: str | None = None
    dust_min_support: int = 3
    dust_max_rules: int = 200
    # --- extraction (C3/F5) ---
    max_content_length: int = 2_000_000     # limiter size gate
    allowed_content_types: str = r"^text/html"
    # sitemap.xml bodies (content-sniffed) become pure link sources;
    # fixture webs are HTML-only so parity goldens are unaffected
    parse_sitemaps: bool = True
    parse_feeds: bool = True
    # live robots.txt discovery (R1 engine-complete): URLs on hosts with
    # no known rules are deferred one superstep while /robots.txt is
    # fetched+parsed into the per-host-versioned RobotsTable; off =
    # rules come from the static robots argument (parity/fixture mode)
    fetch_robots: bool = False
    # rule generations older than this many supersteps count as unknown
    # again (host re-defers + re-fetches robots.txt); 0 = never expire
    robots_ttl_supersteps: int = 0
    # what a FAILED robots.txt fetch means for the host:
    #   'allow'   — any failure = allow-all (urllib.robotparser
    #               semantics; parity default, matches the goldens)
    #   'rfc9309' — RFC 9309 §2.3.1: 4xx "unavailable" = allow-all;
    #               5xx / transport error "unreachable" = DENY-all
    #               until the marker's TTL generation expires and the
    #               host re-fetches (the spec's "reasonable period")
    robots_failure_policy: str = "allow"
    # --- crawler-trap suppression (operators/traps.py; off = parity) ---
    filter_traps: bool = False
    trap_max_depth: int = 12
    trap_max_adjacent_repeats: int = 2
    trap_max_params: int = 8
    trap_max_template_fanout: int = 1000
    user_agent: str = "sparkcrawl/0.1"
    # --- scope (F2) ---
    scope_positive: tuple[str, ...] = (r"^http",)
    scope_negative: tuple[str, ...] = ()
    # --- compaction of the append-only frontier store ---
    compact_every: int = 4
    # --- storage maintenance: reclaim superseded delta dirs every N
    # supersteps (0 = off); checkpoint-pinned snapshots always survive ---
    vacuum_every: int = 0
    # --- archive-while-crawling: WARC shards per superstep (None = off) ---
    warc_archive_dir: str | None = None
    # --- plugin points (X1-X3: import-path config like the reference's
    #     custom_import; stage = Callable[[DataFrame], DataFrame]) ---
    extractor_pipeline: tuple[str, ...] = ()
    checkpoint_every: int = 1


DEFAULT_CONFIG = CrawlConfig()
