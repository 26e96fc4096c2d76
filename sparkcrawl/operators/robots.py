"""robots.txt gating — R1, R2, R3 (SURVEY §2.9).

The rules live in a small ``robots`` table
``(host, agent, allow, path_prefix, crawl_delay)`` (R1 parses raw
robots.txt bodies into it; in the sandbox the fixture provides it
directly). The allow/deny gate (R2) is a broadcast join + longest-
prefix-match argmax aggregation — pure relational, no UDF, no window:

  semantics (stdlib urllib.robotparser family, pinned by
  golden/robots.json): among matching rules for (host, agent in
  {'*', our UA}), the LONGEST path_prefix wins; allow wins ties;
  a host with no rules is allow-all.

R3: per-host ``crawl_delay`` feeds politeness slotting (W3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_robots_bodies(bodies: DataFrame, user_agent: str = "*") -> DataFrame:
    """R1: (host, body) -> rules rows, vectorized.

    Minimal robots.txt grammar: User-agent / Allow / Disallow /
    Crawl-delay lines; group = consecutive user-agent lines + rules.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from sparkcrawl.schemas import ROBOTS_SCHEMA

    def _parse(pdfs):
        for pdf in pdfs:
            out = []
            for host, body in zip(pdf["host"], pdf["body"]):
                if not body:
                    continue
                agents: list[str] = []
                in_rules = False
                delay = None
                for line in body.splitlines():
                    line = line.split("#", 1)[0].strip()
                    if not line or ":" not in line:
                        continue
                    key, _, val = line.partition(":")
                    key, val = key.strip().lower(), val.strip()
                    if key == "user-agent":
                        if in_rules:
                            agents, delay, in_rules = [], None, False
                        agents.append(val)
                    elif key in ("allow", "disallow") and agents:
                        in_rules = True
                        if val:
                            for a in agents:
                                out.append((host, a, key == "allow", val, delay))
                        elif key == "disallow":  # empty Disallow == allow all
                            for a in agents:
                                out.append((host, a, True, "/", delay))
                    elif key == "crawl-delay" and agents:
                        in_rules = True
                        try:
                            delay = float(val)
                        except ValueError:
                            delay = None
                        # delay-only row: NULL path_prefix so the R2 gate
                        # never treats it as an allow rule (a synthetic
                        # allow '/' would tie-break-beat a real
                        # 'Disallow: /' and open a fully-denied host).
                        if delay is not None:
                            for a in agents:
                                out.append((host, a, True, None, delay))
                yield_cols = ["host", "agent", "allow", "path_prefix", "crawl_delay"]
                if out:
                    yield pd.DataFrame(out, columns=yield_cols)
                    out = []

    return bodies.mapInPandas(_parse, schema=ROBOTS_SCHEMA)


def sitemaps_from_robots(bodies: DataFrame) -> DataFrame:
    """``Sitemap:`` directives from raw robots.txt bodies, as
    (host, sitemap_url) rows ready for seed injection (S1).

    The directive is host-wide and agent-independent (sitemaps.org
    protocol / RFC 9309), so it lives outside the per-agent rule
    grouping of parse_robots_bodies — and unlike that parser it needs
    no Python at all: split-to-lines + explode + a case-insensitive
    regexp_extract, pure codegen end to end.
    """
    lines = bodies.select(
        "host", F.explode(F.split(F.col("body"), r"\r?\n")).alias("line")
    )
    sm = F.regexp_extract(F.col("line"), r"(?i)^\s*sitemap\s*:\s*(\S+)", 1)
    return (
        lines.select("host", sm.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
        .distinct()
    )


def seeds_from_sitemaps(bodies: DataFrame, priority: int = 1) -> DataFrame:
    """Sitemap URLs as S1 seed rows (url, priority) — the composition
    a live crawl runs at bootstrap: fetch robots.txt per seed host,
    parse_robots_bodies() for the gate, THIS for extra entry points
    (the sitemap bodies themselves route through the extractor's
    urlset parser once fetched)."""
    return sitemaps_from_robots(bodies).select(
        F.col("sitemap_url").alias("url"),
        F.lit(priority).cast("int").alias("priority"),
    ).distinct()


def robots_gate(batch: DataFrame, robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """R2: add ``robots_allowed`` to the fetch batch.

    J2: broadcast join on host (robots tables are small — one row per
    rule, hosts ≪ URLs), then longest-match resolution.

    Match semantics are RFC 9309: a rule path is a prefix match, with
    two metacharacters — ``*`` matches any character run and a trailing
    ``$`` anchors the end of the path (``/*.pdf$``). Rules containing
    neither keep the exact ``startswith`` fast path (codegen, no regex
    engine), so plain-prefix robots files — the overwhelming majority —
    cost what they always did; pattern rules are rewritten to an
    anchored regex ON THE RULES SIDE (one row per rule, before the
    broadcast), never per URL. Precedence is unchanged: longest rule
    text wins, allow beats disallow on ties (the RFC's "most specific
    match" measured in octets of the rule path).
    """
    # Pattern rewrite: escape regex metachars EXCEPT '*', then
    # '*' -> '.*' and a trailing (escaped) '$' back to an end anchor.
    _esc = F.regexp_replace(
        F.col("_r_prefix"), r"([\\.\[\]{}()+?^$|])", r"\\$1"
    )
    _star = F.regexp_replace(_esc, r"\*", ".*")
    _anch = F.regexp_replace(_star, r"\\\$$", r"\$")
    rules = (
        robots.filter(F.col("agent").isin("*", user_agent))
        # delay-only rows (NULL prefix) carry R3 metadata, not gate rules
        .filter(F.col("path_prefix").isNotNull())
        .select(
            "host",
            F.col("allow").alias("_r_allow"),
            F.col("path_prefix").alias("_r_prefix"),
        )
        .withColumn(
            "_r_is_pat",
            F.col("_r_prefix").contains("*") | F.col("_r_prefix").endswith("$"),
        )
        .withColumn("_r_regex", F.concat(F.lit("^"), _anch))
    )
    with_path = batch.withColumn(
        "_path", F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    )
    joined = with_path.join(F.broadcast(rules), "host", "left")
    matched = joined.withColumn(
        "_match",
        F.col("_r_prefix").isNotNull()
        & F.when(
            F.col("_r_is_pat"), F.rlike(F.col("_path"), F.col("_r_regex"))
        ).otherwise(F.col("_path").startswith(F.col("_r_prefix"))),
    )
    # longest prefix wins; allow wins ties; no matching rule -> allowed.
    # Winner-per-URL is an argmax -> max_by hash aggregation, NOT a
    # row_number window: the agg gets map-side partial combine and no
    # per-url_hash sort (a window here opens one partition per URL in
    # the batch — bounded but pure overhead; same fix family as
    # batch_distinct / ivf_assign).
    order_key = F.struct(
        F.col("_match").cast("int").alias("m"),
        F.when(F.col("_match"), F.length("_r_prefix")).otherwise(F.lit(-1)).alias("l"),
        F.col("_r_allow").cast("int").alias("a"),
    )
    # A batch that carries ``queue`` (a function of the URL's host) groups
    # on (queue, url_hash): the same groups, and a per-queue scheduler's
    # hash partitioning already satisfies them, so the gate adds no exchange.
    allowed = F.when(F.col("_match"), F.col("_r_allow")).otherwise(F.lit(True))
    keys = ["queue", "url_hash"] if "queue" in batch.columns else ["url_hash"]
    payload_cols = [c for c in batch.columns if c not in keys]
    best = matched.groupBy(*keys).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload_cols], allowed.alias("robots_allowed")),
            order_key,
        ).alias("_w")
    )
    return best.select(
        *[F.col(c) if c in keys else F.col(f"_w.{c}").alias(c)
          for c in batch.columns],
        F.col("_w.robots_allowed").alias("robots_allowed"),
    )


def crawl_delays(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """R3: (host, crawl_delay) for politeness slotting — max per host."""
    return (
        robots.filter(
            F.col("agent").isin("*", user_agent) & F.col("crawl_delay").isNotNull()
        )
        .groupBy("host")
        .agg(F.max("crawl_delay").alias("crawl_delay"))
    )

def robots_policy_delta(
    batch: DataFrame,
    robots_old: DataFrame,
    robots_new: DataFrame,
    user_agent: str = "*",
) -> DataFrame:
    """Allow-decision diff between two robots.txt snapshots: which
    frontier URLs FLIP when a site publishes a new policy. Long
    crawls re-fetch robots on TTL (R1); a policy change can orphan
    queued URLs (now denied — drop before wasting fetch slots) or
    open sections the frontier wrote off (now allowed — re-seed).
    Ops also watch the flip volume itself: a host suddenly denying
    everything is usually a block, not a policy choice.

    Output: the batch plus ``allowed_old`` / ``allowed_new`` /
    ``change`` (now_denied | now_allowed | unchanged).

    Plan shape: the R2 gate runs once per generation — each is one
    broadcast join (rules are host-cardinality) + one max_by hash agg
    on ``url_hash`` — and the two results combine with an equi-join
    on that SAME key, so the combine reuses the aggregation's
    partitioning rather than introducing a new shuffle shape. No
    window, no cartesian, frontier rows never broadcast.
    """
    old = robots_gate(batch, robots_old, user_agent).select(
        "url_hash", F.col("robots_allowed").alias("allowed_old")
    )
    new = robots_gate(batch, robots_new, user_agent).withColumnRenamed(
        "robots_allowed", "allowed_new"
    )
    joined = new.join(old, "url_hash")
    change = (
        F.when(
            F.col("allowed_old") & ~F.col("allowed_new"),
            F.lit("now_denied"),
        )
        .when(
            ~F.col("allowed_old") & F.col("allowed_new"),
            F.lit("now_allowed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        *batch.columns, "allowed_old", "allowed_new", change.alias("change")
    )


def failure_markers(rfetched: DataFrame, parsed: DataFrame,
                    policy: str = "allow") -> DataFrame:
    """R1 failure semantics: one synthetic rule row per host whose
    robots.txt fetch produced NO usable rules, so the host becomes
    "known" to the gate instead of deferring forever.

    ``rfetched``: the robots-URL fetch results (host, status_code, ...);
    ``parsed``: the rule rows that did parse (its hosts are excluded).

    policy 'allow' (default, urllib.robotparser/parity semantics): any
    failure means allow-all. policy 'rfc9309' (RFC 9309 §2.3.1): a 4xx
    "unavailable" robots.txt means allow-all, but a 5xx or transport
    error (status NULL) means the file is UNREACHABLE and the crawler
    must assume complete disallow — the marker is a deny-all rule. The
    marker carries the same TTL generation as real rules, so the deny
    expires with ``robots_ttl_supersteps`` and the host re-fetches:
    the spec's "reasonable period", expressed in supersteps.

    Broadcast-sized by construction (one row per failed host per
    superstep); pure column expressions over the anti-join.
    """
    if policy not in ("allow", "rfc9309"):
        raise ValueError(f"unknown robots_failure_policy: {policy!r}")
    failed = (
        rfetched.groupBy("host")
        .agg(F.min("status_code").alias("status_code"))
        .join(parsed.select("host").distinct(), "host", "left_anti")
    )
    if policy == "allow":
        allow = F.lit(True)
    else:
        unreachable = (
            F.col("status_code").isNull() | (F.col("status_code") >= 500)
        )
        allow = ~unreachable
    return failed.select(
        "host",
        F.lit("*").alias("agent"),
        allow.alias("allow"),
        F.lit("/").alias("path_prefix"),
        F.lit(None).cast("double").alias("crawl_delay"),
    )


def agent_policy_diff(
    batch: DataFrame,
    robots: DataFrame,
    agent_a: str = "*",
    agent_b: str = "googlebot",
) -> DataFrame:
    """Selective-policy readout: how a host's robots rules treat
    ``agent_b`` differently from ``agent_a`` over a concrete URL set —
    the agent-axis sibling of :func:`robots_policy_delta` (which
    diffs two SNAPSHOTS for one agent). Hosts that whitelist one
    crawler while disallowing the world (or vice versa) need an
    explicit operator decision about which policy THIS crawl claims,
    and REP-compliance studies measure exactly this delta.

    Composes the real R2 gate twice (same broadcast longest-match
    semantics both times) and joins the two verdicts on the
    co-partitioned url_hash key. Per host: (n_urls, n_a_allowed,
    n_b_allowed, n_diff, selective = any URL decided differently).
    """
    a = robots_gate(batch, robots, agent_a).select(
        "url_hash", "host",
        F.col("robots_allowed").alias("_a"))
    b = robots_gate(batch, robots, agent_b).select(
        "url_hash", F.col("robots_allowed").alias("_b"))
    j = a.join(b, "url_hash")
    return j.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.col("_a").cast("long")).alias("n_a_allowed"),
        F.sum(F.col("_b").cast("long")).alias("n_b_allowed"),
        F.sum((F.col("_a") != F.col("_b")).cast("long")).alias("n_diff"),
        F.max(F.col("_a") != F.col("_b")).alias("selective"),
    )
