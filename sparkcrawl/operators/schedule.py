"""Frontier scheduling — F6, Q1, W1, W2, W3, A2 (SURVEY §2.5/§2.6).

Replaces the reference's in-memory heap + SQLite ``queue_head`` +
``BiasedQueueSelector`` + budget bookkeeping
(src/spyder/core/{frontier,sqlitequeues,queueselector}.py) with window
functions over the frontier table.

Determinism: every ordering carries a trailing ``url_hash`` tie-break
(the reference relies on SQLite insertion order for ties — SURVEY W1);
the total order is pinned by golden/crawl_order.json.

Scale notes (10^10-row frontier):
  - eligibility predicate (state/next_date) is a plain column filter →
    Catalyst pushes it into the Parquet/Iceberg scan (partition + min/max
    pruning on next_date).
  - per-queue top-k is ONE window on ``queue`` whose rank filter Spark
    turns into a WindowGroupLimit: its partial half runs map-side, below
    the ``queue`` exchange, so a hot queue ships at most k rows per map
    task and the final window sees at most tasks * k rows per queue.
    That is the hot-host skew defusal north_rule asks of salted keys,
    without a second shuffle.
  - ELIGIBLE -> SELECT -> POLITE -> GATE shuffles once, on ``queue``:
    ``queue`` is a function of the registered domain, hence of ``host``
    and of ``url_hash``, so the politeness window keyed on (queue, host)
    and the robots gate keyed on (queue, url_hash) reuse the top-k's
    hash partitioning and add no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig
from sparkcrawl.functions.hashing import md5_bucket


def eligible(frontier: DataFrame, virtual_time) -> DataFrame:
    """F6: pending rows whose next_date has arrived (pushed-down scan filter)."""
    return frontier.filter(
        (F.col("state") == "pending") & (F.col("next_date") <= F.lit(virtual_time))
    )


def active_queues(eligible_df: DataFrame, cfg: CrawlConfig) -> list[int]:
    """Q1: deterministic re-expression of BiasedQueueSelector.

    The reference picks queues weighted-randomly, biased toward
    fuller/front queues (src/spyder/core/queueselector.py). For
    reproducibility we take the top ``active_queues`` queues by
    (pending count desc, queue asc) — the bias, without the RNG
    (SURVEY Q1; pinned as spec by goldens). Returns a driver-side list:
    queue cardinality is bounded by config, never by data.
    """
    counts = eligible_df.groupBy("queue").agg(F.count("*").alias("pending"))
    rows = counts.orderBy(F.desc("pending"), F.asc("queue")).take(cfg.active_queues)
    return [r["queue"] for r in rows]


def per_queue_topk(eligible_df: DataFrame, cfg: CrawlConfig, k: int,
                   carry: DataFrame | None = None) -> DataFrame:
    """W1+W2: top-k rows per queue ordered by (next_date, priority, url_hash).

    One rank window on ``queue``. Catalyst infers a WindowGroupLimit from
    the rank filter and splits it around the exchange: the partial limit
    keeps at most k rows per queue in each map task, so no task ever
    ships a whole hot queue. Spark infers it only for a limit of at most
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default);
    above that every eligible row is shuffled and sorted (``CrawlRun``
    warns about such configs).

    ``carry`` is an optional small (queue, carry) DataFrame (A2
    cross-superstep budget remainder, broadcast): each queue's effective
    k becomes min(heap_size, k + carry) — the W2 heap cap still bounds
    the batch, so the superstep stays config-sized. ``k_eff`` is then a
    column, not a literal, so the filter also carries the literal
    ``heap_size`` bound for the limit to be inferred from.
    """
    order = [F.asc("next_date"), F.asc("priority"), F.asc("url_hash")]
    if carry is not None:
        eligible_df = eligible_df.join(
            F.broadcast(carry.select("queue", "carry")), "queue", "left"
        )
        k_eff = F.least(
            F.lit(cfg.heap_size), F.lit(k) + F.coalesce(F.col("carry"), F.lit(0))
        )
    else:
        k_eff = F.lit(k)
    w_queue = W.partitionBy("queue").orderBy(*order)
    out = (
        eligible_df.withColumn("_rn", F.row_number().over(w_queue))
        .filter((F.col("_rn") <= F.lit(cfg.heap_size)) & (F.col("_rn") <= k_eff))
        .drop("_rn")
    )
    return out.drop("carry") if carry is not None else out


def politeness_slots(batch: DataFrame, cfg: CrawlConfig,
                     crawl_delays: DataFrame | None = None) -> DataFrame:
    """W3: per-host politeness-ordered fetch slots.

    Re-expresses SingleHostFrontier's inter-request delay
    (src/spyder/core/frontier.py::_next_possible_crawl, SURVEY W3):
    within a superstep each host's URLs get sequential slots; the
    ``scheduled_offset`` column (slot * crawl_delay(host)) orders the
    per-host fetch batch. ``crawl_delays`` is an optional small
    (host, crawl_delay) DataFrame from robots.txt (R3) — broadcast.

    A batch that carries ``queue`` (a function of ``host``) is windowed
    on (queue, host): the same per-host groups, and a per-queue top-k's
    hash partitioning already satisfies it, so slotting adds no exchange.
    """
    if crawl_delays is not None:
        batch = batch.join(
            F.broadcast(crawl_delays.select("host", "crawl_delay")), "host", "left"
        )
    else:
        batch = batch.withColumn("crawl_delay", F.lit(None).cast("double"))
    keys = ["queue", "host"] if "queue" in batch.columns else ["host"]
    w_host = W.partitionBy(*keys).orderBy(
        F.asc("next_date"), F.asc("priority"), F.asc("url_hash")
    )
    return (
        batch.withColumn("slot", F.row_number().over(w_host) - F.lit(1))
        .withColumn(
            "effective_delay",
            F.coalesce(F.col("crawl_delay"), F.lit(cfg.crawl_delay_default)),
        )
        .withColumn("scheduled_offset", F.col("slot") * F.col("effective_delay"))
        .drop("crawl_delay")
    )


def ip_politeness_slots(batch: DataFrame, cfg: CrawlConfig,
                        host_ip: DataFrame | None = None,
                        n_synthetic_ips: int = 1024,
                        crawl_delays: DataFrame | None = None) -> DataFrame:
    """IP-level politeness: co-hosted domains share ONE slot sequence.

    Hostname-keyed politeness (W3) lets a crawler inadvertently hammer
    a shared server hosting thousands of virtual hosts — the reason
    IRLbot (Lee et al., WWW 2009) and Heritrix rate-limit by resolved
    IP as well as by host. This operator re-slots a fetch batch by IP:

      - ``host_ip``: optional small (host, ip) table from the DNS
        cache, broadcast; unmapped hosts (and the no-table case) fall
        back to a deterministic synthetic IP — md5_bucket(host,
        n_synthetic_ips) — which models shared hosting reproducibly in
        tests and gives the oracle a closed form. A DNS-cache export
        naturally carries multiple A records per host; the table is
        reduced to ONE row per host (min(ip), deterministic) before
        the join — duplicate (host, ip) rows would otherwise multiply
        fetch-batch rows and break the slot order.
      - ``crawl_delays``: optional small (host, crawl_delay) table
        from robots.txt (R3), broadcast. The per-IP
        ``effective_delay`` is the MAX of coalesce(crawl_delay,
        default) over the batch's hosts sharing that IP — IP keying
        must tighten politeness, never loosen it: one vhost declaring
        Crawl-delay 99 slows the whole shared server's sequence.
      - one partitioned window keyed on ip (same rank-limit-friendly
        shape as W3); ``scheduled_offset`` = ip_slot *
        effective_delay.

    The per-IP sequence deliberately interleaves hosts in global
    (next_date, priority, url_hash) order — fairness across co-hosted
    domains instead of draining one vhost first.
    """
    from sparkcrawl.functions.hashing import md5_bucket

    synthetic = md5_bucket(F.col("host"), n_synthetic_ips).cast("long")
    if host_ip is not None:
        one_ip = host_ip.groupBy("host").agg(F.min("ip").alias("_ip"))
        batch = batch.join(F.broadcast(one_ip), "host", "left")
        batch = batch.withColumn(
            "ip", F.coalesce(F.col("_ip").cast("string"),
                             F.concat(F.lit("synth-"),
                                      synthetic.cast("string")))).drop("_ip")
    else:
        batch = batch.withColumn(
            "ip", F.concat(F.lit("synth-"), synthetic.cast("string")))
    if crawl_delays is not None:
        batch = batch.join(
            F.broadcast(crawl_delays.select("host", "crawl_delay")),
            "host", "left")
    else:
        batch = batch.withColumn("crawl_delay", F.lit(None).cast("double"))
    host_delay = F.coalesce(F.col("crawl_delay"),
                            F.lit(cfg.crawl_delay_default))
    w_ip = W.partitionBy("ip").orderBy(
        F.asc("next_date"), F.asc("priority"), F.asc("url_hash"))
    return (
        batch.withColumn("ip_slot", F.row_number().over(w_ip) - F.lit(1))
        .withColumn("effective_delay",
                    F.max(host_delay).over(W.partitionBy("ip")))
        .withColumn("scheduled_offset",
                    F.col("ip_slot") * F.col("effective_delay"))
        .drop("crawl_delay")
    )


def politeness_drain_estimate(
    frontier: DataFrame,
    cfg: CrawlConfig,
    crawl_delays: DataFrame | None = None,
    window_seconds: float | None = None,
) -> DataFrame:
    """(host, pending, crawl_delay, drain_seconds, politeness_bound):
    how long each host's pending backlog takes to drain at its
    politeness rate — the planning readout behind budget allocation.

    A host with 10,000 pending URLs and a 10 s robots Crawl-delay needs
    ~28 h of wall clock no matter how many executors exist; politeness,
    not compute, is its bottleneck (the "long tail of slow hosts" every
    crawl paper rediscovers — e.g. IRLbot's budget discussion). Hosts
    flagged ``politeness_bound`` (drain > window, default one
    superstep's worth: tick_seconds * per_queue_budget) are the ones
    where extra per-superstep budget is wasted and rank-weighted
    budgets (graph_rank_budget) should divert elsewhere.

    One map-side-combined count agg on host + a broadcast delay join.
    drain = max(pending - 1, 0) * delay (the first fetch is free).
    """
    if window_seconds is None:
        window_seconds = cfg.tick_seconds * cfg.per_queue_budget
    pend = (
        frontier.filter(F.col("state") == "pending")
        .groupBy("host")
        .agg(F.count("*").alias("pending"))
    )
    if crawl_delays is not None:
        pend = pend.join(
            F.broadcast(crawl_delays.select("host", "crawl_delay")),
            "host", "left")
    else:
        pend = pend.withColumn("crawl_delay",
                               F.lit(None).cast("double"))
    delay = F.coalesce(F.col("crawl_delay"), F.lit(cfg.crawl_delay_default))
    drain = F.round(F.greatest(F.col("pending") - 1, F.lit(0)) * delay, 6)
    return pend.select(
        "host", "pending",
        F.round(delay, 6).alias("crawl_delay"),
        drain.alias("drain_seconds"),
        (drain > F.lit(float(window_seconds))).alias("politeness_bound"),
    )


def ip_cohost_stats(slotted: DataFrame) -> DataFrame:
    """(ip, n_hosts, n_urls) readout over an ``ip_politeness_slots``
    batch — the shared-hosting skew report that motivates IP keying.
    One hash agg with map-side combine; no window."""
    return slotted.groupBy("ip").agg(
        F.countDistinct("host").alias("n_hosts"),
        F.count("*").alias("n_urls"),
    )


def select_fetch_batch(
    frontier: DataFrame,
    virtual_time,
    cfg: CrawlConfig,
    crawl_delays: DataFrame | None = None,
    carry: DataFrame | None = None,
    host_ip: DataFrame | None = None,
) -> DataFrame:
    """§3.4 steps 1-3: ELIGIBLE -> SELECT -> POLITE.

    Returns the politeness-slotted fetch batch for this superstep:
    per-queue budget applied (A2, plus optional carried remainder),
    deterministic total order (slot, queue, host, url_hash).

    ``cfg.politeness_by_ip`` swaps the W3 host-keyed slotting for
    :func:`ip_politeness_slots` (ip_slot becomes ``slot``) — same
    downstream contract (the fetch-log total order and the per-slot
    rank offsets only need integer slots), co-hosted domains now
    share one delay sequence. Off by default: parity goldens pin
    host-keyed order.
    """

    def _slotted(batch: DataFrame) -> DataFrame:
        if cfg.politeness_by_ip:
            out = ip_politeness_slots(batch, cfg, host_ip,
                                      cfg.n_synthetic_ips, crawl_delays)
            return out.withColumnRenamed("ip_slot", "slot")
        return politeness_slots(batch, cfg, crawl_delays)

    elig = eligible(frontier, virtual_time)
    k = min(cfg.heap_size, cfg.per_queue_budget)
    if cfg.active_queues >= cfg.num_queues:
        # queue ids lie in [0, num_queues): the top active_queues of at
        # most num_queues queues are all of them, so skip the take
        return _slotted(per_queue_topk(elig, cfg, k, carry))
    act = active_queues(elig, cfg)
    if not act:
        return _slotted(elig.limit(0))
    picked = per_queue_topk(elig.filter(F.col("queue").isin(act)), cfg, k, carry)
    return _slotted(picked)


def ranked_in_total_order(spark, batch: DataFrame) -> DataFrame:
    """S6/A3: dense 0-based ``rank`` over the batch's deterministic total
    order (slot, host, url_hash) — WITHOUT a single-partition window.

    Rank within each slot (partitioned window, runs in parallel) plus a
    per-slot base offset. Offsets come from the per-slot COUNTS — an
    aggregate whose cardinality is bounded by the politeness depth (max
    URLs any one host contributes to a batch, a config bound, never
    data-sized) — collected, cumulated driver-side, and broadcast back.
    At 100× batch size every slot group still ranks in parallel; the
    driver only ever sees |distinct slots| count rows.
    """
    slot_counts = sorted(
        (r["slot"], r["n"])
        for r in batch.groupBy("slot").agg(F.count("*").alias("n")).collect()
    )
    bases, acc = [], 0
    for s, n in slot_counts:
        bases.append((s, acc))
        acc += n
    base_df = spark.createDataFrame(bases or [(0, 0)], "slot int, rank_base long")
    w_slot = W.partitionBy("slot").orderBy(F.asc("host"), F.asc("url_hash"))
    return (
        batch.join(F.broadcast(base_df), "slot")
        .withColumn("rank", F.col("rank_base") + F.row_number().over(w_slot) - F.lit(1))
        .drop("rank_base")
    )


def update_queue_state(
    eligible_counts: DataFrame,
    taken_counts: DataFrame,
    carry_in: DataFrame | None,
    cfg: CrawlConfig,
) -> DataFrame:
    """A2: next superstep's per-queue budget remainder.

    Token-bucket semantics (SURVEY A2 "remainder kept in queue_state"):
    a queue with eligible work this superstep accrues
    ``min(heap_size - budget, budget + carry_in - taken)`` — so a queue
    starved by Q1 selection (taken=0) banks its budget and catches up
    with a larger k when finally selected; a queue with no eligible work
    resets to 0 (nothing owed). The cap keeps effective k ≤ heap_size
    (W2). All three inputs are queue-cardinality tables — config-sized,
    broadcastable, never data-sized.

    EXPLICIT carry=0 rows are emitted (never filtered out here): the
    queue_state table reads keep-latest per queue across deltas, so a
    spent or drained queue must WRITE its reset — dropping the row would
    leave the stale positive carry visible to every later superstep
    (the queue would permanently over-fetch). The outer join with
    ``carry_in`` covers queues that banked a carry but have no eligible
    work this superstep: they reset to 0. The read side filters
    carry>0 (QueueStateTable.read), so the scheduler never joins
    zero rows.
    """
    carry = (
        carry_in.select("queue", F.col("carry").alias("_cin"))
        if carry_in is not None
        else None
    )
    df = eligible_counts.select("queue", F.col("pending").alias("_elig"))
    df = df.join(taken_counts.select("queue", F.col("taken").alias("_tk")), "queue", "left")
    if carry is not None:
        df = df.join(carry, "queue", "full_outer")
    else:
        df = df.withColumn("_cin", F.lit(0))
    budget = min(cfg.heap_size, cfg.per_queue_budget)
    carry_cap = max(0, cfg.heap_size - budget)
    new_carry = F.least(
        F.lit(carry_cap),
        F.lit(budget) + F.coalesce(F.col("_cin"), F.lit(0))
        - F.coalesce(F.col("_tk"), F.lit(0)),
    )
    return df.select(
        "queue",
        # no eligible work this superstep (outer-join row from carry_in,
        # or a drained queue) -> documented reset to 0
        F.when(F.col("_elig").isNull() | (F.col("_elig") <= 0), F.lit(0))
        .otherwise(F.greatest(F.lit(0), new_carry))
        .cast("int")
        .alias("carry"),
    )


def queue_pending_counts(frontier: DataFrame) -> DataFrame:
    """A1: per-queue pending counts (SQLite qsize analog)."""
    return (
        frontier.filter(F.col("state") == "pending")
        .groupBy("queue")
        .agg(F.count("*").alias("pending"))
    )


def allocate_budgets(
    weights: DataFrame,
    total_budget: int,
    key_col: str = "queue",
    weight_col: str = "weight",
) -> DataFrame:
    """Apportion an integer fetch budget across queues by weight —
    largest-remainder (Hamilton) apportionment, the deterministic
    integer-exact rule: every queue gets floor of its proportional
    quota, and the leftover units go to the largest fractional
    remainders (ties -> lowest key). The allocations always sum to
    EXACTLY ``total_budget`` — the property a naive round() breaks.

    Weights are the planner's signal: per-queue yield (new URLs per
    fetch), mixing weights, or pending counts — anything non-negative;
    zero/negative weights allocate 0.

    Output: (key, weight, alloc). Shape at scale: the quota arithmetic
    is per-row codegen; the remainder ranking is ONE window over the
    QUEUE table (config-bounded cardinality, same contract as the A1/A2
    queue-stats windows — never frontier rows).
    """
    w = F.when(F.col(weight_col) > 0, F.col(weight_col)).otherwise(F.lit(0.0))
    base = weights.select(
        F.col(key_col).alias("key"), w.cast("double").alias("weight")
    )
    total_w = base.agg(F.sum("weight").alias("_tw"))
    quota = (
        base.crossJoin(F.broadcast(total_w))
        .withColumn(
            "_quota",
            F.when(F.col("_tw") > 0,
                   F.col("weight") * F.lit(total_budget) / F.col("_tw"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn("_base", F.floor(F.col("_quota")).cast("bigint"))
        .withColumn("_rem", F.col("_quota") - F.col("_base"))
    )
    # leftover units = budget - sum of floors; hand them to the largest
    # remainders (rank over the bounded queue table)
    leftover = quota.agg(
        (F.lit(total_budget) - F.sum("_base")).alias("_left")
    )
    rank = F.row_number().over(W.orderBy(F.desc("_rem"), F.asc("key")))
    out = (
        quota.crossJoin(F.broadcast(leftover))
        .withColumn("_rk", rank)
        .withColumn(
            "alloc",
            (
                F.col("_base")
                # bonus units only where there IS a signal: with an
                # all-zero weight table every remainder is 0 and the
                # leftover equals the whole budget — handing it out by
                # key order would allocate budget to queues the planner
                # scored at zero
                + F.when(
                    (F.col("_rk") <= F.col("_left")) & (F.col("_rem") > 0),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("bigint"),
        )
    )
    return out.select(
        F.col("key").alias(key_col), F.col("weight"), F.col("alloc")
    )


def queue_starvation_report(frontier: DataFrame, virtual_time,
                            overdue_seconds: float = 0.0) -> DataFrame:
    """(queue, pending, overdue, overdue_frac, oldest_next_us,
    max_wait_seconds): per-queue backlog aging at ``virtual_time``.

    Budget carry (A2) exists because biased queue selection can starve
    a queue; this is the readout that shows it happening — a queue
    whose max_wait keeps growing while others drain is under-budgeted
    (the frontier-aging metric crawl operators chart; Mercator's
    queue-depth dashboards are the classic form). ``overdue`` counts
    pending URLs whose next_date is more than ``overdue_seconds``
    behind the clock. ONE map-side-combined hash agg on the queue id —
    no window, no join; safe at any frontier size.
    """
    vt = F.lit(virtual_time)
    pending = frontier.filter(F.col("state") == "pending")
    late = F.col("next_date") <= vt - F.expr(
        f"INTERVAL {float(overdue_seconds)} SECONDS")
    wait = F.unix_micros(vt.cast("timestamp")) - F.unix_micros(
        F.col("next_date").cast("timestamp"))
    return pending.groupBy("queue").agg(
        F.count("*").alias("pending"),
        F.count_if(late).alias("overdue"),
        F.round(F.count_if(late) / F.count("*"), 6).alias("overdue_frac"),
        F.min(F.unix_micros(F.col("next_date").cast("timestamp")))
        .alias("oldest_next_us"),
        F.round(F.greatest(F.max(wait), F.lit(0)) / 1e6, 6)
        .alias("max_wait_seconds"),
    )


def politeness_audit(fetch_log: DataFrame,
                     url_col: str = "url") -> DataFrame:
    """Self-audit of the W3 politeness contract over the fetch log:
    per (superstep, host), the slot sequence the engine actually
    COMMITTED must be exactly 0..n-1 — one fetch per politeness
    interval, no slot fetched twice (a double-hit inside one delay
    window), no gap (a skipped interval that desynchronizes the
    scheduled offsets downstream replay relies on).

    Output: (superstep, host, n_fetches, n_slots, min_slot, max_slot,
    slots_ok) — ``slots_ok`` iff distinct==count AND min==0 AND
    max==n-1. The engine's own runs must be all-true (asserted in
    pytest over a real CrawlRun); the operator exists so an operator
    can run the same audit over any historical fetch log (the kind of
    invariant check a 1000-executor crawl runs nightly, cheap: ONE
    map-side-combined hash agg on (superstep, host), no window, no
    join).
    """
    from sparkcrawl.functions.urlnorm import host_of_canonical_col

    rows = fetch_log.select(
        "superstep", "slot",
        host_of_canonical_col(F.col(url_col)).alias("host"),
    )
    n = F.count("*")
    d = F.countDistinct("slot")
    return rows.groupBy("superstep", "host").agg(
        n.alias("n_fetches"),
        d.alias("n_slots"),
        F.min("slot").alias("min_slot"),
        F.max("slot").alias("max_slot"),
        ((d == n) & (F.min("slot") == 0) & (F.max("slot") == n - 1))
        .alias("slots_ok"),
    )


def queue_rebalance_report(urls: DataFrame, old_num_queues: int,
                           new_num_queues: int,
                           key_col: str = "url_hash") -> DataFrame:
    """Q2 resize planning: what does growing (or shrinking) the queue
    pool from ``old_num_queues`` to ``new_num_queues`` cost, under the
    engine's md5-mod assignment vs rendezvous/HRW hashing?

    The reference pins a host to a queue for the life of the crawl
    (SURVEY Q2 — HostBasedQueueAssignment); resizing its worker pool
    means re-keying the whole frontier. This operator quantifies that
    migration BEFORE committing to it: per (strategy, old_queue,
    new_queue) URL counts, ``moved = old_queue <> new_queue``.

    mod-N keeps a key only when its residues agree mod lcm(Q, Q') —
    Q of lcm(Q, Q') residues, so an 8 -> 12 resize moves 2/3 of keys,
    scattering queue i's survivors across many targets; HRW moves an
    expected (1 - Q/Q') = 1/3 on the same grow, every moved key landing
    on a NEW queue — per-queue frontier state (politeness clocks,
    budget carry) stays put for survivors. At 10^10 URLs that is
    rewriting ~6.7B vs ~3.3B rows, and only HRW leaves old queues'
    internal order untouched.

    Plan shape: both assignments are pure codegen column expressions
    (hashing.md5_bucket / hashing.rendezvous_queue) folded in ONE
    projection; the only exchange is the final hash agg on the tiny
    (strategy, old, new) key space — map-side combined, output
    <= 2 * Q * Q' rows regardless of input size. No UDF, no window,
    no join.
    """
    from sparkcrawl.functions.hashing import rendezvous_queue

    k = F.col(key_col)
    legs = []
    for strategy, old_q, new_q in (
        ("mod",
         md5_bucket(k, old_num_queues),
         md5_bucket(k, new_num_queues)),
        ("rendezvous",
         rendezvous_queue(k, old_num_queues),
         rendezvous_queue(k, new_num_queues)),
    ):
        legs.append(urls.select(
            F.lit(strategy).alias("strategy"),
            old_q.alias("old_queue"),
            new_q.alias("new_queue"),
        ))
    assigned = legs[0].unionByName(legs[1])
    return (
        assigned.groupBy("strategy", "old_queue", "new_queue")
        .agg(F.count("*").alias("urls"))
        .select(
            "strategy", "old_queue", "new_queue",
            (F.col("old_queue") != F.col("new_queue")).alias("moved"),
            "urls",
        )
    )


def fetch_fairness(fetch_log: DataFrame, group_col: str = "superstep",
                   host_col: str = "host") -> DataFrame:
    """Scheduling-fairness diagnostic: Jain's fairness index (Jain,
    Chiu & Hawe 1984) over per-host fetch allocations within each
    group (superstep, queue, ...): J = (sum x)^2 / (n * sum x^2) for
    x = fetches per host. J = 1 means every host got an equal share of
    the batch; J -> 1/n means one host owned it — exactly the skew the
    W2/W3 caps exist to prevent, so a healthy crawl's J stays near the
    host-count-weighted ideal and a sagging J flags a politeness or
    budget-apportionment regression before throughput does.

    Output per group: (group, n_hosts, fetches, jain_index, top_share)
    — ``top_share`` = the largest single host's fraction, the
    companion worst-case number (J is an average-case index).

    Plan shape: two map-side-combinable hash aggs ((group, host)
    counts, then group moments) — no window, no join; output
    cardinality = number of groups. Safe to run over every superstep
    of a 10^10-URL crawl's fetch log.
    """
    per_host = fetch_log.groupBy(
        F.col(group_col).alias("grp"), F.col(host_col).alias("h")
    ).agg(F.count("*").cast("double").alias("x"))
    s, n, sq = F.sum("x"), F.count("*"), F.sum(F.col("x") * F.col("x"))
    return per_host.groupBy(F.col("grp").alias(group_col)).agg(
        n.cast("bigint").alias("n_hosts"),
        s.cast("bigint").alias("fetches"),
        F.round((s * s) / (n * sq), 6).alias("jain_index"),
        F.round(F.max("x") / s, 6).alias("top_share"),
    )


def apply_aging_boost(frontier: DataFrame, virtual_time,
                      age_seconds: float, max_boost: int = 3) -> DataFrame:
    """Anti-starvation priority aging — the APPLY companion to
    :func:`queue_starvation_report`: every pending row whose
    ``next_date`` lags the clock gains one priority level (priority 1
    is best — the W1 sort is ascending) per ``age_seconds`` of wait,
    capped at ``max_boost`` levels and floored at priority 1. Rows a
    biased queue selection kept skipping climb the ordering instead of
    starving forever (the aging rule every production scheduler carries
    next to its bias — else a hot queue's tail never drains).

    Non-pending rows and rows whose time hasn't arrived are untouched.
    Pure single-projection column arithmetic on integer micros — no
    shuffle, no window, no join; safe to fold into the superstep's
    eligibility scan at any frontier size. Deterministic (floor over
    exact integer micros), so the rewrite replays identically on
    resume.
    """
    vt_us = F.unix_micros(F.lit(virtual_time).cast("timestamp"))
    nd_us = F.unix_micros(F.col("next_date").cast("timestamp"))
    age_us = F.lit(int(age_seconds * 1_000_000))
    steps = F.least(F.floor((vt_us - nd_us) / age_us),
                    F.lit(int(max_boost)))
    boosted = F.greatest(F.lit(1), F.col("priority") - steps).cast("int")
    eligible_wait = (F.col("state") == "pending") & ((vt_us - nd_us) > 0)
    return frontier.withColumn(
        "priority",
        F.when(eligible_wait, boosted).otherwise(F.col("priority")),
    )
