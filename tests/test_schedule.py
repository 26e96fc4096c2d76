"""W1/W2/W3/Q1/A2 scheduling semantics."""

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig
from sparkcrawl.operators.schedule import (
    active_queues,
    eligible,
    per_queue_topk,
    politeness_slots,
    select_fetch_batch,
)

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _frontier(spark, rows):
    from sparkcrawl.schemas import FRONTIER_SCHEMA

    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def _row(i, queue=0, host="h0", next_offset=0, priority=1, state="pending"):
    return (
        f"http://{host}.example/p{i}",
        f"{i:040d}",
        f"{host}.example",
        f"{host}.example",
        queue,
        None,
        None,
        T0 + timedelta(seconds=next_offset),
        priority,
        0,
        state,
        0,
    )


def test_eligibility_filter(spark):
    df = _frontier(spark, [_row(1), _row(2, next_offset=100), _row(3, state="gone")])
    got = {r["url_hash"] for r in eligible(df, T0).collect()}
    assert got == {f"{1:040d}"}


def test_per_queue_topk_order_and_cap(spark, mini_cfg):
    rows = [_row(i, queue=0, next_offset=10 - i) for i in range(10)]  # later i = earlier
    rows += [_row(100 + i, queue=1, priority=(i % 3) + 1) for i in range(10)]
    df = _frontier(spark, rows)
    out = per_queue_topk(eligible(df, T0 + timedelta(seconds=60)), mini_cfg, k=3)
    got = out.orderBy("queue", "next_date", "priority", "url_hash").collect()
    q0 = [r["url_hash"] for r in got if r["queue"] == 0]
    # queue 0: earliest next_date wins => i=9,8,7
    assert q0 == [f"{9:040d}", f"{8:040d}", f"{7:040d}"]
    q1 = [r["priority"] for r in got if r["queue"] == 1]
    # queue 1: same next_date => priority then url_hash
    assert q1 == [1, 1, 1]


def test_topk_two_stage_equals_naive(spark, mini_cfg):
    import random

    rng = random.Random(7)
    rows = [
        _row(i, queue=rng.randrange(3), next_offset=rng.randrange(50),
             priority=rng.randrange(1, 5))
        for i in range(200)
    ]
    df = eligible(_frontier(spark, rows), T0 + timedelta(seconds=100))
    k = 7
    got = {r["url_hash"] for r in per_queue_topk(df, mini_cfg, k).collect()}
    # naive reference: sort per queue in pandas
    pdf = df.toPandas().sort_values(["queue", "next_date", "priority", "url_hash"])
    expected = set(pdf.groupby("queue").head(k)["url_hash"])
    assert got == expected


def test_active_queue_selection_deterministic(spark):
    cfg = CrawlConfig(active_queues=2)
    rows = (
        [_row(i, queue=0) for i in range(5)]
        + [_row(10 + i, queue=1) for i in range(9)]
        + [_row(30 + i, queue=2) for i in range(9)]
        + [_row(50 + i, queue=3) for i in range(2)]
    )
    df = eligible(_frontier(spark, rows), T0)
    # queue 1 and 2 tie at 9 -> lower queue id wins the tie; both beat 0
    assert active_queues(df, cfg) == [1, 2]


def test_politeness_slots_per_host(spark, mini_cfg):
    rows = [_row(i, queue=0, host="a") for i in range(3)] + [_row(9, queue=0, host="b")]
    df = _frontier(spark, rows)
    out = politeness_slots(df, mini_cfg).collect()
    slots = sorted((r["host"], r["slot"], r["scheduled_offset"]) for r in out)
    assert slots == [
        ("a.example", 0, 0.0),
        ("a.example", 1, 1.0),
        ("a.example", 2, 2.0),
        ("b.example", 0, 0.0),
    ]


def test_crawl_delay_override(spark, mini_cfg):
    rows = [_row(i, host="a") for i in range(2)]
    delays = spark.createDataFrame([("a.example", 5.0)], ["host", "crawl_delay"])
    out = politeness_slots(_frontier(spark, rows), mini_cfg, delays).collect()
    assert sorted(r["scheduled_offset"] for r in out) == [0.0, 5.0]


def test_budget_cap(spark):
    cfg = CrawlConfig(num_queues=4, active_queues=4, per_queue_budget=2, heap_size=50)
    rows = [_row(i, queue=i % 2) for i in range(20)]
    batch = select_fetch_batch(_frontier(spark, rows), T0, cfg)
    counts = batch.groupBy("queue").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_per_queue_topk_with_carry(spark, mini_cfg):
    rows = [_row(i, queue=0) for i in range(10)] + [_row(20 + i, queue=1) for i in range(10)]
    df = eligible(_frontier(spark, rows), T0)
    carry = spark.createDataFrame([(0, 2)], ["queue", "carry"])
    out = per_queue_topk(df, mini_cfg, k=3, carry=carry)
    counts = {r["queue"]: r["count"] for r in out.groupBy("queue").count().collect()}
    assert counts == {0: 5, 1: 3}  # queue 0 spends budget + carried 2
    assert "carry" not in out.columns


def test_starved_queue_catches_up_with_carry(spark):
    """A2 cross-superstep carry: a queue starved by Q1 selection banks
    its budget in queue_state and, once selected, fetches budget+carry."""
    from sparkcrawl.operators.schedule import update_queue_state

    cfg = CrawlConfig(
        num_queues=4, active_queues=1, per_queue_budget=2, heap_size=10,
        budget_carry=True,
    )
    # queue 0: 6 urls (hot, wins Q1 twice); queue 1: 3 urls (starved)
    rows = [_row(i, queue=0, host=f"h{i}") for i in range(6)]
    rows += [_row(10 + i, queue=1, host=f"g{i}") for i in range(3)]
    remaining = _frontier(spark, rows).persist()
    carry = None
    took = []
    for step in range(1, 4):
        batch = select_fetch_batch(remaining, T0, cfg, carry=carry).persist()
        elig_counts = (
            eligible(remaining, T0).groupBy("queue").agg(F.count("*").alias("pending"))
        )
        taken = batch.groupBy("queue").agg(F.count("*").alias("taken"))
        carry = update_queue_state(elig_counts, taken, carry, cfg).persist()
        took.append({r["queue"]: r["n"] for r in
                     batch.groupBy("queue").agg(F.count("*").alias("n")).collect()})
        remaining = remaining.join(batch.select("url_hash"), "url_hash", "left_anti").persist()
    # steps 1-2: queue 0 active (6 then 4 pending beat queue 1's 3), takes 2
    assert took[0] == {0: 2} and took[1] == {0: 2}
    # step 3: queue 1 (3 pending) beats queue 0 (2): budget 2 + carried 4
    # (capped by eligible supply) -> takes ALL 3, catching up in one step
    assert took[2] == {1: 3}


def test_spent_carry_resets_to_zero(spark, tmp_path):
    """r2 ADVICE regression: queue_state reads keep-latest per queue, so
    a spent (or drained-queue) carry must be WRITTEN as an explicit 0
    row — filtering carry<=0 rows before the merge left the stale
    positive carry visible forever (permanent over-fetch)."""
    from sparkcrawl.operators.schedule import update_queue_state
    from sparkcrawl.sources.store import QueueStateTable

    cfg = CrawlConfig(
        num_queues=4, active_queues=1, per_queue_budget=2, heap_size=10,
        budget_carry=True,
    )
    qs = QueueStateTable(str(tmp_path))
    no_taken = spark.createDataFrame([], "queue INT, taken LONG")

    # superstep 1: queue 0 starved (eligible 5, taken 0) -> banks carry 2
    elig = spark.createDataFrame([(0, 5)], ["queue", "pending"])
    qs.merge(update_queue_state(elig, no_taken, None, cfg), superstep=1)
    carry1 = {r["queue"]: r["carry"] for r in qs.read(spark).collect()}
    assert carry1 == {0: 2}

    # superstep 2: queue 0 selected, spends budget+carry (takes 4)
    taken = spark.createDataFrame([(0, 4)], ["queue", "taken"])
    qs.merge(update_queue_state(elig, taken, qs.read(spark), cfg), superstep=2)
    assert qs.read(spark).count() == 0  # 2 + 2 - 4 = 0, written explicitly

    # stale-carry variant: a banked queue with NO eligible work resets
    qs2 = QueueStateTable(str(tmp_path / "b"))
    qs2.merge(update_queue_state(elig, no_taken, None, cfg), superstep=1)
    assert qs2.read(spark).count() == 1
    no_elig = spark.createDataFrame([], "queue INT, pending LONG")
    qs2.merge(update_queue_state(no_elig, no_taken, qs2.read(spark), cfg), superstep=2)
    assert qs2.read(spark).count() == 0  # reset row supersedes the bank


def test_budget_carry_crawl_run_smoke(spark, mini_web, tmp_path):
    """budget_carry=True: queue_state persists in the workdir, the crawl
    completes, and kill/resume still works (snapshot-pinned carry)."""
    from sparkcrawl.plans.superstep import CrawlRun

    cfg = CrawlConfig(
        num_queues=4, active_queues=2, per_queue_budget=5, heap_size=20,
        budget_carry=True, compact_every=0,
    )
    work = str(tmp_path / "carrywork")
    run = CrawlRun(spark, work, cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=3)
    assert run.queue_state is not None
    assert run.queue_state.store.num_deltas >= 1
    # fresh process resumes with the carried state
    run2 = CrawlRun(spark, work, cfg, mini_web["web"], mini_web["robots"])
    stats = run2.resume(max_supersteps=1)
    assert stats[0].superstep == 4


def test_allocate_budgets_largest_remainder(spark):
    from sparkcrawl.operators.schedule import allocate_budgets

    def run(rows, budget):
        df = spark.createDataFrame(rows, ["queue", "weight"])
        return {r["queue"]: r["alloc"]
                for r in allocate_budgets(df, budget).collect()}

    # 5:3:2 over 7 -> quotas 3.5/2.1/1.4 -> floors 3/2/1, the one
    # leftover unit goes to the largest remainder (.5)
    assert run([("a", 5.0), ("b", 3.0), ("c", 2.0)], 7) == {
        "a": 4, "b": 2, "c": 1}
    # equal thirds of 10: remainder tie broken to the lowest key
    assert run([("a", 1.0), ("b", 1.0), ("c", 1.0)], 10) == {
        "a": 4, "b": 3, "c": 3}
    # zero-weight queues allocate 0 even when units are left over
    assert run([("a", 2.0), ("b", 0.0)], 5) == {"a": 5, "b": 0}
    # no signal at all -> nothing allocated (never spread by key order)
    assert run([("a", 0.0), ("b", 0.0)], 5) == {"a": 0, "b": 0}
    # exact-sum invariant on awkward weights
    out = run([("q%d" % i, float((i * 7) % 5 + 1)) for i in range(9)], 101)
    assert sum(out.values()) == 101


def test_ip_politeness_shared_hosting(spark, mini_cfg):
    """Hosts mapped to one IP share a single slot sequence, interleaved
    in global (next_date, priority, url_hash) order; unmapped hosts
    fall back to the deterministic synthetic IP."""
    from sparkcrawl.operators.schedule import ip_cohost_stats, ip_politeness_slots

    rows = [
        _row(0, host="a", next_offset=0),
        _row(1, host="b", next_offset=1),
        _row(2, host="a", next_offset=2),
        _row(3, host="c", next_offset=0),
    ]
    df = _frontier(spark, rows)
    host_ip = spark.createDataFrame(
        [("a.example", "10.0.0.1"), ("b.example", "10.0.0.1")],
        ["host", "ip"])
    out = ip_politeness_slots(df, mini_cfg, host_ip).collect()
    by_url = {r["url"]: r for r in out}
    # a+b share 10.0.0.1: slots interleave by next_date across hosts
    assert by_url["http://a.example/p0"]["ip_slot"] == 0
    assert by_url["http://b.example/p1"]["ip_slot"] == 1
    assert by_url["http://a.example/p2"]["ip_slot"] == 2
    assert by_url["http://a.example/p2"]["scheduled_offset"] == 2.0
    # unmapped host c gets a synthetic IP and its own sequence
    assert by_url["http://c.example/p3"]["ip"].startswith("synth-")
    assert by_url["http://c.example/p3"]["ip_slot"] == 0

    stats = {r["ip"]: (r["n_hosts"], r["n_urls"])
             for r in ip_cohost_stats(
                 ip_politeness_slots(df, mini_cfg, host_ip)).collect()}
    assert stats["10.0.0.1"] == (2, 3)


def test_ip_politeness_synthetic_deterministic(spark, mini_cfg):
    """No mapping at all: synthetic IPs are stable across runs and
    identical hosts collide onto the same IP."""
    from sparkcrawl.operators.schedule import ip_politeness_slots

    rows = [_row(i, host=f"h{i % 2}") for i in range(4)]
    df = _frontier(spark, rows)
    a = {(r["url"], r["ip"], r["ip_slot"])
         for r in ip_politeness_slots(df, mini_cfg, n_synthetic_ips=4).collect()}
    b = {(r["url"], r["ip"], r["ip_slot"])
         for r in ip_politeness_slots(df, mini_cfg, n_synthetic_ips=4).collect()}
    assert a == b
    ips = {u: ip for u, ip, _ in a}
    assert ips["http://h0.example/p0"] == ips["http://h0.example/p2"]


def test_ip_politeness_honors_crawl_delay(spark, mini_cfg):
    """robots Crawl-delay flows into IP-keyed slotting: the per-IP
    effective_delay is the MAX over co-hosted hosts' delays (IP keying
    tightens politeness, never loosens it) — one vhost declaring a 9s
    delay slows the shared server's whole sequence."""
    from sparkcrawl.operators.schedule import ip_politeness_slots

    rows = [
        _row(0, host="a", next_offset=0),
        _row(1, host="b", next_offset=1),
        _row(2, host="a", next_offset=2),
        _row(3, host="c", next_offset=0),
    ]
    df = _frontier(spark, rows)
    host_ip = spark.createDataFrame(
        [("a.example", "10.0.0.1"), ("b.example", "10.0.0.1")],
        ["host", "ip"])
    delays = spark.createDataFrame([("b.example", 9.0)],
                                   ["host", "crawl_delay"])
    out = {r["url"]: r for r in ip_politeness_slots(
        df, mini_cfg, host_ip, crawl_delays=delays).collect()}
    # a has no declared delay but shares b's IP -> inherits max(9, 1)
    assert out["http://a.example/p0"]["effective_delay"] == 9.0
    assert out["http://a.example/p2"]["scheduled_offset"] == 18.0
    # c is alone on its synthetic IP -> default delay
    assert out["http://c.example/p3"]["effective_delay"] == float(
        mini_cfg.crawl_delay_default)


def test_ip_politeness_dedups_multi_a_records(spark, mini_cfg):
    """A DNS-cache export with multiple A records per host must not
    multiply fetch-batch rows: host_ip is reduced to one row per host
    (min(ip), deterministic) before the join."""
    from sparkcrawl.operators.schedule import ip_politeness_slots

    rows = [_row(0, host="a"), _row(1, host="a", next_offset=1)]
    df = _frontier(spark, rows)
    host_ip = spark.createDataFrame(
        [("a.example", "10.0.0.2"), ("a.example", "10.0.0.1"),
         ("a.example", "10.0.0.3")],
        ["host", "ip"])
    out = ip_politeness_slots(df, mini_cfg, host_ip).collect()
    assert len(out) == 2  # no row multiplication
    assert {r["ip"] for r in out} == {"10.0.0.1"}  # min(ip) wins
    assert sorted(r["ip_slot"] for r in out) == [0, 1]


def test_politeness_drain_estimate(spark, mini_cfg):
    from sparkcrawl.operators.schedule import politeness_drain_estimate

    rows = ([_row(i, host="big") for i in range(30)]
            + [_row(100 + i, host="slow") for i in range(5)]
            + [_row(200, host="tiny")])
    df = _frontier(spark, rows)
    delays = spark.createDataFrame([("slow.example", 10.0)],
                                   ["host", "crawl_delay"])
    got = {r["host"]: r for r in politeness_drain_estimate(
        df, mini_cfg, delays, window_seconds=20.0).collect()}
    # default delay 1.0: 29 * 1.0 = 29s > 20 -> bound
    assert got["big.example"]["drain_seconds"] == 29.0
    assert got["big.example"]["politeness_bound"]
    # robots override: 4 * 10 = 40s -> bound despite tiny backlog
    assert got["slow.example"]["crawl_delay"] == 10.0
    assert got["slow.example"]["drain_seconds"] == 40.0
    assert got["slow.example"]["politeness_bound"]
    # single pending URL drains instantly
    assert got["tiny.example"]["drain_seconds"] == 0.0
    assert not got["tiny.example"]["politeness_bound"]


def test_queue_starvation_report(spark):
    from datetime import timedelta

    from sparkcrawl.operators.schedule import queue_starvation_report

    rows = (
        [_row(i, queue=0, next_offset=-100) for i in range(3)]   # overdue
        + [_row(10, queue=0, next_offset=50)]                    # future
        + [_row(20, queue=1, next_offset=-10)]
        + [_row(30, queue=2, next_offset=-5, state="done")]      # excluded
    )
    df = _frontier(spark, rows)
    now = T0
    got = {r["queue"]: r for r in queue_starvation_report(df, now).collect()}
    assert got[0]["pending"] == 4 and got[0]["overdue"] == 3
    assert got[0]["overdue_frac"] == 0.75
    assert got[0]["max_wait_seconds"] == 100.0
    assert got[1]["overdue"] == 1 and got[1]["max_wait_seconds"] == 10.0
    assert 2 not in got
    # overdue threshold: only the 100s-late rows count at 60s
    got60 = {r["queue"]: r for r in queue_starvation_report(
        df, now, overdue_seconds=60.0).collect()}
    assert got60[0]["overdue"] == 3 and got60[1]["overdue"] == 0


def test_politeness_audit_detects_violations(spark):
    """Slot-sequence integrity audit: a clean host passes; a duplicated
    slot (double-hit in one delay window) and a gap (skipped interval)
    both flag slots_ok=false."""
    from sparkcrawl.operators.schedule import politeness_audit

    rows = [
        # clean: slots 0,1,2
        (1, 0, "http://good.example/a"),
        (1, 1, "http://good.example/b"),
        (1, 2, "http://good.example/c"),
        # duplicate slot 1
        (1, 0, "http://dupe.example/a"),
        (1, 1, "http://dupe.example/b"),
        (1, 1, "http://dupe.example/c"),
        # gap: 0,2
        (1, 0, "http://gap.example/a"),
        (1, 2, "http://gap.example/b"),
        # different superstep audited independently
        (2, 0, "http://good.example/d"),
    ]
    log = spark.createDataFrame(rows, ["superstep", "slot", "url"])
    got = {(r["superstep"], r["host"]): r
           for r in politeness_audit(log).collect()}
    assert got[(1, "good.example")]["slots_ok"] is True
    assert got[(1, "dupe.example")]["slots_ok"] is False
    assert got[(1, "dupe.example")]["n_slots"] == 2
    assert got[(1, "gap.example")]["slots_ok"] is False
    assert got[(1, "gap.example")]["max_slot"] == 2
    assert got[(2, "good.example")]["slots_ok"] is True


def test_politeness_audit_real_crawl_clean(spark, mini_cfg, tmp_path):
    """The engine's OWN fetch log must pass its politeness audit —
    every (superstep, host) slot sequence contiguous from 0."""
    from sparkcrawl.operators.schedule import politeness_audit
    from sparkcrawl.plans.superstep import CrawlRun
    from sparkcrawl.sources.fixtures import write_fixture_tables

    paths = write_fixture_tables(spark, str(tmp_path / "fix"), seed=7,
                                 num_hosts=10, pages_per_host=5)
    run = CrawlRun(spark, str(tmp_path / "work"), mini_cfg,
                   spark.read.parquet(paths["web"]),
                   spark.read.parquet(paths["robots"]))
    run.run(spark.read.parquet(paths["seeds"]), max_supersteps=4)
    log = run.fetch_log.read(spark)
    audit = politeness_audit(log)
    assert audit.count() > 0
    assert audit.filter(~F.col("slots_ok")).count() == 0


def test_queue_rebalance_report(spark):
    """Q2 resize planning: counts conserve the input per strategy, the
    moved flag is old!=new, and every HRW-moved URL targets a queue id
    >= old_nq (the minimal-disruption property the report exists to
    surface)."""
    from sparkcrawl.operators.schedule import queue_rebalance_report

    n, old_nq, new_nq = 400, 8, 12
    df = spark.createDataFrame(
        [(f"{i:040d}",) for i in range(n)], ["url_hash"])
    rows = queue_rebalance_report(df, old_nq, new_nq).collect()
    for strat in ("mod", "rendezvous"):
        leg = [r for r in rows if r["strategy"] == strat]
        assert sum(r["urls"] for r in leg) == n
        for r in leg:
            assert r["moved"] == (r["old_queue"] != r["new_queue"])
    hrw_moved = [r for r in rows
                 if r["strategy"] == "rendezvous" and r["moved"]]
    assert hrw_moved and all(r["new_queue"] >= old_nq for r in hrw_moved)
    mod_m = sum(r["urls"] for r in rows if r["strategy"] == "mod" and r["moved"])
    hrw_m = sum(r["urls"] for r in hrw_moved)
    assert hrw_m < mod_m  # HRW strictly cheaper on the same resize


def test_fetch_fairness(spark):
    """Jain index: equal shares -> 1.0; one host hogging -> 1/n; the
    top_share companion pins the worst case."""
    rows = (
        # superstep 1: 3 hosts x 2 fetches each -> J = 1
        [(1, "a")] * 2 + [(1, "b")] * 2 + [(1, "c")] * 2
        # superstep 2: host a gets 8, b and c get 1 -> skewed
        + [(2, "a")] * 8 + [(2, "b")] + [(2, "c")]
    )
    df = spark.createDataFrame(rows, ["superstep", "host"])
    from sparkcrawl.operators.schedule import fetch_fairness

    got = {r["superstep"]: r for r in fetch_fairness(df).collect()}
    assert got[1]["jain_index"] == 1.0
    assert got[1]["top_share"] == round(2 / 6, 6)
    # J = (10)^2 / (3 * (64+1+1)) = 100/198
    assert got[2]["jain_index"] == round(100 / 198, 6)
    assert got[2]["top_share"] == 0.8
    assert got[2]["n_hosts"] == 3 and got[2]["fetches"] == 10


def test_apply_aging_boost(spark):
    """One level per age_seconds of wait, capped at max_boost, floored
    at 1; non-pending and not-yet-due rows untouched."""
    from datetime import datetime, timezone

    from sparkcrawl.operators.schedule import apply_aging_boost

    vt = datetime(2026, 1, 10, tzinfo=timezone.utc)
    day = 86400.0
    rows = [
        # (hash, state, next_date, priority)
        ("w0", "pending", datetime(2026, 1, 9, 12, tzinfo=timezone.utc), 5),
        ("w1", "pending", datetime(2026, 1, 8, tzinfo=timezone.utc), 5),
        ("w9", "pending", datetime(2026, 1, 1, tzinfo=timezone.utc), 5),
        ("wfloor", "pending", datetime(2026, 1, 1, tzinfo=timezone.utc), 2),
        ("future", "pending", datetime(2026, 1, 11, tzinfo=timezone.utc), 5),
        ("gone", "gone", datetime(2026, 1, 1, tzinfo=timezone.utc), 5),
    ]
    df = spark.createDataFrame(
        rows, "url_hash string, state string, next_date timestamp, priority int")
    got = {r["url_hash"]: r["priority"]
           for r in apply_aging_boost(df, vt, day, max_boost=3).collect()}
    assert got["w0"] == 5       # waited half a day: no full step yet
    assert got["w1"] == 3       # 2 days -> 2 steps
    assert got["w9"] == 2       # 9 days -> capped at 3 steps
    assert got["wfloor"] == 1   # floored at priority 1
    assert got["future"] == 5   # not due yet
    assert got["gone"] == 5     # only pending rows age


def test_crawlrun_warns_when_topk_limit_is_not_inferred(spark, tmp_path, caplog):
    """Spark turns the top-k rank filter into a WindowGroupLimit only up
    to spark.sql.optimizer.windowGroupLimitThreshold (1000 by default):
    a config whose per-queue k exceeds it logs one warning; the carry
    path's bound is heap_size, the plain path's min(heap_size, budget)."""
    import logging

    from sparkcrawl.plans.superstep import CrawlRun

    def warnings_for(**kw):
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger="sparkcrawl.plans.superstep"):
            CrawlRun(spark, str(tmp_path / str(len(kw))), CrawlConfig(**kw), None)
        return [r for r in caplog.records if "windowGroupLimitThreshold" in r.message]

    assert warnings_for() == []
    assert warnings_for(heap_size=1001) == []  # k = per_queue_budget = 50
    assert len(warnings_for(heap_size=1001, budget_carry=True)) == 1
    assert len(warnings_for(heap_size=2000, per_queue_budget=1500)) == 1
