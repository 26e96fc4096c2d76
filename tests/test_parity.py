"""Crawl-order / URL-seen / requeue parity vs the sequential reference
crawler (tests/reference_sim.py) + committed golden files (FIXTURES.md A6).

This is the sandbox re-expression of BASELINE.json's parity gate:
"matching the reference's crawl ordering and URL-seen set under the same
seed list + politeness budget". The Spark engine (distributed, windowed,
anti-joined) must reproduce the sequential record-at-a-time crawler
EXACTLY — if a shuffle, a window tie-break, or the anti-join dedup
changes any outcome, these tests flap.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkcrawl.plans.superstep import CrawlRun
from tests.reference_sim import SeqCrawler, engine_stats

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "..", "golden")
N_SUPERSTEPS = 4


@pytest.fixture(scope="module")
def sim(mini_cfg, mini_web):
    s = SeqCrawler(mini_cfg, mini_web["web_pdf"], mini_web["robots_pdf"])
    s.run(mini_web["seeds_pdf"], max_supersteps=N_SUPERSTEPS)
    return s


@pytest.fixture(scope="module")
def engine(spark, mini_cfg, mini_web, tmp_path_factory):
    run = CrawlRun(
        spark, str(tmp_path_factory.mktemp("parity")), mini_cfg,
        mini_web["web"], mini_web["robots"],
    )
    run.stats = run.run(mini_web["seeds"], max_supersteps=N_SUPERSTEPS)
    return run


def _engine_fetch_order(engine, spark) -> list[tuple[int, int, str]]:
    log = engine.fetch_log.read(spark)
    return [
        (r["superstep"], r["rank"], r["url"])
        for r in log.orderBy("superstep", "rank").collect()
    ]


def test_crawl_order_matches_sequential_reference(engine, sim, spark):
    assert _engine_fetch_order(engine, spark) == sim.fetch_log


def test_url_seen_set_matches_sequential_reference(engine, sim, spark):
    engine_seen = sorted(
        r["url_hash"] for r in engine.frontier.read(spark).select("url_hash").collect()
    )
    assert engine_seen == sim.seen_hashes


def _requeue_state(engine, spark) -> dict:
    return {
        r["url_hash"]: (r["priority"], r["state"], r["error_count"], r["next_date"].isoformat())
        for r in engine.frontier.read(spark).collect()
    }


def test_superstep_counters_match_sequential_reference(engine, sim, spark):
    """Every SuperstepStats field (batch, fetched, denied, discovered,
    new, pending, seen, virtual time) equals the sequential reference's
    record — superstep 3 compacts, so its totals are observed on the
    rewrite, the others aggregate a read — and so does every checkpoint
    row, bootstrap included."""
    assert engine_stats(engine.stats) == sim.superstep_stats
    ckpt = [
        (r["superstep"], r["virtual_time"], r["urls_seen_count"],
         r["fetched_count"], r["discovered_count"])
        for r in engine.checkpoints.read(spark).orderBy("superstep").collect()
    ]
    first = sim.stats[0]
    boot = (0, sim.cfg.t0.replace(tzinfo=None),
            first["seen_total"] - first["new_urls"], 0, 0)
    assert ckpt == [boot] + [
        (st["superstep"], st["next_time"].replace(tzinfo=None),
         st["seen_total"], st["fetched"], st["discovered"])
        for st in sim.stats
    ]


def test_requeue_state_matches_sequential_reference(engine, sim, spark):
    got = _requeue_state(engine, spark)
    expected = {
        h: (r["priority"], r["state"], r["error_count"],
            r["next_date"].replace(tzinfo=None).isoformat())
        for h, r in sim.frontier.items()
    }
    assert got == expected


# ---- committed goldens: guard against silent spec drift -------------------

def _golden(name: str, produce):
    path = os.path.join(GOLDEN_DIR, name)
    if not os.path.exists(path):  # first run writes the golden (committed to git)
        os.makedirs(GOLDEN_DIR, exist_ok=True)
        with open(path, "w") as f:
            json.dump(produce(), f, indent=1)
    with open(path) as f:
        return json.load(f)


def test_golden_crawl_order(sim):
    got = [[s, r, u] for s, r, u in sim.fetch_log]
    assert got == _golden("crawl_order.json", lambda: got)


def test_golden_url_seen(sim):
    assert sim.seen_hashes == _golden("url_seen.json", lambda: sim.seen_hashes)


def test_golden_spans(mini_web):
    from sparkcrawl.operators.extract import parse_document

    pages = mini_web["web_pdf"]
    ok = pages[pages.status_code == 200].head(8)
    got = {
        r.url: parse_document(r.url, r.body, r.content_type)[1]
        for r in ok.itertuples()
    }
    assert got == _golden("spans.json", lambda: got)


def test_golden_requeue_math():
    """Hand-derived C8/T4 expectations (FIXTURES.md A6 requeue.json)."""
    from datetime import datetime, timezone

    from sparkcrawl.config import CrawlConfig
    from sparkcrawl.operators.prioritize import apply_outcomes
    from sparkcrawl.schemas import FRONTIER_SCHEMA
    from pyspark.sql import types as T

    # pure-python expectations, no golden file needed: the math is hand-checkable
    cfg = CrawlConfig()
    t = datetime(2026, 1, 1, tzinfo=timezone.utc)
    # (status, prio_in, err_in) -> (prio_out, state, err_out, next_delta_s)
    expectations = {
        (200, 3, 0): (1, "pending", 0, 500),        # changed -> prio 1, +delta*1
        (304, 3, 0): (4, "pending", 0, 2000),       # unchanged -> prio+1, +delta*4
        (304, 10, 0): (10, "pending", 0, 5000),     # capped at num_priorities
        (301, 2, 0): (2, "pending", 0, 1000),       # redirect keeps prio
        (404, 1, 0): (1, "gone", 0, None),          # not found -> gone
        (503, 1, 0): (1, "pending", 1, 3600),       # server error -> backoff*1
        (503, 1, 2): (1, "gone", 3, None),          # retries exhausted
    }
    from sparkcrawl.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    rows = [
        (
            f"http://h.example/{i}", f"{i:040d}", "h.example", "h.example", 0,
            None, None, t, p, e, "pending", 0, s, None, None,
        )
        for i, (s, p, e) in enumerate(expectations)
    ]
    schema = T.StructType(
        list(FRONTIER_SCHEMA.fields)
        + [
            T.StructField("status_code", T.IntegerType()),
            T.StructField("rep_etag", T.StringType()),
            T.StructField("rep_last_modified", T.TimestampType()),
        ]
    )
    out = apply_outcomes(spark.createDataFrame(rows, schema), t, cfg).collect()
    for r, ((status, p_in, e_in), (p_out, state, e_out, delta)) in zip(
        sorted(out, key=lambda r: r["url"]),
        sorted(expectations.items(), key=lambda kv: f"http://h.example/{list(expectations).index(kv[0])}"),
    ):
        pass  # zip order fragile; check by reconstruction below
    got = {r["url"]: r for r in out}
    for i, ((status, p_in, e_in), (p_out, state, e_out, delta)) in enumerate(
        expectations.items()
    ):
        r = got[f"http://h.example/{i}"]
        assert r["priority"] == p_out, (status, p_in)
        assert r["state"] == state, (status, p_in)
        assert r["error_count"] == e_out, (status, p_in)
        if delta is not None and state == "pending":
            assert (r["next_date"].replace(tzinfo=timezone.utc) - t).total_seconds() == delta, (status, p_in)


def test_default_crawl_keeps_no_bloom_state(engine):
    """The anti-join is the only dedup path: a crawl writes no
    membership prefilter state into its workdir."""
    assert not os.path.exists(os.path.join(engine.workdir, "bloom"))


def test_golden_compression_ratio(spark):
    """text_compression_ratio is the one remaining rows-only driver key
    (zlib has no SQL twin); this golden pins its full sf0.001 output —
    id, byte counts, and 6dp ratio for every document — so any drift in
    the deflate level, UTF-8 encoding, or rounding shows up as a diff
    against a committed file."""
    from sparkcrawl.operators.repetition import compression_ratio

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = sorted(
        [int(r["id"]), int(r["n_bytes"]), int(r["n_compressed"]),
         float(r["ratio"])]
        for r in compression_ratio(docs).select(
            "id", "n_bytes", "n_compressed", "ratio").collect()
    )
    assert got == _golden("compression_ratio_sf0001.json", lambda: got)
