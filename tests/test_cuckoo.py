"""Cuckoo-filter membership: no false negatives, deletion, FP sanity."""

import hashlib

import pandas as pd
import pytest

from sparkcrawl.operators.cuckoo import ShardedCuckoo


def _hashes(n, salt=""):
    return [hashlib.sha1(f"{salt}u{i}".encode()).hexdigest() for i in range(n)]


@pytest.fixture(scope="module")
def built(spark):
    keys = _hashes(4000)
    df = spark.createDataFrame([(h,) for h in keys], ["url_hash"])
    # several partitions: exercises the per-partition build + driver merge
    return keys, ShardedCuckoo.build(df.repartition(6), depth=2,
                                     capacity_per_shard=1 << 12)


def test_no_false_negatives(built):
    keys, ck = built
    probe = ck.might_contain_series(pd.Series(keys))
    assert bool(probe.all()), "cuckoo filter must never miss an inserted key"


def test_false_positive_rate_sane(built):
    _, ck = built
    other = _hashes(4000, salt="different")
    fp = ck.might_contain_series(pd.Series(other)).mean()
    # 16-bit fingerprints, 2 buckets x 4 slots: theoretical FPP ~ 8/2^16
    assert fp < 0.01, fp


def test_delete_then_miss(built):
    keys, ck = built
    victims = pd.Series(keys[:200])
    assert ck.delete_series(victims) == 200
    after = ck.might_contain_series(victims)
    # deleted keys may still FP against other members, but the bulk must miss
    assert after.mean() < 0.05
    # everyone else still has NO false negatives
    rest = pd.Series(keys[200:])
    assert bool(ck.might_contain_series(rest).all())


def test_interface_matches_bloom(built):
    """Drop-in claim (membership.py): same probe surface as ShardedBloom."""
    from sparkcrawl.operators.membership import ShardedBloom

    for method in ("might_contain_series",):
        assert callable(getattr(ShardedCuckoo, method))
        assert callable(getattr(ShardedBloom, method))


def test_overflow_surfaced_and_prefilter_safe(spark):
    """r2 ADVICE: a shard past its load ceiling must not silently drop
    fingerprints — build counts drops, flags lossy, and a lossy filter's
    prefilter marks EVERY row maybe_seen (anti-join stays the authority:
    a consumer can never use the miss-bypass to re-add seen URLs)."""
    from pyspark.sql import functions as F

    keys = _hashes(3000)
    df = spark.createDataFrame([(h,) for h in keys], ["url_hash"])
    ck = ShardedCuckoo.build(df, depth=0, capacity_per_shard=64)
    assert ck.dropped > 0
    assert ck.lossy
    tagged = ck.prefilter(df)
    assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_store_roundtrip_update_delete(spark, tmp_path):
    from sparkcrawl.operators.cuckoo import CuckooStore

    keys = _hashes(500)
    df = spark.createDataFrame([(h,) for h in keys], ["url_hash"])
    store = CuckooStore(str(tmp_path), depth=2, capacity_per_shard=1 << 12)
    store.update(df, channel="superstep", superstep=1)
    ck = store.load()
    assert bool(ck.might_contain_series(pd.Series(keys)).all())

    gone = spark.createDataFrame([(h,) for h in keys[:50]], ["url_hash"])
    assert store.delete(gone, superstep=2) == 50
    # kill/replay: the same superstep's delete must NOT apply twice (a
    # second delete could strip a colliding live key's fingerprint copy)
    assert store.delete(gone, superstep=2) == 0
    ck2 = store.load()
    assert bool(ck2.might_contain_series(pd.Series(keys[50:])).all())
    assert ck2.might_contain_series(pd.Series(keys[:50])).mean() < 0.05


def test_store_delete_shard_local(spark, tmp_path):
    """Distributed GONE retirement: only the touched prefixes' tables
    change; untouched shards come back byte-identical, and deletions
    targeting prefixes the filter never built are no-ops."""
    import numpy as np

    from sparkcrawl.operators.cuckoo import CuckooStore

    keys = _hashes(400)
    df = spark.createDataFrame([(h,) for h in keys], ["url_hash"])
    store = CuckooStore(str(tmp_path), depth=1, capacity_per_shard=1 << 12)
    store.update(df, channel="superstep", superstep=1)
    before = {p: s.table.copy() for p, s in store.load().shards.items()}

    victims = [h for h in keys if h[0] == "a"][:20]
    unknown_prefix = "zz" + "0" * 38  # depth-1 prefix 'z' may not exist
    gone = spark.createDataFrame(
        [(h,) for h in victims + ([unknown_prefix] if "z" not in before else [])],
        ["url_hash"])
    assert store.delete(gone, superstep=2) == len(victims)
    after = store.load().shards
    assert set(after) == set(before)   # no shards created or dropped
    for p in before:
        same = np.array_equal(before[p], after[p].table)
        assert same == (p != "a"), f"shard {p} mutated={not same}"
    import pandas as pd
    assert store.load().might_contain_series(pd.Series(victims)).mean() < 0.05


def test_store_update_replay_skipped(spark, tmp_path):
    """Replaying a superstep's update is a no-op (tag match): no
    duplicate fingerprint copies are stacked into the shards."""
    import numpy as np

    from sparkcrawl.operators.cuckoo import CuckooStore

    df = spark.createDataFrame([(h,) for h in _hashes(200)], ["url_hash"])
    store = CuckooStore(str(tmp_path), depth=2, capacity_per_shard=1 << 12)
    store.update(df, channel="superstep", superstep=3)
    before = {p: s.table.copy() for p, s in store.load().shards.items()}
    store.update(df, channel="superstep", superstep=3)  # replay
    after = store.load().shards
    assert set(before) == set(after)
    for p in before:
        assert np.array_equal(before[p], after[p].table)


def test_store_overflow_raises(spark, tmp_path):
    from sparkcrawl.operators.cuckoo import CuckooStore

    df = spark.createDataFrame([(h,) for h in _hashes(2000)], ["url_hash"])
    store = CuckooStore(str(tmp_path), depth=0, capacity_per_shard=64)
    with pytest.raises(RuntimeError, match="overflow"):
        store.update(df)


def test_gone_slot_reusable():
    """The point of the cuckoo variant: deleting a retired key frees a
    slot a NEW key can occupy — blooms can never do this."""
    from sparkcrawl.operators.cuckoo import CuckooShard

    sh = CuckooShard(8)
    inserted, failed = [], None
    for f in range(1, 500):
        if sh.insert(f % 8, f):
            inserted.append((f % 8, f))
        else:
            failed = (f % 8, f)
            break
    assert failed is not None, "shard never filled"
    i1, fp = inserted[0]
    assert sh.delete(i1, fp)
    assert sh.insert(*failed), "freed slot must be reusable"


def test_engine_retires_gone_urls(spark, mini_cfg, mini_web, tmp_path):
    """cfg.membership_kind='cuckoo' + retire_gone_urls: after a crawl,
    robots-denied (gone) frontier keys are retired from the prefilter
    while every live key still probes present (no false negatives)."""
    import dataclasses

    from sparkcrawl.plans.superstep import CrawlRun

    cfg = dataclasses.replace(
        mini_cfg, use_bloom_prefilter=True, membership_kind="cuckoo",
        retire_gone_urls=True,
    )
    run = CrawlRun(spark, str(tmp_path), cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=4)
    frontier = run.frontier.read(spark)
    gone = [r["url_hash"] for r in frontier.filter("state = 'gone'").collect()]
    live = [r["url_hash"] for r in frontier.filter("state <> 'gone'").collect()]
    assert gone, "fixture must produce robots-denied URLs"
    ck = run.bloom_store.load()
    assert bool(ck.might_contain_series(pd.Series(live)).all())
    assert ck.might_contain_series(pd.Series(gone)).mean() < 0.3
