"""F1/J1 seen-URL dedup is the anti-join alone; the sharded bloom has
no false negatives and its FPR curve is sized by _bloom_params."""

import hashlib

import pytest
from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig
from sparkcrawl.operators.dedup import filter_unseen
from sparkcrawl.operators.membership import ShardedBloom


def _hashes(spark, start, n):
    urls = [f"http://h{i % 13}.example/p{i}" for i in range(start, start + n)]
    data = [(u, hashlib.sha1(u.encode()).hexdigest()) for u in urls]
    return spark.createDataFrame(data, ["url", "url_hash"])


def test_no_false_negatives(spark):
    seen = _hashes(spark, 0, 500)
    bloom = ShardedBloom.build(seen, depth=2, capacity_per_shard=1 << 12, fpp=0.01)
    tagged = bloom.prefilter(seen)
    assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_filter_unseen_is_the_anti_join(spark):
    seen = _hashes(spark, 0, 400)
    candidates = _hashes(spark, 300, 400)  # 100 overlap, 300 new
    got = {r["url_hash"] for r in filter_unseen(candidates, seen, CrawlConfig()).collect()}
    want = {r["url_hash"] for r in candidates.collect()} \
        - {r["url_hash"] for r in seen.collect()}
    assert got == want
    assert len(got) == 300


def test_bloom_prefilter_cannot_be_switched_on():
    """Asking for a seen-set prefilter fails loudly instead of being
    ignored, while the frozen benchmark configs still construct."""
    with pytest.raises(ValueError, match="use_bloom_prefilter"):
        CrawlConfig(use_bloom_prefilter=True)
    cfg = CrawlConfig(use_bloom_prefilter=False, skew_salt_buckets=4,
                      bloom_capacity_per_shard=1 << 12)
    assert not cfg.use_bloom_prefilter


def test_bloom_store_incremental_equals_rebuild(spark, tmp_path):
    """M4: folding new hashes into the persisted shards must equal a
    from-scratch build over the union — same bits, same probes."""
    from sparkcrawl.operators.membership import BloomStore

    store = BloomStore(str(tmp_path), depth=2, capacity_per_shard=1 << 12, fpp=0.01)
    a = _hashes(spark, 0, 300)
    b = _hashes(spark, 300, 300)
    store.update(a.select("url_hash"))
    incremental = store.update(b.select("url_hash"))
    rebuilt = ShardedBloom.build(
        a.unionByName(b).select("url_hash"), depth=2,
        capacity_per_shard=1 << 12, fpp=0.01,
    )
    assert set(incremental.shards) == set(rebuilt.shards)
    for p in rebuilt.shards:
        assert (incremental.shards[p] == rebuilt.shards[p]).all(), p
    # reload from disk round-trips
    loaded = store.load()
    for p in rebuilt.shards:
        assert (loaded.shards[p] == rebuilt.shards[p]).all(), p


def test_prefix_sharding_matches_reference_scheme(spark):
    """The shard key is the digest prefix — UniqueUriFilter's own scheme."""
    seen = _hashes(spark, 0, 200)
    bloom = ShardedBloom.build(seen, depth=2, capacity_per_shard=1 << 10, fpp=0.01)
    prefixes = {r["url_hash"][:2] for r in seen.collect()}
    assert set(bloom.shards) == prefixes


def test_bloom_fpr_curve_shape(spark):
    """The analytic curve is strictly increasing in fill and lands at
    (or under) the design fpp at the design load — _bloom_params
    over-provisions via the pow2 round-up, so fill=1.0 must be <= fpp."""
    from sparkcrawl.operators.membership import _bloom_params, bloom_fpr_curve

    rows = sorted(
        bloom_fpr_curve(spark, capacity=100_000, fpp=0.01, points=20,
                        max_load=2.0).collect(),
        key=lambda r: r["fill"],
    )
    fprs = [r["fpr"] for r in rows]
    assert all(b > a for a, b in zip(fprs, fprs[1:]))
    at_design = next(r for r in rows if abs(r["fill"] - 1.0) < 1e-9)
    assert at_design["fpr"] <= 0.01
    m, k = _bloom_params(100_000, 0.01)
    assert rows[0]["m_bits"] == m and rows[0]["k_hashes"] == k
