"""Frontier store contract, parameterized over both backends (SURVEY M7).

The parquet-manifest store runs everywhere; the Iceberg store auto-skips
when no Iceberg catalog/jars are configured (this sandbox ships none) —
but the module must always import cleanly and the contract suite is the
same for both, so a real cluster validates IcebergFrontierTable by just
configuring a catalog and rerunning pytest.
"""

from datetime import datetime, timezone

import pytest

from sparkcrawl.schemas import FRONTIER_SCHEMA
from sparkcrawl.sources.iceberg_store import IcebergFrontierTable, iceberg_available
from sparkcrawl.sources.store import FrontierTable

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _rows(spark, specs):
    """specs: (i, state, priority) -> frontier rows keyed by url_hash i."""
    return spark.createDataFrame(
        [
            (
                f"http://h{i}.example/p", f"{i:040d}", f"h{i}.example",
                f"h{i}.example", i % 4, None, None, T0, prio, 0, state, 0,
            )
            for i, state, prio in specs
        ],
        FRONTIER_SCHEMA,
    )


@pytest.fixture(params=["parquet", "iceberg"])
def frontier(request, spark, tmp_path):
    if request.param == "parquet":
        return FrontierTable(str(tmp_path / "ft"))
    cat = iceberg_available(spark)
    if cat is None:
        pytest.skip("no Iceberg catalog configured in this environment")
    return IcebergFrontierTable(
        spark, f"{cat}.default.frontier_{tmp_path.name.lower()}"
    )


def test_merge_is_keep_latest_and_snapshot_isolated(spark, frontier):
    frontier.merge(_rows(spark, [(1, "pending", 1), (2, "pending", 1)]), 0, tag="s0")
    snap0 = frontier.store.snapshot()
    frontier.merge(_rows(spark, [(1, "gone", 3), (3, "pending", 1)]), 1, tag="s1")

    latest = {r["url_hash"]: (r["state"], r["priority"])
              for r in frontier.read(spark).collect()}
    assert latest[f"{1:040d}"] == ("gone", 3)      # latest wins
    assert set(latest) == {f"{i:040d}" for i in (1, 2, 3)}

    pinned = {r["url_hash"]: r["state"] for r in
              frontier.read(spark, snapshot=snap0).collect()}
    assert pinned == {f"{1:040d}": "pending", f"{2:040d}": "pending"}

    seen = {r["url_hash"] for r in frontier.seen_keys(spark).collect()}
    assert seen == {f"{i:040d}" for i in (1, 2, 3)}


def test_iceberg_module_surface():
    """Import-time sanity for the jar-less sandbox: the class exists,
    exposes the FrontierTable contract, and availability probing is
    side-effect-free on a session without Iceberg."""
    for method in ("merge", "read", "seen_keys", "compact"):
        assert callable(getattr(IcebergFrontierTable, method))
