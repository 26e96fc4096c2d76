"""Shared test fixtures: one SparkSession per session, deterministic mini-web."""

from __future__ import annotations

import pytest

from sparkcrawl.config import CrawlConfig
from sparkcrawl.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small core count: tiny data + 32 threads = pure task overhead
    s = get_spark(app_name="sparkcrawl-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def mini_cfg():
    return CrawlConfig(
        num_queues=4,
        active_queues=4,
        per_queue_budget=20,
        heap_size=50,
        tick_seconds=1.0,
        compact_every=3,
    )


@pytest.fixture(scope="session")
def mini_web(spark):
    """web/robots/seeds DataFrames for a small deterministic web."""
    from sparkcrawl.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA, WEB_SCHEMA
    from sparkcrawl.sources.fixtures import generate_web

    web, robots, seeds = generate_web(seed=42, num_hosts=10, pages_per_host=5,
                                      hot_hosts=1, hot_factor=6)
    return {
        "web": spark.createDataFrame(web, schema=WEB_SCHEMA),
        "robots": spark.createDataFrame(robots, schema=ROBOTS_SCHEMA),
        "seeds": spark.createDataFrame(seeds, schema=SEEDS_SCHEMA),
        "web_pdf": web,
        "robots_pdf": robots,
        "seeds_pdf": seeds,
    }
