"""Streaming seed ingestion drives the superstep engine (§2.10)."""

import pandas as pd
from pyspark.sql import functions as F

from sparkcrawl.plans.superstep import CrawlRun
from sparkcrawl.schemas import SEEDS_SCHEMA
from sparkcrawl.streaming.microbatch import stream_seeds_into_crawl


def test_stream_seeds_available_now(spark, mini_cfg, mini_web, tmp_path):
    seeds_dir = str(tmp_path / "seeds_in")
    mini_web["seeds"].limit(5).write.parquet(seeds_dir)

    run = CrawlRun(spark, str(tmp_path / "work"), mini_cfg,
                   mini_web["web"], mini_web["robots"])
    stream = spark.readStream.schema(SEEDS_SCHEMA).parquet(seeds_dir)
    q = stream_seeds_into_crawl(
        run, stream, supersteps_per_batch=2,
        checkpoint_dir=str(tmp_path / "stream_ckpt"),
    )
    q.awaitTermination(timeout=300)

    ckpt = run.last_checkpoint()
    assert ckpt is not None and ckpt["superstep"] >= 2
    frontier = run.frontier.read(spark)
    assert frontier.count() > 5  # discovered beyond the seeds

    # second drop of the SAME seeds: dedup keeps the frontier consistent
    before = frontier.count()
    mini_web["seeds"].limit(5).write.mode("append").parquet(seeds_dir)
    q2 = stream_seeds_into_crawl(
        run, spark.readStream.schema(SEEDS_SCHEMA).parquet(seeds_dir),
        supersteps_per_batch=1,
        checkpoint_dir=str(tmp_path / "stream_ckpt"),
    )
    q2.awaitTermination(timeout=300)
    after = run.frontier.read(spark)
    # no duplicate url_hash ever
    assert after.count() == after.select("url_hash").distinct().count()
    assert after.count() >= before


def test_windowed_stats_watermark_and_late_data(spark, tmp_path):
    """T2/A3 streaming: tumbling windows emit once (append mode) when
    the watermark passes; late events beyond the watermark are dropped;
    closed windows are never re-emitted across restarts."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import types as T

    from sparkcrawl.streaming.windows import windowed_outcome_stats

    T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("outcome", T.StringType()),
        T.StructField("host", T.StringType()),
    ])
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
        stream = spark.readStream.schema(schema).parquet(indir)
        q = (
            windowed_outcome_stats(
                stream, window_duration="10 seconds", watermark_delay="10 seconds"
            )
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)
        try:
            return spark.read.parquet(outdir).collect()
        except Exception:
            return []  # sink dir empty until the first window closes

    # window A = [0,10): 3 fetches on 2 hosts; one row in [10,20);
    # max ts 25s -> watermark 15s -> only window A closes
    out1 = run_batch([
        (T0, "success", "h1"), (T0 + timedelta(seconds=4), "success", "h2"),
        (T0 + timedelta(seconds=8), "server_error", "h1"),
        (T0 + timedelta(seconds=12), "success", "h1"),
        (T0 + timedelta(seconds=25), "success", "h3"),
    ])
    got1 = {(r["window_start"], r["outcome"]): (r["n_fetches"], r["n_hosts"])
            for r in out1}
    assert got1 == {
        (T0.replace(tzinfo=None), "success"): (2, 2),
        (T0.replace(tzinfo=None), "server_error"): (1, 1),
    }

    # second run: a LATE success at t=3s (watermark already 15s -> must
    # be dropped) plus t=45s (watermark 35s -> closes [10,20) and [20,30))
    out2 = run_batch([
        (T0 + timedelta(seconds=3), "success", "h9"),     # too late
        (T0 + timedelta(seconds=45), "success", "h1"),
    ])
    got2 = {(r["window_start"], r["outcome"]): r["n_fetches"] for r in out2}
    a_start = T0.replace(tzinfo=None)
    # window A unchanged (no re-emission, late row not counted)
    assert got2[(a_start, "success")] == 2
    assert got2[(a_start + timedelta(seconds=10), "success")] == 1
    assert got2[(a_start + timedelta(seconds=20), "success")] == 1


def test_stateful_host_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-split within a batch,
    event-time timeout closes idle sessions, state survives restarts."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import types as T

    from sparkcrawl.streaming.sessions import host_fetch_sessions

    T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("host", T.StringType()),
    ])
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
        stream = spark.readStream.schema(schema).parquet(indir)
        q = (
            host_fetch_sessions(stream, gap_seconds=10, watermark_delay="5 seconds")
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)
        try:
            return spark.read.parquet(outdir).collect()
        except Exception:
            return []

    # h1: burst at 0,2,4s then another at 60s (same batch: gap-split
    # closes the first burst immediately); h2: single event at 1s whose
    # session closes via event-time TIMEOUT (watermark 60-5=55 > 1+10)
    out1 = run_batch([
        (T0, "h1"), (T0 + timedelta(seconds=2), "h1"),
        (T0 + timedelta(seconds=4), "h1"),
        (T0 + timedelta(seconds=60), "h1"),
        (T0 + timedelta(seconds=1), "h2"),
    ])
    got1 = {(r["host"], r["session_start"]): (r["session_end"], r["n_fetches"])
            for r in out1}
    t = T0.replace(tzinfo=None)
    assert got1[("h1", t)] == (t + timedelta(seconds=4), 3)
    assert got1[("h2", t + timedelta(seconds=1))] == (t + timedelta(seconds=1), 1)
    assert len(got1) == 2  # h1's 60s session is still OPEN

    # restart: state persisted; event at 120s advances the watermark and
    # times out the open 60s session
    out2 = run_batch([(T0 + timedelta(seconds=120), "h9")])
    got2 = {(r["host"], r["session_start"]) for r in out2}
    assert ("h1", t + timedelta(seconds=60)) in got2


def test_streamed_seed_priority_and_bloom(spark, mini_cfg, mini_web, tmp_path):
    """Regression (ADVICE r1): streamed seeds must (a) keep their priority
    column and (b) enter the bloom BEFORE the frontier merge, so a later
    link to the same URL can't bypass the anti-join as definitely-new."""
    import hashlib

    from sparkcrawl.functions.urlnorm import canonicalize_one

    # a NEW url not in the crawled web, streamed with priority 2
    seed_url = "http://streamed.example/only-seed"
    seeds_dir = str(tmp_path / "seeds_in")
    spark.createDataFrame(
        pd.DataFrame({"url": [seed_url], "priority": [2]}), SEEDS_SCHEMA
    ).write.parquet(seeds_dir)

    import dataclasses

    cfg = dataclasses.replace(mini_cfg, use_bloom_prefilter=True)
    run = CrawlRun(spark, str(tmp_path / "work"), cfg,
                   mini_web["web"], mini_web["robots"])
    run.bootstrap(mini_web["seeds"].limit(3))
    q = stream_seeds_into_crawl(
        run, spark.readStream.schema(SEEDS_SCHEMA).parquet(seeds_dir),
        supersteps_per_batch=1,
        checkpoint_dir=str(tmp_path / "stream_ckpt"),
    )
    q.awaitTermination(timeout=300)

    canon = canonicalize_one(seed_url)
    row = run.frontier.read(spark).filter(F.col("url") == canon).collect()
    assert len(row) == 1
    assert row[0]["priority"] == 2  # (a) priority honored, not reset to 1

    # (b) superset invariant: the committed seed's hash must probe maybe-seen
    bloom = run.bloom_store.load()
    assert bloom is not None
    probe = bloom.might_contain_series(
        pd.Series([hashlib.sha1(canon.encode("utf-8")).hexdigest()])
    )
    assert bool(probe.iloc[0])


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dedup_url_stream drops canonical-URL repeats inside the horizon:
    three raw spellings of one logical URL plus one distinct URL, fed
    as files -> exactly two survivors, canonicalized, hashed."""
    import datetime as dt

    from sparkcrawl.streaming.dedup import dedup_url_stream

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    src = str(tmp_path / "urls_in")
    rows = [
        ("http://H1.Example/a#frag", t0),
        ("http://h1.example/a;jsessionid=X", t0 + dt.timedelta(seconds=10)),
        ("http://h1.example/a", t0 + dt.timedelta(seconds=20)),
        ("http://h2.example/b", t0 + dt.timedelta(seconds=30)),
    ]
    spark.createDataFrame(rows, ["url", "ts"]).write.parquet(src)

    stream = spark.readStream.schema("url string, ts timestamp").parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        dedup_url_stream(stream, watermark_delay="5 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = {
        (r["url"], r["host"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        ("http://h1.example/a", "h1.example"),
        ("http://h2.example/b", "h2.example"),
    }


def test_stream_seeds_trap_gated(spark, mini_cfg, mini_web, tmp_path):
    """cfg.filter_traps applies to STREAMED seeds too — a trap-shaped
    URL dropped by the batch candidate gate must not enter through the
    ingestion stream either."""
    import dataclasses

    cfg = dataclasses.replace(mini_cfg, filter_traps=True)
    seeds_dir = str(tmp_path / "seeds_in")
    good = mini_web["seeds"].limit(2)
    trap = spark.createDataFrame(
        [("http://trap.example/x/x/x/x/page", 1)], schema=SEEDS_SCHEMA
    )
    good.unionByName(trap).write.parquet(seeds_dir)

    run = CrawlRun(spark, str(tmp_path / "work"), cfg,
                   mini_web["web"], mini_web["robots"])
    q = stream_seeds_into_crawl(
        run, spark.readStream.schema(SEEDS_SCHEMA).parquet(seeds_dir),
        supersteps_per_batch=1,
        checkpoint_dir=str(tmp_path / "stream_ckpt"),
    )
    q.awaitTermination(timeout=300)

    urls = {r["url"] for r in run.frontier.read(spark).collect()}
    assert "http://trap.example/x/x/x/x/page" not in urls
    assert len(urls) >= 2
