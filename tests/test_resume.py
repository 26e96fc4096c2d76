"""T5/north_rule: kill after superstep k, resume, end state identical
to an uninterrupted run (fetch order AND frontier content)."""

from pyspark.sql import functions as F

from sparkcrawl.plans.superstep import CrawlRun


def _final_state(run, spark):
    frontier = {
        r["url_hash"]: (r["state"], r["priority"], r["error_count"],
                        r["next_date"].isoformat())
        for r in run.frontier.read(spark).collect()
    }
    order = [
        (r["superstep"], r["rank"], r["url"])
        for r in run.fetch_log.read(spark).orderBy("superstep", "rank").collect()
    ]
    return frontier, order


def test_kill_resume_identical(spark, mini_cfg, mini_web, tmp_path_factory):
    # uninterrupted: 4 supersteps
    run_a = CrawlRun(spark, str(tmp_path_factory.mktemp("uninterrupted")), mini_cfg,
                     mini_web["web"], mini_web["robots"])
    run_a.run(mini_web["seeds"], max_supersteps=4)

    # interrupted: 2 supersteps, process "dies", fresh object resumes 2 more
    work_b = str(tmp_path_factory.mktemp("interrupted"))
    run_b1 = CrawlRun(spark, work_b, mini_cfg, mini_web["web"], mini_web["robots"])
    run_b1.run(mini_web["seeds"], max_supersteps=2)
    del run_b1
    run_b2 = CrawlRun(spark, work_b, mini_cfg, mini_web["web"], mini_web["robots"])
    ckpt = run_b2.last_checkpoint()
    assert ckpt["superstep"] == 2
    run_b2.resume(max_supersteps=2)

    state_a, order_a = _final_state(run_a, spark)
    state_b, order_b = _final_state(run_b2, spark)
    assert order_a == order_b
    assert state_a == state_b


def _checkpoint_rows(run, spark):
    """Checkpoint-log rows without snapshot_id (a replayed superstep
    commits one more frontier version than a clean run)."""
    return [
        (r["superstep"], r["virtual_time"], r["urls_seen_count"],
         r["fetched_count"], r["discovered_count"])
        for r in run.checkpoints.read(spark).orderBy("superstep").collect()
    ]


def test_midstep_kill_no_duplicate_appends(spark, mini_cfg, mini_web, tmp_path_factory):
    """Regression (ADVICE r1): a kill AFTER documents/fetch_log append but
    BEFORE the superstep checkpoint must not duplicate rows on replay —
    tagged deltas make the appends idempotent per superstep. The replayed
    superstep's counters and checkpoint row equal a clean run's."""
    work = str(tmp_path_factory.mktemp("midstep"))
    run = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=2)

    # superstep 3 "dies" between the appends and the checkpoint commit
    real_commit = run.checkpoints.commit

    def dying_commit(spark_, superstep, *a, **kw):
        if superstep == 3:
            raise RuntimeError("simulated kill before checkpoint")
        return real_commit(spark_, superstep, *a, **kw)

    run.checkpoints.commit = dying_commit
    try:
        run.resume(max_supersteps=1)
    except RuntimeError:
        pass
    assert run.last_checkpoint()["superstep"] == 2  # checkpoint didn't land

    # fresh process resumes: superstep 3 replays
    run2 = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    replayed = run2.resume(max_supersteps=1)
    assert run2.last_checkpoint()["superstep"] == 3

    log = run2.fetch_log.read(spark)
    # no duplicated (superstep, rank) rows in the crawl-order surface
    assert log.count() == log.select("superstep", "rank").distinct().count()

    # and the end state (incl. documents row count) matches an
    # uninterrupted 3-superstep run
    run_c = CrawlRun(spark, str(tmp_path_factory.mktemp("clean3")), mini_cfg,
                     mini_web["web"], mini_web["robots"])
    clean = run_c.run(mini_web["seeds"], max_supersteps=3)
    assert replayed == clean[2:]
    assert _checkpoint_rows(run2, spark) == _checkpoint_rows(run_c, spark)
    assert run2.documents.read(spark).count() == run_c.documents.read(spark).count()
    state_c, order_c = _final_state(run_c, spark)
    state_b, order_b = _final_state(run2, spark)
    assert order_b == order_c
    assert state_b == state_c


def test_orphan_delta_ignored_on_resume(spark, mini_cfg, mini_web, tmp_path_factory):
    """A superstep killed mid-write leaves an orphan parquet delta; resume
    must not see it (manifest is the source of truth)."""
    work = str(tmp_path_factory.mktemp("orphan"))
    run = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=2)
    seen_before = sorted(
        r["url_hash"] for r in run.frontier.read(spark).select("url_hash").collect()
    )
    # simulate a kill mid-superstep-3: frontier delta written, manifest not
    import os

    orphan = os.path.join(run.frontier.store.root, "data", "delta-killed")
    run.frontier.read(spark).limit(3).withColumn(
        "url_hash", F.concat(F.lit("dead"), F.col("url_hash"))
    ).withColumn("_delta_seq", F.lit(999)).write.parquet(orphan)

    run2 = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    seen_after = sorted(
        r["url_hash"] for r in run2.frontier.read(spark).select("url_hash").collect()
    )
    assert seen_after == seen_before


def test_vacuum_cadence_preserves_parity_and_resume(
    spark, mini_cfg, mini_web, tmp_path_factory
):
    """cfg.vacuum_every: an every-superstep vacuum must change NOTHING
    observable — same fetch order and frontier as a no-vacuum run —
    and a kill + resume across a vacuumed boundary still works."""
    import dataclasses

    cfg_v = dataclasses.replace(mini_cfg, vacuum_every=1)

    run_a = CrawlRun(spark, str(tmp_path_factory.mktemp("novac")), mini_cfg,
                     mini_web["web"], mini_web["robots"])
    run_a.run(mini_web["seeds"], max_supersteps=4)

    work_b = str(tmp_path_factory.mktemp("vac"))
    run_b1 = CrawlRun(spark, work_b, cfg_v, mini_web["web"], mini_web["robots"])
    run_b1.run(mini_web["seeds"], max_supersteps=2)
    del run_b1
    run_b2 = CrawlRun(spark, work_b, cfg_v, mini_web["web"], mini_web["robots"])
    run_b2.resume(max_supersteps=2)

    state_a, order_a = _final_state(run_a, spark)
    state_b, order_b = _final_state(run_b2, spark)
    assert order_a == order_b
    assert state_a == state_b


def _as_unrecorded(store, manifest):
    """``manifest`` with every delta entry's recorded schema removed, as
    workdirs written before schemas were recorded have it."""
    for d in manifest["deltas"]:
        d.pop("schema", None)
    store._write_manifest(manifest)


def _rewrite_with_column(spark, store, name, col):
    """Rewrite every committed delta of ``store`` in place with an extra
    column and no recorded schema — a workdir written before the engine
    stopped writing the column."""
    import os
    import shutil

    for d in store.snapshot():
        df = spark.read.parquet(d["path"])
        parts = ["queue"] if "queue" in df.columns else []
        tmp = d["path"] + ".legacy"
        df.withColumn(name, col).write.partitionBy(*parts).parquet(tmp)
        shutil.rmtree(d["path"])
        os.replace(tmp, d["path"])
    _as_unrecorded(store, store._read_manifest())


def _to_parquet_checkpoints(spark, log):
    """Move the manifest checkpoint rows into one parquet delta per row,
    with the retired ``per_partition_counts`` column: the checkpoint log
    of workdirs written before rows lived in the manifest. The pinned
    frontier snapshot loses its recorded schemas too."""
    import os
    from datetime import datetime

    from sparkcrawl.schemas import CHECKPOINT_SCHEMA

    manifest = log.store._read_manifest()
    for seq, r in enumerate(manifest.pop("rows")):
        row = {**r, "virtual_time": datetime.fromisoformat(r["virtual_time"])}
        path = os.path.join(log.store.root, "data", f"delta-{seq:06d}-legacy")
        spark.createDataFrame(
            [tuple(row[f.name] for f in CHECKPOINT_SCHEMA.fields)],
            CHECKPOINT_SCHEMA,
        ).withColumn(
            "per_partition_counts", F.create_map(F.lit("0"), F.lit(1).cast("long"))
        ).withColumn("_delta_seq", F.lit(seq)).write.parquet(path)
        manifest["deltas"].append({"path": path, "seq": seq})
        manifest["next_seq"] = seq + 1
    for d in manifest["meta"]["last_frontier_snapshot"]:
        d.pop("schema", None)
    _as_unrecorded(log.store, manifest)


# checkpoint rows and `run_crawl --report saturation` rows of the 4-superstep
# mini crawl as the engine wrote them while checkpoints were parquet deltas
LEGACY_CHECKPOINTS = [
    (0, "2026-01-01 00:00:00", "frontier-v1", 10, 0, 0),
    (1, "2026-01-01 00:00:01", "frontier-v2", 23, 9, 16),
    (2, "2026-01-01 00:00:02", "frontier-v3", 42, 13, 23),
    (3, "2026-01-01 00:00:03", "frontier-v4", 56, 16, 33),
    (4, "2026-01-01 00:00:04", "frontier-v6", 65, 14, 28),
]
LEGACY_SATURATION = [
    (0, 10, 0, 0, 10, None, None, None, None),
    (1, 23, 9, 16, 13, 1.777778, 0.8125, 0.1875, 1.3),
    (2, 42, 13, 23, 19, 1.769231, 0.826087, 0.173913, 0.826087),
    (3, 56, 16, 33, 14, 2.0625, 0.424242, 0.575758, 0.333333),
    (4, 65, 14, 28, 9, 2.0, 0.321429, 0.678571, 0.160714),
]


def test_resume_reads_legacy_lineage_columns(spark, mini_cfg, mini_web,
                                             tmp_path_factory, capsys):
    """Frontier deltas that still carry ``lineage_partition``, without
    recorded schemas, and parquet checkpoint deltas that still carry
    ``per_partition_counts`` union with what the engine writes now (flat
    deltas with schemas, manifest checkpoint rows): the crawl resumes and
    matches the sequential reference, and the checkpoint log, the
    saturation report and the change history read as they did."""
    import hashlib

    from sparkcrawl.plans.freshness import url_change_history
    from tests.reference_sim import SeqCrawler
    from tests.test_cli_reports import _report_rows

    work = str(tmp_path_factory.mktemp("legacy"))
    run = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=2)
    _rewrite_with_column(spark, run.frontier.store, "lineage_partition",
                         F.spark_partition_id())
    _to_parquet_checkpoints(spark, run.checkpoints)
    assert "lineage_partition" in spark.read.parquet(
        run.frontier.store.snapshot()[0]["path"]).columns

    run2 = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    run2.resume(max_supersteps=2)
    frontier = run2.frontier.read(spark)
    assert "lineage_partition" not in frontier.columns
    assert len(run2.checkpoints.store.snapshot()) == 3  # parquet rows 0-2
    ckpt = run2.checkpoints.read(spark)
    assert "per_partition_counts" not in ckpt.columns
    assert [
        (r[0], str(r[1]), *r[2:]) for r in ckpt.orderBy("superstep").collect()
    ] == LEGACY_CHECKPOINTS
    assert [
        tuple(r[k] for k in ("superstep", "seen_total", "fetched", "discovered",
                             "new_seen", "yield_per_fetch", "novelty_rate",
                             "saturation", "seen_growth_rate"))
        for r in _report_rows(capsys, work, "saturation")
    ] == LEGACY_SATURATION
    sim = SeqCrawler(mini_cfg, mini_web["web_pdf"], mini_web["robots_pdf"])
    sim.run(mini_web["seeds_pdf"], max_supersteps=4)
    _, order = _final_state(run2, spark)
    assert order == sim.fetch_log
    assert sorted(r["url_hash"] for r in frontier.collect()) == sim.seen_hashes
    clock = {st["superstep"]: st["next_time"].replace(tzinfo=None)
             for st in sim.stats}
    assert sorted(
        (r["url_hash"], r["ts"], r["changed"])
        for r in url_change_history(spark, work).collect()
    ) == sorted(
        (hashlib.sha1(url.encode()).hexdigest(), clock[s], status == 200)
        for s, _, url, status in sim.fetch_log_full if status in (200, 304)
    )


def _queue_dirs(path):
    import os

    return [n for n in os.listdir(path) if n.startswith("queue=")]


def test_resume_reads_legacy_queue_partitioned_delta(spark, mini_cfg, mini_web,
                                                     tmp_path_factory):
    """A frontier whose bootstrap delta was written hive-partitioned by
    ``queue`` (the layout of older workdirs) unions with the flat deltas
    merged on top: read, seen_keys, compact and resume give the same
    keep-latest rows and crawl as an all-flat workdir."""
    import os
    import shutil

    def rows(df):
        cols = sorted(df.columns)
        return sorted(str(tuple(r)) for r in df.select(*cols).collect())

    run_flat = CrawlRun(spark, str(tmp_path_factory.mktemp("flat")), mini_cfg,
                        mini_web["web"], mini_web["robots"])
    run_flat.run(mini_web["seeds"], max_supersteps=1)

    work = str(tmp_path_factory.mktemp("hive"))
    run = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    run.bootstrap(mini_web["seeds"])
    (boot,) = run.frontier.store.snapshot()
    tmp = boot["path"] + ".hive"
    spark.read.parquet(boot["path"]).write.partitionBy("queue").parquet(tmp)
    shutil.rmtree(boot["path"])
    os.replace(tmp, boot["path"])
    run.resume(max_supersteps=1)  # merges a flat delta on top

    deltas = run.frontier.store.snapshot()
    assert len(deltas) == 2
    assert _queue_dirs(deltas[0]["path"]) and not _queue_dirs(deltas[1]["path"])
    assert rows(run.frontier.read(spark)) == rows(run_flat.frontier.read(spark))
    assert rows(run.frontier.seen_keys(spark)) == rows(
        run_flat.frontier.seen_keys(spark))

    run2 = CrawlRun(spark, work, mini_cfg, mini_web["web"], mini_web["robots"])
    run2.frontier.compact(spark)
    (compacted,) = run2.frontier.store.snapshot()
    assert not _queue_dirs(compacted["path"])
    assert rows(run2.frontier.read(spark)) == rows(run_flat.frontier.read(spark))

    # superstep 2 reads the checkpoint's pinned snapshot: the hive delta
    run2.resume(max_supersteps=1)
    run_flat.resume(max_supersteps=1)
    assert _final_state(run2, spark) == _final_state(run_flat, spark)
