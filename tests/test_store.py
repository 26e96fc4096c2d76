"""ParquetManifestStore / FrontierTable snapshot semantics (T5, J3/W4)."""

import json
import os

import pytest

from sparkcrawl.sources.store import FrontierTable, ParquetManifestStore


def _df(spark, rows):
    return spark.createDataFrame(rows, ["url_hash", "val"])


def test_keep_latest_across_appends(spark, tmp_path):
    ft = FrontierTable(str(tmp_path))
    ft.store.append(_df(spark, [("a", 1), ("b", 1)]))
    ft.store.append(_df(spark, [("a", 2)]))
    got = {r["url_hash"]: r["val"] for r in ft.read(spark).collect()}
    assert got == {"a": 2, "b": 1}


def test_append_after_compact_wins(spark, tmp_path):
    """Regression: compaction must not let old rows shadow newer appends
    (delta seq must be manifest-monotonic, not len(deltas))."""
    ft = FrontierTable(str(tmp_path))
    ft.store.append(_df(spark, [("a", 1), ("b", 1)]))
    ft.store.append(_df(spark, [("a", 2)]))
    ft.compact(spark)
    assert ft.store.num_deltas == 1
    ft.store.append(_df(spark, [("a", 3)]))
    got = {r["url_hash"]: r["val"] for r in ft.read(spark).collect()}
    assert got == {"a": 3, "b": 1}


def test_frontier_read_skips_window_only_for_lone_compacted_delta(spark, tmp_path):
    """A snapshot that is exactly one compact() delta is already one row
    per url_hash, so the keep-latest window is skipped; any other single
    delta (a first append may repeat a key) keeps it."""
    def has_window(df):
        return "Window" in df._jdf.queryExecution().executedPlan().toString()

    ft = FrontierTable(str(tmp_path))
    ft.store.append(_df(spark, [("a", 1), ("a", 2), ("b", 1)]))
    assert ft.store.num_deltas == 1 and has_window(ft.read(spark))
    ft.compact(spark)
    pinned = ft.store.snapshot()
    assert not has_window(ft.read(spark))
    got = sorted((r["url_hash"], r["val"]) for r in ft.read(spark).collect())
    assert [h for h, _ in got] == ["a", "b"]
    ft.store.append(_df(spark, [("b", 3)]))
    assert has_window(ft.read(spark))
    assert not has_window(ft.read(spark, snapshot=pinned))  # as-of read


def test_uncommitted_delta_invisible(spark, tmp_path):
    """Atomicity: a delta dir on disk that is not in the manifest (a
    killed superstep's orphan) is never read."""
    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))
    # simulate a killed write: parquet lands but manifest never updated
    orphan = os.path.join(store.root, "data", "delta-999999-dead")
    _df(spark, [("a", 99)]).write.parquet(orphan)
    rows = store.read_raw(spark).collect()
    assert {r["val"] for r in rows} == {1}


def test_queue_read_pushes_filter_into_flat_scan(spark, tmp_path):
    """Deltas and compactions are flat parquet: the queues= read reaches
    the parquet scan as a pushed data filter (PushedFilters), returns the
    same rows as post-filtering, and no queue= directory is ever written."""
    import contextlib
    import io
    import re

    rows = [(f"h{i:03d}", i % 4, i) for i in range(40)]
    df = spark.createDataFrame(rows, ["url_hash", "queue", "val"])
    ft = FrontierTable(str(tmp_path))
    ft.merge(df, superstep=1)
    ft.merge(df.filter("queue = 2").withColumn("val", _one(spark)), superstep=2)

    def check(pruned):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pruned.explain("formatted")
        pf = re.findall(r"PushedFilters: \[[^\]]*queue[^\]]*\]", buf.getvalue())
        # one pushed queue filter per delta scan, below the keep-latest merge
        assert len(pf) == ft.store.num_deltas, buf.getvalue()
        full = ft.read(spark).filter("queue = 2")
        assert sorted(map(str, pruned.collect())) == sorted(map(str, full.collect()))

    check(ft.read(spark, queues=[2]))
    ft.compact(spark)
    check(ft.read(spark, queues=[2]))
    data = os.path.join(ft.store.root, "data")
    assert not [d for d, _, _ in os.walk(data)
                if os.path.basename(d).startswith("queue=")]


def _one(spark):
    from pyspark.sql import functions as F

    return F.lit(999)


def test_manifest_commit_is_atomic_replace(spark, tmp_path):
    """Each commit renames a fsynced temp file to a NEW version's name,
    and leaves no temp file behind."""
    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))
    assert sorted(os.listdir(store.root)) == ["data", "manifest-1.json"]
    with open(os.path.join(store.root, "manifest-1.json")) as f:
        m = json.load(f)
    assert m["version"] == 1 and len(m["deltas"]) == 1
    store.append(_df(spark, [("b", 2)]))
    assert sorted(os.listdir(store.root)) == [
        "data", "manifest-1.json", "manifest-2.json"]
    assert store.version == 2 and store.num_deltas == 2


def test_kill_after_temp_write_keeps_previous_version(spark, tmp_path,
                                                       monkeypatch):
    """A commit killed between its temp write and its rename leaves the
    previous version as the table; the stray temp file is never read,
    the next commit succeeds, and vacuum reclaims the temp file and the
    superseded version."""
    import sparkcrawl.sources.store as store_mod

    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))

    class Killed(Exception):
        pass

    def killed(src, dst):
        raise Killed(dst)

    monkeypatch.setattr(store_mod.os, "rename", killed)
    with pytest.raises(Killed):
        store.append(_df(spark, [("b", 2)]))
    monkeypatch.undo()
    temps = [n for n in os.listdir(store.root) if ".tmp." in n]
    assert len(temps) == 1
    assert store.version == 1
    assert [(r["url_hash"], r["val"]) for r in store.read_raw(spark).collect()] \
        == [("a", 1)]

    store.append(_df(spark, [("c", 3)]))
    assert store.version == 2
    assert sorted(r["url_hash"] for r in store.read_raw(spark).collect()) \
        == ["a", "c"]
    store.vacuum()
    assert sorted(n for n in os.listdir(store.root) if n != "data") \
        == ["manifest-2.json"]


def test_legacy_manifest_json_reads_and_vacuums(spark, tmp_path):
    """A table whose only manifest is a plain ``manifest.json`` (older
    workdirs) reads as before; the next commit writes the next version
    under a new name, and vacuum_workdir finds tables in either layout
    and reclaims the superseded legacy file."""
    from sparkcrawl.sources.store import vacuum_workdir

    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))
    store.replace_all(_df(spark, [("a", 2)]))
    os.rename(os.path.join(store.root, "manifest-2.json"),
              os.path.join(store.root, "manifest.json"))
    os.remove(os.path.join(store.root, "manifest-1.json"))
    assert store.version == 2
    assert [r["val"] for r in store.read_raw(spark).collect()] == [2]
    assert vacuum_workdir(str(tmp_path)) == {"t": 1}  # the first delta
    assert "manifest.json" in os.listdir(store.root)  # still the current one

    store.append(_df(spark, [("b", 3)]))
    assert store.version == 3
    assert sorted(r["val"] for r in store.read_raw(spark).collect()) == [2, 3]
    assert vacuum_workdir(str(tmp_path)) == {"t": 0}
    assert sorted(n for n in os.listdir(store.root) if n != "data") \
        == ["manifest-3.json"]


def test_superstep_commits_never_rename_over_a_file(spark, mini_cfg, mini_web,
                                                    tmp_path, monkeypatch):
    """No commit of a superstep (documents, fetch log, frontier merge and
    compaction, checkpoint) renames onto an existing path."""
    import dataclasses

    from sparkcrawl.plans.superstep import CrawlRun

    cfg = dataclasses.replace(mini_cfg, compact_every=1, budget_carry=True)
    run = CrawlRun(spark, str(tmp_path), cfg, mini_web["web"], mini_web["robots"])
    run.bootstrap(mini_web["seeds"])
    targets = []

    def guard(real):
        def move(src, dst, *a, **kw):
            targets.append((dst, os.path.exists(dst)))
            return real(src, dst, *a, **kw)
        return move

    monkeypatch.setattr(os, "rename", guard(os.rename))
    monkeypatch.setattr(os, "replace", guard(os.replace))
    run.resume(max_supersteps=2)
    monkeypatch.undo()
    assert len(targets) >= 2 * 5, targets
    assert [dst for dst, existed in targets if existed] == []


def _data_dirs(store):
    root = os.path.join(store.root, "data")
    return {os.path.join(root, n) for n in os.listdir(root)}


def test_vacuum_reclaims_compacted_deltas(spark, tmp_path):
    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))
    store.append(_df(spark, [("b", 2)]))
    before = _data_dirs(store)
    store.replace_all(_df(spark, [("a", 1), ("b", 2)]))
    removed = store.vacuum()
    # both superseded delta dirs reclaimed, the compact dir survives
    assert set(removed) == before
    assert len(_data_dirs(store)) == 1
    rows = {(r["url_hash"], r["val"])
            for r in store.read_raw(spark).drop("_delta_seq").collect()}
    assert rows == {("a", 1), ("b", 2)}


def test_vacuum_protects_pinned_snapshot(spark, tmp_path):
    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))
    pinned = store.snapshot()          # as-of pointer (a checkpoint's view)
    store.replace_all(_df(spark, [("a", 99)]))
    removed = store.vacuum(keep_paths={d["path"] for d in pinned})
    assert removed == []
    # the pinned as-of read still works after the vacuum pass
    old = store.read_raw(spark, snapshot=pinned).collect()
    assert [(r["url_hash"], r["val"]) for r in old] == [("a", 1)]
    # without the pin the superseded dir goes away
    assert len(store.vacuum()) == 1


def test_vacuum_min_age_guards_inflight(spark, tmp_path):
    store = ParquetManifestStore(str(tmp_path), "t")
    store.append(_df(spark, [("a", 1)]))
    store.replace_all(_df(spark, [("a", 1)]))
    assert store.vacuum(min_age_s=3600) == []   # everything too young
    assert len(store.vacuum()) == 1


def test_vacuum_workdir_respects_checkpoint_pins(spark, mini_cfg, mini_web, tmp_path):
    """End-to-end: after a crawl + frontier compaction, vacuum_workdir
    reclaims superseded dirs but keeps the last checkpoint's pinned
    frontier snapshot readable, and the crawl resumes afterwards."""
    from sparkcrawl.plans.superstep import CrawlRun
    from sparkcrawl.sources.store import vacuum_workdir

    wd = str(tmp_path / "w")
    run = CrawlRun(spark, wd, mini_cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=3)
    seen_before = run.frontier.read(spark).count()

    run.frontier.compact(spark)
    removed = vacuum_workdir(wd)
    assert sum(removed.values()) > 0
    # pinned as-of replay still possible: the last checkpoint's snapshot
    # paths survived the vacuum
    last = run.checkpoints.last()
    for d in last["frontier_snapshot"] or []:
        assert os.path.exists(d["path"])
    assert run.frontier.read(spark).count() == seen_before
    more = run.resume(max_supersteps=1)
    assert more and more[0].fetched >= 0


def test_recorded_schema_reads_launch_no_job(spark, tmp_path):
    """Each delta's manifest entry records the schema it was written with,
    so reading a table of several deltas infers nothing and launches no
    Spark job; a manifest written before schemas were recorded still
    reads the same rows, with one schema-inference job per delta."""
    store = ParquetManifestStore(str(tmp_path), "t")
    for i in range(3):
        store.append(spark.createDataFrame([(f"h{i}", i)], "url_hash string, val long"))
    assert all("schema" in d for d in store.snapshot())

    sc = spark.sparkContext

    def read_jobs(group):
        sc.setJobGroup(group, "delta read")
        try:
            df = store.read_raw(spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    recorded, jobs = read_jobs("recorded-schema-read")
    assert jobs == 0
    rows = sorted(tuple(r) for r in recorded.collect())
    assert rows == [("h0", 0, 0), ("h1", 1, 1), ("h2", 2, 2)]

    manifest = store._read_manifest()
    for d in manifest["deltas"]:
        del d["schema"]
    store._write_manifest(manifest)
    inferred, jobs = read_jobs("inferred-schema-read")
    assert jobs == 3
    assert sorted(tuple(r) for r in inferred.collect()) == rows
