"""Snapshot-atomic table store — T5, S2, S3, J3 (SURVEY §1.4, §2.10).

The reference persists crawl state in SQLite with transactional
checkpoints (src/spyder/core/sqlitequeues.py::SQLiteStore.checkpoint).
The engine's production target is Iceberg (atomic snapshots, MERGE
INTO); this sandbox has no Iceberg jars (SURVEY §0), so
:class:`ParquetManifestStore` honestly emulates the part that matters
for resumability:

  - every table is an append-only list of parquet *delta* dirs,
  - each commit writes a new ``manifest-<version>.json`` naming the
    snapshot = exact delta list, with each delta's schema, so a read
    infers nothing (no Spark job); readers take the highest version
    (a plain ``manifest.json`` of older workdirs still reads),
  - a commit writes a temp file, fsyncs it and renames it to the new
    version's name, never over an existing file (Iceberg's rule: one
    new metadata file per commit, no rewrite in place),
  - a killed run resumes from the last committed manifest; orphan
    delta dirs and temp files of the killed superstep are simply never
    referenced, and :meth:`ParquetManifestStore.vacuum` reclaims them
    with the superseded manifest versions.

Frontier reads resolve keep-latest-per-url_hash with a window over the
delta sequence (W4) — the Parquet-fallback equivalent of Iceberg
``MERGE INTO``; :meth:`FrontierTable.compact` bounds read amplification.

At 10^10 rows the same layout holds: deltas are flat parquet,
the keep-latest window shuffles on url_hash (uniform sha1 → no skew),
and compaction is an ordinary Spark job. Swapping IcebergStore in
changes only this module (FrontierStore abstraction, SURVEY §7 M7).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sparkcrawl.functions.observe import observe, observed


_LEGACY_MANIFEST = "manifest.json"
_MANIFEST_RE = re.compile(r"manifest-(\d+)\.json")


def _newest_manifest(table_root: str) -> str | None:
    """The newest committed manifest of a table: the highest
    ``manifest-<version>.json``, else an older workdir's
    ``manifest.json``, else None (nothing committed yet)."""
    versions = [
        (int(m.group(1)), name) for name in os.listdir(table_root)
        if (m := _MANIFEST_RE.fullmatch(name))
    ]
    if versions:
        return os.path.join(table_root, max(versions)[1])
    legacy = os.path.join(table_root, _LEGACY_MANIFEST)
    return legacy if os.path.exists(legacy) else None


class ParquetManifestStore:
    """Manifest-tracked append-only parquet table with atomic commits.

    Each manifest entry records the schema its delta was written with;
    entries written before schemas were recorded are read with parquet
    schema inference (one Spark job each). ``legacy_columns`` names
    columns the table no longer writes: they are dropped from every
    delta on read, so deltas written before the column was removed
    still union with newer ones."""

    def __init__(self, root: str, name: str,
                 legacy_columns: tuple[str, ...] = ()):
        self.root = os.path.join(root, name)
        self.name = name
        self.legacy_columns = legacy_columns
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)

    # -- manifest plumbing ------------------------------------------------
    def _read_manifest(self) -> dict:
        path = _newest_manifest(self.root)
        if path is None:
            return {"deltas": [], "meta": {}, "version": 0, "next_seq": 0}
        with open(path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        name = f"manifest-{manifest['version']}.json"
        tmp = os.path.join(self.root, f".{name}.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, default=str)
            f.flush()
            os.fsync(f.fileno())
        # atomic commit (T5) to a fresh name: on ext4 a rename over an
        # existing file took ~60 ms, one to a new name ~0.02 ms
        os.rename(tmp, os.path.join(self.root, name))

    # -- public API --------------------------------------------------------
    def append(self, df: DataFrame, meta: dict | None = None,
               replace_tag: str | None = None) -> str:
        """Write a delta dir and atomically commit it to the manifest.
        Returns the new snapshot version id.

        ``replace_tag`` makes the commit idempotent per tag: any existing
        delta carrying the same tag is dropped from the manifest in the
        SAME atomic commit. Append-only tables (documents, fetch_log) tag
        deltas by superstep so a kill between their append and the
        superstep's checkpoint does not duplicate rows when resume()
        replays the superstep (the frontier needs no tag — keep-latest
        reads are already idempotent per url_hash). A zero-row ``df``
        still commits a readable delta holding only the schema."""
        manifest = self._read_manifest()
        entry = self._write_delta(manifest, df, "delta")
        if replace_tag is not None:
            # drop superseded deltas and commit the replacement atomically;
            # the orphaned dirs are never referenced again (same guarantee
            # as a killed run's uncommitted delta dirs)
            manifest["deltas"] = [
                d for d in manifest["deltas"] if d.get("tag") != replace_tag
            ]
            entry["tag"] = replace_tag
        manifest["deltas"].append(entry)
        return self._commit(manifest, meta)

    def _write_delta(self, manifest: dict, df: DataFrame, prefix: str) -> dict:
        """Write ``df`` as the next delta dir; its manifest entry (path,
        seq, written schema)."""
        # seq is manifest-monotonic (NOT len(deltas)): compaction shrinks the
        # delta list, and a reused lower seq would let keep-latest reads
        # resurrect compacted rows over newer appends.
        seq = manifest["next_seq"]
        manifest["next_seq"] = seq + 1
        delta_dir = os.path.join(
            self.root, "data", f"{prefix}-{seq:06d}-{uuid.uuid4().hex[:8]}"
        )
        out = df.withColumn("_delta_seq", F.lit(seq))
        out.write.mode("errorifexists").parquet(delta_dir)
        return {"path": delta_dir, "seq": seq, "schema": out.schema.json()}

    def _commit(self, manifest: dict, meta: dict | None) -> str:
        manifest["version"] += 1
        if meta:
            manifest["meta"].update(meta)
        self._write_manifest(manifest)
        return f"{self.name}-v{manifest['version']}"

    def commit_rows(self, rows: list[dict], meta: dict | None = None) -> str:
        """Append JSON-scalar ``rows`` to the manifest itself, with
        ``meta``, in one atomic commit: for tables of a few Python scalars
        per commit, where a parquet delta would cost a Spark job
        to write and another to read back."""
        manifest = self._read_manifest()
        manifest.setdefault("rows", []).extend(rows)
        return self._commit(manifest, meta)

    def rows(self) -> list[dict]:
        """The rows committed by :meth:`commit_rows`, in commit order."""
        return self._read_manifest().get("rows", [])

    def snapshot(self) -> list[dict]:
        """The current committed delta list — a durable snapshot pointer
        (compaction only rewrites the manifest; superseded dirs stay on
        disk until a :meth:`vacuum` maintenance pass, which excludes any
        externally pinned snapshot), so a checkpoint can pin the exact
        table state it saw (Iceberg snapshot-id analog)."""
        return [dict(d) for d in self._read_manifest()["deltas"]]

    def read_raw(self, spark: SparkSession,
                 snapshot: list[dict] | None = None) -> DataFrame | None:
        """Union of all committed deltas (with ``_delta_seq``).

        Each delta is read as its own table root, with the schema its
        manifest entry recorded, and unioned by name, so a delta written
        hive-partitioned (``queue=N/`` dirs, the frontier
        layout of older workdirs) still unions with flat ones — the delta
        list is bounded by the compaction cadence. ``snapshot``
        (from :meth:`snapshot`) time-travels the read to that exact
        delta list — T5: a replayed superstep must see the table as the
        last checkpoint saw it, not the killed attempt's half-state.
        """
        deltas = snapshot if snapshot is not None else self._read_manifest()["deltas"]
        if not deltas:
            return None
        dfs = [
            (spark.read.schema(StructType.fromJson(json.loads(d["schema"])))
             if "schema" in d else spark.read)
            .parquet(d["path"]).drop(*self.legacy_columns)
            for d in deltas
        ]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    def replace_all(self, df: DataFrame, meta: dict | None = None) -> str:
        """Compaction commit: next snapshot = exactly this data. The
        delta's manifest entry is marked ``compacted`` (see
        :meth:`FrontierTable.read`)."""
        manifest = self._read_manifest()
        entry = self._write_delta(manifest, df, "compact")
        manifest["deltas"] = [{**entry, "compacted": True}]
        return self._commit(manifest, meta)

    def vacuum(self, keep_paths: frozenset[str] | set[str] = frozenset(),
               min_age_s: float = 0.0) -> list[str]:
        """Delete delta/compact dirs no longer referenced by the current
        manifest — the Iceberg expire_snapshots/remove_orphan_files
        analog for this store. Compaction and tag-replacement only
        commit a new MANIFEST; their superseded dirs stay on disk until
        this maintenance call reclaims them, together with every
        manifest version but the newest and the temp files of commits
        that never landed.

        ``keep_paths`` protects externally pinned snapshots (a
        checkpoint's as-of delta list — see :func:`vacuum_workdir`);
        ``min_age_s`` skips dirs younger than the horizon, the standard
        guard against racing an in-flight append whose atomic manifest
        commit has not landed yet. Single-writer tables (this engine)
        can vacuum with 0 between supersteps.

        Returns the removed directory paths.
        """
        import shutil
        import time as _time

        current = _newest_manifest(self.root)
        referenced = {d["path"] for d in self._read_manifest()["deltas"]}
        referenced |= set(keep_paths)
        data_root = os.path.join(self.root, "data")
        removed: list[str] = []
        now = _time.time()
        for name in sorted(os.listdir(data_root)):
            path = os.path.join(data_root, name)
            if path in referenced or not os.path.isdir(path):
                continue
            if now - os.path.getmtime(path) < min_age_s:
                continue
            shutil.rmtree(path)
            removed.append(path)
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            superseded = (
                _MANIFEST_RE.fullmatch(name) or name == _LEGACY_MANIFEST
                or name.startswith((".manifest-", _LEGACY_MANIFEST + ".tmp"))
            )
            if superseded and path != current and (
                now - os.path.getmtime(path) >= min_age_s
            ):
                os.remove(path)
        return removed

    @property
    def meta(self) -> dict:
        return self._read_manifest()["meta"]

    @property
    def version(self) -> int:
        return self._read_manifest()["version"]

    @property
    def num_deltas(self) -> int:
        return len(self._read_manifest()["deltas"])


class FrontierTable:
    """The frontier with MERGE-INTO (keep-latest) read semantics (J3/W4).

    Deltas and compactions are flat parquet: no engine read prunes by
    queue, and a per-queue hive layout splits each delta into up to
    tasks x queues tiny files, which on a 64-queue crawl cost more per
    write and per read than the rows do. A ``queues=`` read is a data
    filter pushed into each delta's parquet scan.
    """

    def __init__(self, root: str):
        # lineage_partition (spark_partition_id at discovery) was a
        # placement-dependent value nothing read
        self.store = ParquetManifestStore(
            root, "frontier", legacy_columns=("lineage_partition",)
        )

    def merge(self, updates: DataFrame, superstep: int,
              tag: str | None = None) -> str:
        """J3: append requeued + newly-discovered rows; latest delta wins
        per url_hash at read time. ``tag`` makes the merge idempotent per
        superstep (a replayed superstep replaces its killed attempt's
        delta instead of shadowing it)."""
        return self.store.append(
            updates, meta={"superstep": superstep}, replace_tag=tag
        )

    def read(self, spark: SparkSession, queues: list[int] | None = None,
             snapshot: list[dict] | None = None) -> DataFrame | None:
        """Keep-latest frontier view; ``queues`` keeps only those queues.

        Arbitrary predicates can NOT be pushed below the keep-latest
        window (an old delta's row may satisfy them while the newest
        does not — pre-filtering would resurrect stale state). ``queue``
        is the exception: it is a pure function of the URL's domain,
        identical in every version of a row, so filtering each delta
        BEFORE the merge is safe and reaches the parquet scan as a
        pushed data filter (PushedFilters — verified in
        tests/test_store.py).

        A snapshot that is exactly one delta written by :meth:`compact`
        is already one row per url_hash, so it skips the window.
        """
        deltas = snapshot if snapshot is not None else self.store.snapshot()
        raw = self.store.read_raw(spark, snapshot=deltas)
        if raw is None:
            return None
        if queues is not None:
            raw = raw.filter(F.col("queue").isin(queues))
        if len(deltas) == 1 and deltas[0].get("compacted"):
            return raw.drop("_delta_seq")
        w = W.partitionBy("url_hash").orderBy(F.desc("_delta_seq"))
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_delta_seq")
        )

    def compact(self, spark: SparkSession) -> dict | None:
        """Rewrite the keep-latest view as one delta; the frontier's only
        ``replace_all`` writer, so a lone compacted delta is unique per
        url_hash. Returns the :func:`frontier_totals` of the rewritten
        view, observed on the rewrite itself (None when there is nothing
        to compact, the rows lack frontier columns, or the observation
        did not report)."""
        current = self.read(spark)
        if current is None:
            return None
        obs = None
        if {"state", "next_date"} <= set(current.columns):
            current, obs = observe(current, *frontier_totals())
        self.store.replace_all(current)
        return None if obs is None else observed(obs)

    def seen_keys(self, spark: SparkSession,
                  snapshot: list[dict] | None = None) -> DataFrame | None:
        """The URL-seen set IS the frontier key set (reference: every URL
        entering the frontier was added to UniqueUriFilter). Keys may
        repeat across deltas: an anti-join against them ignores that."""
        raw = self.store.read_raw(spark, snapshot=snapshot)
        if raw is None:
            return None
        return raw.select("url_hash")


def frontier_totals() -> list[Column]:
    """The CHECKPOINT aggregates over a keep-latest frontier view: seen
    total, pending count, and the earliest pending next_date (the
    virtual clock's candidate)."""
    pending = F.col("state") == "pending"
    return [
        F.count(F.lit(1)).alias("total"),
        F.sum(pending.cast("long")).alias("pending"),
        F.min(F.when(pending, F.col("next_date"))).alias("min_next"),
    ]


class QueueStateTable:
    """A2 cross-superstep budget remainder: (queue, carry), keep-latest
    per queue. Config-cardinality (≤ num_queues rows per snapshot) — the
    table exists so scheduler state lives in tables like everything else
    (T3), surviving kill/resume."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "queue_state")

    def merge(self, state: DataFrame, superstep: int) -> str:
        return self.store.append(
            state, meta={"superstep": superstep},
            replace_tag=f"superstep-{superstep}",
        )

    def read(self, spark: SparkSession,
             snapshot: list[dict] | None = None) -> DataFrame | None:
        raw = self.store.read_raw(spark, snapshot=snapshot)
        if raw is None:
            return None
        w = W.partitionBy("queue").orderBy(F.desc("_delta_seq"))
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_delta_seq")
            .filter(F.col("carry") > 0)
        )


class CheckpointLog:
    """T5 checkpoints: one committed row per superstep; resume reads the
    last row (analog: frontier.checkpoint() committing the SQLite txn).

    A row is six Python scalars, so it is committed into the manifest
    JSON itself (:meth:`ParquetManifestStore.commit_rows`) in the same
    atomic replace as the resume pointers: a checkpoint launches no
    Spark job. Workdirs written before that hold parquet checkpoint
    deltas; :meth:`read` unions them with the manifest rows."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(
            root, "checkpoints", legacy_columns=("per_partition_counts",)
        )

    def commit(
        self,
        spark: SparkSession,
        superstep: int,
        virtual_time: datetime,
        snapshot_id: str,
        counters: dict[str, int],
        frontier_snapshot: list[dict] | None = None,
        queue_state_snapshot: list[dict] | None = None,
    ) -> None:
        row = {
            "superstep": superstep,
            "virtual_time": virtual_time.isoformat(),
            "snapshot_id": snapshot_id,
            "urls_seen_count": counters.get("urls_seen", 0),
            "fetched_count": counters.get("fetched", 0),
            "discovered_count": counters.get("discovered", 0),
        }
        meta = {
            "last_superstep": superstep,
            "last_virtual_time": virtual_time.isoformat(),
            "last_snapshot": snapshot_id,
        }
        if frontier_snapshot is not None:
            # pin the exact frontier delta list this checkpoint saw, so a
            # replayed superstep time-travels its reads (T5 exactly-once)
            meta["last_frontier_snapshot"] = frontier_snapshot
        if queue_state_snapshot is not None:
            meta["last_queue_state_snapshot"] = queue_state_snapshot
        self.store.commit_rows([row], meta=meta)

    def last(self) -> dict | None:
        meta = self.store.meta
        if "last_superstep" not in meta:
            return None
        return {
            "superstep": int(meta["last_superstep"]),
            "virtual_time": datetime.fromisoformat(meta["last_virtual_time"]),
            "snapshot_id": meta["last_snapshot"],
            "frontier_snapshot": meta.get("last_frontier_snapshot"),
            "queue_state_snapshot": meta.get("last_queue_state_snapshot"),
        }

    def read(self, spark: SparkSession) -> DataFrame | None:
        """CHECKPOINT_SCHEMA rows: older parquet deltas, then the
        manifest rows, built into a DataFrame only when asked."""
        from sparkcrawl.schemas import CHECKPOINT_SCHEMA

        raw = self.store.read_raw(spark)
        if raw is not None:
            raw = raw.drop("_delta_seq")
        rows = [
            tuple(datetime.fromisoformat(r[f.name]) if f.name == "virtual_time"
                  else r[f.name] for f in CHECKPOINT_SCHEMA.fields)
            for r in self.store.rows()
        ]
        if not rows:
            return raw
        df = spark.createDataFrame(rows, schema=CHECKPOINT_SCHEMA)
        return df if raw is None else raw.unionByName(df)


class FetchLogTable:
    """Append-only ordered fetch log — the S6 sink's per-outcome callbacks
    re-expressed as one table with an outcome column (SURVEY S6/A3).
    Also the crawl-order parity surface (golden/crawl_order.json)."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "fetch_log")

    def append(self, log: DataFrame, superstep: int) -> str:
        # tagged: a superstep replayed after a mid-superstep kill replaces
        # (not duplicates) its rows — keeps the crawl-order parity surface
        # exact under kill/resume (T5)
        return self.store.append(
            log, meta={"superstep": superstep},
            replace_tag=f"superstep-{superstep}",
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.store.read_raw(spark)
        return None if raw is None else raw.drop("_delta_seq")


class DocumentsTable:
    """Append-only interleaved-documents sink (input_hint schema)."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "documents")

    def append(self, docs: DataFrame, superstep: int) -> str:
        # tagged: superstep replay replaces instead of duplicating (T5)
        return self.store.append(
            docs, meta={"superstep": superstep},
            replace_tag=f"superstep-{superstep}",
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.store.read_raw(spark)
        return None if raw is None else raw.drop("_delta_seq")

    def content_hashes(
        self, spark: SparkSession, exclude_superstep: int | None = None
    ) -> DataFrame | None:
        """The stored ``content_hash`` column (present when the engine
        runs with cfg.dedup_documents) — a COLUMN scan of the corpus,
        never a recompute of old spans. ``exclude_superstep`` drops that
        superstep's tagged delta from the read: a REPLAYED superstep
        must not see its own killed attempt's rows as "prior content"
        (it would dedup everything away and then replace the delta with
        nothing — T5)."""
        deltas = self.store.snapshot()
        if exclude_superstep is not None:
            deltas = [
                d for d in deltas
                if d.get("tag") != f"superstep-{exclude_superstep}"
            ]
        raw = self.store.read_raw(spark, snapshot=deltas)
        if raw is None or "content_hash" not in raw.columns:
            return None  # empty table, or written before the flag was on
        return raw.select("content_hash")


class LinkEdgesTable:
    """Append-only host->host link graph (cfg.record_link_graph): one
    aggregated (src_host, dst_host, n_links) row per pair per
    superstep. Superstep-tagged like fetch_log, so a replayed
    superstep replaces its killed attempt's delta (T5). Input to the
    offline PageRank priority refresh (plans/rank.py)."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "link_edges")

    def append(self, edges: DataFrame, superstep: int) -> str:
        return self.store.append(
            edges, meta={"superstep": superstep},
            replace_tag=f"superstep-{superstep}",
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.store.read_raw(spark)
        return None if raw is None else raw.drop("_delta_seq")


class TrapRulesTable:
    """Detected crawler-trap templates (operators/traps.py): one
    (host_template, fanout) row per suppressed template. Each refresh
    REPLACES the rule set (replace_tag="current") — rules are derived
    state, recomputable from the frontier, so keep-latest semantics
    are per-table, not per-row. Consumed as a broadcast anti-join by
    the superstep's candidate gate (cfg.filter_traps)."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "trap_rules")

    def replace(self, rules: DataFrame, refresh_id: int = 0) -> str:
        return self.store.append(
            rules, meta={"refresh_id": refresh_id}, replace_tag="current"
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.store.read_raw(spark)
        return None if raw is None else raw.drop("_delta_seq")


class RobotsTable:
    """Live-discovered robots.txt rules (cfg.fetch_robots): ROBOTS_SCHEMA
    rows + a fetched_superstep column. Append is superstep-tagged (T5:
    a replayed superstep replaces its killed attempt's rules); read
    keeps each host's LATEST generation only, so a future robots
    re-fetch (expiry) cleanly supersedes the old rule set."""

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "robots_rules")

    def append(self, rules: DataFrame, superstep: int) -> str:
        return self.store.append(
            rules, meta={"superstep": superstep},
            replace_tag=f"robots-superstep-{superstep}",
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.store.read_raw(spark)
        if raw is None:
            return None
        raw = raw.drop("_delta_seq")
        latest = raw.groupBy("host").agg(
            F.max("fetched_superstep").alias("fetched_superstep")
        )
        return raw.join(latest, ["host", "fetched_superstep"])


def vacuum_workdir(workdir: str, min_age_s: float = 0.0) -> dict[str, int]:
    """Reclaim superseded delta dirs across EVERY table in a crawl
    workdir, protecting the paths the last checkpoint pinned for as-of
    replay (T5): a mid-superstep kill must still be able to time-travel
    its reads to the last checkpoint's exact snapshot, so those dirs
    are excluded from reclamation even after a compaction superseded
    them. Run between supersteps (the engine is the single writer).

    Returns {table_name: dirs_removed}.
    """
    pinned: set[str] = set()
    ckpt_root = os.path.join(workdir, "checkpoints")
    if os.path.isdir(ckpt_root) and _newest_manifest(ckpt_root) is not None:
        meta = ParquetManifestStore(workdir, "checkpoints").meta
        for key in ("last_frontier_snapshot", "last_queue_state_snapshot"):
            for d in meta.get(key) or []:
                pinned.add(d["path"])
    removed: dict[str, int] = {}
    for name in sorted(os.listdir(workdir)):
        root = os.path.join(workdir, name)
        if not os.path.isdir(root) or _newest_manifest(root) is None:
            continue
        store = ParquetManifestStore(workdir, name)
        removed[name] = len(store.vacuum(keep_paths=pinned, min_age_s=min_age_s))
    return removed


class SignatureIndexTable:
    """Persistent minhash signature index — the stored half of the
    incremental corpus-dedup pipeline (textops.dedup_against_index).

    The archive's (id, perm, sig) rows are computed ONCE per ingested
    batch and appended here; each new crawl increment band-joins
    against the stored index and then appends its own signatures, so
    dedup cost stays proportional to the increment forever. Appends are
    batch-tagged (T5 family): replaying an ingest batch replaces its
    delta instead of duplicating signatures. On a real cluster this
    table is written bucketed by (perm, sig) so the band join
    co-locates with storage.
    """

    def __init__(self, root: str):
        self.store = ParquetManifestStore(root, "signature_index")

    def append(self, sigs: DataFrame, batch_id: str) -> str:
        return self.store.append(
            sigs.select("id", "perm", "sig"),
            meta={"last_batch": batch_id},
            replace_tag=f"sig-batch-{batch_id}",
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.store.read_raw(spark)
        return None if raw is None else raw.select("id", "perm", "sig")
