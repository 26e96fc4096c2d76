"""Iceberg-backed frontier — the production store the north_rule names.

Same contract as :class:`sparkcrawl.sources.store.FrontierTable` (merge /
read / seen_keys / compact + a snapshot pointer), expressed natively:

  - ``merge`` is a real ``MERGE INTO`` upsert on url_hash — Iceberg's
    atomic snapshot commit replaces the parquet-manifest emulation's
    append + read-time keep-latest window, so reads need NO window at
    all (the table IS the latest state),
  - checkpoint snapshots pin an Iceberg ``snapshot_id`` and reads
    time-travel with ``VERSION AS OF`` — the same T5 replay isolation
    run_superstep gets from the delta-list snapshot,
  - the table is ``PARTITIONED BY (queue)`` so a scheduler activating a
    queue subset prunes whole partitions (SURVEY §1.4); the parquet
    store's deltas are flat and push the same ``queues=`` filter into
    each delta's scan instead,
  - ``compact`` delegates to the ``rewrite_data_files`` procedure.

This sandbox ships no Iceberg runtime jars (SURVEY §0), so everything
is guarded by :func:`iceberg_available`; the suite in
tests/test_iceberg_store.py parameterizes over both stores and
auto-skips this one when no Iceberg catalog is configured. On a real
cluster: add the iceberg-spark-runtime jar + a catalog conf, pass
``IcebergFrontierTable`` where CrawlRun builds its FrontierTable.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


def iceberg_available(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None.

    A catalog is usable when some ``spark.sql.catalog.<name>`` conf
    points at the Iceberg SparkCatalog and its classes are on the
    driver classpath.
    """
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return None
    for key, value in confs:
        if key.startswith("spark.sql.catalog.") and key.count(".") == 3 \
                and "iceberg" in value.lower():
            name = key.rsplit(".", 1)[1]
            try:
                spark._jvm.java.lang.Class.forName(
                    "org.apache.iceberg.spark.SparkCatalog"
                )
            except Exception:
                return None
            return name
    return None


class _IcebergSnapshotShim:
    """Duck-typed stand-in for ParquetManifestStore's snapshot/version
    surface, so CrawlRun's checkpoint plumbing works unchanged."""

    def __init__(self, table: "IcebergFrontierTable"):
        self._t = table

    def snapshot(self) -> list[dict]:
        sid = self._t.current_snapshot_id()
        return [] if sid is None else [{"snapshot_id": sid}]

    @property
    def version(self) -> int:
        sid = self._t.current_snapshot_id()
        return 0 if sid is None else sid


class IcebergFrontierTable:
    """FrontierTable contract over an Iceberg table (MERGE INTO upserts)."""

    def __init__(self, spark: SparkSession, ident: str, schema_ddl: str | None = None):
        """``ident`` like ``cat.db.frontier``. Creates the table
        (partitioned by queue) if missing; ``schema_ddl`` overrides the
        default frontier column list."""
        from sparkcrawl.schemas import FRONTIER_SCHEMA

        self.spark = spark
        self.ident = ident
        ddl = schema_ddl or ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in FRONTIER_SCHEMA.fields
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {ident} ({ddl}) "
            f"USING iceberg PARTITIONED BY (queue)"
        )
        self.store = _IcebergSnapshotShim(self)

    # -- snapshot pointer ---------------------------------------------------
    def current_snapshot_id(self) -> int | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.snapshots "
            f"ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1"
        ).collect()
        return int(rows[0]["snapshot_id"]) if rows else None

    # -- FrontierTable contract ----------------------------------------------
    def merge(self, updates: DataFrame, superstep: int, tag: str | None = None) -> str:
        """J3 keep-latest as a native upsert. Source rows must be unique
        per url_hash (the superstep's requeued ∪ denied ∪ new union is).
        MERGE INTO commits one atomic snapshot — a killed run either has
        the whole superstep's merge or none of it, and replay with the
        same rows is idempotent (matched rows get identical values)."""
        view = f"frontier_updates_{uuid.uuid4().hex}"
        updates.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                f"MERGE INTO {self.ident} t USING {view} s "
                f"ON t.url_hash = s.url_hash "
                f"WHEN MATCHED THEN UPDATE SET * "
                f"WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)
        return f"{self.ident}@{self.current_snapshot_id()}"

    def read(self, spark: SparkSession, queues: list[int] | None = None,
             snapshot: list[dict] | None = None) -> DataFrame | None:
        if snapshot is not None and not snapshot:
            return None  # pinned pre-first-commit state
        if snapshot:
            sid = snapshot[0]["snapshot_id"]
            df = spark.read.option("snapshot-id", sid).table(self.ident)
        else:
            df = spark.read.table(self.ident)
        if queues is not None:
            df = df.filter(F.col("queue").isin(queues))
        return df

    def seen_keys(self, spark: SparkSession,
                  snapshot: list[dict] | None = None) -> DataFrame | None:
        df = self.read(spark, snapshot=snapshot)
        return None if df is None else df.select("url_hash")

    def compact(self, spark: SparkSession) -> None:
        """Native file rewrite; it observes no totals, so the superstep
        aggregates them from a read (FrontierTable.compact returns them)."""
        cat, _, rest = self.ident.partition(".")
        spark.sql(
            f"CALL {cat}.system.rewrite_data_files(table => '{rest}')"
        )
