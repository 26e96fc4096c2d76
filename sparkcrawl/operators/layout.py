"""Write-side data layout: Z-order (Morton) clustering and bucketed
co-location.

At 100 TB the dominant cost of a table is not computing it but READING
it back — every later query pays the layout chosen at write time.
Two public techniques (both in Delta/Iceberg's OPTIMIZE vocabulary,
re-expressed here on plain Spark):

* **Z-ordering**: interleave the bits of two (or more) bounded integer
  dimensions into one Morton key, then range-partition + sort by it.
  Rows close in EITHER dimension land in the same files, so min/max
  file statistics prune scans on BOTH columns — the multi-column
  generalization of sorting by one column. The key is pure integer
  bit-surgery (shift/and/or), fully inside whole-stage codegen, no
  UDF, and deterministic across engines.

* **Bucketing**: ``bucketBy(n, key)`` at write time makes later
  equi-joins/aggregations on ``key`` shuffle-free (both sides already
  hash-co-located). The frontier<->seen-set anti-join is the crawl's
  standing beneficiary. Evidenced by a plan gate in tests (no Exchange
  in a bucketed self-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton key of two non-negative ints, each truncated to ``bits``
    bits: bit i of x lands at position 2i, bit i of y at 2i+1. Built
    as one folded expression of shifts/masks — O(bits) codegen ops per
    row, zero Python. Dimension values are clamped to the bit budget
    (callers bucket raw values first; clamping keeps the key total)."""
    xm = F.least(x.cast("bigint"), F.lit((1 << bits) - 1).cast("bigint"))
    ym = F.least(y.cast("bigint"), F.lit((1 << bits) - 1).cast("bigint"))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_partitions: int,
    bits: int = 16,
    key_name: str = "z",
) -> DataFrame:
    """Re-layout ``df`` for write: Morton key over (x, y), RANGE
    partition on it (contiguous, non-overlapping key ranges per output
    file — that is what makes min/max pruning work), sort within each
    partition. The write itself is the caller's (``.write.parquet``);
    this returns the laid-out frame with the key attached."""
    keyed = df.withColumn(key_name, zorder_key(F.col(x_col), F.col(y_col), bits))
    return keyed.repartitionByRange(n_partitions, F.col(key_name)) \
                .sortWithinPartitions(key_name)


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    target_rows_per_task: int = 1_000_000,
    top_n: int = 20,
) -> DataFrame:
    """Partition-skew diagnostic: the top-N heaviest keys with their
    row share and the SALT FACTOR that would split each one back under
    the target task size (``ceil(n/target)`` sub-keys). This is the
    measurement step behind every salting decision — at 100 TB a
    single hot host/domain key silently serializes a shuffle stage,
    and AQE's skew handling only covers sort-merge joins, not
    aggregations. One hash agg (map-side combined) + a bounded
    TakeOrderedAndProject; nothing data-sized reaches the driver.

    Output: key_cols + (n_rows, share, salt_factor), heaviest first,
    ties broken by key so the report is deterministic."""
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n_rows"))
    total = df.groupBy().agg(F.count("*").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.ceil(F.col("n_rows") / F.lit(float(target_rows_per_task)))
            .cast("bigint").alias("salt_factor"),
        )
        .orderBy(F.desc("n_rows"), *key_cols)
        .limit(top_n)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key_col: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Write ``df`` hash-bucketed (and sorted) by ``key_col``: every
    later equi-join or aggregation on the key reads both sides already
    co-located, so the join plan has NO shuffle Exchange at any data
    size — the write-once/join-many layout for the seen-set and
    frontier tables. Parquet + catalog table (bucketing metadata lives
    in the catalog; plain ``.parquet()`` cannot carry it)."""
    w = (
        df.write.format("parquet").mode("overwrite")
        .bucketBy(n_buckets, key_col).sortBy(key_col)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def frontcoding_estimate(urls: DataFrame, per_host_cap: int = 256,
                         url_col: str = "url",
                         host_col: str = "host") -> DataFrame:
    """Front-coding storage estimate for the URL-dominated frontier:
    per host, how many bytes the sorted URL column saves when each URL
    stores only (LCP length, suffix) against its predecessor — the
    layout CDX indexes and URL-list shards use (Witten/Moffat/Bell ch.
    4 front coding). At 10^10 frontier rows URL text IS the table; this
    is the number that decides whether to write plain or front-coded
    shards.

    Sampled: the FIRST ``per_host_cap`` URLs of each host in sorted
    order (a front-coding block is exactly a sorted run, so the sample
    measures real block compressibility; hosts with fewer URLs are
    measured exactly). Output per host: (host, n_urls, raw_bytes,
    coded_bytes, savings_frac) where coded = suffix bytes + 2 bytes
    per row (varint LCP length + suffix length).

    Plan shape: the per-host cap is a two-stage salted rank-limit
    (no task ever sees a whole hot host's URL list); then one lag
    window + LCP fold over the ≤ cap-row groups only. The LCP is a
    character fold inside codegen (aggregate over sequence) — no UDF;
    the oracle replays it as a correlated max-prefix probe.
    """
    from sparkcrawl.functions.hashing import md5_bucket
    from pyspark.sql import Window as W

    u = urls.select(F.col(host_col).alias("host"),
                    F.col(url_col).alias("url")).distinct()
    salted = u.withColumn("_salt", md5_bucket(F.col("url"), 16))
    w1 = W.partitionBy("host", "_salt").orderBy("url")
    local = (salted.withColumn("_rn", F.row_number().over(w1))
             .filter(F.col("_rn") <= per_host_cap).drop("_rn", "_salt"))
    w2 = W.partitionBy("host").orderBy("url")
    capped = (local.withColumn("_rn", F.row_number().over(w2))
              .filter(F.col("_rn") <= per_host_cap).drop("_rn"))
    paired = capped.withColumn("prev", F.lag("url").over(w2))
    lcp = F.expr("""
        CASE WHEN prev IS NULL
                  OR least(length(url), length(prev)) = 0 THEN 0
             ELSE aggregate(
                    sequence(1, least(length(url), length(prev))), 0,
                    (acc, i) -> CASE WHEN acc = i - 1
                                      AND substring(url, i, 1)
                                          = substring(prev, i, 1)
                                     THEN i ELSE acc END)
        END
    """)
    rows = paired.select("host", F.length("url").alias("len"),
                         lcp.alias("lcp"))
    raw = F.sum("len").cast("bigint")
    coded = (F.sum(F.col("len") - F.col("lcp")) + 2 * F.count(F.lit(1))) \
        .cast("bigint")
    return rows.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        raw.alias("raw_bytes"),
        coded.alias("coded_bytes"),
        F.round((raw - coded) / raw, 6).alias("savings_frac"),
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 512 * 1024 * 1024,
    small_frac: float = 0.5,
    partition_col: str = "partition",
    file_col: str = "file_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Small-file compaction planner — the maintenance pass every
    long-running Iceberg/Delta table needs (their OPTIMIZE /
    rewrite_data_files): a frontier written superstep-by-superstep
    accretes many sub-target files per partition, and at 100 TB the
    scan-planning and open() overhead of millions of small files
    dominates. Plans (does not execute) the rewrite from the file
    manifest alone:

    - files with bytes < ``small_frac`` * ``target_bytes`` are
      compaction candidates; larger files are left alone (``keep``);
    - within each partition, candidates are ordered bytes DESC (ties
      by file id — deterministic) and sorted-filled into output bins:
      bin = ceil(running_bytes / target) — each bin's total lands at
      ~target_bytes, the first-fit-decreasing relative;
    - a partition with fewer than 2 candidates keeps its file
      (rewriting one file buys nothing).

    Output: (partition, file_id, bytes, action 'keep'|'compact', bin —
    NULL for keeps). Scale shape: windows are keyed by TABLE partition
    (file counts per partition are bounded by retention, never by data
    volume); one union of two projections; no join, no UDF. The
    executor is ``read bin -> coalesce(1) -> rewrite`` per bin, driven
    from this plan.
    """
    from pyspark.sql import Window as W

    thresh = small_frac * target_bytes
    part, fid, b = F.col(partition_col), F.col(file_col), F.col(bytes_col)
    base = files.select(part.alias("partition"), fid.alias("file_id"),
                        b.cast("bigint").alias("bytes"))
    smalls = base.filter(F.col("bytes") < thresh)
    larges = base.filter(~(F.col("bytes") < thresh))
    wp = W.partitionBy("partition")
    wo = (W.partitionBy("partition")
          .orderBy(F.desc("bytes"), F.col("file_id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    planned = (
        smalls
        .withColumn("_n", F.count("*").over(wp))
        .withColumn("_cum", F.sum("bytes").over(wo))
        .select(
            "partition", "file_id", "bytes",
            F.when(F.col("_n") >= 2, F.lit("compact"))
            .otherwise(F.lit("keep")).alias("action"),
            F.when(F.col("_n") >= 2,
                   F.ceil(F.col("_cum") / F.lit(float(target_bytes)))
                   .cast("int")).alias("bin"),
        )
    )
    kept = larges.select(
        "partition", "file_id", "bytes",
        F.lit("keep").alias("action"),
        F.lit(None).cast("int").alias("bin"))
    return planned.unionByName(kept)


def snapshot_expiry_plan(
    snapshots: DataFrame,
    keep_last: int = 10,
    keep_every: int = 50,
    version_col: str = "version",
) -> DataFrame:
    """Snapshot-retention planner — the second Iceberg/Delta
    maintenance pass next to :func:`compaction_plan` (their
    expire_snapshots / VACUUM): a superstep-per-commit frontier
    accretes one table version per superstep, and unreferenced
    manifests+files are only reclaimable once the versions pointing at
    them expire. Deterministic rule, planned from the snapshot log
    alone:

    - the newest ``keep_last`` versions stay (``recent`` — resume and
      time-travel window),
    - older versions divisible by ``keep_every`` stay (``anchor`` —
      the coarse history lattice),
    - everything else expires.

    Output: (version, action 'keep'|'expire', reason
    'recent'|'anchor'|NULL). The recent threshold is derived with an
    orderBy().limit(keep_last) -> 1-row min, broadcast back — no
    global window; the snapshot log is metadata-sized (bounded by
    supersteps x retention, never by data volume), so the limit's
    single-partition funnel is structurally bounded.
    """
    vers = snapshots.select(
        F.col(version_col).cast("bigint").alias("version")).distinct()
    thr = (vers.orderBy(F.desc("version")).limit(keep_last)
           .agg(F.min("version").alias("_thr")))
    recent = F.col("version") >= F.col("_thr")
    anchor = F.col("version") % keep_every == 0
    return vers.crossJoin(F.broadcast(thr)).select(
        "version",
        F.when(recent | anchor, F.lit("keep"))
        .otherwise(F.lit("expire")).alias("action"),
        F.when(recent, F.lit("recent"))
        .when(anchor, F.lit("anchor"))
        .otherwise(F.lit(None).cast("string")).alias("reason"),
    )


def shard_checksums(
    df: DataFrame,
    cols: list[str] | None = None,
    n_shards: int = 64,
) -> DataFrame:
    """Order-independent content checksums per shard — the
    reproducibility audit primitive: two runs of the same pipeline (or
    a run and its kill/replay resume) should produce IDENTICAL
    (shard, n_rows, checksum) tables, and when they don't, the
    differing shards localize the divergence to 1/n_shards of the data
    without any row-level diff shuffle.

    Per row: a 60-bit fingerprint from the md5 of the unit-separator-
    joined column values (NULL != empty string — NULLs map to a NUL
    sentinel); shard = next 4 md5 hex chars mod ``n_shards``
    (content-addressed, so shard membership itself is reproducible).
    Per shard: row count + BIT_XOR of fingerprints — commutative, so
    the checksum is identical under ANY partitioning or row order, and
    safe under ANSI mode (XOR never overflows). Duplicate-row PAIRS
    cancel in XOR; the row count carries multiplicity.

    ONE projection + ONE map-combinable agg on the tiny shard key.
    """
    use = cols if cols is not None else list(df.columns)
    row = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
          for c in use])
    h = F.md5(row)
    fp = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    shard = (F.conv(F.substring(h, 16, 4), 16, 10).cast("long")
             % n_shards)
    return (
        df.select(shard.alias("shard"), fp.alias("_fp"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_rows"),
             F.bit_xor("_fp").alias("checksum"))
    )
