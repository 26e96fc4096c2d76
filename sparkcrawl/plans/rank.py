"""Offline PageRank priority refresh — the batch job a production crawl
runs periodically between supersteps.

Production crawlers don't rank the link graph inline with fetching:
rank refresh is an offline batch job over the accumulated graph whose
output feeds back into the scheduler as priorities. With
``cfg.record_link_graph`` on, every superstep appends aggregated
(src_host, dst_host, n_links) rows; this module ranks that graph and
rewrites PENDING frontier rows' priorities through the same
keep-latest merge the engine uses (J3) — no new write path, replayable
(tagged), and the next superstep's per-queue top-k (W1) picks the new
order up with zero scheduler changes.

Priority mapping: hosts are bucketed by rank percentile into
``cfg.num_priorities`` levels (1 = best, like the reference's
prioritizer scale); unranked hosts keep their current priority.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sparkcrawl.config import CrawlConfig
from sparkcrawl.operators.graph import opic, pagerank
from sparkcrawl.sources.store import FrontierTable, LinkEdgesTable


def host_ranks(spark: SparkSession, workdir: str,
               damping: float = 0.85, iters: int = 10,
               method: str = "pagerank") -> DataFrame | None:
    """(host, rank) over the distinct host-edge set of the accumulated
    link-edges graph, or None if nothing was recorded yet. Ranks are
    unweighted: an edge counts once however many links (``n_links``)
    or supersteps recorded it — both rank operators take the distinct
    (src_host, dst_host) pairs themselves.

    ``method``: ``pagerank`` (default) or ``opic`` — OPIC (Abiteboul
    et al. WWW'03) is the crawl-native estimator: no damping knob, a
    virtual page absorbs dangling mass and re-seeds hosts discovered
    mid-crawl, and its per-round cash arithmetic matches the
    incremental way a crawl's graph actually grows. Both emit the same
    (host, rank) shape, so the refresh below is signal-agnostic."""
    edges = LinkEdgesTable(workdir).read(spark)
    if edges is None:
        return None
    if method == "opic":
        # host ids are strings; the virtual page needs a non-colliding
        # id in the same type (no real host is the empty string)
        return (
            opic(edges, iters=iters, src="src_host", dst="dst_host",
                 virtual_id="")
            .withColumnsRenamed({"id": "host", "importance": "rank"})
        )
    return pagerank(
        edges, damping=damping, iters=iters, src="src_host", dst="dst_host"
    ).withColumnRenamed("id", "host")


def host_percent_rank(df: DataFrame, order: list, out: str = "_pr") -> DataFrame:
    """Exact ``percent_rank()`` over an unpartitioned order WITHOUT a
    single-partition WindowExec.

    ``percent_rank`` over ORDER BY k is (rank-1)/(N-1), ties sharing
    their first peer's value. At sandbox scale the host table is small,
    but a 100-TB crawl has O(10^8) hosts, and a global window is one
    task (the "No Partition Defined for Window operation" warning).
    Scale shape (the two-phase prefix pattern, sampling.py precedent):
    range-partition by the sort key (equal keys co-locate, so tie
    semantics are preserved), count rows per range (a collect bounded
    by the session width — the repo's bounded-driver-data rule), and
    rank WITHIN each range partition plus the broadcast prefix offset.
    Every window that remains is partitioned. The ranged table is
    localCheckpoint'd so the offset collect and the ranked output see
    the same materialized placement.

    Returns ``df``'s columns plus ``out`` (the percent_rank, double —
    (rank-1+offset)/(N-1), arithmetically identical to Spark's
    PercentRank).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(par, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = {
        r["_pid"]: r["_n"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    }
    total = sum(sizes.values())
    if total == 0:
        return df.withColumn(out, F.lit(0.0))
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("_pid"),
    )
    w = W.partitionBy("_pid").orderBy(*order)
    pr = (
        F.when(
            F.lit(total > 1),
            (F.rank().over(w) - 1 + off).cast("double")
            / F.lit(float(total - 1)),
        ).otherwise(F.lit(0.0))
    )
    return ranged.withColumn(out, pr).drop("_pid")


def refresh_frontier_priorities(
    spark: SparkSession, workdir: str, cfg: CrawlConfig,
    refresh_id: int = 0, method: str = "pagerank",
) -> int:
    """Re-prioritize PENDING frontier rows from the link-graph ranks.

    Returns the number of rows whose priority changed (0 when no graph
    or no changes). The merge is tagged ``rank-refresh-<refresh_id>``
    so re-running one refresh replaces rather than stacks its delta.

    The percentile window runs over HOSTS (bounded cardinality — the
    distinct-host table), never over frontier rows; frontier rows get
    their new priority through a broadcastable host-level join.
    """
    ranks = host_ranks(spark, workdir, method=method)
    if ranks is None:
        return 0
    # percent_rank over hosts -> priority buckets 1..num_priorities
    # (1 = highest rank, matching the prioritizer's "lower is sooner");
    # computed via the partitioned two-phase form, never a global window
    pri = host_percent_rank(ranks, [F.desc("rank")]).select(
        "host",
        (
            F.floor(F.col("_pr") * (cfg.num_priorities - 1)) + 1
        ).cast("int").alias("_rank_priority"),
    )
    frontier = FrontierTable(workdir)
    current = frontier.read(spark)
    if current is None:
        return 0
    pending = current.filter(F.col("state") == "pending")
    updated = (
        pending.join(F.broadcast(pri), "host", "left")
        .filter(
            F.col("_rank_priority").isNotNull()
            & (F.col("_rank_priority") != F.col("priority"))
        )
        .withColumn("priority", F.col("_rank_priority"))
        .drop("_rank_priority")
        .select(*[f.name for f in current.schema.fields])
        .persist()
    )
    n = updated.count()
    if n:
        frontier.merge(updated, superstep=-1, tag=f"rank-refresh-{refresh_id}")
    updated.unpersist()
    return n
