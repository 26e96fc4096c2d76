"""Streaming seed ingestion — foreachBatch over a seed-URL stream.

Replaces the reference's "add seeds to a live master" path: seeds
arriving on a stream (file drop, Kafka, …) are merged into the frontier
and each micro-batch triggers crawl supersteps. The superstep engine is
unchanged — foreachBatch is just the ingestion wrapper SURVEY §2.10
planned ("a foreachBatch wrapper can be added later without changing
operators").

Exactly-once: frontier/checkpoint commits are idempotent per url_hash
(keep-latest MERGE semantics, J3), so at-least-once foreachBatch
delivery composes to effectively-once state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkcrawl.plans.superstep import CrawlRun


def stream_seeds_into_crawl(
    run: CrawlRun,
    seeds_stream: DataFrame,
    supersteps_per_batch: int = 1,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start a streaming query feeding ``seeds_stream`` (url, priority)
    into ``run``'s frontier; runs ``supersteps_per_batch`` supersteps
    after each non-empty micro-batch. Returns the StreamingQuery."""

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if run.trap_rules is not None:
            # same gate the batch candidate path applies — a trap URL
            # must not slip into the frontier through the stream
            from sparkcrawl.operators.traps import filter_trap_candidates

            batch_df = filter_trap_candidates(
                batch_df, run.cfg, run.trap_rules.read(run.spark)
            )
        ckpt = run.last_checkpoint()
        superstep = ckpt["superstep"] if ckpt else 0
        # honor the stream's priority column like bootstrap() does;
        # streams without one fall back to priority 1
        has_prio = "priority" in batch_df.columns
        rows = run.merge_seeds(
            batch_df.select("url", *(["priority"] if has_prio else [])),
            superstep,
            priority_col=F.col("priority") if has_prio else None,
        )
        if ckpt is None:
            run.checkpoints.commit(
                run.spark, 0, run.cfg.t0,
                f"frontier-v{run.frontier.store.version}",
                {"urls_seen": rows.count(), "fetched": 0, "discovered": 0},
            )
        run.resume(max_supersteps=supersteps_per_batch)

    writer = seeds_stream.writeStream.foreachBatch(_ingest).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
