"""The frontier-scheduler superstep loop (SURVEY §3.4).

Replaces the reference's master poll loop + ZMQ worker pipeline
(src/spyder/core/master.py::ZmqMaster, src/spyder/workerprocess.py)
with a deterministic driver loop; one superstep =

  1 ELIGIBLE    scan frontier (state=pending, next_date<=T)      S2,F6
  2 SELECT      active queues -> per-queue top-k (budget)        Q1,W1,W2,A2
  3 POLITE      robots gate + per-host slotting                  R2,W3
  4 FETCH       synthetic/HTTP fetch                             S4,J4
  5 EXTRACT     links + interleaved spans -> documents append    C3,C5,S6
  6 KEYS        sha1 + queue of the (canonical) discovered links C1,C2
  7 DEDUP       batch distinct -> [bloom prefilter] -> anti-join U2,F1,J1
  8 PRIORITIZE  requeue math + error backoff                     C8,T4
  9 MERGE       frontier' = requeued ∪ denied ∪ new              U1,J3
 10 CHECKPOINT  observed counters + manifest row (no Spark job)  T5,A3
 11 CLOCK       T' = max(T+tick, min pending next_date)          T1

State lives only in tables; the driver touches counters and control
decisions, never row data. Kill at any point -> resume() replays from
the last committed checkpoint with an identical URL-seen set AND
identical documents/fetch-log rows: each checkpoint pins the exact
frontier (and queue_state) delta list it saw, a replayed superstep
reads as-of that snapshot, and every superstep's table writes are
tagged so the replay REPLACES the killed attempt's deltas instead of
shadowing or duplicating them (tests/test_resume.py, incl. a
mid-superstep kill between appends and checkpoint).

S7 control: an atomically-written ``control.json`` in the workdir is
polled between supersteps — ``{"stop": true}`` /
``{"add_seeds": [...]}`` — the batch re-expression of the reference's
ZMQ management socket.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkcrawl.config import CrawlConfig
from sparkcrawl.functions.hashing import queue_for_domain, url_sha1
from sparkcrawl.functions.observe import observe, observed_count
from sparkcrawl.functions.scope import in_scope
from sparkcrawl.functions.urlnorm import host_of_canonical_col, with_canonical_host
from sparkcrawl.operators.dedup import batch_distinct, filter_unseen
from sparkcrawl.operators.extract import documents_from_fetch, extract_links_and_spans
from sparkcrawl.operators.membership import BloomStore
from sparkcrawl.operators.prioritize import apply_outcomes
from sparkcrawl.operators.robots import crawl_delays, robots_gate
from sparkcrawl.operators.schedule import select_fetch_batch
from sparkcrawl.sources.fetch import synthetic_fetch
from sparkcrawl.sources.store import (
    CheckpointLog,
    DocumentsTable,
    FetchLogTable,
    FrontierTable,
    LinkEdgesTable,
    QueueStateTable,
    frontier_totals,
)


@dataclass
class SuperstepStats:
    superstep: int
    virtual_time: datetime
    batch_size: int
    fetched: int
    denied: int
    discovered: int
    new_urls: int
    pending_after: int
    seen_total: int


def _registered_domain_col(cfg: CrawlConfig):
    """C9: host (parity default) or eTLD+1 (cfg.use_public_suffix).
    cfg.public_suffix_file swaps in a full publicsuffix.org list file;
    the bundled snapshot is the fallback."""
    if cfg.use_public_suffix:
        from sparkcrawl.functions.domains import (
            load_public_suffix_list,
            registered_domain,
            set_public_suffix_rules,
        )

        if cfg.public_suffix_file:
            set_public_suffix_rules(load_public_suffix_list(cfg.public_suffix_file))
        return registered_domain(F.col("host"))
    return F.col("host")


def with_frontier_keys(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """C2+Q2 on canonical (url, host) rows: add url_hash,
    registered_domain and queue — the keys dedup and the merge share."""
    return (
        df.withColumn("url_hash", url_sha1(F.col("url")))
        .withColumn("registered_domain", _registered_domain_col(cfg))
        .withColumn("queue", queue_for_domain(F.col("registered_domain"), cfg.num_queues))
    )


def new_frontier_rows(keyed: DataFrame, superstep: int, t0: datetime,
                      priority_col=None) -> DataFrame:
    """Frontier-schema rows for never-seen URLs from keyed
    (url, url_hash, host, registered_domain, queue) rows."""
    prio = priority_col if priority_col is not None else F.lit(1)
    return keyed.select(
        "url", "url_hash", "host", "registered_domain", "queue",
        F.lit(None).cast("string").alias("etag"),
        F.lit(None).cast("timestamp").alias("mod_date"),
        F.lit(t0).alias("next_date"),
        prio.cast("int").alias("priority"),
        F.lit(0).alias("error_count"),
        F.lit("pending").alias("state"),
        F.lit(superstep).alias("discovered_superstep"),
    )


def frontier_rows_from_urls(
    urls: DataFrame, cfg: CrawlConfig, superstep: int, t0: datetime, priority_col=None
) -> DataFrame:
    """C1+C2+Q2 on a raw (url[, priority]) DataFrame -> frontier-schema
    rows. For seeds and control/stream injections; discovered links are
    already canonical and skip this (see run_superstep step 6)."""
    # unparseable URLs canonicalize to NULL and are dropped (one bad
    # seed/link must never produce a null-hash frontier row).
    # Hybrid canonicalize+host (urlnorm.with_canonical_host): the JVM
    # fast class never leaves codegen; the fused pandas UDF sees only
    # the slow minority's strings (NULL-gated argument), one Arrow
    # round-trip, one pass over the input.
    canon = with_canonical_host(urls).filter(F.col("url").isNotNull())
    return new_frontier_rows(with_frontier_keys(canon, cfg), superstep, t0, priority_col)


def _warn_if_topk_limit_not_inferred(spark: SparkSession, cfg: CrawlConfig) -> None:
    """Log once when the per-queue top-k bound exceeds the limit up to
    which Spark turns the rank filter into a WindowGroupLimit (see
    schedule.per_queue_topk): every eligible row is then shuffled."""
    threshold = int(spark.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold", "1000"))
    k = cfg.heap_size if cfg.budget_carry else min(cfg.heap_size, cfg.per_queue_budget)
    if k > threshold:
        logging.getLogger(__name__).warning(
            "per-queue top-k of %d exceeds "
            "spark.sql.optimizer.windowGroupLimitThreshold=%d: the scheduler "
            "shuffles every eligible row, with no map-side rank limit",
            k, threshold,
        )


class CrawlRun:
    """One crawl over one workdir; resumable."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: CrawlConfig,
        web: DataFrame | None,
        robots: DataFrame | None = None,
        fetcher=None,
    ):
        """``web`` is the synthetic-fetch fixture table; ``web=None``
        selects the live path (S4): ``fetcher`` if given (a callable
        batch-DataFrame -> fetched-DataFrame, e.g. a partially-applied
        http_fetch with an injected transport), else the stdlib
        http_fetch."""
        self.spark = spark
        self.cfg = cfg
        self.workdir = workdir
        self.web = web
        self.fetcher = fetcher
        self.robots = robots
        self.frontier = FrontierTable(workdir)
        self.documents = DocumentsTable(workdir)
        self.fetch_log = FetchLogTable(workdir)
        self.checkpoints = CheckpointLog(workdir)
        self.queue_state = QueueStateTable(workdir) if cfg.budget_carry else None
        self.link_edges = LinkEdgesTable(workdir) if cfg.record_link_graph else None
        if cfg.filter_traps:
            from sparkcrawl.sources.store import TrapRulesTable

            self.trap_rules = TrapRulesTable(workdir)
        else:
            self.trap_rules = None
        # DUST alias rewrites (operators/dust.py): a prior generation's
        # mined rules, compiled once into a codegen CASE chain applied
        # to every discovered link. Config-bounded collect at init.
        if cfg.dust_rules_file:
            from sparkcrawl.operators.dust import load_dust_rules

            self.dust_rules = load_dust_rules(
                spark, cfg.dust_rules_file,
                min_support=cfg.dust_min_support,
                max_rules=cfg.dust_max_rules,
            )
        else:
            self.dust_rules = []
        if cfg.fetch_robots:
            from sparkcrawl.sources.store import RobotsTable

            self.robots_table = RobotsTable(workdir)
        else:
            self.robots_table = None
        # F1 membership seam: bloom (default) or the deletion-capable
        # cuckoo store — same probe/update surface, chosen by config.
        # The attribute keeps its historical name; both stores satisfy
        # load()/update(), and only the cuckoo one has delete().
        if cfg.membership_kind == "cuckoo":
            from sparkcrawl.operators.cuckoo import CuckooStore

            store_cls = CuckooStore
        else:
            store_cls = BloomStore
        self.bloom_store = store_cls(
            workdir,
            depth=cfg.shard_prefix_depth,
            capacity_per_shard=cfg.bloom_capacity_per_shard,
            fpp=cfg.bloom_fpp,
        )
        # static robots: the per-host delays are one aggregate over a
        # table that never changes, so they are computed once per run
        self._delays = (
            crawl_delays(robots, cfg.user_agent).persist()
            if robots is not None else None
        )
        _warn_if_topk_limit_not_inferred(spark, cfg)
        # optional (host, ip) mapping for IP-keyed politeness; unmapped
        # hosts fall back to the deterministic synthetic IP inside
        # ip_politeness_slots, so the file is a refinement, not a gate
        self._host_ip = (
            spark.read.parquet(cfg.host_ip_file)
            if cfg.politeness_by_ip and cfg.host_ip_file else None
        )

    # -- S1: seed injection ------------------------------------------------
    def bootstrap(self, seeds: DataFrame) -> None:
        rows = frontier_rows_from_urls(
            seeds.select("url", "priority"),
            self.cfg,
            superstep=0,
            t0=self.cfg.t0,
            priority_col=F.col("priority"),
        )
        rows = batch_distinct(rows)
        if self.cfg.use_bloom_prefilter:
            # bloom BEFORE merge: superset invariant (see run_superstep)
            rows = rows.persist()
            self.bloom_store.update(
                rows.select("url_hash"), channel="bootstrap", superstep=0
            )
        merged, obs_seen = observe(rows)
        self.frontier.merge(merged, superstep=0, tag="bootstrap")
        self.checkpoints.commit(
            self.spark, 0, self.cfg.t0, f"frontier-v{self.frontier.store.version}",
            {"urls_seen": observed_count(obs_seen, rows), "fetched": 0,
             "discovered": 0},
            frontier_snapshot=self.frontier.store.snapshot(),
            queue_state_snapshot=(
                self.queue_state.store.snapshot()
                if self.queue_state is not None else None
            ),
        )
        rows.unpersist()

    # -- resume state --------------------------------------------------------
    def last_checkpoint(self) -> dict | None:
        return self.checkpoints.last()

    # -- S4 dispatch: injected fetcher > synthetic fixture > live HTTP -------
    def _dispatch_fetch(self, batch: DataFrame) -> DataFrame:
        """Built-in paths only need url+etag on the batch side; a custom
        ``fetcher`` must tolerate the minimal robots batch too when
        cfg.fetch_robots is on."""
        if self.fetcher is not None:
            return self.fetcher(batch)
        if self.web is not None:
            return synthetic_fetch(batch, self.web)
        from sparkcrawl.sources.fetch import http_fetch

        return http_fetch(batch, self.cfg)

    # -- one superstep -------------------------------------------------------
    def run_superstep(self, superstep: int, virtual_time: datetime,
                      as_of: list[dict] | None = None,
                      as_of_queue_state: list[dict] | None = None) -> SuperstepStats:
        """``as_of`` is the last checkpoint's frontier snapshot (delta
        list): every read inside the superstep time-travels to it, so a
        superstep replayed after a mid-step kill computes from the SAME
        state the killed attempt saw — not from its half-committed
        merges. With as_of=None (direct calls, benches) reads use the
        latest manifest, which is identical when no kill occurred."""
        cfg = self.cfg
        spark = self.spark
        frontier = self.frontier.read(spark, snapshot=as_of)
        if frontier is None:
            raise RuntimeError("frontier not bootstrapped")
        frontier = frontier.persist()

        # 1-3: ELIGIBLE -> SELECT -> POLITE (+ A2 carried remainder)
        carry_in = (
            self.queue_state.read(spark, snapshot=as_of_queue_state)
            if self.queue_state is not None
            else None
        )
        # live robots discovery (cfg.fetch_robots): rules + delays come
        # from the per-host-versioned RobotsTable instead of the static
        # robots argument; URLs on hosts with no rules yet are DEFERRED
        # one superstep while /robots.txt is fetched (below).
        deferred = None
        delays = self._delays
        gate_rules = self.robots
        if self.robots_table is not None:
            from sparkcrawl.schemas import ROBOTS_SCHEMA

            dyn = self.robots_table.read(spark)
            if dyn is not None and cfg.robots_ttl_supersteps > 0:
                # expired generations count as unknown: the host re-defers
                # and re-fetches; the fresher generation then supersedes
                dyn = dyn.filter(
                    F.col("fetched_superstep")
                    > superstep - cfg.robots_ttl_supersteps
                )
            if dyn is not None:
                gate_rules = dyn.select(*[f.name for f in ROBOTS_SCHEMA.fields])
                delays = crawl_delays(gate_rules, cfg.user_agent)
            else:
                gate_rules = None
                delays = None
        batch = select_fetch_batch(frontier, virtual_time, cfg, delays,
                                   carry_in, self._host_ip)
        if self.robots_table is not None:
            if gate_rules is not None:
                known_hosts = gate_rules.select("host").distinct()
                deferred = batch.join(
                    F.broadcast(known_hosts), "host", "left_anti"
                ).persist()
                batch = batch.join(F.broadcast(known_hosts), "host", "left_semi")
            else:  # first superstep: every host is unknown
                deferred = batch.persist()
                batch = batch.filter(F.lit(False))
        if gate_rules is not None:
            batch = robots_gate(batch, gate_rules, cfg.user_agent)
        else:
            batch = batch.withColumn("robots_allowed", F.lit(True))
        batch = batch.persist()

        # fetch+parse robots.txt for the deferred hosts; hosts whose
        # robots fetch fails or yields no rules get a marker rule so
        # they become known (robots.failure_markers — allow-all under
        # the parity default, RFC 9309 4xx-allow/5xx-deny under
        # cfg.robots_failure_policy='rfc9309'). Superstep-tagged
        # append: replay-safe.
        if deferred is not None:
            robots_batch = deferred.select("host").distinct().select(
                F.concat(F.lit("http://"), F.col("host"),
                         F.lit("/robots.txt")).alias("url"),
                F.col("host"),
                F.lit(None).cast("string").alias("etag"),
            )
            rfetched = self._dispatch_fetch(robots_batch).persist()
            from sparkcrawl.operators.robots import parse_robots_bodies

            parsed = parse_robots_bodies(
                rfetched.filter(
                    (F.col("status_code") == 200) & F.col("body").isNotNull()
                ).select("host", "body"),
                cfg.user_agent,
            ).persist()
            from sparkcrawl.operators.robots import failure_markers

            # cfg.robots_failure_policy: 'allow' = any failure is
            # allow-all (parity default); 'rfc9309' = 4xx allow-all,
            # 5xx/transport-error DENY-all until the TTL generation
            # expires (RFC 9309 §2.3.1 unreachable semantics).
            markers = failure_markers(
                rfetched, parsed, cfg.robots_failure_policy
            )
            self.robots_table.append(
                parsed.unionByName(markers).withColumn(
                    "fetched_superstep", F.lit(superstep)
                ),
                superstep,
            )
            rfetched.unpersist()
            parsed.unpersist()
        allowed = batch.filter(F.col("robots_allowed"))
        denied = batch.filter(~F.col("robots_allowed"))

        # 4-5: FETCH -> EXTRACT
        fetch_cols = [
            "url", "url_hash", "host", "registered_domain", "queue", "etag",
            "mod_date", "next_date", "priority", "error_count", "state",
            "discovered_superstep", "slot",
        ]
        batch_to_fetch = allowed.select(*fetch_cols)
        fetched = self._dispatch_fetch(batch_to_fetch)
        if cfg.warc_archive_dir:
            # archive-while-crawling: WARC shards per superstep, written
            # BEFORE extraction consumes the bodies. fetched is persisted
            # so the archive action and the extractor share one fetch
            # (never re-fetch); the superstep-tagged dir makes a killed
            # superstep's replay an overwrite, not a duplicate (T5).
            import os as _os

            from sparkcrawl.sources.warc import write_warc

            fetched = fetched.persist()
            write_warc(
                fetched.withColumn("fetched_at", F.lit(virtual_time)),
                _os.path.join(cfg.warc_archive_dir,
                              f"superstep={superstep:06d}"),
                compress=True,
            ).collect()
        extracted = extract_links_and_spans(fetched, cfg)
        if cfg.extractor_pipeline:  # X1: import-path-configured stages
            from sparkcrawl.functions.import_util import apply_pipeline

            extracted = apply_pipeline(extracted, cfg, cfg.extractor_pipeline)
        extracted = extracted.persist()
        docs = documents_from_fetch(extracted)
        if cfg.dedup_documents:
            docs = self._dedup_documents(spark, docs, superstep)
        self.documents.append(docs, superstep)
        if cfg.warc_archive_dir:
            # documents.append materialized extracted's cache; the raw
            # fetch rows (bodies) are no longer referenced
            fetched.unpersist()

        # S6/A3: ordered fetch log — same total order (slot, host,
        # url_hash), de-serialized: per-slot partitioned rank + config-
        # bounded base offsets (see ranked_in_total_order).
        from sparkcrawl.operators.prioritize import outcome_class
        from sparkcrawl.operators.schedule import ranked_in_total_order

        log_df = (
            ranked_in_total_order(spark, batch)
            .filter(F.col("robots_allowed"))
            .select("url_hash", "url", "rank", "slot")
            .join(extracted.select("url_hash", "status_code"), "url_hash", "left")
            .select(
                F.lit(superstep).alias("superstep"),
                "rank",
                "slot",
                "url",
                "url_hash",
                "status_code",
                outcome_class(F.col("status_code")).alias("outcome"),
            )
        )
        # one log row per robots-allowed batch row: the fetched counter
        log_df, obs_fetched = observe(log_df)
        self.fetch_log.append(log_df, superstep)

        # 6: discovered links, already canonical (extractor resolves + canonicalizes)
        links = (
            extracted.select(
                F.col("url_hash").alias("src_url_hash"),
                F.col("slot"),
                F.explode_outer("links").alias("url"),
            )
            .filter(F.col("url").isNotNull())
            .filter(in_scope(F.col("url"), cfg.scope_positive, cfg.scope_negative))
        )
        if self.dust_rules:
            # pre-fetch alias collapse: pure codegen rewrite, zero
            # shuffle, multiplicity preserved (link-graph counts and
            # parity goldens unaffected when the feature is off)
            from sparkcrawl.operators.dust import dust_rewrite_column

            links = links.withColumn(
                "url", dust_rewrite_column(F.col("url"), self.dust_rules)
            )
        if self.dust_rules or cfg.extractor_pipeline:
            # opt-in rewriters (a DUST substring rewrite, a pipeline
            # stage) need not keep a link canonical: canonicalize once
            # more here, before the keys are taken
            links = with_canonical_host(links).filter(F.col("url").isNotNull())
            host = F.col("host")
        else:
            host = host_of_canonical_col(F.col("url"))
        if self.trap_rules is not None:
            # trap gate: codegen shape filter + broadcast anti-join
            # against templates published by plans/traps.py
            from sparkcrawl.operators.traps import filter_trap_candidates

            links = filter_trap_candidates(
                links, cfg, self.trap_rules.read(spark)
            )
        # canonicalized ONCE: these keys are both the dedup key and the
        # stored frontier row (new_rows below is a projection), so a URL
        # can never dedup under one hash and land under another
        candidates = with_frontier_keys(links.withColumn("host", host), cfg)

        if self.link_edges is not None:
            # host->host edges for the offline PageRank refresh
            # (plans/rank.py): aggregated BEFORE writing — one row per
            # (src_host, dst_host) pair per superstep, never per link.
            # Reads the persisted extracted/batch caches; superstep-
            # tagged append keeps kill/replay exact (T5).
            edges = (
                candidates.select("src_url_hash", F.col("host").alias("dst_host"))
                .join(
                    batch.select(
                        F.col("url_hash").alias("src_url_hash"),
                        F.col("host").alias("src_host"),
                    ),
                    "src_url_hash",
                )
                .groupBy("src_host", "dst_host")
                .agg(F.count("*").alias("n_links"))
                .withColumn("superstep", F.lit(superstep))
            )
            self.link_edges.append(edges, superstep)

        # 7: DEDUP — batch distinct, optional persisted bloom prefilter
        # (loaded, not rebuilt: O(new) per superstep, M4), authoritative
        # anti-join against the keys of the persisted start-of-superstep
        # frontier (the as_of snapshot, one row per url_hash). The merge
        # is the only reader of both results unless the prefilter is on
        # (it reads the candidates twice and the new rows once more).
        # The discovered counter sits on the anti-join's input, not on a
        # written branch: it reports unless the candidates are empty and
        # AQE drops the join, and is then counted with an action.
        distinct_cands, obs_discovered = observe(batch_distinct(candidates))
        seen = frontier.select("url_hash")
        bloom = None
        if cfg.use_bloom_prefilter:
            distinct_cands = distinct_cands.persist()
            bloom = self.bloom_store.load()
            if bloom is None:
                # bloom blob lost but frontier has state: an incremental
                # restart would violate the superset invariant (stale
                # bloom re-admits seen URLs) — rebuild once from the
                # authoritative key set.
                bloom = self.bloom_store.update(seen, channel="rebuild")
        new_rows = new_frontier_rows(
            filter_unseen(distinct_cands, seen, cfg, bloom),
            superstep=superstep,
            t0=virtual_time + timedelta(seconds=cfg.tick_seconds),
        )
        if cfg.use_bloom_prefilter:
            new_rows = new_rows.persist()

        # 8: PRIORITIZE requeues
        requeued = apply_outcomes(fetched_to_outcomes(extracted), virtual_time, cfg)
        denied_rows = denied.select(
            "url", "url_hash", "host", "registered_domain", "queue", "etag",
            "mod_date", "next_date", "priority", "error_count",
        ).withColumn("state", F.lit("gone")).select(
            "url", "url_hash", "host", "registered_domain", "queue", "etag",
            "mod_date", "next_date", "priority", "error_count", "state",
        ).join(
            batch.select("url_hash", "discovered_superstep"),
            "url_hash",
        ).select(*[f.name for f in new_rows.schema.fields])

        # 9: MERGE (U1 + J3); the denied and new counters are observed on
        # their union branches of this write
        denied_rows, obs_denied = observe(denied_rows)
        new_branch, obs_new = observe(new_rows)
        updates = requeued.unionByName(denied_rows).unionByName(new_branch)
        if deferred is not None:
            # robots-unknown hosts: requeue untouched for the NEXT tick —
            # their rules were fetched above, so the next superstep gates
            # and fetches them normally
            deferred_rows = (
                deferred.withColumn(
                    "next_date",
                    F.timestamp_add(
                        "SECOND", F.lit(int(cfg.tick_seconds)), F.lit(virtual_time)
                    ),
                )
                .withColumn("state", F.lit("pending"))
                .select(*[f.name for f in new_rows.schema.fields])
            )
            updates = updates.unionByName(deferred_rows)
        if cfg.use_bloom_prefilter:
            # BEFORE the frontier commit — the bloom must always be a
            # SUPERSET of frontier keys: bloom-unseen rows bypass the
            # anti-join as definitely-new, so a bloom missing committed
            # rows would re-admit them (dedup violation). A kill between
            # bloom update and merge leaves extra hashes in the bloom,
            # which only costs anti-join probes (tests/test_membership.py).
            self.bloom_store.update(
                new_rows.select("url_hash"), channel="superstep", superstep=superstep
            )
        snapshot_id = self.frontier.merge(
            updates, superstep, tag=f"superstep-{superstep}"
        )
        if (
            cfg.use_bloom_prefilter
            and cfg.retire_gone_urls
            and hasattr(self.bloom_store, "delete")
        ):
            # Cuckoo-only: retire this superstep's gone URLs — robots-
            # denied AND outcome-gone (404 / retries exhausted, T4) — so
            # their prefilter slots recycle. AFTER the frontier commit
            # (a kill in between replays the merge tagged, then deletes
            # once — CuckooStore's superstep tag makes the delete
            # idempotent, which matters: replaying a delete could remove
            # a colliding live key's fingerprint copy). Semantics: a
            # re-discovered gone URL re-enters the frontier once and is
            # re-resolved — robots-denied rows are re-gated (never
            # fetched); a 404 re-fetch re-resolves to gone with no
            # document rows (extraction_finished short-circuits).
            gone_keys = denied.select("url_hash").unionByName(
                requeued.filter(F.col("state") == "gone").select("url_hash")
            )
            self.bloom_store.delete(gone_keys, superstep=superstep)
        if self.queue_state is not None:
            # A2 carry bookkeeping: all three inputs are queue-cardinality
            from sparkcrawl.operators.schedule import eligible, update_queue_state

            elig_counts = (
                eligible(frontier, virtual_time)
                .groupBy("queue").agg(F.count("*").alias("pending"))
            )
            taken = batch.groupBy("queue").agg(F.count("*").alias("taken"))
            self.queue_state.merge(
                update_queue_state(elig_counts, taken, carry_in, cfg), superstep
            )
        totals = None
        if cfg.compact_every and superstep % cfg.compact_every == 0:
            totals = self.frontier.compact(spark)
        if cfg.vacuum_every and superstep % cfg.vacuum_every == 0:
            # storage maintenance AFTER compaction, BEFORE this superstep's
            # checkpoint: the previous checkpoint's pinned snapshot survives
            # (vacuum_workdir excludes it), the current manifests are kept
            # by definition — so a kill at any point still replays exactly.
            from sparkcrawl.sources.store import vacuum_workdir

            vacuum_workdir(self.workdir)

        # 10: CHECKPOINT + counters (A3), all observed on the writes above
        # (functions/observe.py); an observation that did not report is
        # counted with an action instead.
        fetched_count = observed_count(obs_fetched, allowed)
        denied_count = observed_count(obs_denied, denied)
        discovered = observed_count(obs_discovered, distinct_cands)
        new_count = observed_count(obs_new, new_rows)
        if totals is None:
            # no compaction this superstep: ONE scan of the merged frontier
            # for seen total, pending count and the virtual-clock minimum —
            # at 10^10 rows each extra full-table action is a
            # superstep-dominating cost, so they share a single aggregation
            totals = self.frontier.read(spark).agg(*frontier_totals()).collect()[0]
        seen_total = totals["total"]
        pending_after = totals["pending"] or 0
        next_time = self._advance_clock_from(totals["min_next"], virtual_time)
        self.checkpoints.commit(
            spark, superstep, next_time, snapshot_id,
            {"urls_seen": seen_total, "fetched": fetched_count, "discovered": discovered},
            frontier_snapshot=self.frontier.store.snapshot(),
            queue_state_snapshot=(
                self.queue_state.store.snapshot()
                if self.queue_state is not None else None
            ),
        )
        for df in (frontier, batch, extracted, distinct_cands, new_rows):
            df.unpersist()
        if deferred is not None:
            deferred.unpersist()
        return SuperstepStats(
            superstep, virtual_time, fetched_count + denied_count,
            fetched_count, denied_count, discovered, new_count, pending_after,
            seen_total,
        )

    # -- T1: virtual clock ---------------------------------------------------
    def _dedup_documents(
        self, spark, docs: DataFrame, superstep: int
    ) -> DataFrame:
        """Content-seen dedup — the exact-dedup operator composed into
        the crawl (cfg.dedup_documents). Mirrors and URL aliases fetch
        byte-identical pages under different URLs; at 10^10 scale
        storing each copy multiplies the corpus for zero value.

        Content key = md5 over the canonical JSON of the span sequence
        (the same (kind,text,media_ref,offset) tuples the parity
        surface pins — two docs are "the same content" iff their
        interleaved spans are equal). Batch-level first-wins is a
        min_by hash aggregation (map-side combine, no window; same
        family as operators/dedup.py batch_distinct). Cross-superstep
        seen-ness is an anti-join against the content_hash COLUMN
        persisted on the documents table itself — one column scan of
        the corpus, never a recompute of old spans; the same O(seen)
        anti-join shape the URL dedup already pays. Replay-safe: the
        prior-hash read EXCLUDES this superstep's tagged delta, so a
        replayed superstep reproduces the same survivor set and
        replace-on-append swaps its delta (T5)."""
        hashed = docs.withColumn("content_hash", F.md5(F.to_json("spans")))
        first = (
            hashed.groupBy("content_hash")
            .agg(
                F.min_by(
                    F.struct("doc_id", "spans"), F.col("doc_id")
                ).alias("_d")
            )
            .select(
                F.col("_d.doc_id").alias("doc_id"),
                F.col("_d.spans").alias("spans"),
                "content_hash",
            )
        )
        prior = self.documents.content_hashes(
            spark, exclude_superstep=superstep
        )
        if prior is not None:
            first = first.join(prior, "content_hash", "left_anti")
        return first

    def _advance_clock_from(self, min_pending_next, virtual_time: datetime) -> datetime:
        tick = timedelta(seconds=self.cfg.tick_seconds)
        floor = virtual_time + tick
        if min_pending_next is None:
            return floor
        m = min_pending_next
        if m.tzinfo is None:
            m = m.replace(tzinfo=timezone.utc)
        return max(floor, m)

    # -- full runs -------------------------------------------------------------
    def run(self, seeds: DataFrame, max_supersteps: int = 10) -> list[SuperstepStats]:
        self.bootstrap(seeds)
        return self.resume(max_supersteps)

    # -- S7: management/control channel --------------------------------------
    # The reference exposes a ZMQ mgmt socket (stop / add seeds to a live
    # master). The batch-iterative analog is a control FILE in the
    # workdir, polled between supersteps: atomic-rename-written JSON
    #   {"stop": true}  and/or  {"add_seeds": [{"url":..., "priority":...}]}
    # consumed exactly once (renamed to .consumed-<superstep> after read).
    def _poll_control(self, superstep: int) -> dict:
        import json
        import os

        path = os.path.join(self.workdir, "control.json")
        if not os.path.exists(path):
            return {}
        try:
            with open(path) as f:
                cmd = json.load(f)
        except (OSError, ValueError):
            return {}
        # Effect FIRST, consume SECOND (r2 ADVICE): renaming before the
        # seed merge loses the seeds if we crash in between — the file
        # is consumed but its effect never committed. The reverse order
        # is crash-safe because re-applying on replay is idempotent
        # (the seen-keys anti-join drops already-merged seeds).
        seeds = cmd.get("add_seeds")
        if seeds:
            from sparkcrawl.schemas import SEEDS_SCHEMA

            rows = [(s["url"], int(s.get("priority", 1))) for s in seeds]
            df = self.spark.createDataFrame(rows, SEEDS_SCHEMA)
            frows = frontier_rows_from_urls(
                df, self.cfg, superstep=superstep, t0=self.cfg.t0,
                priority_col=F.col("priority"),
            )
            frows = batch_distinct(frows)
            seen = self.frontier.seen_keys(self.spark)
            if seen is not None:
                frows = frows.join(seen, "url_hash", "left_anti")
            if self.cfg.use_bloom_prefilter:
                frows = frows.persist()
                self.bloom_store.update(
                    frows.select("url_hash"), channel="control", superstep=superstep
                )
            self.frontier.merge(frows, superstep)
        os.replace(path, f"{path}.consumed-{superstep}")
        return cmd

    def resume(self, max_supersteps: int = 10) -> list[SuperstepStats]:
        """Continue from the last committed checkpoint (north_rule
        resumability: identical URL-seen set after kill/resume)."""
        ckpt = self.last_checkpoint()
        if ckpt is None:
            raise RuntimeError("nothing to resume: bootstrap first")
        superstep = ckpt["superstep"]
        t = ckpt["virtual_time"]
        if t.tzinfo is None:
            t = t.replace(tzinfo=timezone.utc)
        stats: list[SuperstepStats] = []
        for _ in range(max_supersteps):
            superstep += 1
            cmd = self._poll_control(superstep)
            if cmd.get("stop"):
                break
            if cmd.get("add_seeds"):
                # the control merge invalidates the pinned snapshot —
                # re-pin so this superstep sees the injected seeds
                ckpt = dict(ckpt)
                ckpt["frontier_snapshot"] = self.frontier.store.snapshot()
            st = self.run_superstep(
                superstep, t,
                as_of=ckpt.get("frontier_snapshot"),
                as_of_queue_state=ckpt.get("queue_state_snapshot"),
            )
            stats.append(st)
            ckpt = self.last_checkpoint()
            t = ckpt["virtual_time"]
            if t.tzinfo is None:
                t = t.replace(tzinfo=timezone.utc)
            if st.batch_size == 0 and st.pending_after == 0:
                break
        return stats


def fetched_to_outcomes(extracted: DataFrame) -> DataFrame:
    """Project the columns apply_outcomes needs from the extract output."""
    return extracted.select(
        "url", "url_hash", "host", "registered_domain", "queue", "etag",
        "mod_date", "next_date", "priority", "error_count", "state",
        "discovered_superstep",
        "status_code", "rep_etag", "rep_last_modified",
    )
