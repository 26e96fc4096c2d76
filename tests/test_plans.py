"""Physical-plan quality gates (SURVEY §4): the optimizations we rely on
at 100 TB must be visible in .explain() output, or they silently rot.
"""

import contextlib
import io
import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


def test_eligibility_filter_pushed_to_scan(spark, queries):
    """F6: the eligibility predicate must reach the parquet scan —
    partition/min-max pruning depends on it at 10^10-row scale."""
    p = plan_of(queries["f6_eligibility"](spark, SF))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p).group(1)
    assert "LessThanOrEqual(ts" in pushed
    assert "EqualTo(event_type,view)" in pushed


def test_column_pruning_reaches_scan(spark, queries):
    """Projection must prune the scan schema (don't read 6 columns for 2)."""
    p = plan_of(queries["f6_eligibility"](spark, SF))
    schema = re.search(r"ReadSchema: ([^\n]*)", p).group(1)
    assert "value" not in schema and "props" not in schema and "user_id" not in schema


def test_small_dim_join_is_broadcast(spark, queries):
    """J2: nation x region must be a broadcast hash join, never a shuffle."""
    p = plan_of(queries["j2_broadcast_lookup"](spark, SF), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def _rank_limit_around_one_exchange(p):
    """The per-queue top-k plan shape: one hash exchange, a Partial
    WindowGroupLimit below it (map-side) and a Final one above it."""
    lines = p.splitlines()
    exch = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    partial = [i for i, ln in enumerate(lines)
               if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")]
    final = [i for i, ln in enumerate(lines)
             if "WindowGroupLimit" in ln and ln.rstrip().endswith("Final")]
    assert len(exch) == len(partial) == len(final) == 1, p
    assert final[0] < exch[0] < partial[0], p  # plan text prints top-down


def test_topk_gets_rank_limit_pushdown(spark, queries):
    """W1/W2: Catalyst must apply WindowGroupLimit (partial + final) to
    the per-queue top-k — without it every row of a hot queue is sorted
    and shuffled. With a carried budget the per-queue k is a column, and
    the literal heap_size bound in the filter still yields the limit."""
    from pyspark.sql import functions as F

    from sparkcrawl.config import CrawlConfig
    from sparkcrawl.operators.schedule import per_queue_topk

    _rank_limit_around_one_exchange(
        plan_of(queries["crawl_schedule_flagship"](spark, SF), "simple"))
    cfg = CrawlConfig(num_queues=entry_mod.NQ, per_queue_budget=entry_mod.TOPK,
                      heap_size=2 * entry_mod.TOPK)
    frontier = entry_mod._synthetic_frontier(spark, SF)
    carry = spark.range(entry_mod.NQ).select(
        F.col("id").alias("queue"), F.lit(3).alias("carry"))
    p = plan_of(per_queue_topk(frontier, cfg, entry_mod.TOPK, carry), "simple")
    _rank_limit_around_one_exchange(p)
    assert f"row_number(), {2 * entry_mod.TOPK}, Partial" in p, p


def test_flagship_exchange_budget(spark, queries):
    """The schedule pipeline needs exactly 1 shuffle, on queue: the
    politeness window is keyed on (queue, host) and host determines
    queue. More means a regression in operator composition."""
    p = plan_of(queries["crawl_schedule_flagship"](spark, SF), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_anti_join_stays_join_not_loop(spark, queries):
    p = plan_of(queries["j1_anti_join_dedup"](spark, SF), "simple")
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_batch_distinct_is_hash_agg_with_partial(spark):
    """U2: batch distinct must be a hash aggregation with map-side
    partial combine, not a window sort."""
    from sparkcrawl.operators.dedup import batch_distinct

    df = spark.range(100).selectExpr(
        "cast(id % 7 as string) as url_hash", "cast(id as string) as url", "id as slot"
    )
    p = plan_of(batch_distinct(df), "simple")
    # struct-typed min_by buffers aren't hash-aggregable in Spark — the
    # plan is a SortAggregate, but the invariants that matter at scale
    # hold: map-side partial combine, sort only on the group key, and
    # no Window (which would sort the full order key per partition).
    assert "partial_min_by" in p
    assert "Window" not in p


def test_exact_dedup_is_agg_not_window(spark, queries):
    """exact_dedup must be a min_by hash-family aggregate (map-side
    partial combine), not a row_number window that sorts every md5
    partition."""
    p = plan_of(queries["dedup_exact"](spark, SF), "simple")
    assert "partial_min_by" in p
    assert "Window" not in p


def test_simhash_is_single_pass(spark, queries):
    """simhash must shuffle once on id with 32 conditional sums — not
    explode 32 bit-position rows per token (32x shuffle amplification)."""
    p = plan_of(queries["dedup_simhash"](spark, SF), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert p.count("Generate explode") == 1  # the token split only


def test_no_python_udf_in_relational_ops(spark, queries):
    """The relational operator suite must stay JVM-side (BatchEvalPython
    = row-at-a-time python; ArrowEvalPython is allowed only in the
    explicitly-python stages like canonicalize/extract)."""
    for name in ("w1_w2_schedule_topk", "a1_group_counts", "c8_prioritizer_requeue",
                 "dedup_exact", "dedup_simhash", "simsearch_bruteforce_topk"):
        p = plan_of(queries[name](spark, SF), "simple")
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_robots_gate_is_agg_not_window(spark, queries):
    """R2: winner-per-URL is an argmax -> max_by agg with map-side
    partial combine; a window would open one sort partition per URL."""
    p = plan_of(queries["r2_robots_gate"](spark, SF), "simple")
    assert "Window" not in p
    assert "partial_max_by" in p


def test_robots_wildcard_gate_plan(spark, queries):
    """RFC 9309 pattern rules must not change the gate's shape: still a
    broadcast rules join + max_by agg, no Window, no Python (the regex
    rewrite is Catalyst regexp_replace on the rules side)."""
    p = plan_of(queries["r2_robots_wildcard"](spark, SF), "simple")
    assert "Window" not in p
    assert "partial_max_by" in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_ivf_assign_is_agg_not_window(spark):
    """IVF nprobe=1 cell assignment is an argmax -> max_by agg; the
    rank-limit window is allowed only in ivf_assign_topn (nprobe>1)."""
    from pyspark.sql import functions as F

    from sparkcrawl.operators.simsearch import ivf_assign

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.expr("array(cast(id as float), cast(id + 1 as float))").alias("embedding"),
    )
    cents = spark.range(4).select(
        F.col("id").alias("centroid_id"),
        F.expr("array(cast(id as double), 1.0)").alias("c_vec"),
    )
    p = plan_of(ivf_assign(emb, cents), "simple")
    assert "Window" not in p
    assert "partial_max_by" in p


def test_frontier_rows_single_arrow_eval(spark):
    """The engine's link hot path (frontier_rows_from_urls) must show
    exactly ONE ArrowEvalPython — the NULL-gated slow lane of the
    hybrid canonicalizer — and zero row-at-a-time BatchEvalPython.
    Two Arrow nodes would mean the fused canon+host UDF regressed into
    chained UDFs (two Arrow round-trips per discovered link)."""
    from datetime import datetime

    from sparkcrawl.config import CrawlConfig
    from sparkcrawl.plans.superstep import frontier_rows_from_urls

    urls = spark.createDataFrame(
        [("http://h.example/a",), ("http://H.Example/b;jsessionid=1#f",)],
        ["url"],
    )
    rows = frontier_rows_from_urls(
        urls, CrawlConfig(num_queues=4), superstep=0,
        t0=datetime(2026, 1, 1),
    )
    p = plan_of(rows, "simple")
    assert p.count("ArrowEvalPython") == 1, p
    assert "BatchEvalPython" not in p, p


# Spark jobs per superstep on mini_cfg with compact_every=1, measured
# once discovered links stopped being re-canonicalized, the prefilter
# went opt-in and the no-op actions were dropped (53 before those cuts),
# once frontier deltas were written flat (44 with the per-queue hive
# layout and its empty-delta check), then once CHECKPOINT took its
# counters from observations, committed its row into the manifest and
# deltas were read with their recorded schemas (42 before), then once
# the fetch batch shuffled only on queue, the fetch log stopped
# re-joining the batch for its url and the static crawl delays were
# computed once per run (25 before).
SUPERSTEP_JOB_BUDGET = 20


def _jobs_per_superstep(spark, run, n):
    """Run ``n`` supersteps one at a time; their SuperstepStats and the
    Spark jobs each launched (statusTracker job groups)."""
    import uuid

    sc = spark.sparkContext
    stats, jobs = [], []
    try:
        for _ in range(n):
            group = f"test-superstep-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "superstep job count")
            stats += run.resume(max_supersteps=1)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return stats, jobs


def test_superstep_link_path_and_job_budget(spark, mini_cfg, mini_web,
                                             tmp_path, monkeypatch):
    """Discovered links are canonicalized once, in the extractor: the
    rows merged as new frontier entries are a projection of the dedup
    candidates, so their plan holds no canonicalize UDF and no other
    Arrow-evaluated Python lane (the host column is pure JVM). And the job
    count per superstep (statusTracker job groups) is flat once
    compaction runs every superstep, at or under the recorded budget,
    with every SuperstepStats field equal to the sequential reference's
    (each superstep's totals observed on its compaction)."""
    import dataclasses

    import sparkcrawl.plans.superstep as sup
    from tests.reference_sim import SeqCrawler, engine_stats

    built = []
    real = sup.new_frontier_rows

    def capture(*a, **kw):
        built.append(real(*a, **kw))
        return built[-1]

    cfg = dataclasses.replace(mini_cfg, compact_every=1)
    run = sup.CrawlRun(spark, str(tmp_path), cfg, mini_web["web"],
                       mini_web["robots"])
    run.bootstrap(mini_web["seeds"])  # seeds are raw: canonicalized here
    monkeypatch.setattr(sup, "new_frontier_rows", capture)
    stats, jobs = _jobs_per_superstep(spark, run, 4)

    assert len(built) == 4
    for rows in built:
        p = plan_of(rows, "extended")
        assert "canonicalize_with_host" not in p, p
        assert "ArrowEvalPython" not in p, p  # no Python lane on the link path
    assert len(set(jobs[1:])) == 1, jobs  # supersteps 2-4
    assert max(jobs[1:]) <= SUPERSTEP_JOB_BUDGET, jobs
    sim = SeqCrawler(cfg, mini_web["web_pdf"], mini_web["robots_pdf"])
    sim.run(mini_web["seeds_pdf"], max_supersteps=4)
    assert engine_stats(stats) == sim.superstep_stats


def _outside_cached(p):
    """Plan text without the subtrees under InMemoryRelation: a persisted
    input's own plan, which runs when the cache fills, not per query."""
    out, cached_at = [], None
    for ln in p.splitlines():
        depth = len(ln) - len(ln.lstrip(" :+-"))
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if "InMemoryRelation" in ln else None
        out.append(ln)
    return "\n".join(out)


def test_superstep_fetch_batch_shuffles_once(spark, mini_cfg, mini_web,
                                             tmp_path, monkeypatch):
    """ELIGIBLE -> SELECT -> POLITE -> GATE of a real superstep (static
    robots, compacted frontier) is one hash exchange, on queue: the
    top-k's partitioning serves the politeness window on (queue, host)
    and the gate's aggregate on (queue, url_hash). The plan is taken
    inside the superstep, with the frontier and the crawl delays
    persisted as the superstep holds them."""
    import dataclasses

    import sparkcrawl.plans.superstep as sup

    plans = []
    real = sup.robots_gate

    def capture(*a, **kw):
        gated = real(*a, **kw)
        plans.append(_outside_cached(plan_of(gated, "simple")))
        return gated

    cfg = dataclasses.replace(mini_cfg, compact_every=1)
    run = sup.CrawlRun(spark, str(tmp_path), cfg, mini_web["web"],
                       mini_web["robots"])
    run.bootstrap(mini_web["seeds"])
    run.resume(max_supersteps=1)  # compacts: superstep 2 reads one delta
    monkeypatch.setattr(sup, "robots_gate", capture)
    run.resume(max_supersteps=1)
    assert len(plans) == 1
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plans[0])
    assert keys == ["queue"], plans[0]
    assert "InMemoryRelation" in plans[0]  # frontier and delays are cached


# SuperstepStats of the crawl below as recorded from the engine version
# whose CHECKPOINT counted with Spark actions: (superstep, batch_size,
# fetched, denied, discovered, new_urls, pending_after, seen_total); the
# virtual clock advances one tick per superstep from T0. Superstep 1
# only fetches robots.txt (every host is unknown), so its batch is empty.
ROBOTS_DEDUP_CARRY_STATS = [
    (1, 0, 0, 0, 0, 0, 10, 10),
    (2, 7, 7, 0, 12, 10, 20, 20),
    (3, 10, 10, 0, 18, 15, 34, 35),
    (4, 6, 6, 0, 13, 7, 40, 42),
    (5, 16, 16, 0, 33, 13, 53, 55),
]


def test_superstep_jobs_flat_as_tables_grow(spark, mini_cfg, mini_web,
                                             tmp_path):
    """Tables that never compact gain one delta per superstep (robots
    rules, documents with content hashes, queue state), and the frontier
    gains one between compactions (compact_every=4). Deltas are read with
    the schema their manifest entry recorded, so reading more of them
    launches no more jobs: superstep 5 reads three more deltas of every
    never-compacted table than superstep 2 and launches no more jobs
    (its frontier is a lone compacted delta, which skips the keep-latest
    window), and supersteps 2-5 stay within two jobs of each other (a
    superstep now and then launches one job more, as AQE plans it). The
    counters equal the recorded ones, superstep 4's observed on its
    compaction."""
    import dataclasses
    from datetime import timedelta

    from sparkcrawl.plans.superstep import CrawlRun

    cfg = dataclasses.replace(
        mini_cfg, compact_every=4, fetch_robots=True, dedup_documents=True,
        budget_carry=True, active_queues=2,
    )
    run = CrawlRun(spark, str(tmp_path), cfg, mini_web["web"],
                   mini_web["robots"])
    run.bootstrap(mini_web["seeds"])
    stats, jobs = _jobs_per_superstep(spark, run, 5)

    assert jobs[4] <= jobs[1], jobs
    assert max(jobs[1:]) - min(jobs[1:]) <= 2, jobs
    assert [
        (st.superstep, st.batch_size, st.fetched, st.denied, st.discovered,
         st.new_urls, st.pending_after, st.seen_total) for st in stats
    ] == ROBOTS_DEDUP_CARRY_STATS
    assert [st.virtual_time for st in stats] == [
        cfg.t0 + timedelta(seconds=i) for i in range(5)
    ]


def test_minhash_signatures_single_pass(spark):
    """Signatures must be ONE hash aggregation over the shingle rows
    (wide per-perm min columns + stack), never a perms-x-shingles row
    explosion: exactly one Exchange below the unpivot, no second
    explode after the shingle generate."""
    from sparkcrawl.operators import textops

    docs = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])
    p = plan_of(textops.minhash_signatures(docs, num_perms=8), "simple")
    assert p.count("Exchange") == 1, p
    assert p.count("Generate explode") == 1, p  # shingles only, not perms


@pytest.mark.parametrize("rows_per_band,max_bucket_size",
                         [(1, None), (4, 100)])
def test_minhash_lsh_pairs_built_inside_buckets(spark, rows_per_band,
                                                max_bucket_size):
    """LSH pairs come from each (band, key) bucket's own id list: no
    join keyed on the band key, neither a self-join nor a bucket-cap
    join back."""
    from sparkcrawl.operators import textops

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the mat")],
        ["doc_id", "text"])
    p = plan_of(textops.minhash_lsh_pairs(
        docs, num_perms=8, rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size), "simple")
    keyed = [ln for ln in p.splitlines()
             if "Join" in ln and re.search(r"\bperm#\d+", ln)
             and re.search(r"\bsig#\d+", ln)]
    assert not keyed, p


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def test_verify_prunes_docs_before_shingling(spark):
    """verify_jaccard_pairs semi-joins the documents to the candidate
    ids first and shingles only the survivors: the shingle-array
    Generate sits above every LeftSemi join, never inside its subtree."""
    from sparkcrawl.operators import textops

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat on the mat"),
         (3, "a dog ran far away")], ["doc_id", "text"])
    cand = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    lines = plan_of(textops.verify_jaccard_pairs(cand, docs, n=5),
                    "simple").splitlines()
    p = "\n".join(lines)
    semis = [i for i, ln in enumerate(lines) if "LeftSemi" in ln]
    assert semis and any("sh_arr" in ln and "Generate" in ln
                         for ln in lines), p
    for i in semis:
        d = _depth(lines[i])
        for ln in lines[i + 1:]:
            if _depth(ln) <= d:
                break
            assert not ("Generate" in ln and "sh_arr" in ln), p


def test_decontamination_no_cartesian(spark, queries):
    """Bipartite shingle equi-join must never degrade to a cross
    product (the whole point vs all-pairs comparison)."""
    p = plan_of(queries["decontaminate_eval_overlap"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_curation_pipeline_stays_relational(spark, queries):
    """The curation composition: no Python eval anywhere, and the
    dedup stage is a hash agg, not a window sort."""
    p = plan_of(queries["corpus_curation_pipeline"](spark, SF), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p


def test_freshness_oracle_query_single_window_exchange(spark, queries):
    """change_intervals' lag window and change_rates' groupBy share the
    url_hash partitioning — the whole estimate is ONE shuffle."""
    p = plan_of(queries["freshness_revisit_schedule"](spark, SF), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_surt_urlkey_is_pure_codegen(spark, queries):
    """SURT urlkeys must never leave the JVM: no Python eval, and the
    ONLY exchange is the deliberate input fan (_fan: single-row-group
    test files give one-task scans, so the query spreads the narrow
    key columns before the urlkey projection) — the urlkey computation
    itself stays a pure projection."""
    p = plan_of(queries["cdx_urlkey"](spark, SF), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange") == 1, p


def test_revisit_marks_is_agg_join_not_window(spark, queries):
    """mark_revisits: one hash agg (partial+final) + equi-join; a
    window over (url, digest) would sort 10^10 captures."""
    p = plan_of(queries["warc_revisit_marks"](spark, SF), "simple")
    assert "Window" not in p
    assert "HashAggregate" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_fetch_log_rank_window_is_partitioned(spark):
    """S6/A3 total-order rank (plans/superstep.py) must never move the
    batch to one task: every Window in ranked_in_total_order's plan
    carries a partition spec (three bracket groups in the plan line —
    an unpartitioned Window prints only [exprs], [order])."""
    from pyspark.sql import functions as F

    from sparkcrawl.operators.schedule import ranked_in_total_order

    batch = spark.range(100).select(
        (F.col("id") % 7).cast("int").alias("slot"),
        F.concat(F.lit("h"), (F.col("id") % 13).cast("string")).alias("host"),
        F.md5(F.col("id").cast("string")).alias("url_hash"),
    )
    ranked = ranked_in_total_order(spark, batch)
    p = plan_of(ranked, "simple")
    win_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert win_lines, "expected a Window operator"
    for ln in win_lines:
        assert ln.count("], [") >= 2, f"unpartitioned Window: {ln.strip()[:160]}"
    # and the dense total order is intact: rank == global (slot, host, url_hash) order
    rows = ranked.orderBy("rank").collect()
    expect = sorted(rows, key=lambda r: (r["slot"], r["host"], r["url_hash"]))
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    assert [(r["slot"], r["host"], r["url_hash"]) for r in rows] == [
        (r["slot"], r["host"], r["url_hash"]) for r in expect
    ]


def test_hashed_bow_classifier_plan(spark, queries):
    """Classifier scoring must stay JVM-side: hash aggs (map-side
    combine) + a BROADCAST weights join; no Python eval, no sort-merge
    join onto the tiny weight table."""
    p = plan_of(queries["text_classifier_score"](spark, SF), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "HashAggregate" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_link_spam_signals_plan(spark, queries):
    """Link-spam rollup: pure hash-agg + joins — no window, no
    cartesian, no Python eval; the degenerate self-pair join must stay
    an equi-join on (src, dst)."""
    plan = plan_of(queries["graph_link_spam"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_dbscan_plan_no_cartesian_no_python(spark, queries):
    """DBSCAN's pair search must stay the banded bucket equi-join
    (never an all-pairs product) and the whole pipeline stays JVM-side."""
    plan = plan_of(queries["embedding_dbscan_clusters"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_plan_broadcast_ratio_heap_topk_no_python(spark, queries):
    """DSIR: the <=dim-row bucket-ratio table must broadcast into the
    per-doc scoring join, the Gumbel top-k must run as
    TakeOrderedAndProject (per-partition heaps, no global Sort), and
    nothing falls back to row-at-a-time Python."""
    p = plan_of(queries["corpus_dsir_sample"](spark, SF), "simple")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_prefix_filter_plan_no_cartesian_no_python(spark, queries):
    """Prefix-filter similarity join: candidate generation must stay an
    equi-join on the prefix shingle (never a cross product), the only
    window is the per-doc rarity rank, and everything is JVM-side."""
    p = plan_of(queries["dedup_prefix_filter"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_graph_iterations_stay_relational(spark, queries):
    """Every query on the shared link-graph core (propagation, HITS,
    OPIC, co-citation, BFS): equi-joins + hash aggs only — no Python
    eval, no cross products; normalization totals come in via
    broadcast joins, not collects."""
    for key in ("graph_host_rank", "graph_trustrank", "graph_hits",
                "graph_spam_mass", "graph_opic", "graph_cocitation",
                "graph_coupling", "crawl_hop_depth",
                "crawl_seed_attribution"):
        p = plan_of(queries[key](spark, SF))
        assert "CartesianProduct" not in p, key
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, key


def test_cdc_and_cms_stay_jvm_side(spark, queries):
    """Content-defined chunking and the count-min grid: pure codegen +
    hash aggs; the only window is CDC's per-doc boundary lead. No
    Python eval, no cross products, and CMS's probe join must
    broadcast the (<= depth*width row) grid."""
    p = plan_of(queries["dedup_cdc_chunks"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    p2 = plan_of(queries["sketch_count_min"](spark, SF), "simple")
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2


def test_heavy_hitters_and_histogram_stay_jvm_side(spark, queries):
    """Heavy hitters: CMS grid + totals both broadcast to the probe;
    log-histogram: pure integer codegen, ONE hash agg, no Python. The
    quantile readout's only window runs over the KB-scale grid."""
    p = plan_of(queries["sketch_heavy_hitters"](spark, SF), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    p2 = plan_of(queries["sketch_log_histogram"](spark, SF), "simple")
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2
    assert "Window" not in p2  # grid build is agg-only
    assert "HashAggregate" in p2


def test_dust_mining_plan_capped_and_relational(spark, queries):
    """DUST: the within-group pair join must be an equi-join on the
    content key (never a cross product), group capping via rank limit,
    LCP factoring in codegen (no Python)."""
    p = plan_of(queries["dust_rule_mining"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "WindowGroupLimit" in p  # the max_group cap is a rank limit


def test_zorder_layout_is_range_partitioned_codegen(spark, queries):
    """Z-order: the Morton key is pure bit-surgery inside codegen and
    the re-layout is a RANGE repartition (contiguous key ranges per
    file — what makes min/max pruning work)."""
    p = plan_of(queries["layout_zorder_key"](spark, SF), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "rangepartitioning" in p.lower()


def test_knn_graph_plan_banded_join_heap_topk(spark, queries):
    """kNN graph: candidates come from a (band,bucket) equi-join (no
    cross product), the per-node top-k is a WindowGroupLimit heap, no
    Python anywhere."""
    from sparkcrawl.operators._caching import release_caches

    p = plan_of(queries["embedding_knn_graph"](spark, SF))
    release_caches()
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "WindowGroupLimit" in p


def test_quality_topfrac_threshold_is_broadcast_no_corpus_window(spark, queries):
    """Quality gate: the |strata|-row threshold table joins back by
    BROADCAST, and no Window touches the corpus (rank-then-cut would)."""
    p = plan_of(queries["corpus_quality_topfrac"](spark, SF), "simple")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_skew_report_is_bounded_topn(spark, queries):
    """Skew report: map-side-combined agg + TakeOrderedAndProject —
    nothing data-sized ever reaches the driver."""
    p = plan_of(queries["layout_skew_report"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_bitext_and_mirror_plans_capped_equi_joins(spark, queries):
    """Bitext skeleton join and mirror (path, content) join: pure
    regexp codegen into equi-joins — no cross product, no Python; the
    bitext per-skeleton cap plans as a WindowGroupLimit heap."""
    p = plan_of(queries["bitext_parallel_pages"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "WindowGroupLimit" in p
    m = plan_of(queries["crawl_mirror_hosts"](spark, SF))
    assert "CartesianProduct" not in m
    assert "BatchEvalPython" not in m and "ArrowEvalPython" not in m


def test_inverted_index_and_phrase_plans(spark, queries):
    """Index build: one hash agg, no window (gaps are an array
    transform, not a lag). Phrase search: per-term equi-joins only."""
    p = plan_of(queries["index_inverted_terms"](spark, SF), "simple")
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    q = plan_of(queries["index_phrase_search"](spark, SF))
    assert "CartesianProduct" not in q
    assert "BroadcastNestedLoopJoin" not in q


def test_ip_politeness_window_partitioned_by_ip(spark, queries):
    """IP politeness: the slot window is partitioned on ip — never a
    single-partition global sort."""
    p = plan_of(queries["crawl_ip_politeness"](spark, SF), "extended")
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "ip" for s in specs), specs


def test_paragraph_langid_is_agg_rollup(spark, queries):
    """Paragraph language stats: explode + codegen scoring + hash aggs;
    the majority argmax is a min-of-struct agg, not a corpus window."""
    p = plan_of(queries["text_paragraph_langid"](spark, SF), "simple")
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_confusable_pairs_plan_capped_equijoin(spark, queries):
    """FastSS candidates: variant equi-join only — no cross product,
    no Python; the levenshtein verify is a codegen expression."""
    p = plan_of(queries["crawl_confusable_domains"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_recall_and_pr_eval_plans_scalar_outputs(spark, queries):
    """Both evaluation harnesses end in scalar-sized aggregates —
    nothing data-sized crosses stages unguarded, no Python."""
    p = plan_of(queries["simsearch_recall_eval"](spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p or "broadcast" in p.lower()


def test_saturation_and_coverage_plans(spark, queries):
    """Saturation: one window over the superstep-sized table (allowed
    by design). Coverage: join + agg, NO window at all."""
    c = plan_of(queries["crawl_sitemap_coverage"](spark, SF), "simple")
    assert "Window" not in c
    assert "BatchEvalPython" not in c
    # host projection is the hybrid canonicalizer: exactly ONE
    # NULL-gated Arrow lane, same invariant as frontier_rows
    assert c.count("ArrowEvalPython") == 1
    a = plan_of(queries["corpus_curation_audit"](spark, SF), "simple")
    assert "Window" not in a   # audit argmax is a min-of-struct agg
    assert "BatchEvalPython" not in a and "ArrowEvalPython" not in a


def test_soft404_probe_join_is_broadcast_no_python(spark, queries):
    """The per-host probe dimension must broadcast onto the fetch
    slice, and both signal lanes stay JVM-side (regexp + arithmetic,
    no BatchEvalPython)."""
    p = plan_of(queries["crawl_soft404"](spark, SF), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_param_entropy_is_two_hash_aggs_no_window(spark, queries):
    """Entropy via the ln n - sum(c ln c)/n identity: two hash
    aggregations, never a per-value window or Python."""
    p = plan_of(queries["crawl_param_entropy"](spark, SF), "simple")
    assert "Window" not in p
    assert "EvalPython" not in p
    assert p.count("HashAggregate") >= 2


def test_compaction_plan_windows_are_partitioned(spark, queries):
    """The sorted-fill windows must be keyed by the TABLE partition —
    a global (empty-key) window would funnel the whole manifest
    through one task."""
    p = plan_of(queries["layout_compaction_plan"](spark, SF))
    for m in re.finditer(r"partitionBy=\[([^\]]*)\]", p):
        assert m.group(1).strip(), f"unpartitioned window in plan:\n{p}"
    assert "EvalPython" not in p


def test_reciprocity_join_is_equi_not_cartesian(spark, queries):
    """The mirror join must be a hash/sort-merge EQUI join on the
    composite key — never a cartesian/broadcast-nested-loop pair
    enumeration."""
    p = plan_of(queries["graph_reciprocity"](spark, SF), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
