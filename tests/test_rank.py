"""Link-graph recording + offline PageRank priority refresh (plans/rank.py)."""

import dataclasses

from pyspark.sql import functions as F

from sparkcrawl.plans.rank import host_ranks, refresh_frontier_priorities
from sparkcrawl.plans.superstep import CrawlRun


def _run_crawl(spark, mini_cfg, mini_web, workdir, supersteps=3):
    cfg = dataclasses.replace(mini_cfg, record_link_graph=True)
    run = CrawlRun(spark, workdir, cfg, mini_web["web"], mini_web["robots"])
    run.run(mini_web["seeds"], max_supersteps=supersteps)
    return run, cfg


def test_link_edges_recorded_and_aggregated(spark, mini_cfg, mini_web, tmp_path):
    run, _ = _run_crawl(spark, mini_cfg, mini_web, str(tmp_path / "w"))
    edges = run.link_edges.read(spark)
    assert edges is not None and edges.count() > 0
    assert set(edges.columns) == {"src_host", "dst_host", "n_links", "superstep"}
    # aggregated per superstep: (src, dst, superstep) unique
    assert (
        edges.groupBy("src_host", "dst_host", "superstep").count()
        .filter(F.col("count") > 1).count() == 0
    )


def test_refresh_rewrites_pending_priorities(spark, mini_cfg, mini_web, tmp_path):
    wd = str(tmp_path / "w")
    run, cfg = _run_crawl(spark, mini_cfg, mini_web, wd)
    ranks = host_ranks(spark, wd)
    assert ranks is not None and ranks.count() > 0

    n = refresh_frontier_priorities(spark, wd, cfg, refresh_id=1)
    assert n > 0
    after = run.frontier.read(spark).filter(F.col("state") == "pending")
    pr = [r["priority"] for r in after.collect()]
    assert all(1 <= p <= cfg.num_priorities for p in pr)
    assert len(set(pr)) > 1  # ranks actually differentiated hosts

    # idempotent per refresh_id: re-running replaces, never stacks
    again = refresh_frontier_priorities(spark, wd, cfg, refresh_id=1)
    after2 = run.frontier.read(spark).filter(F.col("state") == "pending")
    assert after2.count() == after.count()

    # the crawl continues normally on the re-prioritized frontier
    more = run.resume(max_supersteps=1)
    assert more and more[0].fetched > 0


def test_refresh_with_opic_signal(spark, mini_cfg, mini_web, tmp_path):
    """The crawl-native OPIC estimator drives the same refresh seam:
    virtual page excluded from host ranks, importances positive, and
    pending priorities land in 1..num_priorities."""
    wd = str(tmp_path / "w")
    run, cfg = _run_crawl(spark, mini_cfg, mini_web, wd)
    ranks = host_ranks(spark, wd, method="opic")
    assert ranks is not None
    rows = ranks.collect()
    assert rows and all(r["rank"] > 0 for r in rows)
    assert "" not in {r["host"] for r in rows}  # virtual page filtered

    n = refresh_frontier_priorities(spark, wd, cfg, refresh_id=2, method="opic")
    assert n > 0
    after = run.frontier.read(spark).filter(F.col("state") == "pending")
    pr = [r["priority"] for r in after.collect()]
    assert all(1 <= p <= cfg.num_priorities for p in pr)


def test_host_ranks_ignore_link_counts_and_repeated_edges(spark, tmp_path):
    """host_ranks ranks the distinct host-edge set: a larger n_links or
    the same edge recorded again (in a later superstep, or twice in
    one) moves no host's rank, for either method."""
    from sparkcrawl.sources.store import LinkEdgesTable

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    schema = "src_host string, dst_host string, n_links long, superstep int"

    def record(name, steps):
        wd = str(tmp_path / name)
        for step, rows in steps.items():
            LinkEdgesTable(wd).append(spark.createDataFrame(
                [(s, d, n, step) for s, d, n in rows], schema), step)
        return wd

    plain = record("plain", {1: [(s, d, 1) for s, d in pairs]})
    heavy = record("heavy", {
        1: [(s, d, 7 * i + 2) for i, (s, d) in enumerate(pairs)],
        2: [("a", "b", 3), ("a", "b", 5), ("d", "a", 40)],
    })
    for method in ("pagerank", "opic"):
        want = {r["host"]: r["rank"]
                for r in host_ranks(spark, plain, method=method).collect()}
        got = {r["host"]: r["rank"]
               for r in host_ranks(spark, heavy, method=method).collect()}
        assert got == want, method
        assert len(set(want.values())) > 1, method


def test_host_percent_rank_matches_window_and_stays_partitioned(spark):
    """host_percent_rank must equal percent_rank() row-for-row (ties
    included) AND plan only PARTITIONED windows — the 100-TB guard for
    the three priority-refresh sites (an unpartitioned percent_rank is
    a single-task sort over every host)."""
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sparkcrawl.plans.rank import host_percent_rank

    df = spark.createDataFrame(
        [(f"h{i:03d}", float(i % 7)) for i in range(197)], ["host", "rank"]
    )
    out = host_percent_rank(df, [F.desc("rank")])
    exp = df.select(
        "host", F.percent_rank().over(Window.orderBy(F.desc("rank"))).alias("_pr")
    )
    got = {(r["host"], r["_pr"]) for r in out.select("host", "_pr").collect()}
    want = {(r["host"], r["_pr"]) for r in exp.collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected a window in the plan"
    assert all("_pid" in s for s in specs), specs
    # single-row and empty inputs: percent_rank degenerates to 0 / none
    one = host_percent_rank(
        spark.createDataFrame([("x", 1.0)], ["host", "rank"]), [F.desc("rank")]
    ).collect()
    assert [(r["host"], r["_pr"]) for r in one] == [("x", 0.0)]
    empty = host_percent_rank(
        spark.createDataFrame([], "host string, rank double"), [F.desc("rank")]
    )
    assert empty.count() == 0
