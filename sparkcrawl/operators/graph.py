"""Link-graph operators over a crawl's (src, dst) edge stream.

Every iterative operator here starts from the same edge list and
reuses one of two loops:

- :func:`_edge_list` — the distinct directed edges with self-loops
  dropped; :func:`_nodes` — every id that appears as src or dst.
- :func:`_propagate` — power iteration with teleport, the loop of
  :func:`pagerank`, :func:`trustrank` and :func:`spam_mass`. Each
  round is one equi-join of the state with the 1/out-degree weighted
  out-edges, one hash aggregation, one left join back onto the node
  set (and the broadcast seed table), and a ``localCheckpoint``
  truncating the lineage exactly like
  :func:`sparkcrawl.operators.textops.connected_components`.
- :func:`seed_attribution` — level-at-a-time BFS from a seed set;
  :func:`hop_depth` is the same BFS without the seed label.

PageRank semantics (the common fixed-iteration form):

    rank_0(x)   = 1 / N
    rank_i+1(x) = (1-d)/N + d * sum over in-neighbors y of
                  rank_i(y) / out_degree(y)

Dangling nodes (no outgoing edges) contribute nothing — their mass is
dropped, not redistributed; the oracle mirrors this exactly, so the
DuckDB recursive-CTE twin reproduces every iterate bit-for-bit up to
float summation order (output rounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _edge_list(edges: DataFrame, src: str, dst: str,
               s: str = "src", d: str = "dst") -> DataFrame:
    """The distinct directed edges of ``edges`` as columns (s, d),
    self-loops dropped."""
    return (
        edges.select(F.col(src).alias(s), F.col(dst).alias(d))
        .filter(F.col(s) != F.col(d))
        .distinct()
    )


def _nodes(e: DataFrame) -> DataFrame:
    """(id) — every node of an :func:`_edge_list` (src or dst)."""
    return (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )


def _propagate(
    e: DataFrame,
    damping: float,
    iters: int,
    rank: bool = True,
    seeds: DataFrame | None = None,
    seed_col: str = "id",
) -> tuple[DataFrame, int | None, int | None]:
    """Power iteration over an :func:`_edge_list`, shared by
    :func:`pagerank`, :func:`trustrank` and :func:`spam_mass`.

    The state table carries ``rank`` (teleport spread over all N
    nodes) when ``rank`` is set and ``trust`` (teleport spread over the
    seeds that appear in the graph) when ``seeds`` is given. PageRank
    is linear in its teleport vector, so both columns ride the same
    round: one out-edge join and one hash aggregation for all of them.
    The seed table is tiny and broadcast.

    Returns ``(state, n, n_seeds)``; a count is None when its column is
    not carried, so only the scalars a caller needs are ever collected.
    Raises ``ValueError`` when no seed appears in the graph.
    """
    e = e.persist()
    nodes = _nodes(e).persist()
    held = [e, nodes]
    init, teleport = {}, {}
    n = n_seeds = seed_ids = None
    try:
        if rank:
            n = nodes.count()
            init["rank"] = F.lit(1.0 / n)
            teleport["rank"] = F.lit((1.0 - damping) / n)
        if seeds is not None:
            seed_ids = F.broadcast(
                seeds.select(F.col(seed_col).alias("id")).distinct()
                .join(nodes, "id", "semi")
                .withColumn("_seed", F.lit(1.0))
            ).persist()
            held.append(seed_ids)
            n_seeds = seed_ids.count()
            if n_seeds == 0:
                raise ValueError("no seed appears in the graph")
            init["trust"] = F.col("_base")
            teleport["trust"] = F.lit(1.0 - damping) * F.col("_base")
        deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
        # weighted out-edges: each neighbor receives value/out_deg
        out = e.join(deg, "src").select(
            F.col("src").alias("id"), "dst",
            (F.lit(1.0) / F.col("out_deg")).alias("w"),
        ).persist()
        held.append(out)
        out.count()

        def settle(df, values):
            if seed_ids is not None:
                df = df.join(seed_ids, "id", "left").withColumn(
                    "_base", F.coalesce(F.col("_seed"), F.lit(0.0)) / n_seeds
                )
            return df.select(
                "id", *[v.alias(c) for c, v in values.items()]
            ).localCheckpoint(eager=True)

        state = settle(nodes, init)
        for _ in range(iters):
            contrib = (
                state.join(out, "id")
                .groupBy(F.col("dst").alias("id"))
                .agg(*[F.sum(F.col(c) * F.col("w")).alias("_in_" + c)
                       for c in init])
            )
            state = settle(nodes.join(contrib, "id", "left"), {
                c: t + F.lit(damping) * F.coalesce("_in_" + c, F.lit(0.0))
                for c, t in teleport.items()
            })
        return state, n, n_seeds
    finally:
        for df in held:
            df.unpersist()


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, rank) after ``iters`` power iterations over the distinct
    directed edge list. Self-loops are ignored. Node set = every id
    appearing as src or dst."""
    state, _, _ = _propagate(_edge_list(edges, src, dst), damping, iters)
    return state.select("id", F.round("rank", 6).alias("rank"))


def link_spam_signals(
    edges: DataFrame,
    recip_threshold: float = 0.8,
    min_out_hosts: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Host-level link-spam signals over the crawl's (src_host,
    dst_host) edge stream — the frontier-poisoning defense that sits
    next to PageRank on the scheduler's priority side: link farms
    inflate in-link counts, so the prioritizer needs a cheap,
    relational tell BEFORE rank rewards them. Signals are the classic
    public ones (Fetterly/Davison link-spam features): reciprocity
    (link exchanges), single-target concentration, and intra-host
    (self) link share.

    Per host with >=1 external out-link:

    - ``out_hosts``   distinct external link targets
    - ``out_links``   total external link count (multiplicity)
    - ``self_share``  fraction of ALL its links that point at itself
    - ``recip_share`` fraction of its out-neighbors that link back
    - ``top_target_share`` heaviest single target's share of external
      links
    - ``link_farm``   recip_share >= ``recip_threshold`` AND
      out_hosts >= ``min_out_hosts``

    Shape at scale: one groupBy(src,dst) count (map-side combine —
    the edge stream collapses to the distinct-pair table before
    anything else touches it), one semi-join of that pair table
    against its own reversal (both sides hash-partitioned on the same
    (src,dst) key), and one groupBy(src) rollup. No windows, no
    collects, no skew trap — a mega-host is just a large group under
    partial aggregation.
    """
    pair = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("links"))
    )
    ext = pair.filter(F.col("src") != F.col("dst"))
    selfc = pair.filter(F.col("src") == F.col("dst")).select(
        "src", F.col("links").alias("self_links")
    )
    rev = ext.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        ext.join(rev, ["src", "dst"], "semi")
        .groupBy("src")
        .agg(F.count("*").alias("recip_hosts"))
    )
    agg = ext.groupBy("src").agg(
        F.count("*").alias("out_hosts"),
        F.sum("links").alias("out_links"),
        F.max("links").alias("top_target_links"),
    )
    return (
        agg.join(selfc, "src", "left")
        .join(recip, "src", "left")
        .select(
            F.col("src").alias("host"),
            "out_hosts",
            "out_links",
            F.round(
                F.coalesce("self_links", F.lit(0))
                / (F.col("out_links") + F.coalesce("self_links", F.lit(0))),
                6,
            ).alias("self_share"),
            F.round(
                F.coalesce("recip_hosts", F.lit(0)) / F.col("out_hosts"), 6
            ).alias("recip_share"),
            F.round(F.col("top_target_links") / F.col("out_links"), 6).alias(
                "top_target_share"
            ),
            (
                (F.coalesce("recip_hosts", F.lit(0)) / F.col("out_hosts")
                 >= F.lit(recip_threshold))
                & (F.col("out_hosts") >= F.lit(min_out_hosts))
            ).alias("link_farm"),
        )
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004):
    personalized PageRank whose teleport mass lands ONLY on a vetted
    seed set, so trust decays with link distance from the seeds and
    spam neighborhoods — unreachable from good pages except through
    bought links — end up with near-zero score. The demotion-side
    companion to :func:`link_spam_signals` (which detects farms
    structurally; this one discounts everything they prop up).

        trust_0(x)   = 1/|S| if x in S else 0
        trust_i+1(x) = (1-d)*1[x in S]/|S|
                       + d * sum over in-neighbors y of trust_i(y)/out_deg(y)

    Same iteration (:func:`_propagate`, with the same dangling-mass-drops
    contract) as :func:`pagerank`, carrying only the trust column; the
    seed table is tiny (hand-vetted lists are hundreds of hosts) and
    broadcast. Only scalar |S| is ever collected.
    """
    state, _, _ = _propagate(_edge_list(edges, src, dst), damping, iters,
                             rank=False, seeds=seeds, seed_col=seed_col)
    return state.select("id", F.round("trust", 6).alias("trust"))


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) — the third
    classic link signal next to :func:`pagerank` (global importance)
    and :func:`trustrank` (seed-anchored trust). For a crawl scheduler
    the two scores answer different questions: high-AUTHORITY hosts are
    worth fetching deeply (many good hubs endorse them); high-HUB hosts
    are worth re-fetching often (their link lists discover the most new
    authorities per fetch) — hub score is a direct frontier-yield
    prior.

        auth_k(x) = Σ over in-neighbors y of hub_{k-1}(y),  L1-normalized
        hub_k(x)  = Σ over out-neighbors y of auth_k(y),    L1-normalized

    L1 normalization per half-step makes the fixed-iteration values
    deterministic (and oracle-reproducible) instead of growing
    unboundedly. Nodes outside the largest component simply converge
    to 0 — no teleport term in HITS.

    Shape at scale: per iteration, two equi-joins on the distinct edge
    list + two hash aggs + two single-row normalization totals joined
    back via broadcast (never collected); ``localCheckpoint`` truncates
    lineage per round exactly like :func:`pagerank`.
    """
    e = _edge_list(edges, src, dst).persist()
    nodes = _nodes(e).persist()
    nodes.count()

    def _normalize(raw, col):
        """nodes left-joined with raw sums, divided by the L1 total
        (broadcast single-row agg — no driver collect)."""
        tot = raw.agg(F.sum("_v").alias("_tot"))
        return (
            nodes.join(raw, "id", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "id",
                (F.coalesce("_v", F.lit(0.0)) / F.col("_tot")).alias(col),
            )
        )

    hub = nodes.withColumn("hub", F.lit(1.0)).localCheckpoint(eager=True)
    auth = None
    for _ in range(iters):
        a_raw = (
            hub.join(e, hub["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("_v"))
        )
        auth = _normalize(a_raw, "auth").localCheckpoint(eager=True)
        h_raw = (
            auth.join(e, auth["id"] == e["dst"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("_v"))
        )
        hub = _normalize(h_raw, "hub").localCheckpoint(eager=True)
    out = (
        hub.join(auth, "id")
        .select("id", F.round("hub", 6).alias("hub"),
                F.round("auth", 6).alias("auth"))
    )
    e.unpersist()
    nodes.unpersist()
    return out


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Spam-mass estimation (Gyongyi, Berkhin, Garcia-Molina &
    Pedersen, VLDB 2006): how much of a host's PageRank is NOT
    attributable to a vetted good core. PageRank is linear in its
    teleport vector, so the share of rank(x) whose teleport originated
    at the seed set S is exactly (|S|/N)·trust(x) with trust =
    :func:`trustrank` (uniform teleport over S). Then

        good_rank(x) = (|S|/N) · trust(x)        ∈ [0, rank(x)]
        rel_mass(x)  = (rank(x) − good_rank(x)) / rank(x)  ∈ [0, 1]

    rel_mass near 1 = rank propped up almost entirely by pages
    unreachable from the good core — the scheduler demotes those
    queues; near 0 = rank flows from vetted seeds. Both iterations run
    JOINTLY in :func:`_propagate`: one state table carries (rank,
    trust), so each round is ONE out-edge join + ONE hash agg for both
    measures (half the shuffles of running pagerank then trustrank
    separately). Only scalar N and |S| are ever collected.
    """
    state, n, n_seeds = _propagate(_edge_list(edges, src, dst), damping,
                                   iters, seeds=seeds, seed_col=seed_col)
    good = F.col("trust") * F.lit(n_seeds / n)
    return state.select(
        "id",
        F.round("rank", 6).alias("rank"),
        F.round(good, 6).alias("good_rank"),
        F.round((F.col("rank") - good) / F.col("rank"), 6).alias("rel_mass"),
    )


def opic(
    edges: DataFrame,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    virtual_id: int | str = -1,
) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobena, WWW 2003): the importance estimator built FOR crawlers.
    Unlike batch PageRank it needs no convergence loop over a frozen
    graph snapshot — each page holds "cash", distributes it over its
    out-links when visited, and its accumulated HISTORY estimates
    importance; a virtual page wired both ways to every node absorbs
    dangling mass and re-seeds new pages. This implementation runs the
    synchronous-rounds variant (every page distributes each round —
    the deterministic, oracle-checkable form; the async per-fetch form
    is the same arithmetic at superstep granularity).

        cash_0 = 1/(N+1) on every node incl. the virtual page
        each round: node x sends cash(x)/(deg(x)+1) along each real
          out-link and to the virtual page (dangling: all to virtual);
          the virtual page sends cash(V)/N to every real node;
          history(x) += cash(x) at distribution time
        importance_k(x) = (history_k(x) + cash_k(x)) / (k+1)
          (total cash is conserved at 1, so round-k history totals k
          and importances sum to 1 over all nodes incl. virtual)

    Output: (id, importance) over REAL nodes, rounded to 6dp.

    Shape at scale: identical to :func:`pagerank` — the virtual page
    is just one more row, so every round is ONE equi-join on the
    weighted edge list + ONE hash agg, ``localCheckpoint`` truncating
    lineage. ``virtual_id`` must not collide with a real node id (use
    e.g. the empty string for string-keyed host graphs).
    """
    e = _edge_list(edges, src, dst).persist()
    nodes = _nodes(e).persist()
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    vlit = F.lit(virtual_id)
    real = e.join(deg, "src").select(
        F.col("src").alias("id"), "dst",
        (F.lit(1.0) / (F.col("d") + 1)).alias("w"),
    )
    to_virt = deg.select(
        F.col("src").alias("id"), vlit.alias("dst"),
        (F.lit(1.0) / (F.col("d") + 1)).alias("w"),
    )
    dangling = nodes.join(deg.withColumnRenamed("src", "id"), "id", "anti").select(
        "id", vlit.alias("dst"), F.lit(1.0).alias("w")
    )
    from_virt = nodes.select(
        vlit.alias("id"), F.col("id").alias("dst"),
        F.lit(1.0 / n).alias("w"),
    )
    wedges = real.unionByName(to_virt).unionByName(dangling).unionByName(from_virt).persist()
    wedges.count()
    allnodes = nodes.unionByName(
        nodes.sparkSession.range(1).select(vlit.alias("id"))
    ).persist()

    state = allnodes.select(
        "id", F.lit(1.0 / (n + 1)).alias("cash"), F.lit(0.0).alias("hist")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            state.join(wedges, "id")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("cash") * F.col("w")).alias("_in"))
        )
        state = (
            state.join(contrib, "id", "left")
            .select(
                "id",
                F.coalesce("_in", F.lit(0.0)).alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
            .localCheckpoint(eager=True)
        )
    out = (
        state.filter(F.col("id") != vlit)
        .select(
            "id",
            F.round((F.col("hist") + F.col("cash")) / (iters + 1), 6).alias(
                "importance"
            ),
        )
    )
    e.unpersist()
    nodes.unpersist()
    wedges.unpersist()
    allnodes.unpersist()
    return out


def cocitation_pairs(
    edges: DataFrame,
    min_common: int = 2,
    max_out: int | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Co-citation similarity (Small 1973, applied to the web graph by
    Dean & Henzinger WWW'99 "related pages"): two hosts are related if
    the same sources link to BOTH. Output (host_a < host_b,
    common_sources) for pairs co-cited by ≥ ``min_common`` distinct
    sources — the crawl-side "related host" discovery signal (seed a
    focused crawl from one vetted host, co-citation proposes its
    peers). Bibliographic coupling (sharing OUT-links) is the same
    computation on the transposed edge list.

    Shape at scale: self-join of the distinct edge table on src makes
    d·(d-1)/2 pairs per source — a mega-hub's link page would explode
    it, so ``max_out`` caps each source's fanout FIRST, keeping its
    lexicographically-smallest targets (deterministic, and Catalyst
    runs the cut as WindowGroupLimit below the sort: a capped source
    never materializes its full pair square). The groupBy counts
    distinct-by-construction rows — no count_distinct shuffle.
    """
    e = _edge_list(edges, src, dst)
    if max_out is not None:
        rn = F.row_number().over(W.partitionBy("src").orderBy("dst"))
        e = e.withColumn("_rn", rn).filter(F.col("_rn") <= max_out).drop("_rn")
    return (
        e.alias("a")
        .join(e.alias("b"), "src")
        .filter(F.col("a.dst") < F.col("b.dst"))
        .groupBy(
            F.col("a.dst").alias("host_a"), F.col("b.dst").alias("host_b")
        )
        .agg(F.count("*").alias("common_sources"))
        .filter(F.col("common_sources") >= min_common)
    )


def referring_domains(edges: DataFrame, src: str = "src",
                      dst: str = "dst") -> DataFrame:
    """(host, n_ref_domains, n_ref_hosts, n_inlinks): inlink popularity
    with registered-domain deduplication.

    Raw inlink counts are trivially inflatable (one spam site, a
    million subdomain links); counting distinct REFERRING REGISTERED
    DOMAINS is the standard robust form of the signal — a thousand
    links from blog.spam.example collapse to one domain vote, which is
    why link-based crawl prioritizers and ranking features use the
    domain-deduped count. eTLD+1 comes from the PSL-backed
    :func:`sparkcrawl.functions.domains.registered_domain` (pure
    codegen), so this is ONE hash agg with map-side combine over the
    edge table — no window, no join, safe at any graph size.
    """
    from sparkcrawl.functions.domains import registered_domain

    e = edges.select(
        F.col(dst).alias("host"),
        F.col(src).alias("_shost"),
        registered_domain(F.col(src)).alias("_rdom"),
    )
    return e.groupBy("host").agg(
        F.countDistinct("_rdom").alias("n_ref_domains"),
        F.countDistinct("_shost").alias("n_ref_hosts"),
        F.count("*").alias("n_inlinks"),
    )


def hop_depth(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 8,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """(id, depth) — minimal hop count from the seed set over the
    directed edge list, bounded by ``max_depth``. The crawl-frontier
    depth signal: crawlers cap discovery depth (SURVEY §2 scoping /
    trap policy) and report how far from the seeds the corpus reaches;
    depth is also the standard prioritizer tie-breaker (shallow pages
    first).

    This is :func:`seed_attribution`'s BFS with the seed label
    dropped: the set of nodes first reached at level d does not depend
    on which seed reaches them. Seeds not present in the edge list
    still report depth 0; nodes unreachable within ``max_depth`` are
    absent (the caller's histogram reads absence as "beyond horizon /
    not discovered").
    """
    return seed_attribution(
        edges, seeds, max_depth, src, dst, id_col
    ).select("id", "depth")


def seed_attribution(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 8,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """(id, depth, seed) — every node reachable within ``max_depth``
    labeled with the seed that DISCOVERS it: minimal hop count first,
    minimal seed id among the equally-near seeds second. The crawl
    lineage readout behind per-seed budget attribution ("which seeds
    actually earn the corpus") and seed-list pruning.

    Distributed BFS, one superstep per level: frontier ⨝ edges →
    candidate dsts, each taking ``min(seed)`` over its level-d-1
    in-neighbors → anti-join against visited → next frontier at depth
    d. ``max_depth`` is single-digit by crawl contract, so D sequential
    equi-joins are the right shape — pointer doubling (the
    redirects/CC trick) materializes a k-hop PAIR map, which is |V|²
    for anything dense, while each BFS round here is bounded by |V|
    rows and |E| join width. Every round localCheckpoints (iterative
    lineage would otherwise double per level), and the loop stops at
    the first level that adds no node — a graph that saturates at
    depth 3 costs 3 joins, not max_depth.

    Because min is associative and propagation adds exactly one hop
    per level, the label equals the global argmin over all (path
    length, origin seed) pairs — which is what the DuckDB oracle
    computes from the raw path set.
    """
    e = _edge_list(edges, src, dst, "_s", "_d").persist()
    e.count()
    visited = (
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .select("id", F.lit(0).alias("depth"), F.col("id").alias("seed"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for d in range(1, max_depth + 1):
        cand = (
            frontier.join(e, frontier["id"] == e["_s"])
            .groupBy(F.col("_d").alias("id"))
            .agg(F.min("seed").alias("seed"))
        )
        new = (
            cand.join(visited, "id", "left_anti")
            .select("id", F.lit(d).alias("depth"), "seed")
            .localCheckpoint(eager=True)
        )
        if not new.take(1):
            break
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    e.unpersist()
    return visited


def most_wanted(
    edges: DataFrame,
    ranks: DataFrame,
    seen: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    rank_col: str = "rank",
) -> DataFrame:
    """The crawl's most-wanted list: nodes (domains/URLs) the crawled
    web points at but the crawl has never fetched, scored by the
    importance of who points there — Cho/Garcia-Molina/Page's
    importance-first frontier ordering applied at the DISCOVERY
    boundary. ``wanted_score`` = sum of the referrers' rank mass
    (PageRank/OPIC/TrustRank — any (node, rank) table plugs in), so a
    page wanted by ten spam blogs scores below one wanted by a single
    high-rank hub.

    Output per unfetched target: (node, inlinks, referrers,
    wanted_score). Feed the top of this list back as seeds and the
    next superstep crawls where the web's weight says to go.

    Plan shape: one equi-join attaching rank to the edge's SOURCE
    (rank table is node-cardinality), one LEFT ANTI join against the
    seen set on the target, one map-combinable agg per target. No
    window, no collect.
    """
    scored = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("node")
    ).join(
        ranks.select(F.col(node_col).alias("_s"),
                     F.col(rank_col).alias("_r")), "_s", "left"
    ).withColumn("_r", F.coalesce(F.col("_r"), F.lit(0.0)))
    unfetched = scored.join(
        seen.select(F.col(seen.columns[0]).alias("node")).distinct(),
        "node", "left_anti")
    return unfetched.groupBy("node").agg(
        F.count(F.lit(1)).alias("inlinks"),
        F.countDistinct("_s").alias("referrers"),
        F.round(F.sum("_r"), 6).alias("wanted_score"),
    )


def reciprocity_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_out: int = 2,
    high_share: float = 0.7,
) -> DataFrame:
    """Link reciprocity per host — the classic nepotistic-link signal
    (Davison, "Recognizing Nepotistic Links on the Web", AAAI 2000):
    organic endorsement is mostly one-way, while link-exchange rings
    and mirror farms link back. A host whose out-links are
    overwhelmingly reciprocated earns a rank discount BEFORE any
    iterative rank spends supersteps on it (cheaper than spam_mass,
    which needs a trust seed set).

    Per host over the DISTINCT host-level edge list (self-loops
    dropped): (host, n_out, n_reciprocal, reciprocal_share, flagged =
    n_out >= ``min_out`` AND share >= ``high_share``).

    Scale shape: one distinct, ONE self-equi-join on the full
    (src,dst)=(dst,src) composite key — an equi-join, never a pair
    enumeration: each edge meets at most its exact mirror — then one
    map-combinable host agg. No window, no cap needed (join
    cardinality <= |edges|).
    """
    e = _edge_list(edges, src, dst, "s", "d")
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"),
                   F.lit(1).alias("_r"))
    marked = e.join(rev, ["s", "d"], "left")
    agg = marked.groupBy(F.col("s").alias("host")).agg(
        F.count("*").alias("n_out"),
        F.sum(F.coalesce(F.col("_r"), F.lit(0)).cast("long"))
        .alias("n_reciprocal"),
    )
    share_raw = F.col("n_reciprocal") / F.col("n_out")
    return agg.select(
        "host", "n_out", "n_reciprocal",
        F.round(share_raw, 6).alias("reciprocal_share"),
        ((F.col("n_out") >= min_out)
         & (share_raw >= high_share)).alias("flagged"),
    )
