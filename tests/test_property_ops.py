"""Property-based robustness for the round-3 operators (hypothesis).

Spark jobs are batched: each hypothesis example is a LIST of inputs
run through one Spark action, so max_examples stays small while input
coverage stays wide.
"""

import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(max_examples=8, deadline=None)

printable = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)


@settings(**SETTINGS)
@given(st.lists(printable, min_size=1, max_size=20))
def test_trap_features_total_function(spark, texts):
    """Arbitrary strings (not just URLs) never crash the feature
    expressions, and every feature respects its invariants."""
    from sparkcrawl.operators.traps import url_trap_features

    urls = [("http://h.example/" + t,) for t in texts] + [(t,) for t in texts]
    df = url_trap_features(spark.createDataFrame(urls, ["url"]))
    for r in df.collect():
        assert r["depth"] >= 0
        assert 0 <= r["adjacent_repeats"] <= max(r["depth"] - 1, 0)
        assert r["digit_runs"] >= 0
        assert r["n_params"] >= 0
        assert r["host_template"] is not None


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=1, max_size=16,
        ),
        min_size=1, max_size=12,
    )
)
def test_quantize_codes_bounded_and_accurate(spark, vecs):
    from sparkcrawl.operators.quantize import quantize_embeddings

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    for r in quantize_embeddings(df).collect():
        maxabs = max(abs(x) for x in r["embedding"])
        if maxabs == 0:
            assert r["qvec"] is None and r["scale"] is None
            continue
        assert all(-127 <= q <= 127 for q in r["qvec"])
        for orig, q in zip(r["embedding"], r["qvec"]):
            assert abs(q * r["scale"] - orig) <= maxabs / 254 * (1 + 1e-9)


@settings(**SETTINGS)
@given(st.lists(st.binary(max_size=40), min_size=1, max_size=24))
def test_mime_sniff_total_on_arbitrary_bytes(spark, payloads):
    from sparkcrawl.operators.multimodal import sniff_mime

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "i long, payload binary"
    )
    out = df.select(sniff_mime(F.col("payload")).alias("mime")).collect()
    assert all(r["mime"] is not None and "/" in r["mime"] for r in out)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(1, 72), st.booleans()),
        min_size=2, max_size=40,
    )
)
def test_revisit_always_clamped(spark, obs):
    """Any change history yields revisit_sec inside [min, max]."""
    from datetime import datetime, timedelta

    from sparkcrawl.operators.freshness import (
        change_intervals, change_rates, revisit_intervals,
    )

    t0 = datetime(2026, 1, 1)
    rows, clocks = [], {}
    for key_i, gap_h, changed in obs:
        key = f"k{key_i}"
        clocks[key] = clocks.get(key, t0) + timedelta(hours=gap_h)
        rows.append((key, clocks[key], changed))
    hist = spark.createDataFrame(rows, ["url_hash", "ts", "changed"])
    out = revisit_intervals(
        change_rates(change_intervals(hist, changed="changed")),
        target_stale_prob=0.5, min_sec=600, max_sec=7 * 86400,
    ).collect()
    for r in out:
        assert 600 <= r["revisit_sec"] <= 7 * 86400


words = st.lists(
    st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
            min_size=1, max_size=8),
    min_size=0, max_size=30,
)


@settings(**SETTINGS)
@given(st.lists(words, min_size=1, max_size=10), st.integers(2, 9))
def test_pack_multimodal_tiling_invariants(spark, docs_words, seq_len):
    """For any corpus: non-dropped pieces tile each span exactly
    (contiguous offsets summing to the span's tokens), media pieces are
    whole-or-dropped, and no example exceeds seq_len tokens."""
    from sparkcrawl.operators.multimodal import pack_multimodal_sequences

    rows = []
    for i, ws in enumerate(docs_words):
        spans = []
        for j, w in enumerate(ws):
            if j % 3 == 2:
                spans.append({"kind": "media", "text": None,
                              "media_ref": f"m{i}_{j}", "offset": j})
            else:
                spans.append({"kind": "text", "text": w,
                              "media_ref": None, "offset": j})
        rows.append((f"d{i}", spans))
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    cost = 3
    out = pack_multimodal_sequences(df, seq_len=seq_len, media_token_cost=cost)
    pieces = out.collect()
    by_span = {}
    per_example = {}
    for r in pieces:
        key = (r["doc_id"], r["span_idx"])
        by_span.setdefault(key, []).append(r)
        if r["example_id"] is not None:
            per_example[r["example_id"]] = (
                per_example.get(r["example_id"], 0) + r["piece_len"]
            )
    for key, rs in by_span.items():
        if rs[0]["kind"] == "media":
            assert len(rs) == 1
            r = rs[0]
            # whole (cost tokens in one example) or dropped
            assert (r["dropped"] and r["example_id"] is None
                    and r["piece_len"] == cost) or (
                        not r["dropped"] and r["piece_len"] == cost)
        else:
            rs = sorted(rs, key=lambda r: r["span_offset"])
            total = sum(r["piece_len"] for r in rs)
            # pieces tile the span contiguously from offset 0
            assert rs[0]["span_offset"] == 0
            for a, b in zip(rs, rs[1:]):
                assert b["span_offset"] == a["span_offset"] + a["piece_len"]
            assert all(not r["dropped"] for r in rs)
            assert total == rs[0]["span_offset"] + total  # non-empty tiling
    for ex, tot in per_example.items():
        assert tot <= seq_len


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="abcd", min_size=0, max_size=40),
                min_size=2, max_size=12))
def test_containment_bounds_and_prefix_law(spark, texts):
    """Containment is in (0, 1]; a document's PREFIX (long enough to
    shingle) is always fully contained in it."""
    from sparkcrawl.operators.textops import ngram_containment_pairs

    base = [(i, t) for i, t in enumerate(texts)]
    prefixes = [
        (1000 + i, t[:12]) for i, t in enumerate(texts) if len(t) >= 12
    ]
    df = spark.createDataFrame(base + prefixes, ["doc_id", "text"])
    out = ngram_containment_pairs(df, n=8, threshold=0.0)
    got = {(r["src_id"], r["dst_id"]): r["containment"] for r in out.collect()}
    for (s, d), c in got.items():
        assert 0.0 < c <= 1.0
    for i, t in enumerate(texts):
        if len(t) >= 12 and len(t) >= 8 + 4:  # prefix shingles exist
            # prefix -> original fully contained (when distinct docs share
            # the prefix's shingles the direction still scores 1.0)
            assert got.get((1000 + i, i)) == 1.0


@settings(**SETTINGS)
@given(st.lists(printable, min_size=1, max_size=15))
def test_gopher_keep_is_rule_conjunction(spark, texts):
    from sparkcrawl.operators.repetition import gopher_quality_rules

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    for r in gopher_quality_rules(df).collect():
        rules = [v for k, v in r.asDict().items() if k.startswith("rule_")]
        assert len(rules) == 7
        assert r["keep"] == all(rules)


@settings(**SETTINGS)
@given(st.lists(
    st.lists(printable.filter(lambda s: s.strip() != ""), min_size=1, max_size=5),
    min_size=1, max_size=10,
))
def test_paragraph_dedup_idempotent_and_conserving(spark, paras_per_doc):
    """r4 paragraph_dedup laws on arbitrary paragraph lists:
    (1) idempotence — running the dedup on its own output changes
    nothing (all survivors are already first occurrences);
    (2) conservation — every surviving paragraph existed in the input
    doc at the same relative order; (3) one winner per distinct
    paragraph corpus-wide."""
    from sparkcrawl.operators.textops import paragraph_dedup

    rows = [
        (i, "\n\n".join(p)) for i, p in enumerate(paras_per_doc)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    once = paragraph_dedup(docs)
    got1 = {r["id"]: r["text"] for r in once.collect()}
    twice = paragraph_dedup(
        spark.createDataFrame(
            [(i, t) for i, t in got1.items()], ["doc_id", "text"]
        )
    )
    got2 = {r["id"]: r["text"] for r in twice.collect()}
    assert got1 == got2  # idempotence
    all_kept = []
    for i, p in enumerate(paras_per_doc):
        kept = [x for x in got1[i].split("\n\n") if x != ""]
        all_kept.extend(kept)
        # conservation + order: kept is a subsequence of the input
        it = iter(p)
        assert all(any(x == y for y in it) for x in kept), (p, kept)
    # one winner per distinct paragraph corpus-wide
    assert len(all_kept) == len(set(all_kept))


label = st.text(alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789-"),
                min_size=1, max_size=10)
hosts = st.builds(
    lambda labels, suffix: ".".join(labels + [suffix]),
    st.lists(label, min_size=1, max_size=4),
    st.sampled_from(["com", "example", "co.uk", "org.au", "github.io", "de"]),
)


@settings(**SETTINGS)
@given(st.lists(st.tuples(hosts, st.lists(label, min_size=1, max_size=4)),
                min_size=1, max_size=25))
def test_frontier_keys_map_each_host_to_one_queue(spark, host_paths):
    """host -> queue is a function, in host mode and with eTLD+1
    (use_public_suffix): the scheduler keys its politeness window on
    (queue, host) and its robots gate on (queue, url_hash) on the
    strength of it, so every URL of a host must carry that host's one
    queue and one registered domain."""
    from sparkcrawl.config import CrawlConfig
    from sparkcrawl.plans.superstep import with_frontier_keys

    rows = [(f"http://{h}/{p}", h) for h, paths in host_paths for p in paths]
    df = spark.createDataFrame(rows, "url string, host string")
    for cfg in (CrawlConfig(num_queues=7),
                CrawlConfig(num_queues=7, use_public_suffix=True)):
        per_host = (
            with_frontier_keys(df, cfg).groupBy("host")
            .agg(F.countDistinct("queue").alias("q"),
                 F.countDistinct("registered_domain").alias("d"),
                 F.min("queue").alias("queue"))
            .collect()
        )
        assert {r["host"] for r in per_host} == {h for h, _ in host_paths}
        assert all(r["q"] == 1 and r["d"] == 1 for r in per_host), per_host
        assert all(0 <= r["queue"] < 7 for r in per_host)


def _self_join_lsh_pairs(docs, num_perms, n, max_bucket_size, rows_per_band):
    """Reference: the band-key self-join form of minhash_lsh_pairs
    (regroup per (id, band), cap by a join back, then join the
    signature table with itself on (perm, sig))."""
    from sparkcrawl.operators.textops import minhash_signatures

    sig = minhash_signatures(docs, num_perms, n)
    if rows_per_band > 1:
        sig = (
            sig.withColumn("band", F.floor(F.col("perm") / rows_per_band))
            .groupBy("id", "band")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("perm", "sig"))),
                        lambda s: s["sig"].cast("string"),
                    ),
                    "|",
                ).alias("sig")
            )
            .withColumnRenamed("band", "perm")
        )
    if max_bucket_size is not None:
        ok = (
            sig.groupBy("perm", "sig")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
        sig = sig.join(ok, ["perm", "sig"])
    return (
        sig.alias("a")
        .join(sig.alias("b"), on=["perm", "sig"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands"))
    )


@settings(**SETTINGS)
@given(st.lists(
    st.tuples(st.integers(0, 7), st.text(alphabet="ab ", max_size=14)),
    min_size=1, max_size=14,
))
def test_bucket_local_lsh_pairs_match_self_join(spark, rows):
    """minhash_lsh_pairs (pairs emitted inside each band bucket) returns
    exactly the (id_a, id_b, n_bands) rows of the self-join form, for
    rows_per_band in {1, 4}, with and without a bucket cap, on inputs
    with repeated doc ids (a repeated id is one signature over the
    union of its rows' shingles). A tiny alphabet makes buckets
    collide often, so capped and multi-band pairs both occur. All
    eight results come back in one collect."""
    from sparkcrawl.operators.textops import minhash_lsh_pairs

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    parts = []
    for r in (1, 4):
        for cap in (None, 2):
            for form, fn in (("bucket", minhash_lsh_pairs),
                             ("self_join", _self_join_lsh_pairs)):
                out = fn(docs, num_perms=8, n=3, max_bucket_size=cap,
                         rows_per_band=r)
                parts.append(out.select(
                    F.lit(f"{r}/{cap}").alias("cfg"), F.lit(form).alias("form"),
                    "id_a", "id_b", "n_bands"))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    got = {}
    for row in union.collect():
        got.setdefault((row["cfg"], row["form"]), []).append(
            (row["id_a"], row["id_b"], row["n_bands"]))
    for r in (1, 4):
        for cap in (None, 2):
            cfg = f"{r}/{cap}"
            bucket = sorted(got.get((cfg, "bucket"), []))
            assert bucket == sorted(got.get((cfg, "self_join"), [])), cfg
            assert len(set((a, b) for a, b, _ in bucket)) == len(bucket)


def _bfs_reference(edges, seeds, max_depth):
    """Level-at-a-time BFS in Python: id -> (depth, min seed among the
    equally-near seeds), over the distinct edges without self-loops."""
    out_edges = {}
    for a, b in set(edges):
        if a != b:
            out_edges.setdefault(a, set()).add(b)
    visited = {s: (0, s) for s in seeds}
    frontier = dict(visited)
    for d in range(1, max_depth + 1):
        cand = {}
        for u, (_, seed) in frontier.items():
            for v in out_edges.get(u, ()):
                cand[v] = min(cand.get(v, seed), seed)
        frontier = {v: (d, s) for v, s in cand.items() if v not in visited}
        if not frontier:
            break
        visited.update(frontier)
    return visited


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)),
                 min_size=4, max_size=16),
        min_size=4, max_size=8,
    ),
    st.lists(st.integers(0, 7), min_size=2, max_size=4),
)
def test_graph_core_operators_agree(spark, graphs, seed_ids):
    """The link-graph operators that share one propagation and one BFS
    agree on random small graphs with repeated edges, self-loops and
    seeds outside the graph (relative ids 6 and 7 never have an edge):
    pagerank equals spam_mass's rank to 1e-6 (spam_mass raises when no
    seed is in the graph), seed_attribution matches a Python BFS, and
    hop_depth is seed_attribution without the seed. The example's
    graphs run as one disjoint union (graph k's ids shifted by 10k);
    several graphs and seeds per example make equally-near seeds, the
    case the min-seed rule decides, likely in every example."""
    from sparkcrawl.operators import graph

    edges = [(10 * k + a, 10 * k + b)
             for k, g in enumerate(graphs) for a, b in g]
    seeds = sorted({10 * k + s for k in range(len(graphs)) for s in seed_ids})
    nodes = {x for a, b in edges if a != b for x in (a, b)}
    assume(nodes)
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "id long")

    pr = {r["id"]: r["rank"] for r in graph.pagerank(e, iters=2).collect()}
    assert set(pr) == nodes
    if nodes & set(seeds):
        sm = {r["id"]: r["rank"]
              for r in graph.spam_mass(e, s, iters=2).collect()}
        assert sm == pytest.approx(pr, abs=1e-6)
    else:
        with pytest.raises(ValueError):
            graph.spam_mass(e, s, iters=2)

    attr = {r["id"]: (r["depth"], r["seed"]) for r in
            graph.seed_attribution(e, s, max_depth=3).collect()}
    assert attr == _bfs_reference(edges, seeds, 3)
    depth = {r["id"]: r["depth"] for r in
             graph.hop_depth(e, s, max_depth=3).collect()}
    assert depth == {k: d for k, (d, _) in attr.items()}
