"""Text-analysis + deduplication operators for training-data pipelines.

These extend the crawl engine with the operations a large-scale corpus
pipeline needs (exact/near dedup, language ID, quality scoring, token
counting, fingerprinting). All are pure DataFrame compositions —
JVM-side, whole-stage-codegen'd, no Python in the hot path — and each
has an ANSI-SQL equivalent the DuckDB oracle can run
(__spark_entry__.py).

Scale notes (100 TB corpus):
  - exact dedup: hash-groupBy on a 64-hex digest — uniform keys, no skew.
  - near-dup: MinHash-LSH generates candidate pairs via equi-join on
    (perm, signature) — the only all-pairs-free path at scale; plain
    n-gram Jaccard self-join is provided for verification at small SF
    and as the LSH verifier.
  - SimHash: fully relational bit arithmetic (explode bit positions),
    one shuffle per groupBy, no UDF.

Cross-engine determinism: every hash is md5-hex (identical in Spark and
DuckDB); integers derived via base-16 conv of hex prefixes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from sparkcrawl.operators._caching import tracked_persist


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest-id row per identical text.

    GroupBy on md5(text) (not raw text) so the shuffle key is 32 bytes
    regardless of document size. min_by aggregation, NOT a row_number
    window: the agg gets map-side partial combine and no per-partition
    sort — at corpus scale the window variant full-sorts every hash
    partition for nothing (same fix family as operators/dedup.py).
    """
    cols = docs.columns
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("_text_hash"))
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_keeper"))
        .select("_keeper.*")
    )


def duplicate_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, keeper_id) for groups with >1 member."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# shingles / n-gram Jaccard
# --------------------------------------------------------------------------

def char_shingles(docs: DataFrame, n: int = 5, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct character n-grams per doc — (id, shingle). Relational:
    sequence+transform+explode, no UDF."""
    df = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
                    f" i -> substring({text_col}, i, {n}))"
                )
            )
        ).alias("shingle"),
    )
    return df.filter(F.length("shingle") == n)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold (id_a < id_b).

    Exact but quadratic in shared-shingle pairs — the small-SF verifier.
    At scale, run :func:`minhash_lsh_pairs` first and feed its candidate
    pairs through this as the verify step.
    """
    # tracked: release via operators._caching.release_caches() (r2 ADVICE)
    sh = tracked_persist(char_shingles(docs, n, text_col, id_col))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directed n-gram containment C(src→dst) = |sh(src) ∩ sh(dst)| /
    |sh(src)| ≥ threshold, for src ≠ dst — the ASYMMETRIC companion to
    Jaccard: a short quote embedded in a long page scores near-1
    containment while its Jaccard stays tiny, so this is the signal for
    near-superset / quotation / scraped-inclusion detection (the
    RefinedWeb-style "contained document" filter Jaccard misses).

    Output: (src_id, dst_id, containment) — one row per DIRECTION that
    clears the threshold; a verbatim subset emits src→superset only.

    Shape at scale: the intersection count is computed ONCE per
    unordered pair sharing ≥1 shingle (shared-shingle equi-join, never
    a cross product), then both directions are derived from the same
    count by dividing by each side's shingle count — a union of two
    projections, no second join pass. Same band-then-verify upgrade
    path as Jaccard: at corpus scale feed minhash_lsh_pairs candidates
    through this as the verify step.
    """
    # tracked: release via operators._caching.release_caches()
    sh = tracked_persist(char_shingles(docs, n, text_col, id_col))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
    )
    # both directions via ONE explode over the same row — a fwd/rev
    # union would evaluate the shared-shingle join subplan twice
    both = inter.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    F.round(F.col("inter") / F.col("n_a"), 6).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    F.round(F.col("inter") / F.col("n_b"), 6).alias("containment"),
                ),
            )
        ).alias("d")
    )
    return both.select("d.*").filter(F.col("containment") >= threshold)


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via PREFIX FILTERING — the
    EXACT (zero-false-negative) scale path next to MinHash-LSH's
    probabilistic one. Classic all-pairs similarity-join technique
    (Chaudhuri/Ganti/Kaushik SSJoin ICDE'06; Bayardo/Ma/Srikant
    WWW'07; Xiao et al. PPJoin): order every doc's shingles by a
    single global total order (ascending document frequency, rarest
    first — ties broken by shingle value), and note that two sets
    with |x∩y| ≥ α MUST share an element within their first
    |x|−α+1 positions. For Jaccard ≥ t, |x∩y| ≥ t·|x∪y| ≥
    ⌈t·|x|⌉ on each side, so joining only on each doc's first
    |x|−⌈t·|x|⌉+1 rarest shingles finds every qualifying pair while
    the frequency ordering keeps join-key fan-out minimal (hot common
    shingles never appear in a short prefix).

    Pipeline (all relational, one pass each):
      1. distinct (id, shingle) + global df(shingle) counts
      2. per-doc rank by (df, shingle) — a PER-DOC window, bounded by
         document length, never data-skewed
      3. prefix self-join (id_a < id_b) + symmetric size prune
         (t·max(|a|,|b|) ≤ min — a qualifying pair can't differ in
         size by more than 1/t)
      4. exact intersection count restricted to candidate pairs, then
         the true-Jaccard filter.

    vs ngram_jaccard_pairs (which joins on ALL shared shingles —
    documented quadratic): identical output, but the join touches only
    prefix shingles, so corpus-scale cost tracks the number of truly
    similar pairs, not the square of shared-boilerplate postings. Use
    this when false negatives are unacceptable (LSH's s-curve always
    leaks near-threshold pairs); use LSH when approximate recall is
    acceptable and t is low.
    """
    # tracked: release via operators._caching.release_caches()
    sh = tracked_persist(char_shingles(docs, n, text_col, id_col))
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(W.partitionBy("id").orderBy("df", "shingle")),
        )
        .join(sizes, "id")
        .filter(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("id", "shingle", "sz")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.sz").alias("n_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.sz").alias("n_b"),
        )
        .distinct()
        .filter(
            F.least("n_a", "n_b")
            >= F.lit(threshold) * F.greatest("n_a", "n_b")
        )
    )
    inter = (
        cand.join(sh.withColumnsRenamed({"id": "id_a"}), "id_a")
        .join(
            sh.withColumnsRenamed({"id": "id_b"}),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                6,
            ),
        )
        .filter(
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            >= threshold
        )
        .select("id_a", "id_b", "jaccard")
    )


_WINNOW_POS = 1 << 20  # position encoding base; docs must be < 1M chars


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Robust winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    the MOSS fingerprinting scheme): hash every k-gram, slide a window
    of ``w`` consecutive hashes, and keep the MINIMUM of each window
    (rightmost position on ties). Output: distinct (id, fp_pos,
    fp_hash) selected fingerprints.

    The winnowing guarantee: any shared substring of length >=
    w + k - 1 produces at least one SHARED fingerprint, while only
    ~2/(w+1) of all k-grams are kept — a principled, position-aware
    downsampling of the full k-gram digest set
    (:func:`substring dedup <kgram_digests>` keeps every position;
    winnowing keeps a guaranteed-covering sample, the right index for
    quotation/plagiarism search over a 100 TB corpus).

    Relational form, identical in Spark and the DuckDB oracle: the
    rightmost-min selection packs (hash, position) into one integer —
    ``h * 2^20 + (2^20 - 1 - pos)`` — so a plain ``min`` over a
    ROWS-frame window picks the smallest hash and, among ties, the
    LARGEST position; decode by div/mod. The per-doc window is bounded
    by document length (never corpus-skewed), and the distinct is a
    hash agg on (id, fp) — no self-joins until pairing.
    """
    packed = _winnow_packed(docs, k, w, text_col, id_col)
    return packed.select(
        "id", F.explode("_sels").alias("_sel")
    ).select(
        "id",
        (F.lit(_WINNOW_POS - 1) - F.col("_sel") % F.lit(_WINNOW_POS))
        .cast("int").alias("fp_pos"),
        F.expr(f"_sel div {_WINNOW_POS}").cast("bigint").alias("fp_hash"),
    )


def _winnow_packed(
    docs: DataFrame, k: int, w: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, _sels) — per-doc array of DISTINCT packed winnowing
    selections (``h * 2^20 + (2^20-1-pos)``), entirely inside per-row
    array expressions.

    The previous shape exploded EVERY k-gram of every document into
    rows (|corpus chars| rows through md5), ran the sliding min as a
    per-doc WINDOW (a full shuffle + sort of the gram table) and
    deduped with a global ``distinct`` (a second shuffle). The window
    min over a ROWS frame is just ``array_min(slice(...))`` per
    position, and the distinct is per-doc by construction (the id is in
    the key), so both shuffles disappear: one projection per document,
    same selected fingerprints bit-for-bit (guide §2.4: remove shuffles
    outright). Each stage passes through a Generate boundary
    (explode(array(..))) so the expensive array is materialized once,
    never re-evaluated inside a consumer lambda per element.
    """
    t = text_col
    combs_sql = (
        f"CASE WHEN length({t}) >= {k} THEN"
        f" transform(sequence(1, length({t}) - {k - 1}),"
        f" i -> cast(conv(substring(md5(substring({t}, i, {k})), 1, 8), 16, 10)"
        f" as bigint) * {_WINNOW_POS} + ({_WINNOW_POS - 1} - (i - 1)))"
        f" ELSE cast(array() as array<bigint>) END"
    )
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(F.expr(combs_sql))).alias("_combs"),
    )
    sels_sql = (
        f"CASE WHEN size(_combs) >= {w} THEN"
        f" array_distinct(transform(sequence({w}, size(_combs)),"
        f" idx -> array_min(slice(_combs, idx - {w - 1}, {w}))))"
        f" ELSE cast(array() as array<bigint>) END"
    )
    return staged.select(
        "id", F.explode(F.array(F.expr(sels_sql))).alias("_sels"))


def winnowing_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_a < id_b, shared_fps) for document pairs sharing >=
    ``min_shared`` distinct winnowing fingerprint HASHES — the
    overlap-detection join over the sampled index. Same
    shared-key-equi-join shape as the other dedup pairers; the
    fingerprint table is ~2/(w+1) the size of the full k-gram
    postings, which is exactly the point at corpus scale.

    ``max_postings`` drops fingerprint hashes appearing in more than N
    documents before pairing — MOSS's own "ignore fingerprints in too
    many documents" rule (Schleimer et al. §5: shared boilerplate is
    noise, not copying, and a hash with df=f contributes f²/2 pairs).
    At corpus scale this is MANDATORY: a boilerplate fingerprint's
    pair square is the only quadratic term in the plan. None = exact
    (verification / small-SF oracle mode)."""
    # distinct (id, fp_hash) straight from the packed per-doc arrays:
    # hash-level dedup is per-doc by construction, so no distinct
    # shuffle; persisted because the pair self-join (and the postings
    # cap) otherwise re-run the whole fingerprint computation per side.
    fp = tracked_persist(
        _winnow_packed(docs, k, w, text_col, id_col).select(
            "id",
            F.explode(F.expr(
                f"array_distinct(transform(_sels, s -> s div {_WINNOW_POS}))"
            )).alias("fp_hash"),
        )
    )
    if max_postings is not None:
        keep = (
            fp.groupBy("fp_hash")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_postings)
            .select("fp_hash")
        )
        fp = fp.join(keep, "fp_hash", "semi")
    return (
        fp.alias("a")
        .join(fp.alias("b"), "fp_hash")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def cdc_chunks(
    docs: DataFrame,
    k: int = 8,
    divisor: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the rolling-hash cut rule behind LBFS,
    Venti, rsync and FastCDC): cut after every position whose k-gram
    hash ≡ 0 (mod ``divisor``) — so chunk boundaries are functions of
    CONTENT, not offsets, and an insertion near the top of a page only
    rewrites the chunk it lands in; every later boundary re-synchronizes
    and the remaining chunks dedup against the previous crawl of the
    same page. Average chunk length ≈ ``divisor`` chars.

    Output: (id, start, length, chunk_md5) — 1-based start, contiguous
    cover of each document.

    Shape at scale: gram hashing is pure codegen; the only window is
    per-doc ``lead`` over the (sparse) boundary rows — bounded by
    document length; the digest is one substr+md5 after a same-key
    join back to the doc table. No Python anywhere.
    """
    # Entirely per-document array expressions: the previous shape
    # exploded EVERY k-gram into rows (|corpus chars| rows through
    # md5), shuffled the boundary rows through a distinct, joined the
    # doc table back and ran a per-doc lead() WINDOW — three exchanges
    # plus a sort for what is a per-row computation. The cut positions,
    # the chunk cover and the digests are all functions of one row's
    # text, so they stay in one projection chain with zero shuffles
    # (guide §2.4), the md5-per-position cost being the only
    # fundamental term. Generate boundaries (explode(array(..)))
    # materialize each expensive array once before reuse.
    t = text_col
    # cut AFTER the window's last byte e = i + k - 1 (i = 1-based gram
    # start), so the next chunk starts at e + 1 = i + k
    bounds_sql = (
        f"CASE WHEN length({t}) >= {k} THEN"
        f" filter(sequence(1, length({t}) - {k - 1}),"
        f" i -> cast(conv(substring(md5(substring({t}, i, {k})), 1, 8), 16, 10)"
        f" as bigint) % {divisor} = 0)"
        f" ELSE cast(array() as array<int>) END"
    )
    staged = docs.select(
        F.col(id_col).alias("id"),
        F.col(t).alias("_t"),
        F.explode(F.array(F.expr(bounds_sql))).alias("_bounds"),
    )
    starts_sql = (
        f"filter(concat(array(1), transform(_bounds, b -> b + {k})),"
        f" s -> s <= length(_t))"
    )
    staged2 = staged.select(
        "id", "_t", F.explode(F.array(F.expr(starts_sql))).alias("_starts"))
    chunks_sql = (
        "CASE WHEN size(_starts) >= 1 THEN"
        " transform(sequence(1, size(_starts)), j -> named_struct("
        "'start', element_at(_starts, j),"
        "'length', coalesce(try_element_at(_starts, j + 1), length(_t) + 1)"
        " - element_at(_starts, j),"
        "'chunk_md5', md5(substring(_t, element_at(_starts, j),"
        " coalesce(try_element_at(_starts, j + 1), length(_t) + 1)"
        " - element_at(_starts, j)))))"
        " ELSE cast(array() as"
        " array<struct<start:int,length:int,chunk_md5:string>>) END"
    )
    return (
        staged2.select("id", F.explode(F.expr(chunks_sql)).alias("_c"))
        .select("id", "_c.start", "_c.length", "_c.chunk_md5")
    )


def cdc_duplicate_chunks(
    docs: DataFrame,
    k: int = 8,
    divisor: int = 64,
    min_copies: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(chunk_md5, length, n_copies, n_docs) for content-defined chunks
    appearing ≥ ``min_copies`` times — the storage/dedup readout: how
    much of the corpus is chunk-level redundant (shared boilerplate,
    re-crawled pages, quoted passages), findable without any pairwise
    comparison — one groupBy on the 32-byte digest."""
    ch = cdc_chunks(docs, k, divisor, text_col, id_col)
    return (
        ch.groupBy("chunk_md5", "length")
        .agg(
            F.count("*").alias("n_copies"),
            F.count_distinct("id").alias("n_docs"),
        )
        .filter(F.col("n_copies") >= min_copies)
    )


def cross_corpus_contamination(
    train: DataFrame,
    probe: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decontamination: (probe_id, train_id, jaccard) for every probe
    (eval/test) document whose n-gram Jaccard against a training
    document reaches the threshold.

    The train/eval overlap check every LLM data pipeline runs before
    training. BIPARTITE shared-shingle equi-join — probe docs only
    ever meet train docs that share at least one shingle, never a
    cross product, and the probe side is typically tiny (benchmark
    suites) next to the corpus, so its shingle table broadcasts. At
    full corpus scale, band both sides with minhash_signatures first
    and feed candidate pairs through the same intersection count —
    identical composition to dedup_lsh_verified, just bipartite.
    """
    sh_t = tracked_persist(char_shingles(train, n, text_col, id_col))
    sh_p = tracked_persist(char_shingles(probe, n, text_col, id_col))
    size_t = sh_t.groupBy("id").agg(F.count("*").alias("n_t"))
    size_p = sh_p.groupBy("id").agg(F.count("*").alias("n_p"))
    inter = (
        sh_p.withColumnRenamed("id", "probe_id")
        .join(sh_t.withColumnRenamed("id", "train_id"), "shingle")
        .groupBy("probe_id", "train_id")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(size_p.withColumnRenamed("id", "probe_id"), "probe_id")
        .join(size_t.withColumnRenamed("id", "train_id"), "train_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_p") + F.col("n_t") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("probe_id", "train_id", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# Kirsch-Mitzenmacher double-hash minhash family over a 31-bit prime:
#   h1 = (60-bit prefix of md5(shingle))        mod P
#   h2 = (60-bit prefix of md5(shingle || '#')) mod P
#   g_p = (h1 + (p+1) * h2) mod P
# TWO md5 per shingle for ANY number of perms. A single-base affine
# family ((a_p*h+b_p) mod P) was tried first and rejected by
# measurement: its cross-perm correlation inflated AND-banded bucket
# collisions ~14x (101,899 candidate pairs vs ~7,300 on the same sf0.1
# corpus), flooding the verify stage. Two independent 60-bit sources
# restore near-independent perms. All intermediates fit in int64
# ((p+1)*h2 < 2^36), exact in Spark ANSI and DuckDB BIGINT — the
# oracle reproduces the family with plain arithmetic.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _minhash_wide(
    docs: DataFrame, num_perms: int, n: int, text_col: str, id_col: str,
) -> DataFrame:
    """(id, s0 .. s{num_perms-1}): one row per doc, one min-hash column
    per perm."""
    sh = char_shingles(docs, n, text_col, id_col)
    h1 = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint")
        % MINHASH_P
    )
    h2 = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("shingle"), F.lit("#"))), 1, 15),
            16, 10,
        ).cast("bigint")
        % MINHASH_P
    )
    aggs = [
        F.min((h1 + F.lit(p + 1) * h2) % MINHASH_P).alias(f"s{p}")
        for p in range(num_perms)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame, num_perms: int = 8, n: int = 5,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, perm, sig): minhash signature rows, sig = min over shingles
    of the double-hash family above.

    ONE pass, no row blowup: the per-perm minima are ``num_perms``
    aggregate columns over the shingle rows (map-side partial agg),
    unpivoted with ``stack`` afterwards. The previous shape — explode
    ``num_perms`` copies of every shingle row and md5 each — pushed
    perms x shingles rows (and that many md5 calls) through the
    shuffle: 8-16x more rows and hashing for the same result
    (candidate stage measured 21.7s -> ~6s cold at sf0.1, 16 perms).
    """
    wide = _minhash_wide(docs, num_perms, n, text_col, id_col)
    pairs = ", ".join(f"{p}, s{p}" for p in range(num_perms))
    return wide.selectExpr("id", f"stack({num_perms}, {pairs}) AS (perm, sig)")


def minhash_lsh_pairs(
    docs: DataFrame, num_perms: int = 8, n: int = 5,
    text_col: str = "text", id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    rows_per_band: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ≥1 LSH band.
    Returns (id_a, id_b, n_bands) with id_a < id_b.

    Pairs are built INSIDE each band bucket: one hash aggregation on
    (band, key) collects the bucket's sorted ids, and every a<b pair of
    that list is emitted in place; a second aggregation counts the
    buckets each pair shares. No self-join, so the signature table is
    read once and nothing is cached. Work is the sum of C(|bucket|, 2)
    over buckets, the same pair volume an equi-join on the band key
    produces; never all-pairs.

    ``rows_per_band`` is the classic AND-OR knob: r min-hashes are
    concatenated per band (AND — all r must agree for a band match),
    bands are OR'd. r=1 (default, the oracle-pinned mode) maximizes
    recall; r>1 sharpens the similarity threshold (collision
    probability s^r per band) and slashes candidate volume — at corpus
    scale the r>1 setting is what keeps the verify stage affordable.

    ``max_bucket_size`` drops band buckets larger than the cap before
    any pair is emitted — standard LSH practice: a bucket shared by
    thousands of docs is a stop-shingle, not a near-dup signal, and its
    C(n,2) pair blowup is the single biggest skew hazard of this
    operator at corpus scale.
    """
    wide = _minhash_wide(docs, num_perms, n, text_col, id_col)
    if rows_per_band > 1:
        # AND step: the band key joins its r signatures in perm order,
        # read straight off the wide row (no per-band regroup)
        keys = [
            F.concat_ws("|", *[
                F.col(f"s{p}").cast("string")
                for p in range(lo, min(lo + rows_per_band, num_perms))
            ])
            for lo in range(0, num_perms, rows_per_band)
        ]
    else:
        keys = [F.col(f"s{p}") for p in range(num_perms)]
    sig = wide.select("id", F.inline(F.array(*[
        F.struct(F.lit(b).alias("perm"), k.alias("sig"))
        for b, k in enumerate(keys)
    ])))
    buckets = sig.groupBy("perm", "sig").agg(
        F.array_sort(F.collect_list("id")).alias("_ids"),
        F.count("*").alias("_bn"),
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.col("_bn") <= max_bucket_size)
    # ids are distinct within a bucket (one signature row per id and
    # band), so the sorted list yields each a<b pair exactly once
    pairs = buckets.filter(F.size("_ids") > 1).select(F.inline(F.flatten(
        F.transform("_ids", lambda a, i: F.transform(
            F.slice("_ids", i + 2, F.size("_ids")),
            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
        ))
    )))
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands"))


def dedup_against_index(
    incoming: DataFrame,
    index_sigs: DataFrame,
    num_perms: int = 8,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental corpus dedup: near-dup candidates of an incoming
    batch against a PRE-COMPUTED minhash signature index — the
    continuous-crawl shape. The archive's signatures (the exact
    ``minhash_signatures`` rows: (id, perm, sig)) are computed once and
    stored; each crawl increment hashes ONLY its own documents and
    band-joins against the index, so per-increment cost scales with the
    increment, not the archive.

    Returns (new_id, index_id, n_bands) — strictly BIPARTITE: incoming
    x index only, never incoming x incoming (run
    :func:`minhash_lsh_pairs` on the batch for intra-batch dups), and
    feed candidates through :func:`verify_jaccard_pairs` /
    :func:`cross_corpus_contamination` for the exact verify stage —
    identical composition to dedup_lsh_verified, just incremental.

    At scale, write the index table bucketed by (perm, sig): the band
    equi-join then co-locates with the stored buckets and only the
    increment's signatures shuffle. ``max_bucket_size`` caps INDEX-side
    band buckets (the big side): an archive-wide stop-shingle bucket is
    noise, and its |bucket| x |increment-hits| blowup is the skew
    hazard here.
    """
    new_sig = minhash_signatures(incoming, num_perms, n, text_col, id_col)
    idx = index_sigs
    if max_bucket_size is not None:
        ok = (
            idx.groupBy("perm", "sig")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
        idx = idx.join(ok, ["perm", "sig"])
    return (
        new_sig.alias("a")
        .join(idx.alias("b"), on=["perm", "sig"])
        .groupBy(F.col("a.id").alias("new_id"), F.col("b.id").alias("index_id"))
        .agg(F.count("*").alias("n_bands"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def verify_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The verify stage behind LSH candidate generation: exact n-gram
    Jaccard computed ONLY for the candidate (id_a, id_b) pairs.

    At corpus scale this is the two-phase pattern the module docstring
    promises: minhash_lsh_pairs prunes the O(n²) space to candidate
    pairs, this joins shingles through the pair list — work is
    O(candidates × shingles), never all-pairs. Returns
    (id_a, id_b, jaccard) for pairs meeting the threshold.

    Documents are pruned to the candidate ids BEFORE any shingle is
    built: a semi-join against the distinct ids of the pair list keeps
    only docs that can survive the pair joins, and only those are
    shingled. Building the arrays first would shingle the whole corpus
    and then throw most of it away.
    """
    # persisted: the pair list is read three times below (two join legs
    # + the candidate-id prune) and re-deriving it replays the whole
    # LSH candidate stage.
    pairs = tracked_persist(candidates.select("id_a", "id_b"))
    # Intersections are computed per pair with array_intersect over the
    # two docs' DISTINCT shingle arrays: the previous exploded-row form
    # shuffled |pairs| x |shingles per doc| rows (tens of millions)
    # through a (id, shingle)-keyed join to count what is a per-pair set
    # intersection — the arrays move once per pair instead (§2.3:
    # shuffle keys and metadata, not exploded payloads). Zero-shingle
    # docs are dropped exactly as the exploded form dropped them.
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    arr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
            f" i -> substring({text_col}, i, {n}))"
        )
    )
    arrs = tracked_persist(
        docs.select(F.col(id_col).alias("id"), text_col)
        .join(cand_ids, "id", "semi")
        .select(
            "id",
            F.explode(F.array(
                F.filter(arr, lambda x: F.length(x) == n)
            )).alias("sh_arr"),
        )
        .filter(F.size("sh_arr") > 0)
    )
    inter = (
        pairs.join(
            arrs.select(F.col("id").alias("id_a"), F.col("sh_arr").alias("_sa")),
            "id_a",
        )
        .join(
            arrs.select(F.col("id").alias("id_b"), F.col("sh_arr").alias("_sb")),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("inter"),
            F.size("_sa").cast("long").alias("n_a"),
            F.size("_sb").cast("long").alias("n_b"),
        )
        # the exploded form emitted a pair only if it SHARED a shingle;
        # keep that contract (threshold=0.0 callers count these rows)
        .filter(F.col("inter") > 0)
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    docs: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash): sign-aggregated token-hash bits, fully relational.

    token hash = first 8 hex chars of md5(token) as int32; bit j of the
    simhash = majority sign of (2*bit_j(token_hash) - 1) over tokens.
    Ties (sum == 0) resolve to bit 1 (>= 0).
    """
    tokens = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = tokens.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    )
    # ONE hash-aggregation emitting per-bit conditional sums — not an
    # explode of `bits` position rows per token, which multiplies the
    # shuffle row count by `bits` (32x) for the same information.
    # vote sum per bit = 2*popcount_j - n_tokens, so bit_j set iff
    # 2*sum(bit_j(h)) >= n (ties -> 1, matching the documented rule).
    sums = hashed.groupBy("id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"_s{j}")
            for j in range(bits)
        ],
    )
    sim = None
    for j in range(bits):
        term = (F.col(f"_s{j}") * 2 >= F.col("_n")).cast("bigint") * F.lit(1 << j)
        sim = term if sim is None else sim + term
    return sums.select("id", sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, bits: int = 32, max_hamming: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Scale path: band the simhash into max_hamming+1 chunks and equi-join
    on any matching chunk — pigeonhole guarantees ≤max_hamming flips
    leave ≥1 chunk equal — then verify exact hamming via bit_count(xor).
    """
    n_chunks = max_hamming + 1
    width = -(-bits // n_chunks)  # ceil
    # persist: the banded self-join below reads this twice, and Spark
    # does not reuse the exchange across the aliased sides
    sh = tracked_persist(simhash(docs, bits, text_col, id_col))
    chunks = sh.select(
        "id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk"),
    ).withColumn(
        "chunk_val",
        F.floor(F.col("simhash") / F.pow(F.lit(2), F.col("chunk") * width)).cast("bigint")
        % F.lit(2**width),
    )
    cand = (
        chunks.alias("a")
        .join(chunks.alias("b"), on=["chunk", "chunk_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# language ID / quality / tokens / fingerprint
# --------------------------------------------------------------------------

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "nicht"),
    "fr": ("le", "la", "les", "et", "des"),
}


def _padded_count(padded_col, word: str):
    """Occurrences of ' word ' in a padded+lowercased text via the
    replace-length trick (portable SQL). Callers pad+lower once and
    pass the result; padding inside this helper re-copied the text per
    stopword."""
    needle = f" {word} "
    return (
        (F.length(padded_col)
         - F.length(F.replace(padded_col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def _lang_scores(df, text_col, keep_cols: list[str]):
    """Materialized per-language stopword scores: (keep_cols..., _s
    struct<score_<lang>...>).

    Two Generate boundaries: (1) the padded+lowercased text is built
    ONCE per row (each raw `_count_occurrences` call re-lowered and
    re-padded the text, 15x per row); (2) the score struct is
    materialized before any consumer, because the argmax/tie-break and
    every downstream filter on pred_lang otherwise inline the full
    15-replace scoring pipeline into each reference (the guide §4.4
    duplication mechanism, here with expensive codegen expressions
    instead of a UDF). Field access on a generated attribute is O(1)."""
    padded = df.select(
        *keep_cols,
        F.explode(F.array(
            F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
        )).alias("_padded"),
    )
    return padded.select(
        *keep_cols,
        F.explode(F.array(F.struct(*[
            sum(
                [_padded_count(F.col("_padded"), w) for w in words],
                F.lit(0).cast("bigint"),
            ).alias(f"score_{lang}")
            for lang, words in STOPWORDS.items()
        ]))).alias("_s"),
    )


def _lang_pred():
    """(score columns, pred_lang) expressions over a materialized _s."""
    langs = list(STOPWORDS)
    sc = {l: F.col(f"_s.score_{l}") for l in langs}
    best = F.greatest(*sc.values())
    pred = F.coalesce(
        *[F.when((sc[l] == best) & (best > 0), F.lit(l)) for l in langs],
        F.lit("unknown"),
    )
    return [sc[l].alias(f"score_{l}") for l in langs] + [pred.alias("pred_lang")]


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID by stopword hit counts (argmax, ties -> lang asc)."""
    scored = _lang_scores(
        docs.select(F.col(id_col).alias("id"), F.col(text_col)),
        text_col, ["id"],
    )
    return scored.select("id", *_lang_pred())


def paragraph_languages(
    docs: DataFrame,
    sep_regex: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, idx, para, para_lang): per-paragraph language ID.

    Web pages are frequently multilingual — navigation boilerplate in
    one language around content in another — so document-level language
    ID mislabels or discards them wholesale. CCNet (Wenzek et al.,
    LREC 2020) and mC4 operate on paragraph granularity for exactly
    this reason. Same stopword-hit heuristic as :func:`language_id`
    (argmax, ties -> lang asc, zero hits -> 'unknown'), applied after
    one posexplode on the paragraph separator. Pure codegen, one pass.
    """
    paras = (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep_regex)).alias("idx", "para"),
        )
        .filter(F.col("para") != "")
    )
    scored = _lang_scores(paras, "para", ["id", "idx", "para"])
    pred = _lang_pred()[-1]
    return scored.select("id", "idx", "para", pred.alias("para_lang"))


def language_segment_stats(
    docs: DataFrame,
    sep_regex: str = r"\n{2,}",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc rollup of :func:`paragraph_languages`: (id,
    majority_lang, n_paragraphs, majority_cnt, minority_share).

    Majority = most frequent paragraph language, ties -> lang asc
    (one min-of-struct hash agg — no window); minority_share is the
    fraction of paragraphs NOT in the majority language, the signal
    a keep/segment/drop policy thresholds on. Docs with zero non-empty
    paragraphs produce no row (nothing to classify).
    """
    pl = paragraph_languages(docs, sep_regex, text_col, id_col)
    counts = pl.groupBy("id", "para_lang").agg(F.count("*").alias("cnt"))
    best = counts.groupBy("id").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"),
                       F.col("para_lang").alias("lang"))).alias("b"),
        F.sum("cnt").alias("n_paragraphs"),
    )
    maj = (-F.col("b.neg")).cast("long")
    return best.select(
        "id",
        F.col("b.lang").alias("majority_lang"),
        F.col("n_paragraphs").cast("long").alias("n_paragraphs"),
        maj.alias("majority_cnt"),
        F.round((F.col("n_paragraphs") - maj) / F.col("n_paragraphs"), 6)
        .alias("minority_share"),
    )


def keep_majority_language(
    docs: DataFrame,
    sep_regex: str = r"\n{2,}",
    join_sep: str = "\n\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per input doc: (id, text) with only majority-language
    paragraphs kept, original order preserved (the CCNet-style segment
    cleanup: strip the off-language boilerplate, keep the content).
    Same reassembly shape as :func:`paragraph_dedup`; docs with no
    paragraphs come back with text ''."""
    pl = paragraph_languages(docs, sep_regex, text_col, id_col)
    maj = language_segment_stats(docs, sep_regex, text_col, id_col).select(
        "id", "majority_lang")
    kept = pl.join(maj, "id").filter(
        F.col("para_lang") == F.col("majority_lang"))
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias(text_col)
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select("id", F.coalesce(text_col, F.lit("")).alias(text_col))
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length/punct/stopword-ratio quality features + composite score.

    The raw features are materialized through a Generate boundary
    before the derived ratios: stop_hits alone is five replace scans of
    the text and is referenced by two outputs (and by any downstream
    filter on quality), which projection collapse would otherwise
    duplicate per reference — the same §4.4 mechanism fixed in
    :func:`_lang_scores`."""
    text = F.col(text_col)
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    feats = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(F.struct(
            F.length(text).alias("n_chars"),
            F.size(F.split(text, " ")).alias("n_words"),
            sum(
                [_padded_count(padded, w) for w in STOPWORDS["en"]],
                F.lit(0).cast("bigint"),
            ).alias("stop_hits"),
            (F.length(text)
             - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))).alias("punct"),
        ))).alias("_f"),
    )
    n_chars = F.col("_f.n_chars")
    n_words = F.col("_f.n_words")
    stop_hits = F.col("_f.stop_hits")
    punct = F.col("_f.punct")
    return feats.select(
        "id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(n_chars / n_words, 4).alias("avg_word_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_words, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.5
            + F.least(stop_hits / F.greatest(n_words, F.lit(1)) * 5, F.lit(1.0)) * 0.5,
            6,
        ).alias("quality"),
    )


def quality_top_fraction(
    docs: DataFrame,
    frac: float = 0.3,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """FineWeb/CCNet-style quality gate: keep (about) the top ``frac``
    of documents PER STRATUM (language) by the composite quality
    score. The scale-honest shape is threshold-then-filter, NOT
    rank-then-cut: the per-stratum quality threshold at the (1-frac)
    percentile is ONE small aggregate (|strata| rows, broadcast back),
    so no per-stratum global sort of the corpus ever happens — the
    rank-based formulation would sort 100 TB per language. Ties at the
    threshold are kept (>=), so the kept fraction can slightly exceed
    ``frac``; exact-k trimming, when required, runs on the already-
    gated survivors.

    Output: (id, stratum, quality, q_thr) for kept docs."""
    q = quality_score(docs, text_col, id_col).select("id", "quality")
    d = docs.select(
        F.col(id_col).alias("id"), F.col(strata_col).alias("stratum")
    ).join(q, "id")
    thr = d.groupBy("stratum").agg(
        F.percentile("quality", F.lit(1.0 - frac)).alias("q_thr")
    )
    return (
        d.join(F.broadcast(thr), "stratum")
        .filter(F.col("quality") >= F.col("q_thr"))
        .select("id", "stratum", "quality",
                F.round("q_thr", 6).alias("q_thr"))
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (words / numbers / punct runs)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
        ).alias("re_tokens"),
    )


def doc_fingerprint(docs: DataFrame, n: int = 8, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Winnowing-lite fingerprint: min md5 n-gram per doc — a stable
    content id robust to suffix edits (rolling-hash family)."""
    sh = char_shingles(docs, n, text_col, id_col)
    return sh.groupBy("id").agg(F.min(F.md5("shingle")).alias("fingerprint"))


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok) — lowercase whitespace tokens, empty tokens dropped.
    Plain split/explode: JVM-side, codegen'd, no UDF."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, the standard add-one-smoothed form) —
    the corpus-level primitive behind keyword extraction, topical
    clustering and near-topic filtering in a training-data pipeline.

    Shape at scale: tf is a (id, tok) hash aggregation with map-side
    combine; df is a (tok) aggregation over DISTINCT (id, tok) — both
    shuffle once on bounded keys. The df table is |vocab|-sized and
    joined back on tok (AQE broadcasts it when small). The only window
    is the final per-doc rank over |doc|-bounded term lists —
    WindowGroupLimit prunes it to top-k per partition before the sort.
    Ties break on the token string (deterministic, oracle-matched).
    """
    toks = _tokens(docs, text_col, id_col)
    tf = toks.groupBy("id", "tok").agg(F.count("*").alias("tf"))
    n_docs = docs.select(F.col(id_col)).distinct().count()
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = tf.join(df_tbl, "tok").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * (
                F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
            ),
            6,
        ),
    )
    w = W.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "tok", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 score of every document against a fixed term set —
    the standard relevance/quality ranking primitive (Robertson et al.,
    public formula):

        score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*len/avglen))
        idf(t)   = ln((N - df + 0.5)/(df + 0.5) + 1)

    Everything is hash aggregation + one broadcastable |query|-sized
    join; avg doc length is a scalar aggregate folded into the
    expression. Documents matching no query term score 0 (left join +
    coalesce), so the output is corpus-cardinality — usable as a filter
    column."""
    toks = _tokens(docs, text_col, id_col)
    lens = toks.groupBy("id").agg(F.count("*").alias("dl"))
    n_docs = docs.select(F.col(id_col)).distinct().count()
    avgdl = lens.agg(F.avg("dl")).collect()[0][0] or 1.0
    q = [t.lower() for t in query_terms]
    tf = (
        toks.filter(F.col("tok").isin(q))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    per_term = tf.join(df_tbl, "tok").join(lens, "id").select(
        "id",
        (
            idf * F.col("tf") * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl))))
        ).alias("s"),
    )
    scores = per_term.groupBy("id").agg(F.sum("s").alias("bm25"))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scores, "id", "left")
        .select("id", F.round(F.coalesce("bm25", F.lit(0.0)), 6).alias("bm25"))
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list -> (id, comp)
    where ``comp`` is the MINIMUM node id reachable from ``id``. Only
    nodes that appear in an edge are returned (singletons are the
    caller's anti-join, see :func:`dedup_corpus_canonical`).

    Iterative min-label propagation, fully relational:

        lbl(x) <- min(lbl(x), min over neighbors of lbl(n))

    Each round is one equi-join + one min hash-aggregation (map-side
    combine) — a single shuffle per round; rounds needed = graph
    diameter. For near-dup clustering that diameter is tiny: banded
    LSH emits near-cliques, so 2-4 rounds close real corpora. For
    arbitrary high-diameter graphs the O(log n)-round large-star/
    small-star contraction would slot behind this same signature; it
    is deliberately NOT used here because dedup graphs do not need it
    and min-propagation's per-round plan is one shuffle cheaper.

    Scale notes: labels only ever DECREASE, so "no label changed this
    round" is a sound fixed-point test — convergence costs one scalar
    ``limit(1).count()`` per round (config-bounded driver data, the
    repo's collect rule), and unlike a sum-based check it works for
    STRING node ids (mirror hosts) as well as numeric ones.
    ``localCheckpoint`` truncates the per-round lineage (without it
    the plan doubles each iteration and round k replays rounds
    1..k-1).
    """
    # Materialize the edge list ONCE before symmetrizing: the two union
    # legs are separate scans of the edge subtree, so without the
    # checkpoint the whole upstream pair pipeline (LSH + verify joins)
    # executes twice just to build sym.
    base = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .localCheckpoint(eager=True)
    )
    sym = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .persist()
    )
    lbl = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = sym.join(lbl, sym["dst"] == lbl["id"]).groupBy("src").agg(
            F.min("comp").alias("_nbr_min")
        )
        staged = (
            lbl.join(nbr, lbl["id"] == nbr["src"], "left")
            .select(
                lbl["id"],
                F.col("comp").alias("_old"),
                F.least(
                    F.col("comp"), F.coalesce("_nbr_min", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            staged.filter(F.col("comp") != F.col("_old")).limit(1).count()
        )
        lbl = staged.drop("_old")
        if changed == 0:
            break
    sym.unpersist()
    return lbl


def _near_dup_components(
    docs: DataFrame, num_perms: int, n: int, threshold: float,
    text_col: str, id_col: str, max_bucket_size: int | None,
    rows_per_band: int,
) -> tuple[DataFrame, DataFrame]:
    """(spread docs, components): the LSH -> exact verify -> connected
    components chain shared by hard and soft near-dup dedup.

    ``docs`` is first hash-spread over the session width and
    checkpointed, and every later stage reads that copy: MinHash,
    verify and the caller's join back. A gated corpus is a deep lazy
    plan, and without the checkpoint each of those three consumers
    re-ran it, each time paying its driver-side analysis again. A
    corpus under AQE's 1 MB ``minPartitionSize`` also coalesces to one
    partition, which put all shingling and hashing on one core; AQE
    does not coalesce an explicit partition count. The key is the doc
    id, so a task retry places rows identically.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.repartition(par, id_col).localCheckpoint(eager=True)
    pairs = minhash_lsh_pairs(
        docs, num_perms=num_perms, n=n, text_col=text_col, id_col=id_col,
        max_bucket_size=max_bucket_size, rows_per_band=rows_per_band,
    )
    verified = verify_jaccard_pairs(
        pairs, docs, n=n, threshold=threshold, text_col=text_col, id_col=id_col
    )
    return docs, connected_components(verified)


def dedup_corpus_canonical(
    docs: DataFrame,
    num_perms: int = 16,
    n: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 100,
    rows_per_band: int = 4,
) -> DataFrame:
    """The full corpus-dedup pipeline, end to end:

        MinHash-LSH candidates -> exact-Jaccard verify (candidate
        pairs only) -> connected components -> keep the MIN doc id
        per cluster.

    Returns the SURVIVING rows of ``docs``: one canonical per near-dup
    cluster plus every singleton. Pair-level dedup alone is not a
    dedup policy — near-duplication is transitive in practice (A~B,
    B~C but A!~C), and without the component step a kill-one-of-each-
    pair rule either over-deletes or leaves dups behind. Every stage
    is the capped/banded/two-phase shape documented on the underlying
    operators; nothing here is all-pairs.
    """
    docs, comp = _near_dup_components(
        docs, num_perms, n, threshold, text_col, id_col,
        max_bucket_size, rows_per_band,
    )
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def soft_dedup_weights(
    docs: DataFrame,
    alpha: float = 1.0,
    num_perms: int = 16,
    n: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 100,
    rows_per_band: int = 4,
) -> DataFrame:
    """Soft deduplication: keep every document, downweight duplicated
    ones — (doc_id, cluster_size, weight) with
    weight = cluster_size^(-alpha).

    Hard dedup throws information away (the kept copy may be the worst
    one) and a binary threshold cliff-drops borderline docs; SoftDeDup
    (He et al., ACL 2024) showed reweighting by data "commonness"
    trains faster at the same quality. Here commonness is the verified
    near-dup cluster size from the SAME pipeline hard dedup uses
    (LSH -> exact verify -> connected components), so the two policies
    are directly comparable on one corpus. alpha=1 makes each cluster
    contribute one document's worth of expected sampling mass; alpha=0.5
    is a milder temperature.

    Plan shape: the dedup pipeline's capped/banded stages + one count
    agg on the component table + one broadcast-sized join back; the
    final left join against ``docs`` defaults singletons to size 1,
    weight 1 — no extra shuffle of the corpus beyond the pipeline's own.
    """
    docs, comp = _near_dup_components(
        docs, num_perms, n, threshold, text_col, id_col,
        max_bucket_size, rows_per_band,
    )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    member = comp.join(sizes, "comp").select(
        F.col("id").alias(id_col), "cluster_size")
    out = (
        docs.select(id_col)
        .join(member, id_col, "left")
        .withColumn("cluster_size",
                    F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long"))
    )
    weight = F.round(
        F.pow(F.col("cluster_size").cast("double"), F.lit(-float(alpha))), 6)
    return out.select(id_col, "cluster_size", weight.alias("weight"))


def lsh_pr_eval(
    docs: DataFrame,
    thresholds: tuple[float, ...] = (0.5, 0.7, 0.9),
    num_perms: int = 16,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 100,
    rows_per_band: int = 4,
) -> DataFrame:
    """Empirical precision/recall of the MinHash-LSH candidate stage
    against EXACT ground truth, per Jaccard threshold:

        (threshold, n_candidates, n_truth, n_hit, precision, recall)

    :func:`lsh_collision_curve` gives the ANALYTIC 1-(1-s^r)^b curve;
    this measures what the configured pipeline actually does on a real
    corpus — the number a dedup rollout decision needs, because bucket
    caps and shingle distributions move reality off the curve. Ground
    truth comes from :func:`prefix_filter_jaccard_pairs` (exact, zero
    false negatives, prefix-pruned — never the quadratic brute force),
    candidate similarities from :func:`verify_jaccard_pairs` at
    threshold 0 (exact Jaccard for candidates only). Per threshold t:
    recall = |candidates with jaccard>=t| / |true pairs with
    jaccard>=t|, precision = same numerator / |all candidates|. The
    rollup is ONE conditional agg over each side — adding thresholds
    adds columns, not passes.
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    t_min = min(thresholds)
    cand = minhash_lsh_pairs(
        docs, num_perms=num_perms, n=n, text_col=text_col, id_col=id_col,
        max_bucket_size=max_bucket_size, rows_per_band=rows_per_band,
    )
    cand = tracked_persist(cand)
    cand_j = verify_jaccard_pairs(
        cand, docs, n=n, threshold=0.0, text_col=text_col, id_col=id_col)
    truth = prefix_filter_jaccard_pairs(
        docs, n=n, threshold=t_min, text_col=text_col, id_col=id_col)
    # n_candidates counts EVERY LSH pair (a hash-collision candidate
    # with zero shared shingles drops out of the verify join but still
    # cost a verification — precision must charge for it)
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    c_agg = cand_j.agg(
        *[F.count_if(F.col("jaccard") >= F.lit(float(t))).alias(f"_h_{i}")
          for i, t in enumerate(thresholds)],
    )
    t_agg = truth.agg(
        *[F.count_if(F.col("jaccard") >= F.lit(float(t))).alias(f"_t_{i}")
          for i, t in enumerate(thresholds)],
    )
    joined = n_cand.crossJoin(c_agg).crossJoin(t_agg)  # 1x1x1: scalars
    rows = [
        F.struct(
            F.lit(float(t)).alias("threshold"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col(f"_t_{i}").cast("long").alias("n_truth"),
            F.col(f"_h_{i}").cast("long").alias("n_hit"),
        )
        for i, t in enumerate(thresholds)
    ]
    exploded = joined.select(
        F.explode(F.array(*rows)).alias("r")).select("r.*")
    return exploded.select(
        "threshold", "n_candidates", "n_truth", "n_hit",
        F.round(F.col("n_hit") / F.greatest(F.col("n_candidates"), F.lit(1)),
                6).alias("precision"),
        F.round(F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)),
                6).alias("recall"),
    )


def duplicated_substring_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT duplicated-substring detection (the token-level companion
    to document-level dedup): every maximal token span of length >= k
    whose every k-token window also occurs elsewhere in the corpus
    (another doc, or another position in the same doc).

    Returns (doc_id, span_start, span_end, span_tokens) — 1-based
    inclusive token positions of each maximal duplicated span. Cutting
    these spans (rather than whole docs) is the standard remedy for
    boilerplate/licence blocks/quoted passages that exact and near
    dedup both miss, because the containing documents differ.

    Plan (no suffix array — the relational equivalent at corpus scale):

      1. k-gram window digests per doc, built INSIDE the row by a
         ``transform(sequence(...))`` higher-order function over the
         token array (codegen; no per-token explode, no per-doc sort) —
         one md5 per window, then ONE posexplode to (doc, pos, gram).
      2. duplicated window digests: hash-agg ``count >= 2`` over gram —
         the one corpus-wide shuffle, on uniform 32-hex keys.
      3. shuffle equi-join positions against the duplicated-gram set.
      4. merge overlapping/adjacent windows into maximal spans:
         gaps-and-islands per doc (window partitioned BY DOC — state
         bounded by doc length, never corpus size).

    The digest is md5 of the space-joined window so the DuckDB oracle
    reproduces it byte-for-byte; collisions are md5-negligible.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # tracked_persist: the window-digest projection (one md5 per k-gram
    # window) dominates the operator's CPU; both the dup-agg and the
    # join-back read it, so computing it twice doubles the cost. Same
    # release_caches() contract as boilerplate_share's gram stream.
    pos = tracked_persist(
        docs.select(F.col(id_col), grams.alias("_grams"))
        .select(F.col(id_col), F.posexplode("_grams").alias("pos", "gram"))
    )
    dup = (
        pos.groupBy("gram").agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("gram")
    )
    hits = pos.join(dup, "gram").select(id_col, "pos")
    # gaps-and-islands: windows [p, p+k-1] merge while the next start is
    # within k of the previous (overlap or exact adjacency).
    w = W.partitionBy(id_col).orderBy("pos")
    islands = (
        hits.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_brk",
            (F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k)).cast("int"),
        )
        .withColumn("_island", F.sum("_brk").over(w))
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            (F.min("pos") + 1).alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def cut_token_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply substring dedup: remove the given token spans from each
    doc's text. (doc_id, text, removed_tokens) — docs with no spans
    pass through unchanged (removed_tokens = 0), a fully-covered doc
    comes back with empty text (the caller's drop policy decides).

    ``spans`` is (doc_id, span_start, span_end), 1-based inclusive —
    :func:`duplicated_substring_spans` output. The cut is pure
    higher-order-function arithmetic: spans collect per doc (list
    bounded by spans-per-doc, never corpus), and one indexed
    ``filter`` lambda drops covered tokens — codegen, no explode of
    the corpus, no Python.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
        ).alias("_spans")
    )
    toks = F.split(F.col(text_col), " ")
    covered = lambda tok, i: F.exists(  # noqa: E731 — 1-based token index
        F.col("_spans"),
        lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"]),
    )
    kept = F.filter(toks, lambda tok, i: ~covered(tok, i))
    joined = docs.join(per_doc, id_col, "left")
    return joined.select(
        F.col(id_col),
        F.when(F.col("_spans").isNull(), F.col(text_col))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
        F.when(F.col("_spans").isNull(), F.lit(0))
        .otherwise(F.size(toks) - F.size(kept))
        .alias("removed_tokens"),
    )


def substring_dup_stats(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc rollup of :func:`duplicated_substring_spans`:
    (doc_id, n_tokens, dup_tokens, dup_frac) — docs with no duplicated
    span report 0/0.0. The cut-or-keep policy knob for substring-level
    dedup (e.g. drop docs with dup_frac > 0.5, cut spans otherwise)."""
    spans = duplicated_substring_spans(docs, k=k, text_col=text_col, id_col=id_col)
    per_doc = spans.groupBy(id_col).agg(F.sum("span_tokens").alias("dup_tokens"))
    return (
        docs.select(
            F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("n_tokens")
        )
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def spans_to_text(docs_spans: DataFrame) -> DataFrame:
    """Adapter: interleaved-span documents (input_hint schema) -> flat text
    (space-joined text spans, media refs dropped)."""
    return docs_spans.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )


# --------------------------------------------------------------------------
# char-trigram LM scoring + PII redaction
# --------------------------------------------------------------------------

def trigram_lm_scores(
    docs: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Char-trigram language-model score per document — the relational
    form of the perplexity filter (CCNet-style) a training-data pipeline
    ranks raw crawl text with: fluent text re-uses the reference
    corpus's character patterns, boilerplate/garbage does not.

    Model: P(tri) = count(tri in train) / total, unsmoothed over the
    doc's trigrams that EXIST in the model, with an `oov_ratio` column
    carrying the rest (cleaner cross-engine than additive smoothing,
    whose vocab-size constant is arbitrary). Score = avg ln P over
    in-model trigram OCCURRENCES (multiplicity preserved — this is the
    cross-entropy, not a distinct-set statistic); ppl = exp(-score).

    Shape at scale: the model is at most |charset|^3 rows regardless of
    corpus size — a hash aggregation that reduces 100 TB of text to a
    broadcastable table — and scoring is one broadcast join + one
    per-doc hash agg. No window, no UDF, no shuffle of text bytes.
    """
    # Occurrences are immediately compressed to per-doc term frequencies
    # — the partial (map-side) aggregation collapses the trigram stream
    # before it ever shuffles, and the scoring join then carries
    # |docs| x |distinct-trigrams-per-doc| rows instead of one row per
    # character of the corpus. The tf-weighted average is the same
    # number as the per-occurrence average.
    def _tf(frame):
        return (
            _char_trigram_occurrences(frame, text_col, id_col)
            .groupBy("id", "shingle")
            .agg(F.count("*").alias("tf"))
        )

    if train is None:
        # self-scoring: ONE tf table feeds both the model aggregation
        # and the scoring join (tracked persist; bench releases via
        # release_caches())
        tf_docs = tracked_persist(_tf(docs))
        tf_train = tf_docs
    else:
        tf_train = _tf(train)
        tf_docs = _tf(docs)
    model = tf_train.groupBy("shingle").agg(F.sum("tf").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    in_model = F.col("cnt").isNotNull()
    scored = (
        tf_docs.join(F.broadcast(model), "shingle", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_trigrams"),
            F.sum(F.when(in_model, F.col("tf")).otherwise(0)).alias("n_in_model"),
            (
                F.sum(F.when(in_model, F.col("tf") * F.log(F.col("cnt") / F.col("total"))))
                / F.sum(F.when(in_model, F.col("tf")))
            ).alias("_avg"),
        )
    )
    return scored.select(
        "id",
        "n_trigrams",
        F.round((F.col("n_trigrams") - F.col("n_in_model")) / F.col("n_trigrams"), 6).alias("oov_ratio"),
        F.round(F.col("_avg"), 6).alias("avg_logp"),
        F.round(F.exp(-F.col("_avg")), 4).alias("ppl"),
    )


def perplexity_buckets(
    docs: DataFrame,
    train: DataFrame | None = None,
    cuts: tuple[float, float] = (1 / 3, 2 / 3),
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et al.,
    2020, public method): score every document with the char-trigram LM
    (:func:`trigram_lm_scores`), then split each LANGUAGE's documents
    into three buckets at the per-language ``cuts`` perplexity
    quantiles — lowest perplexity (most reference-like text) is
    ``head``, the band pipelines usually train on first.

    Output: (id, lang, ppl, bucket).

    Shape at scale: the cut points are a per-language hash aggregation
    (a |languages|-row table, broadcast back) followed by a codegen
    CASE comparison — NO per-language global sort-window over the
    corpus, which is what a naive percent_rank formulation would
    shuffle. Exact ``F.percentile`` keeps oracle bit-parity at sandbox
    SF; ``approx_percentile`` is the documented 100 TB swap-in (same
    trade as corpus_length_quantiles). Docs with NULL ppl (no in-model
    trigram under a separate ``train`` corpus) fall to ``tail`` — the
    "nothing like the reference corpus" verdict is exactly tail.
    """
    scores = trigram_lm_scores(docs, train, text_col, id_col)
    # persist: referenced by the cut aggregation AND the final join —
    # without the cache the whole trigram scoring pipeline runs twice
    # tracked: released via operators._caching.release_caches()
    labeled = tracked_persist(
        docs.select(
            F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
        ).join(scores.select("id", "ppl"), "id")
    )
    # cuts rounded to 6dp: the interpolated quantile is only ever USED in
    # a <= comparison against 4dp-rounded ppl values, and rounding both
    # engines' cut to a common precision removes any last-ulp
    # interpolation-order divergence from the bucket boundary.
    cut = labeled.groupBy("lang").agg(
        F.round(F.percentile("ppl", cuts[0]), 6).alias("_c1"),
        F.round(F.percentile("ppl", cuts[1]), 6).alias("_c2"),
    )
    return labeled.join(F.broadcast(cut), "lang").select(
        "id",
        "lang",
        "ppl",
        F.when(F.col("ppl") <= F.col("_c1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _char_trigram_occurrences(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, shingle) with MULTIPLICITY (unlike char_shingles) over
    ' '+lower(text)+' ' — the padding gives word-boundary trigrams."""
    # The padded string is PROJECTED FIRST so the transform lambda sees
    # a plain column reference — embedding concat+lower inside the
    # lambda re-evaluates them per array element, turning the explode
    # quadratic in document length (measured 8s -> 1.3s at sf0.1).
    padded = docs.select(
        F.col(id_col).alias("id"),
        F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" ")).alias("_pt"),
    )
    return (
        padded.select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(_pt) - 2, 1)),"
                    " i -> substring(_pt, i, 3))"
                )
            ).alias("shingle"),
        )
        .filter(F.length("shingle") == 3)
    )


# Java and RE2 (DuckDB) agree on these subsets: no backrefs, no
# lookaround, leftmost-first alternation, greedy quantifiers.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9\- ]{7,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub emails / phone numbers / IPv4 literals from document text —
    the compliance pass every released training corpus runs. Pure
    regexp_replace chain (JVM, codegen) applied in a FIXED order
    (email first: its local part would otherwise be half-eaten by the
    phone pattern's digit runs); per-kind match counts come from
    regexp_extract_all BEFORE replacement so the audit trail survives
    the scrub."""
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    red = text
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return docs.select(
        F.col(id_col).alias("id"),
        *counts,
        red.alias("redacted"),
    )


def corpus_rollup(docs: DataFrame, dims: tuple[str, ...] = ("source", "lang")) -> DataFrame:
    """Multi-dimensional corpus statistics via CUBE — the dataset-card /
    monitoring rollup (docs, unique docs, avg length per source x lang
    plus every marginal and the grand total) computed in ONE pass.

    Spark rewrites cube() into a single Expand + hash aggregation —
    2^|dims| grouping sets without 2^|dims| scans; at 100 TB that is
    the difference between one job and eight. Averages of integer
    columns are exact (integer sums are exact in double below 2^53),
    so the oracle comparison is float-risk-free.
    """
    return docs.cube(*dims).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_unique"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def normalize_text(
    docs: DataFrame,
    form: str = "NFC",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode + whitespace normalization — the canonical first stage of
    a corpus-curation pipeline: the same visible text must hash/shingle
    identically whether a page shipped it precomposed (é) or decomposed
    (e + U+0301), with NBSP or ASCII space, CRLF or LF. Without this,
    EVERY downstream dedup family silently misses visually-identical
    duplicates.

    Steps (applied in order, output column ``norm_text`` + change flag):
      1. Unicode normalization to ``form`` (NFC default) — the one step
         that genuinely needs Python (no JVM builtin): a vectorized
         pandas ``str.normalize`` over an Arrow batch, not per-row.
      2. C0/C1 control chars (except \\t \\n) -> dropped   (JVM regex)
      3. unicode space separators (NBSP & friends) -> ' ' (JVM regex)
      4. whitespace runs -> one space, ends trimmed       (JVM regex)

    Only step 1 pays an Arrow round-trip; steps 2-4 are codegen'd
    regexp_replace on the normalized column. The DuckDB oracle twin
    uses ``nfc_normalize`` + the same regexes (RE2/Java-compatible
    character classes).
    """
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _unicode_norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    text = F.col(text_col)
    u = _unicode_norm(text)
    no_ctrl = F.regexp_replace(u, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    spaces = F.regexp_replace(
        no_ctrl,
        # \x{...} hex escapes: the one code-point syntax Java regex and
        # RE2 (the DuckDB twin) share — \uXXXX is Java-only
        r"[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]",
        " ",
    )
    collapsed = F.trim(F.regexp_replace(spaces, r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("id"),
        collapsed.alias("norm_text"),
        (collapsed != text).alias("changed"),
    )


def lsh_collision_curve(
    spark,
    num_perms: int = 8,
    rows_per_band: int = 1,
    points: int = 20,
) -> DataFrame:
    """Analytic MinHash-LSH calibration table: for Jaccard similarity
    s, the probability at least one band collides is

        P(s) = 1 - (1 - s^r)^b     (r = rows_per_band, b = perms / r)

    — the curve operators consult to pick the AND-OR knob
    (minhash_lsh_pairs rows_per_band): r=1 maximizes recall, larger r
    sharpens the threshold around (1/b)^(1/r). Returns (s, p_collide)
    over ``points`` evenly spaced similarities; pure generate-series
    arithmetic, no data read.
    """
    b = num_perms // rows_per_band
    return spark.range(1, points + 1).select(
        F.round(F.col("id") / points, 6).alias("s"),
        F.round(
            1 - F.pow(1 - F.pow(F.col("id") / points, rows_per_band), b), 6
        ).alias("p_collide"),
    )


def paragraph_dedup(
    docs: DataFrame,
    sep_regex: str = r"\n{2,}",
    join_sep: str = "\n\n",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact dedup, corpus-wide, FIRST occurrence wins
    (the C4/Dolma paragraph-dedup stage — public method: Raffel et al.
    2020 drop duplicate three-sentence spans; Dolma's dedupe tool does
    exact paragraph hashes). Whole-doc dedup misses the boilerplate
    block pasted into otherwise-distinct pages; substring-span dedup
    (:func:`duplicated_substring_spans`) removes EVERY occurrence — this
    keeps exactly one, the policy training pipelines usually want.

    Returns one row per input doc: (id, text) with only first-occurrence
    paragraphs kept, in original order ("first" = lowest (doc id,
    paragraph index), deterministic under any partitioning). Docs whose
    every paragraph loses come back with text '' — the caller's filter.

    Shape at scale: ONE corpus-wide shuffle on the 32-hex paragraph
    digest (min hash-agg, map-side combine — uniform keys, no skew by
    construction), a semi-join back on the digest, and a per-doc
    re-assembly groupBy. No window over the corpus, no Python.
    """
    paras = (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep_regex)).alias("idx", "para"),
        )
        .filter(F.col("para") != "")
        .withColumn("h", F.md5(F.col("para")))
    )
    winners = (
        paras.groupBy("h")
        .agg(F.min(F.struct("id", "idx")).alias("w"))
        .select("h", F.col("w.id").alias("id"), F.col("w.idx").alias("idx"))
    )
    kept = paras.join(winners, ["h", "id", "idx"])
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias(text_col)
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select("id", F.coalesce(text_col, F.lit("")).alias(text_col))
    )


def hashed_bow(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick bag-of-words features (Weinberger et al. 2009 —
    the public method behind fastText-style quality classifiers at
    corpus scale): token -> md5 bucket in [0, dim), term frequency per
    (doc, bucket). SPARSE output (id, bucket, tf) — the join-able shape;
    a dense vector is one groupBy+transform away when a consumer needs
    it.

    Shape at scale: explode + ONE hash agg on (id, bucket) with
    map-side combine; bucket keys are uniform by construction (md5), so
    no skew. The vocabulary never materializes — that is the point of
    the hashing trick at 10^10 docs.
    """
    from sparkcrawl.functions.hashing import md5_bucket

    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.withColumn("bucket", md5_bucket(F.col("tok"), dim))
        .groupBy("id", "bucket")
        .agg(F.count("*").alias("tf"))
    )


def linear_text_classifier(
    docs: DataFrame,
    weights: DataFrame,
    dim: int = 64,
    bias: float = 0.0,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a PRE-TRAINED linear classifier over hashed-BoW features —
    how DCLM/FineWeb-edu-style quality classifiers actually run over a
    web corpus: training happens offline on a sample; scoring is a
    broadcast join + one aggregation over the whole corpus.

    ``weights``: small (bucket, weight) DataFrame — broadcast. Returns
    one row per input doc: (id, score, label) with
    score = sigmoid(bias + sum_b tf_b * w_b) rounded to 6 (cross-engine
    oracle convention); docs whose tokens all miss the weight table
    score sigmoid(bias).
    """
    feats = hashed_bow(docs, dim, text_col, id_col)
    z = feats.join(
        F.broadcast(weights.select("bucket", "weight")), "bucket", "left"
    ).groupBy("id").agg(
        F.sum(F.col("tf") * F.coalesce(F.col("weight"), F.lit(0.0))).alias("_z")
    )
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + F.coalesce("_z", F.lit(0.0))))),
        6,
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(z, "id", "left")
        .select("id", score.alias("score"))
        .withColumn("label", F.col("score") >= threshold)
    )


def contaminated_spans(
    train: DataFrame,
    probe: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram decontamination WITH POSITIONS — the surgical
    counterpart to :func:`cross_corpus_contamination`: every maximal
    token span of a TRAIN doc whose every k-token window also occurs
    somewhere in the PROBE (eval) corpus (Lee et al. 2022-style exact
    substring matching, public method). Doc-level Jaccard says "this
    doc leaked, drop it"; this says WHICH tokens leaked, so
    :func:`cut_token_spans` can remove the quoted eval item and keep
    the rest of the document.

    Returns (doc_id, span_start, span_end, span_tokens), 1-based
    inclusive — the exact :func:`duplicated_substring_spans` output
    shape, so the downstream cut is shared.

    Shape at scale: train-side window digests are built INSIDE the row
    (higher-order transform, one md5 per window, one posexplode);
    probe-side digests collapse to a DISTINCT gram set (bounded by the
    eval corpus, tiny next to training); ONE equi-join on the 32-hex
    digest; islands merge per doc (window partitioned BY DOC). Strictly
    bipartite — train never self-joins.
    """
    def _win_digests(tc: str):
        toks = F.split(F.col(tc), " ")
        n = F.size(toks)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pos = train.select(
        F.col(id_col), F.posexplode(_win_digests(text_col)).alias("pos", "gram")
    )
    probe_grams = probe.select(
        F.explode(_win_digests(text_col)).alias("gram")
    ).distinct()
    hits = pos.join(probe_grams, "gram").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    islands = (
        hits.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_brk",
            (F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k)).cast("int"),
        )
        .withColumn("_island", F.sum("_brk").over(w))
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            (F.min("pos") + 1).alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )

def vocabulary_growth(
    docs: DataFrame,
    n_shards: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps-law vocabulary growth curve over ingest shards: after
    processing shards ``0..i``, how many tokens have been scanned and
    how many DISTINCT terms have been seen. The curve is the standard
    corpus-health diagnostic — sub-linear vocabulary growth (Heaps'
    law, V ~ k*N^b with b≈0.4-0.6 for natural text) is what healthy
    prose looks like; a near-linear curve means id-heavy or generated
    junk (every doc minting fresh "words"), and a flat one means the
    crawl is re-reading boilerplate.

    Documents land in shard ``id % n_shards`` (ingest-order ids make
    the shards a time sequence); a term's first shard attributes its
    vocabulary contribution. Output per shard: ``shard_tokens``,
    ``new_terms``, and running ``cum_tokens`` / ``cum_vocab``.

    Plan shape: one explode over tokens, two map-combinable groupBys
    (per-shard counts; min-shard per term — the only term-cardinality
    shuffle), then running sums over the SHARD table, whose
    cardinality is ``n_shards`` (config-bounded, same contract as the
    checkpoint-log windows — the window never sees token rows).
    """
    toks = _tokens(docs, text_col, id_col).withColumn(
        "shard", (F.col("id") % n_shards).cast("int")
    )
    per_shard = toks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("shard_tokens")
    )
    first_seen = toks.groupBy("tok").agg(F.min("shard").alias("shard"))
    new_terms = first_seen.groupBy("shard").agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    cur = per_shard.join(new_terms, "shard", "left").select(
        "shard",
        F.col("shard_tokens").cast("bigint").alias("shard_tokens"),
        F.coalesce(F.col("new_terms"), F.lit(0))
        .cast("bigint")
        .alias("new_terms"),
    )
    w = W.orderBy("shard").rowsBetween(W.unboundedPreceding, W.currentRow)
    return cur.select(
        "shard",
        "shard_tokens",
        "new_terms",
        F.sum("shard_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("new_terms").over(w).cast("bigint").alias("cum_vocab"),
    )


def zipf_fit(
    docs: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf-law fit over the corpus frequency head: OLS of
    ln(frequency) on ln(rank) for the ``top_n`` most frequent terms.
    Natural text gives slope ≈ -1 (Zipf 1949); a much flatter slope is
    the signature of templated/generated junk (frequencies too even),
    a much steeper one means a boilerplate-dominated crawl (a few
    phrases own the corpus). The companion diagnostic to
    ``vocabulary_growth`` — that one watches the vocabulary TAIL grow,
    this one checks the frequency HEAD's shape.

    Output: ONE row (n_terms, slope, intercept, r2, top_share) —
    ``top_share`` = head tokens / all tokens, ``r2`` the fit quality
    (squared Pearson r; natural text > 0.9 on the head). Doubles
    rounded 6dp after the fit.

    Plan shape: one token explode + map-combined count agg (the only
    corpus-scale shuffle), then ``orderBy(freq desc, term).limit(n)``
    — Spark plans TakeOrderedAndProject, a per-partition heap + merge,
    NEVER a global sort or single-partition window over term
    cardinality. Ranks come from a row_number window over the ≤ top_n
    surviving rows (config-bounded, same contract as the shard-table
    windows); the regression is one covar/var aggregate over that
    bounded set. Total-token count rides the same freq table as a
    1-row agg, cross-joined (1 x 1) into the result.
    """
    freqs = (
        _tokens(docs, text_col, id_col)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = freqs.orderBy(F.desc("freq"), F.asc("tok")).limit(top_n)
    rw = W.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = head.select(
        F.row_number().over(rw).cast("double").alias("rank"),
        F.col("freq").cast("double").alias("f"),
    ).select(F.log("rank").alias("lnr"), F.log("f").alias("lnf"),
             F.col("f"))
    total = freqs.agg(F.sum("freq").cast("double").alias("all_tokens"))
    # slope/r2 derived from raw covar/var moments with explicit
    # zero-variance guards: ANSI mode makes corr() THROW on a flat head
    # (var(lnf)=0) — slope is 0 there, r2 undefined (NULL); a 1-term
    # head (var(lnr)=0) leaves both undefined.
    fit = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.covar_pop("lnr", "lnf").alias("cv"),
        F.var_pop("lnr").alias("vr"),
        F.var_pop("lnf").alias("vf"),
        F.avg("lnf").alias("mlnf"),
        F.avg("lnr").alias("mlnr"),
        F.sum("f").alias("head_tokens"),
    )
    slope = F.when(F.col("vr") > 0, F.col("cv") / F.col("vr"))
    r2 = F.when((F.col("vr") > 0) & (F.col("vf") > 0),
                F.col("cv") * F.col("cv") / (F.col("vr") * F.col("vf")))
    return fit.crossJoin(total).select(
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("mlnf") - slope * F.col("mlnr"), 6)
        .alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.round(F.col("head_tokens") / F.col("all_tokens"), 6)
        .alias("top_share"),
    )


def term_bursts(
    docs: DataFrame,
    period_col: str = "period",
    k: int = 10,
    alpha: float = 5.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Burst detection over crawl rounds: which terms' frequencies
    JUMPED this period relative to the last one — the
    trending/novelty signal that steers a recrawl toward hosts where
    something is happening (Kleinberg-style burst intuition, done as
    the smoothed period-over-period rate ratio instead of the HMM).

    Per (period, term): tf this period vs previous period, both
    RATE-normalized by the period's total token count (a big crawl
    round must not look like a burst of everything), burst_score =
    (rate + a) / (prev_rate + a) with additive ``alpha`` smoothing
    expressed per-million tokens; top-``k`` per period by (score desc,
    term). First-period terms compare against an empty previous round
    and naturally score as new arrivals.

    Plan shape: one token explode + one (period, term) hash agg (the
    only corpus-scale shuffle). Period token totals come from a
    second map-combinable agg on the tiny period key BROADCAST back —
    never a window partitioned by period, which would drag each
    round's whole vocabulary through one task. The previous-period
    rate arrives via a lag window PARTITIONED BY TERM over the period
    axis — each partition holds at most n_periods rows. Top-k per
    period is a rank-limit window over the period's term set
    (WindowGroupLimit heap). No UDF.
    """
    # period rides the explode projection — joining tokens back to
    # docs for it would add a second corpus-scale shuffle for nothing
    toks = docs.select(
        F.col(period_col).alias("period"),
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                           lambda x: x != "")).alias("tok"),
    )
    tf = toks.groupBy("period", "tok").agg(
        F.count(F.lit(1)).alias("tf"))
    totals = tf.groupBy("period").agg(F.sum("tf").alias("_total"))
    cur = tf.join(F.broadcast(totals), "period").select(
        "period", "tok", "tf",
        (F.col("tf") * 1e6 / F.col("_total")).alias("rate_ppm"))
    wt = W.partitionBy("tok").orderBy("period")
    scored = cur.withColumn(
        "prev_rate_ppm",
        F.coalesce(F.lag("rate_ppm").over(wt), F.lit(0.0)),
    ).withColumn(
        "burst_score",
        (F.col("rate_ppm") + F.lit(float(alpha)))
        / (F.col("prev_rate_ppm") + F.lit(float(alpha))),
    )
    wk = W.partitionBy("period").orderBy(
        F.desc("burst_score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("period", "tok", F.col("tf").cast("bigint").alias("tf"),
                F.round("rate_ppm", 6).alias("rate_ppm"),
                F.round("prev_rate_ppm", 6).alias("prev_rate_ppm"),
                F.round("burst_score", 6).alias("burst_score"),
                F.col("rank").cast("bigint").alias("rank"))
    )


def domain_kl_profile(
    docs: DataFrame,
    head_n: int = 200,
    alpha: float = 0.5,
    domain_col: str = "domain",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain language-model divergence: KL(domain || corpus) over
    the corpus's top-``head_n`` terms — the "weirdness" score that
    separates domains writing normal prose from keyword-stuffed spam,
    boilerplate farms, and off-language hosts (high KL), and from
    pure-template mirrors of the corpus average (KL ~ 0). Used as a
    quality-classifier feature and a manual-review queue ordering.

    Both distributions are additive-``alpha``-smoothed over the SAME
    head vocabulary (out-of-head mass is excluded from both sides, so
    the score compares SHAPE on common ground rather than punishing
    small vocabularies). Output per domain: (domain, n_tokens,
    head_tokens, kl_bits).

    Plan shape: corpus head via one term agg + TakeOrderedAndProject
    (never a global sort); the head is BROADCAST (head_n rows) into
    the per-(domain, term) agg's join, so the only corpus-scale
    shuffle is the (domain, term) count agg itself. KL reduces with
    one map-combinable agg per domain. No UDF, no window over data.
    """
    toks = docs.select(
        F.col(domain_col).alias("domain"),
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                           lambda x: x != "")).alias("tok"),
    )
    gf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("gtf"))
    head = gf.orderBy(F.desc("gtf"), F.asc("tok")).limit(head_n)
    dom_tot = toks.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_tokens"))
    dtf = (toks.join(F.broadcast(head.select("tok")), "tok")
           .groupBy("domain", "tok")
           .agg(F.count(F.lit(1)).alias("dtf")))
    # densify: every (domain, head-term) cell exists so smoothing
    # applies to zero counts too — crossJoin of the domain table with
    # the broadcast head (|domains| x head_n rows, agg-sized)
    grid = dom_tot.crossJoin(F.broadcast(head))
    cells = grid.join(dtf, ["domain", "tok"], "left").select(
        "domain", "n_tokens", "gtf",
        F.coalesce(F.col("dtf"), F.lit(0)).alias("dtf"),
    )
    ghead = head.agg(F.sum("gtf").alias("_ghead"))
    dhead = cells.groupBy("domain").agg(F.sum("dtf").alias("_dhead"))
    a = F.lit(float(alpha))
    n = F.lit(float(head_n))
    scored = cells.crossJoin(F.broadcast(ghead)).join(dhead, "domain")
    p = (F.col("dtf") + a) / (F.col("_dhead") + a * n)
    q = (F.col("gtf") + a) / (F.col("_ghead") + a * n)
    kl_term = p * F.log2(p / q)
    return scored.groupBy("domain").agg(
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        F.max("_dhead").cast("bigint").alias("head_tokens"),
        F.round(F.sum(kl_term), 6).alias("kl_bits"),
    )


def token_fertility_by_lang(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility per language — subword-ish tokens per
    whitespace word (the standard tokenizer-quality metric; see Rust
    et al., "How Good is Your Tokenizer?", ACL 2021): a language whose
    fertility under the shared tokenizer is 2-3x English's pays that
    multiple in sequence length, so mixture weights and token budgets
    (corpus_token_shards, mixture sampling) must be set in TOKENS, not
    documents. Uses the same whitespace and BPE-ish regex lanes as
    :func:`token_counts`, aggregated per language:

    (lang, n_docs, total_chars, total_ws_tokens, total_re_tokens,
    fertility = re/ws, tokens_per_100_chars) — fertility NULL when a
    language has no whitespace tokens.

    ONE map-combinable hash agg keyed by language (bounded
    cardinality); the token counting is codegen'd regexp work per row,
    no explode — counting never materializes the token stream.
    """
    t = F.col(text_col)
    ws = F.size(F.split(t, " "))
    re_t = F.size(F.regexp_extract_all(
        F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
    agg = docs.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(t)).cast("bigint").alias("total_chars"),
        F.sum(ws).cast("bigint").alias("total_ws_tokens"),
        F.sum(re_t).cast("bigint").alias("total_re_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "total_chars", "total_ws_tokens",
        "total_re_tokens",
        F.when(F.col("total_ws_tokens") > 0,
               F.round(F.col("total_re_tokens") / F.col("total_ws_tokens"),
                       6)).alias("fertility"),
        F.when(F.col("total_chars") > 0,
               F.round(F.lit(100.0) * F.col("total_re_tokens")
                       / F.col("total_chars"), 6))
        .alias("tokens_per_100_chars"),
    )


def host_language_profile(
    docs: DataFrame,
    host_col: str = "host",
    lang_col: str = "lang",
    min_docs: int = 2,
    multi_entropy: float = 0.5,
) -> DataFrame:
    """Per-host language mix — the readout that routes hosts between
    pipelines: a monolingual host feeds one language shard directly, a
    genuinely multilingual host is an hreflang/bitext-candidate site
    (feed operators/bitext.py), and a host whose 'languages' are
    uniform noise is a langid-failure cluster worth auditing.

    Per host: (n_docs, n_langs, majority_lang, majority_share,
    lang_entropy in nats via the map-combinable identity ln n -
    sum(c ln c)/n, multilingual = n_docs >= ``min_docs`` AND entropy
    >= ``multi_entropy``). Majority tie-break: on equal counts the
    lexicographically LARGEST lang wins (struct-max ordering — one
    deterministic rule, no window).

    Scale shape: two hash aggs — (host, lang) then host — both
    map-side combinable; output is |hosts|-sized. No join, no window,
    no UDF.
    """
    per = (
        docs.groupBy(F.col(host_col).alias("host"),
                     F.col(lang_col).alias("lang"))
        .agg(F.count("*").alias("c"))
    )
    agg = per.groupBy("host").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_langs"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("_clnc"),
        F.max(F.struct(F.col("c"), F.col("lang"))).alias("_mj"),
    )
    ent = F.round(
        F.log(F.col("n_docs")) - F.col("_clnc") / F.col("n_docs"), 6)
    return agg.select(
        "host",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("_mj.lang").alias("majority_lang"),
        F.round(F.col("_mj.c") / F.col("n_docs"), 6)
        .alias("majority_share"),
        ent.alias("lang_entropy"),
        ((F.col("n_docs") >= min_docs)
         & ((F.log(F.col("n_docs"))
             - F.col("_clnc") / F.col("n_docs")) >= multi_entropy))
        .alias("multilingual"),
    )


def flesch_reading_ease(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch Reading Ease (Flesch 1948 — the classic readability
    score; quality-curation pipelines band on it the way they band on
    Gopher/C4 rules): 206.835 - 1.015·(words/sentences) -
    84.6·(syllables/words). Relational approximations, documented and
    deterministic:

    - words   = ``[a-z]+`` runs of the lowercased text (digits/
      punctuation are not words);
    - sentences = ``[.!?]+`` runs, floored at 1 (a fragment is one
      sentence);
    - syllables = ``[aeiouy]+`` vowel-group runs — a vowel run never
      spans two words (separators are non-vowels), so the global run
      count equals the per-word sum, WITHOUT materializing a token
      stream.

    Output: (id, n_words, n_sentences, n_syllables, flesch rounded to
    4; NULL when the doc has no words). One codegen projection — three
    regexp counters per row, no explode/shuffle/UDF. The score is the
    curation-side band input (quality_top_fraction / curation_audit
    accept it like any other quality column).
    """
    t = F.lower(F.col(text_col))
    words = F.size(F.regexp_extract_all(t, F.lit(r"[a-z]+"), 0))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col),
                                    F.lit(r"[.!?]+"), 0)),
        F.lit(1))
    syll = F.size(F.regexp_extract_all(t, F.lit(r"[aeiouy]+"), 0))
    score = (F.lit(206.835)
             - F.lit(1.015) * (words.cast("double") / sents)
             - F.lit(84.6) * (syll.cast("double") / words))
    return docs.select(
        F.col(id_col).alias("id"),
        words.cast("bigint").alias("n_words"),
        sents.cast("bigint").alias("n_sentences"),
        syll.cast("bigint").alias("n_syllables"),
        F.when(words > 0, F.round(score, 4)).alias("flesch"),
    )


def canary_scan(
    docs: DataFrame,
    canaries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    canary_col: str = "canary",
    name_col: str = "name",
) -> DataFrame:
    """Benchmark canary-string scan — the cheapest, highest-precision
    contamination check there is: eval suites embed globally-unique
    GUID sentences (the BIG-bench "canary string" convention)
    precisely so a training-data pipeline can grep for them; any hit
    is a smoking gun needing no n-gram or semantic machinery. Runs as
    exact substring containment of each canary against each document.

    Per canary: (name, n_hits, example_doc = lowest hit id). The
    canary table is tiny (tens of rows) and BROADCAST; containment is
    a codegen `contains` over the corpus — an intentional
    broadcast-nested-loop of |docs| x |canaries| PROJECTION work, the
    same cost as evaluating |canaries| extra columns, with no shuffle
    of the text. Zero-hit canaries are reported (absence is the
    result that clears a corpus for release).
    """
    c = F.broadcast(canaries.select(F.col(name_col).alias("name"),
                                    F.col(canary_col).alias("_c")))
    j = docs.select(F.col(id_col).alias("_id"),
                    F.col(text_col).alias("_t")).crossJoin(c)
    hits = j.select(
        "name",
        F.when(F.col("_t").contains(F.col("_c")), F.col("_id"))
        .alias("hit_id"))
    return hits.groupBy("name").agg(
        F.sum(F.col("hit_id").isNotNull().cast("long")).alias("n_hits"),
        F.min("hit_id").alias("example_doc"),
    )
