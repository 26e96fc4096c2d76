#!/usr/bin/env python
"""spark-submit entry point for the corpus-curation pipeline — the
training-data counterpart to run_crawl.py.

    spark-submit --master <master> \
        --py-files dist/sparkcrawl.zip \
        scripts/run_corpus.py \
        --input /data/docs.parquet --output /data/curated \
        [--min-quality 0.3] [--gopher-rules] [--keep-buckets head,middle] \
        [--near-dup] [--semantic-threshold 0.95 --embeddings /data/emb.parquet] \
        [--decontaminate /data/eval.parquet] \
        [--mixture-budget N --mixture-alpha 0.7] [--shard-tokens 100000000] \
        [--splits train=0.9,val=0.05,test=0.05]

Stages (each built ONLY from the repo's operators; every flag is
optional and the stages compose in this order):

  language-ID -> quality gate -> repetition gate
  [-> URL quality gate (RefinedWeb-style, needs URL doc ids)]
  [-> Gopher rule verdicts] [-> C4 cleaning heuristics]
  [-> compression-ratio floor (deflate repetition detector)]
  [-> CCNet perplexity-bucket gate]
  [-> majority-language paragraph cleanup (CCNet granularity)]
  -> exact dedup [-> paragraph-level first-wins dedup]
  [-> SemDeDup semantic dedup]
  [-> embedding canonical dedup (LSH pairs -> components -> keep-min)]
  [-> near-dup canonical dedup | soft-dedup weight column (keep all)]
  [-> eval decontamination]
  [-> temperature-weighted mixture draw] -> salted-hash split
  -> partitioned export with manifests [-> token-balanced shard ids]

Everything is deterministic (salted-hash keys, no rand()): re-running
the job on the same input reproduces the same corpus byte-for-byte.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    from sparkcrawl.operators import release_caches

    args = _parse_args()
    try:
        _curate(args)
    finally:
        # the near-dup stage caches its candidate pairs and shingle
        # arrays; release them once the export has run, so a driver
        # that curates again neither holds them nor reads them back
        release_caches()


def _parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet with (doc_id, text, source?)")
    ap.add_argument("--from-warc", action="store_true",
                    help="--input is a WARC shard glob (Common-Crawl-style): "
                         "ingest through the live extractor, flatten spans "
                         "to text, source = registered domain")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--max-repetition", type=float, default=0.3,
                    help="drop docs whose dup_word_frac exceeds this (Gopher rule)")
    ap.add_argument("--min-compression-ratio", type=float, default=0.0,
                    help="drop docs whose deflate ratio falls below this "
                         "(repetitive/templated spam); 0 = off")
    ap.add_argument("--keep-majority-lang", action="store_true",
                    help="strip off-language paragraphs per doc (CCNet "
                         "granularity) before dedup")
    ap.add_argument("--soft-dedup", type=float, default=0.0, metavar="ALPHA",
                    help="keep every doc, attach weight=cluster_size^-ALPHA "
                         "from the near-dup pipeline (SoftDeDup) instead of "
                         "dropping; composes with --near-dup being off")
    ap.add_argument("--near-dup", action="store_true",
                    help="LSH -> exact-verify -> connected-components canonical dedup")
    ap.add_argument("--cut-substrings", type=int, default=0, metavar="K",
                    help="cut every token span whose K-token windows repeat "
                         "corpus-wide (0 = off); docs emptied by the cut are dropped")
    ap.add_argument("--decontaminate",
                    help="parquet of eval docs; drop training docs overlapping them")
    ap.add_argument("--decontaminate-cut", action="store_true",
                    help="with --decontaminate: surgically CUT the leaked "
                         "spans (textops.contaminated_spans) instead of "
                         "dropping whole docs; docs emptied by the cut are "
                         "dropped")
    ap.add_argument("--mixture-budget", type=int, default=0,
                    help="total docs to draw via tokens^alpha domain weights (0 = keep all)")
    ap.add_argument("--token-budget", type=int, default=0,
                    help="after all gates and sampling, keep the best "
                         "documents by composite quality up to this total "
                         "whitespace-token budget (greedy prefix, "
                         "sampling.token_budget_select; 0 = off)")
    ap.add_argument("--mixture-alpha", type=float, default=0.7)
    ap.add_argument("--shard-tokens", type=int, default=0,
                    help="assign token-balanced shard ids with this target (0 = off)")
    ap.add_argument("--bpe-merges", type=int, default=0,
                    help="train a BPE vocab of this many merges on the kept corpus "
                         "and balance shards by SUBWORD counts instead of whitespace "
                         "tokens (0 = whitespace; subword counts are the unit the "
                         "training loader actually consumes)")
    ap.add_argument("--quality-top-frac", type=float, default=0.0,
                    metavar="FRAC",
                    help="after the absolute --min-quality gate, keep only "
                         "the top FRAC of docs per detected language by "
                         "composite quality (FineWeb-style relative gate)")
    ap.add_argument("--gopher-rules", action="store_true",
                    help="require ALL seven Gopher quality-rule verdicts "
                         "(repetition.gopher_quality_rules) in addition to "
                         "the composite quality gate")
    ap.add_argument("--c4-rules", action="store_true",
                    help="require the C4 cleaning-heuristic verdicts "
                         "(repetition.c4_quality_filters)")
    ap.add_argument("--dedup-paragraphs", action="store_true",
                    help="corpus-wide paragraph-level exact dedup, first "
                         "occurrence wins (textops.paragraph_dedup); docs "
                         "emptied by the cut are dropped")
    ap.add_argument("--url-filter", action="store_true",
                    help="RefinedWeb-style URL quality gate on doc_id "
                         "(with --from-warc, doc_id IS the URL); "
                         "combine with --url-blocklist")
    ap.add_argument("--url-blocklist",
                    help="parquet/text of blocked registered domains for --url-filter")
    ap.add_argument("--keep-buckets", default="",
                    help="comma list of CCNet perplexity buckets to keep "
                         "(e.g. head,middle); empty = no bucket gate")
    ap.add_argument("--embeddings",
                    help="parquet with (doc_id, embedding) for --semantic-threshold")
    ap.add_argument("--semantic-threshold", type=float, default=0.0,
                    help="SemDeDup: drop docs whose intra-cluster cosine to "
                         "a lower-id kept doc reaches this (0 = off; "
                         "needs --embeddings)")
    ap.add_argument("--semantic-canonical", type=float, default=0.0,
                    help="embedding canonical dedup: banded-LSH cosine "
                         "near-dup pairs -> connected components -> keep "
                         "min doc_id per cluster (0 = off; needs "
                         "--embeddings). The transitive, policy-grade "
                         "counterpart to --semantic-threshold")
    ap.add_argument("--splits", default="train=0.9,val=0.05,test=0.05")
    ap.add_argument("--salt", default="corpus-v1")
    ap.add_argument("--report", default="",
                    help="comma list of post-curation readouts printed "
                         "as JSON lines: fertility (tokens per word "
                         "per detected language), reading-ease "
                         "(corpus Flesch summary), canaries (needs "
                         "--canaries)")
    ap.add_argument("--canaries", metavar="PARQUET",
                    help="(name, canary) sentinel strings for "
                         "--report canaries")
    return ap.parse_args()


def _curate(args: argparse.Namespace) -> None:
    spark = SparkSession.builder.appName("sparkcrawl-corpus").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from sparkcrawl.operators import sampling, textops
    from sparkcrawl.operators.repetition import repetition_metrics
    from sparkcrawl.plans.export import export_curated

    if args.from_warc:
        from sparkcrawl.functions.domains import registered_domain
        from sparkcrawl.functions.urlnorm import host_of_canonical_col
        from sparkcrawl.sources.warc import ingest_warc_documents

        docs = textops.spans_to_text(
            ingest_warc_documents(spark, args.input)
        ).withColumn(
            "source", registered_domain(host_of_canonical_col(F.col("doc_id")))
        )
    else:
        docs = spark.read.parquet(args.input)
    if "source" not in docs.columns:
        docs = docs.withColumn("source", F.lit("default"))

    lang = textops.language_id(docs).select(
        F.col("id").alias("doc_id"), "pred_lang"
    )
    qual = textops.quality_score(docs).select(
        F.col("id").alias("doc_id"), "quality"
    )
    rep = repetition_metrics(docs).select(
        F.col("id").alias("doc_id"), "dup_word_frac"
    )
    kept = (
        docs.join(lang, "doc_id")
        .join(qual, "doc_id")
        # left: docs under 3 words have no repetition metrics; the
        # quality gate already handles degenerate shorts
        .join(rep, "doc_id", "left")
        .filter(
            (F.col("pred_lang") != "unknown")
            & (F.col("quality") >= args.min_quality)
            & (F.coalesce(F.col("dup_word_frac"), F.lit(0.0)) <= args.max_repetition)
        )
    )
    if args.url_filter:
        from sparkcrawl.operators.urlfilter import url_quality_filter

        bl = None
        if args.url_blocklist:
            bl = (
                spark.read.parquet(args.url_blocklist)
                if args.url_blocklist.endswith(".parquet")
                else spark.read.text(args.url_blocklist)
            )
        ok_urls = (
            url_quality_filter(kept.select(F.col("doc_id").alias("url")), bl)
            .filter(F.col("keep"))
            .select(F.col("url").alias("doc_id"))
        )
        kept = kept.join(ok_urls, "doc_id")
    if args.gopher_rules:
        from sparkcrawl.operators.repetition import gopher_quality_rules

        gq = gopher_quality_rules(kept).select(
            F.col("id").alias("doc_id"), F.col("keep").alias("_gkeep")
        )
        kept = kept.join(gq, "doc_id").filter(F.col("_gkeep")).drop("_gkeep")
    if args.c4_rules:
        from sparkcrawl.operators.repetition import c4_quality_filters

        cq = c4_quality_filters(kept).select(
            F.col("id").alias("doc_id"), F.col("keep").alias("_ckeep")
        )
        kept = kept.join(cq, "doc_id").filter(F.col("_ckeep")).drop("_ckeep")
    if args.min_compression_ratio > 0:
        from sparkcrawl.operators.repetition import compression_ratio

        cr = compression_ratio(kept).select(
            F.col("id").alias("doc_id"), F.col("ratio").alias("_cratio")
        )
        kept = (
            kept.join(cr, "doc_id")
            .filter(F.col("_cratio") >= args.min_compression_ratio)
            .drop("_cratio")
        )
    if args.quality_top_frac > 0:
        # relative gate AFTER the absolute one: keep the top fraction
        # per detected language by composite quality (threshold-then-
        # filter — one |langs|-row percentile agg, no corpus sort)
        tf = textops.quality_top_fraction(
            kept, frac=args.quality_top_frac, strata_col="pred_lang"
        ).select(F.col("id").alias("doc_id"))
        kept = kept.join(tf, "doc_id")
    if args.keep_buckets:
        wanted = [b.strip() for b in args.keep_buckets.split(",") if b.strip()]
        pb = textops.perplexity_buckets(kept, lang_col="pred_lang").select(
            F.col("id").alias("doc_id"), "bucket"
        )
        kept = (
            kept.join(pb, "doc_id")
            .filter(F.col("bucket").isin(wanted))
            .drop("bucket")
        )
    if args.keep_majority_lang:
        cleaned = textops.keep_majority_language(kept).withColumnRenamed(
            "id", "doc_id")
        kept = (
            kept.drop("text")
            .join(cleaned.filter(F.col("text") != ""), "doc_id")
        )
    kept = textops.exact_dedup(kept)
    if args.dedup_paragraphs:
        cleaned = textops.paragraph_dedup(kept).withColumnRenamed("id", "doc_id")
        kept = (
            kept.drop("text")
            .join(cleaned.filter(F.col("text") != ""), "doc_id")
        )
    if args.semantic_threshold and args.embeddings:
        from sparkcrawl.operators import simsearch

        emb = spark.read.parquet(args.embeddings).join(
            kept.select("doc_id"), "doc_id"
        )
        keep_ids = (
            simsearch.semantic_dedup(
                emb, threshold=args.semantic_threshold, id_col="doc_id"
            )
            .filter(F.col("keep"))
            .select(F.col("id").alias("doc_id"))
        )
        kept = kept.join(keep_ids, "doc_id")
    if args.semantic_canonical and args.embeddings:
        from sparkcrawl.operators import simsearch

        emb = spark.read.parquet(args.embeddings).join(
            kept.select("doc_id"), "doc_id"
        )
        survivors = simsearch.semantic_dedup_canonical(
            emb, threshold=args.semantic_canonical, id_col="doc_id"
        ).select("doc_id")
        kept = kept.join(survivors, "doc_id")
    if args.near_dup:
        kept = textops.dedup_corpus_canonical(kept)
    if args.soft_dedup > 0:
        weights = textops.soft_dedup_weights(kept, alpha=args.soft_dedup)
        kept = kept.join(
            weights.select("doc_id", "cluster_size", "weight"), "doc_id")
    if args.cut_substrings:
        spans = textops.duplicated_substring_spans(kept, k=args.cut_substrings)
        cut = textops.cut_token_spans(kept, spans)
        kept = (
            kept.drop("text")
            .join(cut.filter(F.col("text") != "").select("doc_id", "text"), "doc_id")
        )
    if args.decontaminate:
        evalset = spark.read.parquet(args.decontaminate)
        if args.decontaminate_cut:
            spans = textops.contaminated_spans(kept, evalset, k=8)
            cut = textops.cut_token_spans(kept, spans)
            kept = (
                kept.drop("text")
                .join(cut.filter(F.col("text") != "").select("doc_id", "text"),
                      "doc_id")
            )
        else:
            leaks = textops.cross_corpus_contamination(
                kept, evalset, n=8, threshold=0.8
            ).select(F.col("train_id").alias("doc_id")).distinct()
            kept = kept.join(leaks, "doc_id", "left_anti")
    if args.mixture_budget:
        weights = sampling.domain_mixing_weights(
            kept, alpha=args.mixture_alpha
        ).select("source", F.col("weight"))
        kept = sampling.weighted_mixture_sample(
            kept, weights, budget=args.mixture_budget, salt=args.salt
        ).drop("mix_rank")
    if args.token_budget:
        # quality column is the composite from textops.quality_score
        # (bounded [0,1], the operator's contract); tokens are
        # whitespace tokens — the same unit --shard-tokens defaults to
        kept = sampling.token_budget_select(
            kept.withColumn(
                "n_tokens", F.size(F.split(F.col("text"), " "))
            ),
            budget_tokens=args.token_budget,
        ).drop("n_tokens", "cum_tokens")
    splits = {
        k: float(v)
        for k, v in (kv.split("=") for kv in args.splits.split(","))
    }
    labeled = sampling.hash_split(kept, splits, salt=args.salt)
    if args.shard_tokens:
        tokens_col = None
        shard_in = labeled
        if args.bpe_merges:
            from sparkcrawl.operators import bpe

            merges = bpe.bpe_train(labeled, num_merges=args.bpe_merges)
            counts = bpe.bpe_encode(labeled, merges).select(
                F.col("id").alias("doc_id"), "n_tokens"
            )
            shard_in = labeled.join(counts, "doc_id")
            tokens_col = "n_tokens"
        shards = sampling.token_balanced_shards(
            shard_in, target_tokens=args.shard_tokens, salt=args.salt,
            tokens_col=tokens_col,
        ).select("doc_id", "shard")
        labeled = labeled.join(shards, "doc_id")
    if args.report:
        wanted = [w.strip() for w in args.report.split(",") if w.strip()]
        known = {"fertility", "reading-ease", "canaries"}
        unknown = set(wanted) - known
        if unknown:
            raise SystemExit(f"unknown --report kinds: {sorted(unknown)} "
                             f"(known: {sorted(known)})")

        def emit(name, df):
            for r in df.collect():
                print(json.dumps({"report": name, **r.asDict()},
                                 default=str))

        if "fertility" in wanted:
            if "lang" in labeled.columns:
                fert_in = labeled
            else:  # derive from the engine's own langid
                langs = textops.language_id(labeled).select(
                    F.col("id").alias("doc_id"),
                    F.col("pred_lang").alias("lang"))
                fert_in = labeled.join(langs, "doc_id")
            emit("fertility",
                 textops.token_fertility_by_lang(fert_in)
                 .orderBy("lang"))
        if "reading-ease" in wanted:
            fl = textops.flesch_reading_ease(labeled)
            emit("reading_ease", fl.agg(
                F.count("*").alias("n_docs"),
                F.round(F.avg("flesch"), 4).alias("mean_flesch"),
                F.round(F.percentile("flesch", 0.1), 4).alias("p10"),
                F.round(F.percentile("flesch", 0.9), 4).alias("p90")))
        if "canaries" in wanted:
            if not args.canaries:
                raise SystemExit("--report canaries requires --canaries")
            emit("canaries",
                 textops.canary_scan(
                     labeled, spark.read.parquet(args.canaries))
                 .orderBy("name"))
    manifest = export_curated(labeled, args.output)
    print(json.dumps({"output": args.output, "manifest": manifest}))


if __name__ == "__main__":
    main()
