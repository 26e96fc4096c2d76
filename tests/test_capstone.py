"""Crawl -> curate capstone: the two halves of the engine composed
end-to-end — a live (fixture) crawl produces the interleaved documents
table; the corpus-curation operators turn it into a partitioned,
deduplicated, split training corpus with manifests. This is the
"a user of the reference could run their whole pipeline here" test."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from sparkcrawl.operators import sampling, textops
from sparkcrawl.plans.export import export_curated
from sparkcrawl.plans.superstep import CrawlRun
from sparkcrawl.sources.warc import write_wet


@pytest.mark.parametrize("membership_kind", ["bloom", "cuckoo"])
def test_crawl_then_curate_then_export(spark, mini_cfg, mini_web, tmp_path,
                                       membership_kind):
    """Both membership modes drive the full pipeline. The cuckoo leg
    also turns ON gone-URL retirement and resumes mid-crawl: 3 live
    supersteps, then a fresh CrawlRun over the same workdir finishes
    superstep 4 — the rebuilt cuckoo store (including any retirements)
    must carry the resumed crawl through the full curate/export
    pipeline. (Crawl-order parity across membership modes is pinned
    separately in test_parity.py.)"""
    cfg = dataclasses.replace(
        mini_cfg,
        use_bloom_prefilter=True,
        membership_kind=membership_kind,
        retire_gone_urls=(membership_kind == "cuckoo"),
    )
    wd = str(tmp_path / "crawl")
    run = CrawlRun(spark, wd, cfg, mini_web["web"], mini_web["robots"])
    if membership_kind == "cuckoo":
        run.run(mini_web["seeds"], max_supersteps=3)
        run = CrawlRun(spark, wd, cfg, mini_web["web"], mini_web["robots"])
        run.resume(max_supersteps=4)
    else:
        run.run(mini_web["seeds"], max_supersteps=4)

    docs_spans = run.documents.read(spark)
    n_crawled = docs_spans.count()
    assert n_crawled > 0

    # spans -> text -> curation stages (all real operators)
    docs = textops.spans_to_text(docs_spans).withColumn(
        "source", F.lit("fixture")
    )
    lang = textops.language_id(docs).select(
        F.col("id").alias("doc_id"), "pred_lang"
    )
    kept = docs.join(lang, "doc_id")
    kept = textops.exact_dedup(kept)
    n_kept = kept.count()
    assert 0 < n_kept <= n_crawled

    labeled = sampling.hash_split(
        kept, {"train": 0.8, "val": 0.2}, salt="capstone"
    )
    out = str(tmp_path / "curated")
    manifest = export_curated(labeled, out)
    assert sum(manifest.values()) == n_kept
    assert set(manifest) <= {"train", "val"}
    # partitioned layout on disk
    assert any(p.startswith("split=") for p in os.listdir(out))

    # and the WET interchange export works straight off the crawl table
    wet_manifest = write_wet(docs_spans.repartition(2), str(tmp_path / "wet")).collect()
    assert sum(m["n_records"] for m in wet_manifest) == n_crawled
