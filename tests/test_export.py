"""Curated-corpus export sink (plans/export.py)."""

import os

from pyspark.sql import functions as F

from sparkcrawl.plans.export import curated_corpus, export_curated_corpus

SF = "/root/testdata/sf0.001"


def test_export_partition_layout_and_counts(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "corpus")
    counts = export_curated_corpus(spark, docs, out)

    expected = curated_corpus(spark, docs)
    assert sum(counts.values()) == expected.count()
    # the layout IS the contract: split=/pred_lang= directories exist
    splits = {d for d in os.listdir(out) if d.startswith("split=")}
    assert splits == {f"split={s}" for s in counts}
    some_split = sorted(splits)[0]
    langs = [d for d in os.listdir(os.path.join(out, some_split))
             if d.startswith("pred_lang=")]
    assert langs

    # a trainer's partition-pruned read matches the manifest count
    back = spark.read.parquet(out)
    for split, n in counts.items():
        assert back.filter(F.col("split") == split).count() == n
    # the payload survived the roundtrip
    assert back.filter(F.length("text") > 0).count() == sum(counts.values())


def test_export_prunes_partitions_in_plan(spark, tmp_path):
    """The split filter must become partition pruning, not a full scan."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "corpus")
    export_curated_corpus(spark, docs, out)
    df = spark.read.parquet(out).filter(
        (F.col("split") == "train") & (F.col("pred_lang") == "en")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "split" in plan.split("PartitionFilters", 1)[1][:300]


def test_run_corpus_cli_token_budget(spark, tmp_path, capsys):
    """run_corpus --token-budget composes the greedy quality-first
    prefix into the curation pipeline: output token mass respects the
    budget and the kept set is exactly the top-quality prefix of the
    no-budget run's survivors."""
    import importlib.util
    import json
    import os
    import sys

    spec = importlib.util.spec_from_file_location(
        "run_corpus",
        os.path.join(os.path.dirname(__file__), os.pardir,
                     "scripts", "run_corpus.py"),
    )
    run_corpus = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_corpus)

    inp = f"{SF}/documents.parquet"

    def _run(out, *extra):
        old = sys.argv
        sys.argv = ["run_corpus.py", "--input", inp, "--output", out, *extra]
        try:
            run_corpus.main()
        finally:
            sys.argv = old
        capsys.readouterr()
        return spark.read.parquet(out)

    full = _run(str(tmp_path / "full"))
    budget = 60
    capped = _run(str(tmp_path / "capped"), "--token-budget", str(budget))

    tok = F.size(F.split(F.col("text"), " "))
    assert capped.agg(F.sum(tok)).first()[0] <= budget
    n_full = full.count()
    n_capped = capped.count()
    assert 0 < n_capped < n_full
    # the capped set is the quality-first prefix of the full survivors
    ranked = (
        full.select("doc_id", "quality", tok.alias("_n"))
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .collect()
    )
    expect, acc = set(), 0
    for r in ranked:
        acc += r["_n"]
        if acc > budget:
            break
        expect.add(r["doc_id"])
    got = {r["doc_id"] for r in capped.collect()}
    assert got == expect


def test_run_corpus_cli_reports(spark, tmp_path, capsys):
    """--report fertility/reading-ease/canaries emit JSON readout
    rows; the absent canary reports its zero clearance row; unknown
    kinds are a hard error."""
    import importlib.util
    import json
    import os
    import sys

    import pytest

    spec = importlib.util.spec_from_file_location(
        "run_corpus",
        os.path.join(os.path.dirname(__file__), os.pardir,
                     "scripts", "run_corpus.py"),
    )
    run_corpus = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_corpus)

    canaries = str(tmp_path / "canaries")
    spark.createDataFrame(
        [("absent", "GUID-never-present")], ["name", "canary"]
    ).write.parquet(canaries)

    def _run(out, *extra):
        old = sys.argv
        sys.argv = ["run_corpus.py", "--input",
                    f"{SF}/documents.parquet", "--output", out, *extra]
        try:
            run_corpus.main()
        finally:
            sys.argv = old
        return [json.loads(ln) for ln in
                capsys.readouterr().out.splitlines()
                if ln.startswith("{") and '"report"' in ln]

    rows = _run(str(tmp_path / "o1"),
                "--report", "fertility,reading-ease,canaries",
                "--canaries", canaries)
    kinds = {r["report"] for r in rows}
    assert kinds == {"fertility", "reading_ease", "canaries"}
    fert = [r for r in rows if r["report"] == "fertility"]
    assert all(r["total_re_tokens"] >= r["total_ws_tokens"] > 0
               for r in fert)
    re_row = next(r for r in rows if r["report"] == "reading_ease")
    assert re_row["n_docs"] > 0 and re_row["p10"] <= re_row["p90"]
    can = next(r for r in rows if r["report"] == "canaries")
    assert can["n_hits"] == 0 and can["example_doc"] is None
    with pytest.raises(SystemExit):
        _run(str(tmp_path / "o2"), "--report", "nope")
    with pytest.raises(SystemExit):
        _run(str(tmp_path / "o3"), "--report", "canaries")


def test_run_corpus_releases_its_caches(spark, tmp_path, capsys):
    """run_corpus.main leaves no cached plan behind: the near-dup
    stage's persisted candidate pairs and shingle arrays are released
    when the pass ends, so a driver that curates again recomputes them
    rather than timing (or holding) the last pass's blocks."""
    import importlib.util
    import sys

    from sparkcrawl.operators import release_caches

    spec = importlib.util.spec_from_file_location(
        "run_corpus",
        os.path.join(os.path.dirname(__file__), os.pardir,
                     "scripts", "run_corpus.py"),
    )
    run_corpus = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_corpus)

    release_caches()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    old = sys.argv
    sys.argv = ["run_corpus.py", "--input", f"{SF}/documents.parquet",
                "--output", str(tmp_path / "out"), "--near-dup",
                "--dedup-paragraphs"]
    try:
        run_corpus.main()
    finally:
        sys.argv = old
    capsys.readouterr()
    assert cache.isEmpty()
