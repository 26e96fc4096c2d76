"""Workload definitions: seeded inputs, one timed pass, output checks.

Every pass drives the engine through its public entry points only:
``CrawlRun.bootstrap`` then ``CrawlRun.resume(max_supersteps=1)`` once
per superstep, or ``scripts/run_corpus.py::main`` with an argv. Nothing
here re-implements an engine phase.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import importlib.util
import io
import json
import os
import random
import shutil
import statistics
import time

import pandas as pd


# ---------------------------------------------------------------------------
# workload table
# ---------------------------------------------------------------------------

@dataclasses.dataclass(frozen=True)
class CrawlSpec:
    num_hosts: int
    pages_per_host: int
    seed_all_hosts: bool      # False: the generator's own 10 seed hosts
    supersteps: int           # K timed supersteps after bootstrap
    warmup_supersteps: int    # supersteps of the untimed warm-up pass
    cfg: dict                 # CrawlConfig overrides


@dataclasses.dataclass(frozen=True)
class CorpusSpec:
    num_docs: int
    exact_share: float        # seeded byte-identical copies
    near_share: float         # seeded one-word-edit copies
    argv: tuple[str, ...]     # run_corpus flags besides --input/--output


# The test suite's mini_cfg (tests/conftest.py): 4 queues, budget 20,
# compaction every 3rd superstep, 4k-key bloom shards.
MINI_CFG = dict(
    num_queues=4, active_queues=4, per_queue_budget=20, heap_size=50,
    tick_seconds=1.0, compact_every=3, bloom_capacity_per_shard=1 << 12,
)

# The page graph of every crawl web comes from this generator seed; the
# run's --seed renames its hosts (see CrawlWorkload.prepare).
GRAPH_SEED = 42

WORKLOADS = {
    # the test suite's config: batches of 10-60 URLs, so a superstep is
    # per-job fixed cost; the bloom shards are small
    "crawl_small": CrawlSpec(
        num_hosts=40, pages_per_host=20, seed_all_hosts=False,
        supersteps=3, warmup_supersteps=3, cfg=MINI_CFG,
    ),
    # every host seeded, 64 active queues, config-default bloom shards
    # (256 x 65,536 keys): fetch/extract, dedup, the bloom and the merges
    # do real work every superstep. Compaction runs every superstep, so
    # a bootstrap + 1 superstep warm-up compiles every plan the timed
    # supersteps run.
    "crawl_wide": CrawlSpec(
        num_hosts=40, pages_per_host=20, seed_all_hosts=True,
        supersteps=2, warmup_supersteps=1,
        cfg=dict(num_queues=64, active_queues=64, per_queue_budget=200,
                 compact_every=1),
    ),
    # text lanes + connected-components rounds; no crawl state
    "corpus_curate": CorpusSpec(
        num_docs=1500, exact_share=0.08, near_share=0.08,
        argv=(
            "--min-quality", "0.3", "--max-repetition", "0.6",
            "--dedup-paragraphs", "--near-dup", "--shard-tokens", "20000",
            "--splits", "train=0.9,val=0.05,test=0.05",
        ),
    ),
}


# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------

class CrawlWorkload:
    """Generated web + robots + seeds, and the sequential reference
    crawler's expected fetch log / seen set / requeue state for them."""

    def __init__(self, name: str, spec: CrawlSpec, seed: int, workdir: str):
        self.name, self.spec, self.seed = name, spec, seed
        self.workdir = workdir
        self.n_passes = 0

    def prepare(self, spark, root: str) -> None:
        from sparkcrawl.config import CrawlConfig
        from sparkcrawl.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA, WEB_SCHEMA
        from sparkcrawl.sources.fixtures import generate_web
        from tests.reference_sim import SeqCrawler  # the parity oracle

        spec = self.spec
        self.cfg = CrawlConfig(**spec.cfg)
        web, robots, seeds = _rename_hosts(self.seed, *generate_web(
            seed=GRAPH_SEED, num_hosts=spec.num_hosts,
            pages_per_host=spec.pages_per_host,
        ))
        if spec.seed_all_hosts:
            hosts = sorted({u.split("/")[2] for u in web["url"]})
            seeds = pd.DataFrame({"url": [f"http://{h}/page/0" for h in hosts],
                                  "priority": [1] * len(hosts)})
        inputs = os.path.join(self.workdir, "inputs")
        for name, pdf, schema in (("web", web, WEB_SCHEMA),
                                  ("robots", robots, ROBOTS_SCHEMA),
                                  ("seeds", seeds, SEEDS_SCHEMA)):
            spark.createDataFrame(pdf, schema=schema).write.mode(
                "overwrite").parquet(os.path.join(inputs, name))
        self.web = spark.read.parquet(os.path.join(inputs, "web"))
        self.robots = spark.read.parquet(os.path.join(inputs, "robots"))
        self.seeds = spark.read.parquet(os.path.join(inputs, "seeds"))
        self.n_pages = len(web)

        # expected fetch log, seen set and requeue state per pass length
        self.want = {}
        for k in {spec.warmup_supersteps, spec.supersteps}:
            sim = SeqCrawler(self.cfg, web, robots)
            sim.run(seeds, max_supersteps=k)
            self.want[k] = (sim.fetch_log, sim.seen_hashes, {
                h: (r["priority"], r["state"], r["error_count"],
                    r["next_date"].replace(tzinfo=None).isoformat())
                for h, r in sim.frontier.items()
            })

    def trace_targets(self) -> list:
        return []

    def describe(self) -> str:
        s = self.spec
        return (f"{self.n_pages} pages on {s.num_hosts} hosts, "
                f"{s.supersteps} supersteps, cfg={s.cfg}")

    def warmup(self) -> dict:
        return self.run_pass(self.spec.warmup_supersteps)

    def run_pass(self, supersteps: int | None = None) -> dict:
        """Bootstrap + K supersteps into a fresh workdir; each superstep
        is one timed ``resume(max_supersteps=1)`` call."""
        from sparkcrawl.plans.superstep import CrawlRun

        k = self.spec.supersteps if supersteps is None else supersteps
        self.n_passes += 1
        wd = os.path.join(self.workdir, f"crawl-{self.n_passes}")
        shutil.rmtree(wd, ignore_errors=True)
        spark = self.web.sparkSession
        run = CrawlRun(spark, wd, self.cfg, self.web, self.robots)
        out = {"attempted": 0, "failed": 0, "steps": [], "fetched": 0,
               "run": run, "workdir": wd, "stats": [], "k": k}
        t_pass = time.perf_counter()
        out["attempted"] += 1
        try:
            run.bootstrap(self.seeds)
        except Exception as e:  # noqa: BLE001 - counted, reported, pass ends
            out["failed"] += 1
            out["error"] = repr(e)
            return out
        out["bootstrap_s"] = time.perf_counter() - t_pass
        for _ in range(k):
            out["attempted"] += 1
            t = time.perf_counter()
            try:
                stats = run.resume(max_supersteps=1)
            except Exception as e:  # noqa: BLE001
                out["failed"] += 1
                out["error"] = repr(e)
                return out
            out["steps"].append(time.perf_counter() - t)
            out["stats"].extend(stats)
            out["fetched"] += sum(s.fetched for s in stats)
        out["pass_s"] = time.perf_counter() - t_pass
        return out

    def check(self, spark, res: dict) -> list[str]:
        """Parity with tests/reference_sim.SeqCrawler at benchmark scale:
        fetch-log order, URL-seen set, requeue state. Returns the names
        of the checks that failed (each check is one operation)."""
        if "pass_s" not in res:
            return ["crawl_completed"]
        run = res["run"]
        want_order, want_seen, want_requeue = self.want[res["k"]]
        bad = []
        log = run.fetch_log.read(spark)
        got_order = [(r["superstep"], r["rank"], r["url"])
                     for r in log.orderBy("superstep", "rank").collect()]
        if got_order != want_order:
            bad.append("fetch_order")
        rows = run.frontier.read(spark).collect()
        if sorted(r["url_hash"] for r in rows) != want_seen:
            bad.append("seen_set")
        got_requeue = {
            r["url_hash"]: (r["priority"], r["state"], r["error_count"],
                            r["next_date"].isoformat())
            for r in rows
        }
        if got_requeue != want_requeue:
            bad.append("requeue_state")
        return bad

    n_checks = 3

    def summary(self, passes: list[dict]) -> dict:
        ok = [p for p in passes if "pass_s" in p]
        steps = [s for p in ok for s in p["steps"]]
        sstep_wall = sum(steps)
        fetched = sum(p["fetched"] for p in ok)
        return {
            "pass_s": statistics.median(p["pass_s"] for p in ok),
            "bootstrap_s": statistics.median(p["bootstrap_s"] for p in ok),
            "step_p50_s": statistics.median(steps),
            "step_max_s": max(steps),
            "throughput_per_s": fetched / sstep_wall if sstep_wall else 0.0,
        }


def _rename_hosts(seed: int, web, robots, seeds):
    """host017.example -> host017-<tag>.example in every URL, body,
    redirect target and robots row. URL hashes, queues, partitions and
    fetch order all change with the seed; the page graph, and so the
    work per superstep, does not."""
    tag = hashlib.sha1(str(seed).encode()).hexdigest()[:8]
    pat, rep = r"(host\d{3})\.example", rf"\1-{tag}.example"
    web = web.copy()
    for col in ("url", "body", "location"):
        web[col] = web[col].str.replace(pat, rep, regex=True)
    robots = robots.assign(host=robots["host"].str.replace(pat, rep, regex=True))
    seeds = seeds.assign(url=seeds["url"].str.replace(pat, rep, regex=True))
    return web, robots, seeds


# ---------------------------------------------------------------------------
# corpus workload
# ---------------------------------------------------------------------------

_STOP = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "nicht"),
    "fr": ("le", "la", "les", "et", "des"),
}
_SYLL = ("ka", "ro", "mi", "ten", "sal", "vo", "ne", "dri", "pu", "lan",
         "ge", "sto", "ri", "ba", "qua", "fel", "mo", "zin", "tra", "ol")


def generate_docs(seed: int, spec: CorpusSpec) -> tuple[pd.DataFrame, dict]:
    """Seeded multi-paragraph docs in three stopword languages, plus
    labelled noise: exact copies, one-word-edit near copies, a shared
    boilerplate paragraph, repetitive spam and stopword-free shorts.

    Returns (docs, truth) where truth holds the id sets of each kind."""
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4)))
                    for _ in range(900)})
    cum, acc = [], 0.0
    for i in range(len(vocab)):  # Zipf-like word frequencies
        acc += 1.0 / (i + 1) ** 0.8
        cum.append(acc)
    boiler = "subscribe to the newsletter and read the terms of use in full"

    def paragraph(lang: str) -> str:
        n = rng.randint(18, 45)
        words = rng.choices(vocab, cum_weights=cum, k=n)
        for i in range(n):
            if rng.random() < 0.22:
                words[i] = rng.choice(_STOP[lang])
        return " ".join(words)

    rows: list[tuple[int, str, str]] = []
    truth = {"exact": set(), "near": set(), "spam": set(), "short": set()}
    originals: list[int] = []
    for doc_id in range(spec.num_docs):
        roll = rng.random()
        if originals and roll < spec.exact_share:
            src = rng.choice(originals)
            rows.append((doc_id, rows[src][1], rows[src][2]))
            truth["exact"].add(doc_id)
            continue
        if originals and roll < spec.exact_share + spec.near_share:
            src = rng.choice(originals)
            words = rows[src][1].split(" ")
            i = rng.randrange(len(words))
            words[i] = rng.choice(vocab) + "x"
            rows.append((doc_id, " ".join(words), rows[src][2]))
            truth["near"].add(doc_id)
            continue
        source = f"src{rng.randrange(8)}"
        if roll > 0.97:
            text = " ".join([rng.choice(vocab)] * rng.randint(40, 80))
            truth["spam"].add(doc_id)
        elif roll > 0.94:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))
            truth["short"].add(doc_id)
        else:
            lang = rng.choices(("en", "de", "fr"), (0.6, 0.2, 0.2))[0]
            paras = [paragraph(lang) for _ in range(rng.randint(2, 4))]
            if rng.random() < 0.1:
                paras.insert(rng.randrange(len(paras) + 1), boiler)
            text = "\n\n".join(paras)
        rows.append((doc_id, text, source))
        originals.append(doc_id)
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    return docs, truth


def _load_run_corpus(root: str):
    path = os.path.join(root, "scripts", "run_corpus.py")
    spec = importlib.util.spec_from_file_location("perfbench_run_corpus", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class CorpusWorkload:
    """Seeded documents through ``run_corpus.main`` with explicit gates."""

    n_checks = 5

    def __init__(self, name: str, spec: CorpusSpec, seed: int, workdir: str):
        self.name, self.spec, self.seed = name, spec, seed
        self.workdir = workdir
        self.n_passes = 0
        self.first_output: tuple | None = None

    def prepare(self, spark, root: str) -> None:
        self.run_corpus = _load_run_corpus(root)
        docs, self.truth = generate_docs(self.seed, self.spec)
        self.input = os.path.join(self.workdir, "inputs", "docs")
        spark.createDataFrame(docs).write.mode("overwrite").parquet(self.input)
        self.input_ids = set(docs["doc_id"])
        self.n_docs = len(docs)

    def trace_targets(self) -> list:
        return [(self.run_corpus, "main", "corpus.main")]

    def describe(self) -> str:
        t = self.truth
        return (f"{self.n_docs} docs ({len(t['exact'])} exact copies, "
                f"{len(t['near'])} near copies, {len(t['spam'])} spam, "
                f"{len(t['short'])} short), flags={' '.join(self.spec.argv)}")

    def warmup(self) -> dict:
        return self.run_pass()

    def run_pass(self) -> dict:
        import sys

        self.n_passes += 1
        out_dir = os.path.join(self.workdir, f"curated-{self.n_passes}")
        shutil.rmtree(out_dir, ignore_errors=True)
        argv = ["run_corpus.py", "--input", self.input, "--output", out_dir,
                *self.spec.argv]
        res = {"attempted": 1, "failed": 0, "output": out_dir}
        saved = sys.argv
        buf = io.StringIO()
        t = time.perf_counter()
        try:
            sys.argv = argv
            with contextlib.redirect_stdout(buf):
                self.run_corpus.main()
        except Exception as e:  # noqa: BLE001
            res["failed"] = 1
            res["error"] = repr(e)
            return res
        finally:
            sys.argv = saved
        res["pass_s"] = time.perf_counter() - t
        lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
        res["manifest"] = json.loads(lines[-1])["manifest"] if lines else {}
        return res

    def check(self, spark, res: dict) -> list[str]:
        """Non-empty output, output ids within input ids, no duplicate
        texts, split counts summing to the kept count, no seeded exact
        copy kept, and the same output on every pass."""
        if "pass_s" not in res:
            return ["corpus_completed"]
        bad = []
        out = spark.read.parquet(res["output"]).select(
            "doc_id", "text", "split").toPandas()
        manifest = res["manifest"]
        res["kept"] = len(out)
        if len(out) == 0 or sum(manifest.values()) == 0:
            bad.append("non_empty")
        ids = set(out["doc_id"])
        if not ids <= self.input_ids:
            bad.append("ids_subset")
        if out["text"].duplicated().any() or ids & self.truth["exact"]:
            bad.append("exact_dedup")
        by_split = out["split"].value_counts().to_dict()
        if sum(manifest.values()) != len(out) or by_split != manifest:
            bad.append("split_counts")
        sig = (tuple(sorted(ids)), tuple(sorted(manifest.items())))
        if self.first_output is None:
            self.first_output = sig
        elif sig != self.first_output:
            bad.append("repeatable")
        return bad

    def summary(self, passes: list[dict]) -> dict:
        ok = [p for p in passes if "pass_s" in p]
        times = [p["pass_s"] for p in ok]
        p50 = statistics.median(times)
        return {
            "pass_s": p50,
            "step_p50_s": p50,
            "step_max_s": max(times),
            "throughput_per_s": self.n_docs / p50,
        }


def make(name: str, seed: int, workdir: str):
    spec = WORKLOADS[name]
    cls = CrawlWorkload if isinstance(spec, CrawlSpec) else CorpusWorkload
    return cls(name, spec, seed, workdir)
