"""Per-layer tracing from outside the engine.

``Tracer`` wraps the public functions and classes of each engine module
(the engine's own files are not edited) so that every call opens a span:
name, parent, start and end, and a Spark job group of its own. After the
traced pass the spans are joined with

- ``statusTracker`` job and stage ids per job group, and
- the Spark event log (shuffle bytes, spill, bytes sent to Python
  workers per stage, attributed through the stage's job group),

and rolled up into the per-layer metrics. Spark is lazy: work lands in
the span of the action that forces it. ``DEFERRED`` says which deferred
work each action span carries; plan-building spans read near zero.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

# span name -> deferred work its first action forces (the report prints it)
DEFERRED = {
    "superstep.bootstrap": "seed canonicalize+hash, batch distinct, bloom "
                           "build, frontier merge and checkpoint",
    "schedule.select_fetch_batch": "the active-queue take (ELIGIBLE over the "
                                   "keep-latest frontier read); SELECT and "
                                   "POLITE stay lazy",
    "robots.gate": "lazy: runs inside store.documents_append",
    "fetch.synthetic_fetch": "lazy: runs inside store.documents_append",
    "extract.links_and_spans": "lazy: runs inside store.documents_append",
    "store.documents_append": "SELECT/POLITE ranking, robots gate, fetch "
                              "join and link/span extraction (first action "
                              "on the persisted batch and extract)",
    "schedule.ranked_in_total_order": "per-slot rank bases (small collect)",
    "store.fetch_log_append": "fetch-log ranking and the status join",
    "urlnorm.frontier_rows": "lazy: canonicalize+hash of new links runs in "
                             "membership.bloom_update or store.frontier_merge",
    "dedup.batch_distinct": "lazy",
    "dedup.filter_unseen": "bloom probe plan; the anti-join runs later",
    "store.seen_keys": "one parquet schema/listing job per delta; the "
                       "distinct key scan is lazy",
    "membership.bloom_load": "driver-side npz read",
    "membership.bloom_update": "first action on new_rows: link explode, "
                               "CANON+HASH, batch distinct, bloom probe, "
                               "anti-join vs seen keys, then shard build+OR",
    "prioritize.apply_outcomes": "lazy: requeue math runs in the merge",
    "store.frontier_merge": "requeue/denied/new union written as a delta",
    "store.compact": "keep-latest rewrite of the whole frontier",
    "store.frontier_read": "one parquet schema/listing job per delta; the "
                           "keep-latest window is lazy",
    "store.checkpoint_commit": "checkpoint row write",
    "superstep": "whole superstep; its self time holds the counter "
                 "actions (batch agg, discovered/new counts, merged "
                 "frontier scan) outside every wrapped call",
    "textops.language_id": "lazy: runs in export.curated",
    "textops.quality_score": "lazy: runs in export.curated",
    "repetition.metrics": "lazy: runs in export.curated",
    "textops.exact_dedup": "lazy: runs in export.curated",
    "textops.paragraph_dedup": "lazy: runs in export.curated",
    "textops.near_dup_canonical": "connected-components rounds (each round "
                                  "is an action); LSH and verify feed them",
    "sampling.hash_split": "lazy: runs in export.curated",
    "sampling.token_shards": "lazy: runs in export.curated",
    "export.curated": "every lazy gate and dedup stage, partitioned write, "
                      "manifest count",
    "corpus.main": "the whole run_corpus pass",
}

# (module path, attribute path, span name); attribute paths with a dot
# are methods patched on their class
CRAWL_TARGETS = [
    ("sparkcrawl.plans.superstep", "CrawlRun.bootstrap", "superstep.bootstrap"),
    ("sparkcrawl.plans.superstep", "CrawlRun.run_superstep", "superstep"),
    ("sparkcrawl.plans.superstep", "select_fetch_batch",
     "schedule.select_fetch_batch"),
    ("sparkcrawl.operators.schedule", "ranked_in_total_order",
     "schedule.ranked_in_total_order"),
    ("sparkcrawl.plans.superstep", "robots_gate", "robots.gate"),
    ("sparkcrawl.plans.superstep", "synthetic_fetch", "fetch.synthetic_fetch"),
    ("sparkcrawl.plans.superstep", "extract_links_and_spans",
     "extract.links_and_spans"),
    ("sparkcrawl.plans.superstep", "frontier_rows_from_urls",
     "urlnorm.frontier_rows"),
    ("sparkcrawl.plans.superstep", "batch_distinct", "dedup.batch_distinct"),
    ("sparkcrawl.plans.superstep", "filter_unseen", "dedup.filter_unseen"),
    ("sparkcrawl.operators.membership", "BloomStore.update",
     "membership.bloom_update"),
    ("sparkcrawl.operators.membership", "BloomStore.load",
     "membership.bloom_load"),
    ("sparkcrawl.plans.superstep", "apply_outcomes",
     "prioritize.apply_outcomes"),
    ("sparkcrawl.sources.store", "FrontierTable.read", "store.frontier_read"),
    ("sparkcrawl.sources.store", "FrontierTable.merge", "store.frontier_merge"),
    ("sparkcrawl.sources.store", "FrontierTable.seen_keys", "store.seen_keys"),
    ("sparkcrawl.sources.store", "FrontierTable.compact", "store.compact"),
    ("sparkcrawl.sources.store", "FetchLogTable.append",
     "store.fetch_log_append"),
    ("sparkcrawl.sources.store", "DocumentsTable.append",
     "store.documents_append"),
    ("sparkcrawl.sources.store", "CheckpointLog.commit",
     "store.checkpoint_commit"),
]
CORPUS_TARGETS = [
    ("sparkcrawl.operators.textops", "language_id", "textops.language_id"),
    ("sparkcrawl.operators.textops", "quality_score", "textops.quality_score"),
    ("sparkcrawl.operators.repetition", "repetition_metrics",
     "repetition.metrics"),
    ("sparkcrawl.operators.textops", "exact_dedup", "textops.exact_dedup"),
    ("sparkcrawl.operators.textops", "paragraph_dedup",
     "textops.paragraph_dedup"),
    ("sparkcrawl.operators.textops", "dedup_corpus_canonical",
     "textops.near_dup_canonical"),
    ("sparkcrawl.operators.sampling", "hash_split", "sampling.hash_split"),
    ("sparkcrawl.operators.sampling", "token_balanced_shards",
     "sampling.token_shards"),
    ("sparkcrawl.plans.export", "export_curated", "export.curated"),
]

CALL_SPANS = [name for _, _, name in CRAWL_TARGETS + CORPUS_TARGETS]

# every per-layer metric: name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {}
for _n in CALL_SPANS:
    PER_LAYER[f"{_n}.s"] = ("s", "lower")
    PER_LAYER[f"{_n}.jobs"] = ("count", "lower")
    PER_LAYER[f"{_n}.calls"] = ("count", "lower")
PER_LAYER.update({
    "superstep.stages": ("count", "lower"),
    "superstep.self_s": ("s", "lower"),
    "superstep.shuffle_write_bytes": ("B", "lower"),
    "superstep.shuffle_read_bytes": ("B", "lower"),
    "superstep.spill_bytes": ("B", "lower"),
    "superstep.python_bytes_sent": ("B", "lower"),
    "schedule.batch_rows": ("count", "higher"),
    "robots.denied_ratio": ("ratio", "lower"),
    "dedup.new_ratio": ("ratio", "higher"),
    "membership.blob_bytes": ("B", "lower"),
    "store.frontier_deltas": ("count", "lower"),
    "store.workdir_bytes": ("B", "lower"),
    "corpus.s": ("s", "lower"),
    "corpus.jobs": ("count", "lower"),
    "corpus.kept_ratio": ("ratio", "higher"),
    "corpus.shuffle_write_bytes": ("B", "lower"),
    "corpus.python_bytes_sent": ("B", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.bookkeeping_s": ("s", "lower"),
})


class Span:
    __slots__ = ("name", "gid", "parent", "t0", "t1", "children", "jobs",
                 "stages", "bytes")

    def __init__(self, name: str, gid: str, parent: "Span | None"):
        self.name, self.gid, self.parent = name, gid, parent
        self.t0 = self.t1 = 0.0
        self.children: list[Span] = []
        self.jobs: list[int] = []
        self.stages = 0
        self.bytes: dict[str, int] = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, field: str) -> int:
        """Inclusive count over this span and its descendants: 'jobs',
        'stages' or one of the byte counters."""
        return sum(len(s.jobs) if field == "jobs"
                   else s.stages if field == "stages"
                   else s.bytes.get(field, 0) for s in self.walk())


class Tracer:
    """Install span wrappers on enter, remove them on exit. The root
    span ``pass`` owns every job no wrapped call started."""

    def __init__(self, spark, extra_targets: list[tuple[object, str, str]] = ()):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self._extra = list(extra_targets)
        self.root: Span | None = None
        self.bookkeeping_s = 0.0  # time spent in span enter/exit

    def __enter__(self) -> "Tracer":
        import importlib

        for mod_name, attr, name in CRAWL_TARGETS + CORPUS_TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            self._wrap(owner, attr, name)
        for owner, attr, name in self._extra:
            self._wrap(owner, attr, name)
        self._root_cm = self.span("pass")
        self.root = self._root_cm.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self._root_cm.__exit__(*exc)
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    @contextlib.contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"perfbench-{len(self.spans)}", parent)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.gid, name)
        s.t0 = time.perf_counter()
        self.bookkeeping_s += s.t0 - b0
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.gid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - s.t1

    # -- joins with Spark's own records -----------------------------------
    def collect_jobs(self) -> None:
        st = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = list(st.getJobIdsForGroup(s.gid))
            for j in s.jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    s.stages += len(info.stageIds)

    def collect_bytes(self, eventlog_dir: str) -> None:
        """Stage -> job group from StageSubmitted properties; task-level
        shuffle/spill metrics and the 'data sent to Python workers' SQL
        metric summed per group."""
        app = self.sc.applicationId
        paths = glob.glob(os.path.join(eventlog_dir, f"{app}*"))
        by_gid = {s.gid: s for s in self.spans}
        stage_gid: dict[int, str] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue  # a line still being written
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if gid in by_gid:
                            stage_gid[ev["Stage Info"]["Stage ID"]] = gid
                    elif kind == "SparkListenerTaskEnd":
                        gid = stage_gid.get(ev.get("Stage ID"))
                        if gid is not None:
                            _add_task(by_gid[gid].bytes, ev)
            os.remove(path)  # read once; the span file keeps the totals


def _add_task(acc: dict[str, int], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    add = {
        "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": rd.get("Remote Bytes Read", 0)
        + rd.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
    }
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Name") == "data sent to Python workers":
            add["python_bytes_sent"] = add.get("python_bytes_sent", 0) + int(
                a.get("Update", 0))
    for k, v in add.items():
        acc[k] = acc.get(k, 0) + int(v)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def summarize(tracer: Tracer, wl, traced: dict, out_dir: str,
              seed: int) -> dict:
    """Per-layer metrics, a text report, and the span file."""
    tracer.collect_jobs()
    tracer.collect_bytes(os.path.join(out_dir, "eventlog"))
    by_name: dict[str, list[Span]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    m = {k: 0.0 for k in PER_LAYER}
    for name in CALL_SPANS:
        spans = by_name.get(name, [])
        m[f"{name}.s"] = sum(s.dur for s in spans)
        m[f"{name}.jobs"] = sum(s.total("jobs") for s in spans)
        m[f"{name}.calls"] = len(spans)

    steps = by_name.get("superstep", [])
    child_s = sum(c.dur for s in steps for c in s.children)
    m["superstep.self_s"] = m["superstep.s"] - child_s
    m["superstep.stages"] = sum(s.total("stages") for s in steps)
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "python_bytes_sent"):
        m[f"superstep.{key}"] = sum(s.total(key) for s in steps)

    stats = traced.get("stats", [])
    if stats:
        batch = sum(st.batch_size for st in stats)
        m["schedule.batch_rows"] = batch
        m["robots.denied_ratio"] = sum(st.denied for st in stats) / max(1, batch)
        m["dedup.new_ratio"] = (sum(st.new_urls for st in stats)
                                / max(1, sum(st.discovered for st in stats)))
    wd = traced.get("workdir")
    if wd and os.path.isdir(wd):
        blob = os.path.join(wd, "bloom", "shards.npz")
        m["membership.blob_bytes"] = os.path.getsize(blob) if os.path.exists(blob) else 0
        m["store.frontier_deltas"] = traced["run"].frontier.store.num_deltas
        m["store.workdir_bytes"] = _dir_bytes(wd)

    mains = by_name.get("corpus.main", [])
    if mains:
        m["corpus.s"] = sum(s.dur for s in mains)
        m["corpus.jobs"] = sum(s.total("jobs") for s in mains)
        m["corpus.kept_ratio"] = traced.get("kept", 0) / wl.n_docs
        for key in ("shuffle_write_bytes", "python_bytes_sent"):
            m[f"corpus.{key}"] = sum(s.total(key) for s in mains)

    m["trace.pass_s"] = traced.get("pass_s", 0.0)
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s

    report = [f"# traced pass {m['trace.pass_s']:.2f}s ({tracer.bookkeeping_s:.3f}s "
              f"span bookkeeping, event log on): its gap to pass_s of an "
              f"untraced run is the tracing overhead"]
    if steps:
        report.append(
            f"# supersteps: {m['superstep.s']:.2f}s = self "
            f"{m['superstep.self_s']:.2f}s + child spans {child_s:.2f}s; "
            f"{int(m['superstep.jobs'])} jobs, {int(m['superstep.stages'])} stages")
    report.append(f"# {'span':<32}{'calls':>6}{'s':>9}{'jobs':>6}  carries")
    for name in ["corpus.main", *CALL_SPANS]:
        if name not in by_name:
            continue
        report.append(
            f"# {name:<32}{len(by_name[name]):>6}"
            f"{sum(s.dur for s in by_name[name]):>9.3f}"
            f"{sum(s.total('jobs') for s in by_name[name]):>6}  "
            f"{DEFERRED.get(name, '')}")

    os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
    path = os.path.join(out_dir, "traces", f"{wl.name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": wl.name,
            "seed": seed,
            "metrics": m,
            "deferred": DEFERRED,
            "spans": [{
                "name": s.name, "id": s.gid,
                "parent": s.parent.gid if s.parent else None,
                "start_s": s.t0 - tracer.root.t0, "dur_s": s.dur,
                "jobs": len(s.jobs), "stages": s.stages, **s.bytes,
            } for s in tracer.spans],
        }, f, indent=1)
    report.append(f"# spans and per-layer summary written to "
                  f"{os.path.relpath(path, os.path.dirname(out_dir))}")
    return {"metrics": m, "report": report,
            "units": {k: u for k, (u, _) in PER_LAYER.items()}}
