#!/usr/bin/env python3
"""Engine benchmark: real CrawlRun supersteps and run_corpus passes.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

Workloads are defined in ``perfbench/workloads.py``. BENCHMARK.json lists
crawl_wide and corpus_curate; crawl_small (the test suite's crawl config,
three supersteps and a full warm-up pass) runs with --workload all or by
name.

Batch, closed loop: one driver process on ``local[<cores>]``; each pass
starts only after the previous one ended. A run

  1. starts the session, generates the workload's inputs from --seed and
     makes one untimed warm-up pass (all three counted in ``setup_s``);
  2. repeats timed passes until --seconds have elapsed (at least one);
  3. checks every pass's output (a mismatch counts as a failed operation);
  4. prints a table of the metrics and, as its last line, one JSON object
     {"correct", "attempted", "failed", "metrics"}.

With ``--trace 1`` the timed pass is a traced one:
the calls into each engine module are wrapped from ``perfbench/trace.py``
(the engine is not edited), the Spark event log is on, and the metrics
are the per-layer ones; spans and the per-layer summary are written to
``.perfbench/traces/``.

All files the run writes stay under ``.perfbench/`` in the checkout;
the scratch work directory is deleted on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

# end-to-end metrics (untraced runs): name -> unit
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "step_p50_s": "s",
    "step_max_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0)) or os.cpu_count() or 1


def _driver_mem_mb() -> int:
    """A quarter of physical RAM, capped at 2 GiB: the engine's 16g
    default would not fit a small box, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    return max(512, min(2048, total_kb // 1024 // 4))


def start_session(traced: bool):
    """Session sized to the host (all cores, a capped share of RAM);
    PYTHONPATH for the Python workers; every Spark and JVM scratch path
    inside the checkout."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARKCRAWL_DRIVER_MEM"] = f"{_driver_mem_mb()}m"
    os.environ["SPARKCRAWL_LOCAL_DIR"] = os.path.join(OUT, "local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    from sparkcrawl.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(OUT, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # the log keeps every plan; short plan strings keep it small
            "spark.sql.ui.explainMode": "simple",
            "spark.sql.maxPlanStringLength": "2048",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{_cores()}]",
                      extra_conf=conf)
    jvm = spark.sparkContext._jvm
    # bounded windows by design; the warning wall hides real output
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_mb(jvm_pid: int) -> float:
    """Summed proportional set size of this driver, the Spark JVM and its
    Python workers. PSS splits pages the forked workers share, which a
    sum of per-process VmHWM would count once per worker."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next((int(ln.split()[1]) for ln in f
                                  if ln.startswith("Pss:")), 0)
        except OSError:
            continue  # a worker that just exited
    return total_kb / 1024.0


class RssSampler:
    """Peak of the process tree's summed PSS, sampled twice a second so
    that Python workers alive only during a pass are counted."""

    def __init__(self):
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.peak_mb = _pss_mb(self.jvm_pid)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            self.peak_mb = max(self.peak_mb, _pss_mb(self.jvm_pid))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb


class Tally:
    """Operations attempted/failed: supersteps, corpus passes, checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def add_pass(self, wl, spark, res: dict) -> None:
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        if "error" in res:
            self.failures.append(res["error"])
        bad = wl.check(spark, res)
        self.attempted += wl.n_checks
        self.failed += len(bad)
        self.failures.extend(f"check:{b}" for b in bad)


def run_workload(name: str, seed: int, seconds: float, traced: bool) -> dict:
    from perfbench import workloads

    workdir = os.path.join(OUT, "work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    tally = Tally()
    t0 = time.perf_counter()
    spark = start_session(traced)
    rss = RssSampler()
    try:
        session_s = time.perf_counter() - t0
        wl = workloads.make(name, seed, workdir)
        wl.prepare(spark, ROOT)
        inputs_s = time.perf_counter() - t0 - session_s
        warm = wl.warmup()  # untimed
        tally.add_pass(wl, spark, warm)
        setup_s = time.perf_counter() - t0

        if traced:
            from perfbench import trace

            with trace.Tracer(spark, wl.trace_targets()) as tracer:
                traced_res = wl.run_pass()
            tally.add_pass(wl, spark, traced_res)
            result = trace.summarize(tracer, wl, traced_res, OUT, seed)
            metrics = result["metrics"]
        else:
            passes = []
            t_meas = time.perf_counter()
            while True:
                res = wl.run_pass()
                passes.append(res)
                tally.add_pass(wl, spark, res)
                if "pass_s" not in res or time.perf_counter() - t_meas >= seconds:
                    break
            summ = wl.summary(passes) if any("pass_s" in p for p in passes) else {}
            metrics = {
                "setup_s": setup_s,
                **{k: summ.get(k, 0.0) for k in
                   ("pass_s", "step_p50_s", "step_max_s", "throughput_per_s")},
                "peak_rss_mb": rss.stop(),
            }
            result = {"summary": summ,
                      "pass_times": [p.get("pass_s", 0.0) for p in passes]}
        result.update(workload=name, describe=wl.describe(), warm=warm,
                      session_s=session_s, inputs_s=inputs_s, setup_s=setup_s)
    finally:
        rss.stop()
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    result.update(attempted=tally.attempted, failed=tally.failed,
                  failures=tally.failures, metrics=metrics)
    return result


def named_figures(name: str, r: dict) -> dict:
    """The ten user-facing figures under their crawl/corpus names."""
    s = r.get("summary", {})
    m = r["metrics"]
    crawl = name.startswith("crawl")
    na = None
    return {
        "setup_s": (m["setup_s"], "s"),
        "bootstrap_s": (s.get("bootstrap_s") if crawl else na, "s"),
        "crawl_s": (s.get("pass_s") if crawl else na, "s"),
        "superstep_p50_s": (s.get("step_p50_s") if crawl else na, "s"),
        "superstep_max_s": (s.get("step_max_s") if crawl else na, "s"),
        "pages_per_s": (s.get("throughput_per_s") if crawl else na, "1/s"),
        "curate_s": (na if crawl else s.get("pass_s"), "s"),
        "docs_per_s": (na if crawl else s.get("throughput_per_s"), "1/s"),
        "peak_rss_mb": (m["peak_rss_mb"], "MB"),
        "fail_ratio": (r["failed"] / max(1, r["attempted"]), "ratio"),
    }


def print_table(rows: dict[str, dict]) -> None:
    names = list(rows)
    print(f"{'metric':<18}{'unit':<7}" + "".join(f"{n:>16}" for n in names))
    keys = next(iter(rows.values())).keys()
    for k in keys:
        unit = next(iter(rows.values()))[k][1]
        cells = []
        for n in names:
            v = rows[n][k][0]
            cells.append(f"{'n/a':>16}" if v is None else f"{v:>16.4f}")
        print(f"{k:<18}{unit:<7}" + "".join(cells))


def main() -> int:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload == "all":
        return run_all(args)
    r = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"# {args.workload} seed={args.seed}: {r['describe']}")
    print(f"# setup: session {r['session_s']:.2f}s, inputs {r['inputs_s']:.2f}s,"
          f" warm-up {r['setup_s'] - r['session_s'] - r['inputs_s']:.2f}s")
    w = r["warm"]
    print(f"# warm-up pass: {w.get('pass_s', 0):.2f}s, steps "
          f"{[round(x, 2) for x in w.get('steps', [w.get('pass_s', 0)])]}")
    if "pass_times" in r:
        print(f"# timed passes: {[round(x, 2) for x in r['pass_times']]}")
    for f in r["failures"]:
        print(f"# FAILED {f}")
    if args.trace:
        for line in r["report"]:
            print(line)
        units = r["units"]
    else:
        table = named_figures(args.workload, r)
        print_table({args.workload: table})
        print("# table " + json.dumps(table))
        units = E2E_UNITS
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in r["metrics"].items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process (fresh JVM each), one table."""
    from perfbench import workloads

    rows, results = {}, {}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=900)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        results[name] = json.loads(lines[-1])
        table = next(ln for ln in lines if ln.startswith("# table "))
        rows[name] = {k: tuple(v) for k, v in
                      json.loads(table[len("# table "):]).items()}
        print("\n".join(ln for ln in lines if ln.startswith("# ")
                        and not ln.startswith("# table ")), flush=True)
    print_table(rows)
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {f"{n}.{k}": v for n, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import sparkcrawl  # noqa: F401
    except ImportError as e:
        sys.stderr.write(f"perfbench: engine sources not found next to "
                         f"perfbench/ ({e}); run from a full checkout\n")
        sys.exit(2)
    sys.exit(main())
