"""spider_spark benchmark: one workload per run, on local[4].

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 30 --trace 0

Run it from the repository root. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps spans around calls into
spider_spark, turns on the Spark event log through this benchmark's own
session conf, and reports the per-layer metrics instead. The line before
it holds the run's details (per-round latencies, funnel, storage, job
attribution, and the CPU probe taken before and after). See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
READ_REPS = 3


def cpu_probe() -> dict:
    """Best of five fixed pure-Python loops: host speed right now."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        best = min(best, time.perf_counter() - t)
    return {"loop_ms": round(best * 1000, 3), "loadavg": os.getloadavg()[0]}


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in process_tree(os.getpid())))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def start_spark(work: Path, event_dir: Path | None):
    from perfbench import CORES
    from spider_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for p in process_tree(os.getpid())[1:]:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def timed_read(spark, workdir: Path, last_round: int) -> tuple[float, dict]:
    """One consumer pass over a committed crawl, each query evaluated once:
    frontier status counts, then a noop write of items and of links that
    counts rows through an Observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from spider_spark import tables

    t = time.perf_counter()
    counts = {r["status"]: r["count"] for r in tables.read_frontier_resolved(
        spark, workdir, last_round).groupBy("status").count().collect()}
    out = {"by_status": counts}
    for name in ("items", "links"):
        obs = Observation(name)
        (tables.read_appended(spark, workdir, name)
         .observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        out[name] = obs.get["n"]
    return time.perf_counter() - t, out


def run(args) -> int:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tracing = bool(args.trace)

    rec, patches = None, contextlib.nullcontext()
    if tracing:
        from perfbench.layers import trace_targets
        from perfbench.trace import SpanRecorder

        rec = SpanRecorder()
        patches = rec.patched(trace_targets())
    phase = Phases(rec)

    details: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                     "probe_before": cpu_probe()}
    try:
        with RssSampler() as rss, patches:
            with phase("session.get_spark"):
                spark = start_spark(work, work / "events" if tracing else None)
            session_s = phase.seconds["session.get_spark"]
            try:
                if args.workload == "corpus_ops":
                    from perfbench import corpus_ops

                    result = corpus_ops.run(spark, args, work, phase, ROOT)
                else:
                    result = _run_crawl(spark, args, work, phase)
            finally:
                with phase("stop"):
                    stop_spark(spark)
        if tracing:
            from perfbench import layers

            if args.workload == "corpus_ops":
                metrics = layers.corpus_layers(rec, work / "events", result, session_s)
            else:
                metrics = layers.crawl_layers(rec, work / "events", result, session_s)
            # peak RSS moves by hundreds of MB run to run with JVM heap
            # growth, so it is a layer metric rather than an end-to-end one
            metrics["proc.peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        else:
            metrics = {
                "setup_s": (session_s + statistics.median(result["setup_reps"]), "s"),
                **result["metrics"],
            }
        details.update(result["details"])
        details["phase_s"] = {k: round(v, 3) for k, v in phase.seconds.items()}
        details["peak_rss_mb"] = round(rss.peak_kb / 1024.0, 1)
        details["probe_after"] = cpu_probe()
        details["probe_ok"] = (abs(details["probe_after"]["loop_ms"]
                                   / details["probe_before"]["loop_ms"] - 1) <= 0.25)
        print(json.dumps(details, default=str))
        print(json.dumps({
            "correct": not result["errors"],
            "attempted": result["attempted"],
            "failed": len(result["errors"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Phases:
    """Wall time per phase of the run, plus a span per phase when tracing."""

    def __init__(self, rec=None):
        self.rec = rec
        self.seconds: dict[str, float] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        t = time.perf_counter()
        with self.rec.span(name) if self.rec else contextlib.nullcontext():
            yield
        self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t


def _run_crawl(spark, args, work, phase) -> dict:
    import importlib
    from dataclasses import replace

    from perfbench import storage
    from perfbench.workloads import WORKLOADS

    # the package re-exports the crawl() function under the module's name
    crawl_mod = importlib.import_module("spider_spark.crawl")
    wl = WORKLOADS[args.workload]

    # --- set-up, several times: inputs + snapshot 0 into its own workdir
    setup_reps, input_gen, prepared = [], [], []
    inp = None
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        if inp is not None:
            inp.pages.unpersist()
        with phase("setup.input_gen"):
            inp = wl.make_inputs(spark, args.seed, work / f"in{k}")
        t_gen = time.perf_counter() - t
        wd = work / f"crawl{k}"
        with phase("setup.snapshot0"):
            crawl_mod.crawl(spark, wd, inp.pages, inp.seeds, inp.policy,
                            replace(wl.cfg, max_rounds=0))
        setup_reps.append(time.perf_counter() - t)
        input_gen.append(t_gen)
        prepared.append(wd)

    # --- timed window: whole crawls from snapshot 0 until the time is up
    crawls = []
    t_window = time.perf_counter()
    with phase("run.timed"):
        for wd in prepared:
            start = time.time()
            summary = crawl_mod.crawl(spark, wd, inp.pages, inp.seeds, inp.policy,
                                      wl.cfg, resume=True)
            crawls.append((wd, start, time.time(), summary))
            elapsed = time.perf_counter() - t_window
            if elapsed + elapsed / len(crawls) > args.seconds:
                break

    # --- what the crawls left: commit-gap latencies, storage, funnel
    latencies, done, crawl_s, bytes_total = [], 0, 0.0, 0
    for wd, start, _end, summary in crawls:
        lat = storage.round_latencies(wd, start)
        latencies.extend(lat.values())
        crawl_s += max(storage.commit_times(wd).values()) - start
        done += summary.n_done
        bytes_total += storage.dir_bytes(wd / "snapshots")
    wd0, _start0, _end0, summary0 = crawls[0]
    usage = storage.table_usage(wd0)
    funnel = storage.funnel(spark, wd0)

    # --- consumer read of the first crawl's committed output
    reads = []
    with phase("read.consumer"):
        for _ in range(READ_REPS):
            dt, seen = timed_read(spark, wd0, summary0.last_round)
            reads.append(dt)

    # --- correctness gate, outside the timed window
    with phase("check"):
        checks = {}
        for i, (wd, _s, _e, summary) in enumerate(crawls):
            for name, err in wl.check(spark, wd, inp, summary.last_round).items():
                checks[f"crawl{i}.{name}"] = err
        checks["read.items_equal_done"] = (
            None if seen["items"] == summary0.n_done
            else f"items {seen['items']} != done {summary0.n_done}")
        checks["read.done_equals_summary"] = (
            None if seen["by_status"].get("done", 0) == summary0.n_done
            else f"consumer saw {seen['by_status']}, crawl reported {summary0.n_done} done")
    errors = [f"{k}: {v}" for k, v in checks.items() if v]
    n_rounds = sum(c[3].rounds_run for c in crawls)
    attempted = n_rounds + len(checks)
    return {
        "workload": wl,
        "errors": errors,
        "attempted": attempted,
        "setup_reps": setup_reps,
        "input_gen": input_gen,
        "crawls": crawls,
        "latencies": latencies,
        "read_s": statistics.median(reads),
        "usage": usage,
        "funnel": funnel,
        "crawl_s": crawl_s,
        "done": done,
        "n_rounds": n_rounds,
        "metrics": {
            "urls_per_s": (done / crawl_s, "url/s"),
            "round_p50_s": (statistics.median(latencies), "s"),
            "round_max_s": (max(latencies), "s"),
            "write_bytes_per_url": (bytes_total / done, "B/url"),
        },
        "details": {
            "errors": errors,
            "crawls": [{"rounds": s.rounds_run, "done": s.n_done, "urls": s.n_urls,
                        "wall_s": round(e - st, 3)} for _w, st, e, s in crawls],
            "round_latency_s": [round(x, 3) for x in latencies],
            "setup_rep_s": [round(x, 3) for x in setup_reps],
            "read_rep_s": [round(x, 3) for x in reads],
            "funnel": funnel,
            "table_usage": {f"{r}/{t}": v for (r, t), v in sorted(usage.items())},
            "consumer_read": seen,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "spider_spark" / "__init__.py").is_file():
        print(f"spider_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    known = sorted([*WORKLOADS, "corpus_ops"])
    if args.workload not in known:
        print(f"unknown workload {args.workload!r}; choose from {known}", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
