"""Per-layer metrics of a traced run, folded from the span tree, the Spark
event log and, for crawls, what the crawl committed to disk."""

from __future__ import annotations

import statistics
from dataclasses import replace
from pathlib import Path

from perfbench import CORES, storage
from perfbench.trace import (
    SpanRecorder,
    attribute_jobs,
    fold_events,
    read_event_log,
    task_skew,
)


def trace_targets() -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) for every wrapped call. Each name is
    patched where the caller looks it up: crawl.py binds ``run_round``,
    ``pagerank`` and ``apply_priority`` at import time, and reaches
    ``write_snapshot`` through the ``tables`` module."""
    import importlib

    from spider_spark import tables
    from spider_spark.seen import SeenSet

    crawl_mod = importlib.import_module("spider_spark.crawl")
    return [
        (crawl_mod, "crawl", "crawl"),
        (crawl_mod, "run_round", "round.run_round"),
        (crawl_mod, "pagerank", "pagerank.pagerank"),
        (crawl_mod, "apply_priority", "pagerank.apply_priority"),
        (tables, "write_snapshot", "tables.write_snapshot"),
        (tables, "read_frontier_resolved", "tables.read_frontier_resolved"),
        (tables, "read_frontier_new", "tables.read_frontier_new"),
        (tables, "read_frontier_urls", "tables.read_frontier_urls"),
        (tables, "read_appended", "tables.read_appended"),
        (SeenSet, "load", "seen.load"),
        (SeenSet, "maybe_rebuild", "seen.maybe_rebuild"),
        (SeenSet, "merged", "seen.merged"),
        (SeenSet, "seg_stats", "seen.seg_stats"),
    ]


def _under(rec: SpanRecorder, roots, name: str):
    """Spans called ``name`` that descend from any of ``roots``."""
    root_ids = {r.id for r in roots}
    by_id = {s.id: s for s in rec.spans}
    out = []
    for s in rec.named(name):
        p = s.parent
        while p is not None and p not in root_ids:
            p = by_id[p].parent
        if p is not None:
            out.append(s)
    return out


def pagerank_rounds(cfg, rounds) -> list[int]:
    every = cfg.pagerank_every
    return [r for r in rounds if every and r > 1 and (r - 1) % every == 0]


def crawl_layers(rec: SpanRecorder, event_dir: Path, result: dict,
                 session_s: float) -> dict[str, tuple[float, str]]:
    wl = result["workload"]
    fold = fold_events(read_event_log(event_dir))
    timed = rec.named("run.timed")
    crawls = _under(rec, timed, "crawl")
    wall = sum(s.duration for s in crawls)
    rounds = result["n_rounds"]

    jobs = [j for c in crawls for j in fold.jobs_in(c.start, c.end)]
    spark = spark_totals(fold, jobs, wall)

    def total(name):
        return sum(s.duration for s in _under(rec, timed, name))

    commit_gap = 0.0
    for ws in _under(rec, timed, "tables.write_snapshot"):
        inside = [j for j in jobs if ws.start <= j.submit <= ws.end]
        covered = fold.job_wall_union([replace(j, end=min(j.end, ws.end)) for j in inside])
        commit_gap += ws.duration - covered

    children = [s for c in crawls for s in rec.children(c)]
    self_s = sum(rec.self_time(c) for c in crawls)
    coverage = (sum(s.duration for s in children) + self_s) / wall if wall else 0.0

    claimed = sum(f["claimed"] for f in result["funnel"].values())
    fetched = sum(f["fetched"] for f in result["funnel"].values())
    cand = sum(f["bloom_candidates"] for f in result["funnel"].values())
    maybe = sum(f["bloom_maybe"] for f in result["funnel"].values())
    kinds = storage.usage_by_kind(result["usage"])

    wd0, start0, _end0, summary0 = result["crawls"][0]
    lat0 = storage.round_latencies(wd0, start0)
    pr = pagerank_rounds(wl.cfg, lat0)

    by_span = attribute_jobs(rec, jobs)
    result["details"]["jobs_by_span"] = {k: len(v) for k, v in sorted(by_span.items())}
    by_module: dict[str, int] = {}
    for span_name, js in by_span.items():
        for j in js:
            # jobs submitted from write_snapshot's pool threads carry no
            # Python call site; they belong to the span that submitted them
            mod = j.module if j.callsite else span_name.split(".")[0]
            by_module[mod] = by_module.get(mod, 0) + 1
    result["details"]["jobs_by_callsite_module"] = dict(sorted(by_module.items()))

    return {
        "crawl.self_s": (self_s, "s"),
        "crawl.span_coverage": (coverage, "ratio"),
        "crawl.urls_per_s_traced": (result["done"] / result["crawl_s"], "url/s"),
        "round.run_round_s": (total("round.run_round"), "s"),
        "tables.write_snapshot_s": (total("tables.write_snapshot"), "s"),
        "tables.commit_gap_s": (commit_gap, "s"),
        "spark.jobs_per_round": (spark["spark.jobs"][0] / rounds, "count"),
        "spark.stages_per_round": (spark["spark.stages"][0] / rounds, "count"),
        **{k: v for k, v in spark.items() if k not in ("spark.jobs", "spark.stages")},
        "round.claimed": (claimed, "count"),
        "round.fetched": (fetched, "count"),
        "round.useful_frac": (fetched / claimed if claimed else 0.0, "ratio"),
        "seen.bloom_maybe_frac": (maybe / cand if cand else 0.0, "ratio"),
        "seen.load_s": (total("seen.load"), "s"),
        "seen.maybe_rebuild_s": (total("seen.maybe_rebuild"), "s"),
        "seen.seg_stats_s": (total("seen.seg_stats"), "s"),
        "tables.frontier_bytes": (kinds.get("frontier_bytes", 0), "B"),
        "tables.delta_bytes": (kinds.get("delta_bytes", 0), "B"),
        "tables.append_bytes": (kinds.get("append_bytes", 0), "B"),
        "tables.seen_bytes": (kinds.get("seen_bytes", 0), "B"),
        "tables.files_written": (kinds.get("files", 0), "count"),
        "tables.read_s": (result["read_s"], "s"),
        "pagerank.round_s": (sum(lat0[r] for r in pr), "s"),
        "session.get_spark_s": (session_s, "s"),
        "setup.input_gen_s": (statistics.median(result["input_gen"]), "s"),
    }


def spark_totals(fold, jobs, wall: float) -> dict[str, tuple[float, str]]:
    """Spark-side totals over the stages of ``jobs``."""
    stage_ids = sorted({s for j in jobs for s in j.stages if s in fold.stages})
    sm = lambda key: fold.stage_metric(stage_ids, key)  # noqa: E731
    task_ms = sum(sum(fold.stages[s].task_ms) for s in stage_ids)
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(stage_ids), "count"),
        "spark.core_busy_frac": (task_ms / 1000.0 / (wall * CORES) if wall else 0.0, "ratio"),
        "spark.shuffle_write_bytes": (sm("shuffle_write_bytes"), "B"),
        "spark.shuffle_read_bytes": (sm("shuffle_read_bytes"), "B"),
        "spark.spill_bytes": (sm("spill_bytes"), "B"),
        "spark.gc_s": (sm("gc_ms") / 1000.0, "s"),
        "spark.scheduler_delay_s": (sm("sched_delay_ms") / 1000.0, "s"),
        "spark.task_skew": (task_skew(fold, stage_ids), "ratio"),
        "spark.python_total_s": (sm("python_total") / 1000.0, "s"),
        "spark.python_boot_s": ((sm("python_boot") + sm("python_init")) / 1000.0, "s"),
        "spark.python_bytes_sent": (sm("python_bytes_sent"), "B"),
    }


def corpus_layers(rec: SpanRecorder, event_dir: Path, result: dict,
                  session_s: float) -> dict[str, tuple[float, str]]:
    from perfbench.corpus_ops import QUERY_MODULES

    fold = fold_events(read_event_log(event_dir))
    timed = rec.named("run.timed")[0]
    jobs = fold.jobs_in(timed.start, timed.end)
    out = spark_totals(fold, jobs, timed.duration)
    out["suite_s_traced"] = (sum(result["query_s"].values()), "s")
    for name, secs in result["query_s"].items():
        out[f"{QUERY_MODULES[name]}.{name}_s"] = (secs, "s")
    out["session.get_spark_s"] = (session_s, "s")
    out["setup.input_gen_s"] = (statistics.median(result["input_gen"]), "s")
    return out
