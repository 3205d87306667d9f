"""Unit tests for the span recorder and the event-log folder, on a
synthetic span tree and a synthetic event log. Run with:

    python3 -m pytest perfbench/test_trace.py -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.trace import (  # noqa: E402
    Span,
    SpanRecorder,
    attribute_jobs,
    fold_events,
    read_event_log,
    task_skew,
)


class FakeClock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t


def build_tree():
    """crawl [0, 10]: run_round [1, 3], write_snapshot [4, 8] with a nested
    seg_stats [5, 6], then 2 s of the crawl's own work."""
    clock = FakeClock()
    rec = SpanRecorder(clock=clock)
    base = clock.t
    with rec.span("crawl"):
        clock.t = base + 1
        with rec.span("round.run_round"):
            clock.t = base + 3
        clock.t = base + 4
        with rec.span("tables.write_snapshot"):
            clock.t = base + 5
            with rec.span("seen.seg_stats"):
                clock.t = base + 6
            clock.t = base + 8
        clock.t = base + 10
    return rec, base


def test_self_time_subtracts_children():
    rec, _ = build_tree()
    crawl = rec.named("crawl")[0]
    ws = rec.named("tables.write_snapshot")[0]
    assert crawl.duration == 10
    assert rec.self_time(crawl) == 10 - 2 - 4
    assert rec.self_time(ws) == 4 - 1
    assert rec.self_time(rec.named("seen.seg_stats")[0]) == 1
    # children plus self cover the parent exactly
    kids = rec.children(crawl)
    assert sum(k.duration for k in kids) + rec.self_time(crawl) == crawl.duration


def test_self_time_merges_overlapping_children():
    rec = SpanRecorder()
    rec.spans = [Span(0, "p", 0.0, 10.0), Span(1, "a", 1.0, 5.0, parent=0),
                 Span(2, "b", 4.0, 6.0, parent=0), Span(3, "c", 9.0, 12.0, parent=0)]
    # union of [1,5], [4,6], [9,10] (clipped) = 5 + 1 = 6
    assert rec.self_time(rec.spans[0]) == 4.0


def test_wrap_records_and_restores():
    class Owner:
        @classmethod
        def load(cls, x):
            return ("load", x)

        def run(self, x):
            return x + 1

    import types

    mod = types.SimpleNamespace(f=lambda x: x * 2)
    rec = SpanRecorder()
    orig_load = Owner.__dict__["load"]
    with rec.patched([(mod, "f", "mod.f"), (Owner, "load", "owner.load"),
                      (Owner, "run", "owner.run")]):
        assert mod.f(3) == 6
        assert Owner.load(1) == ("load", 1)
        assert Owner().run(1) == 2
    assert [s.name for s in rec.spans] == ["mod.f", "owner.load", "owner.run"]
    assert Owner.__dict__["load"] is orig_load
    assert mod.f(2) == 4 and len(rec.spans) == 3


def _event_log(base: float) -> list[dict]:
    ms = lambda t: int(round((base + t) * 1000))  # noqa: E731

    def job(jid, t0, t1, stages, site):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": ms(t0),
             "Stage IDs": stages, "Properties": {"callSite.short": site}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": ms(t1)},
        ]

    def task(stage, t0, t1, run_ms, extra=()):
        acc = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms},
               {"Name": "internal.metrics.jvmGCTime", "Update": 10},
               {"Name": "internal.metrics.shuffle.write.bytesWritten", "Update": 100}]
        acc += [{"Name": n, "Update": v} for n, v in extra]
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": ms(t0), "Finish Time": ms(t1),
                              "Getting Result Time": 0, "Accumulables": acc}}

    return [
        # submitted inside crawl's own time (before run_round)
        *job(0, 0.5, 0.9, [0], "collect at /x/spider_spark/crawl.py:10"),
        # inside run_round
        *job(1, 2.0, 2.5, [1], "count at /x/spider_spark/round.py:400"),
        # inside seg_stats, which is nested in write_snapshot
        *job(2, 5.5, 5.9, [2, 3], "collect at /x/spider_spark/seen.py:225"),
        # inside write_snapshot but outside seg_stats (no call site: pool thread)
        *job(3, 6.5, 7.5, [4], ""),
        task(0, 0.6, 0.8, 150),
        task(2, 5.5, 5.6, 100),
        task(2, 5.5, 5.9, 400, [("time to run Python workers", 300),
                                ("data sent to Python workers", 2048)]),
        task(2, 5.5, 5.7, 200),
        task(4, 6.5, 7.4, 800),
    ]


def test_jobs_attributed_to_innermost_span_at_submit():
    rec, base = build_tree()
    fold = fold_events(_event_log(base))
    by_span = attribute_jobs(rec, fold.jobs)
    assert {k: [j.id for j in v] for k, v in by_span.items()} == {
        "crawl": [0],
        "round.run_round": [1],
        "seen.seg_stats": [2],
        "tables.write_snapshot": [3],
    }
    assert [j.module for j in fold.jobs[:3]] == ["crawl", "round", "seen"]


def test_fold_sums_task_metrics_per_stage(tmp_path):
    rec, base = build_tree()
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in _event_log(base)) + "\n")
    fold = fold_events(read_event_log(tmp_path))
    st = fold.stages[2]
    assert st.metrics["run_ms"] == 700
    assert st.metrics["gc_ms"] == 30
    assert st.metrics["python_total"] == 300
    assert st.metrics["python_bytes_sent"] == 2048
    assert st.metrics["shuffle_write_bytes"] == 300
    assert st.metrics["tasks"] == 3
    # scheduler delay = task wall - run time: 0 + 0 + 0 for stage 2
    assert abs(st.metrics["sched_delay_ms"]) < 1e-9
    assert abs(fold.stages[4].metrics["sched_delay_ms"] - 100) < 1
    # the stage with the most task time decides the skew: stage 4, one task
    assert task_skew(fold, [2, 4]) == 1.0
    assert abs(task_skew(fold, [2]) - 400 / 200) < 1e-9
    # jobs 2 and 3 fall inside write_snapshot [4, 8]; their walls do not overlap
    ws = rec.named("tables.write_snapshot")[0]
    inside = fold.jobs_in(ws.start, ws.end)
    assert [j.id for j in inside] == [2, 3]
    assert abs(fold.job_wall_union(inside) - 1.4) < 1e-6
