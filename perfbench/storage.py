"""What a finished crawl left on disk, read without touching ``crawl()``.

- commit times: the mtime of each round's ``manifest.json`` (written to a
  temp file and renamed, so the mtime is the commit);
- bytes and files per table per round, from the snapshot directories;
- the per-round funnel, from the committed ``fetch_log`` rows.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

from spider_spark import tables

SEEN_TABLES = ("seen_segments",)


def round_dirs(workdir: Path) -> dict[int, Path]:
    snaps = Path(workdir) / "snapshots"
    out = {}
    for d in snaps.iterdir():
        if d.name.startswith("round_") and (d / "manifest.json").exists():
            out[int(d.name.split("_")[1])] = d
    return dict(sorted(out.items()))


def commit_times(workdir: Path) -> dict[int, float]:
    return {r: (d / "manifest.json").stat().st_mtime for r, d in round_dirs(workdir).items()}


def round_latencies(workdir: Path, crawl_start: float) -> dict[int, float]:
    """Round r's latency is the gap between the commits of r-1 and r; the
    first round after ``crawl_start`` is timed from the start instead."""
    out, prev = {}, crawl_start
    for r, t in commit_times(workdir).items():
        if t < crawl_start:
            continue
        out[r] = t - prev
        prev = t
    return out


def table_usage(workdir: Path) -> dict[tuple[int, str], tuple[int, int]]:
    """(round, table) -> (bytes, data files) over every snapshot directory."""
    out = {}
    for r, d in round_dirs(workdir).items():
        for t in d.iterdir():
            if not t.is_dir():
                continue
            files = [f for f in t.rglob("*") if f.is_file() and not f.name.startswith((".", "_"))]
            out[(r, t.name)] = (sum(f.stat().st_size for f in files), len(files))
    return out


def usage_by_kind(usage: dict[tuple[int, str], tuple[int, int]]) -> dict[str, int]:
    kinds: dict[str, int] = defaultdict(int)
    for (_r, t), (nbytes, nfiles) in usage.items():
        if t == "frontier":
            kind = "frontier"
        elif t in tables.MOR_TABLES:
            kind = "delta"
        elif t in tables.APPEND_TABLES:
            kind = "append"
        elif t in SEEN_TABLES:
            kind = "seen"
        else:
            kind = "other"
        kinds[f"{kind}_bytes"] += nbytes
        kinds["files"] += nfiles
        kinds["bytes"] += nbytes
    return dict(kinds)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def funnel(spark, workdir: Path) -> dict[int, dict[str, int]]:
    """Per round: claimed and fetched over real hosts, plus the Bloom probe
    row (``host='_bloom'``: candidates probed, maybe-seen)."""
    log = tables.read_appended(spark, workdir, "fetch_log")
    rows = log.groupBy("round", (F.col("partition_id") < 0).alias("bloom")).agg(
        F.sum("n_claimed").alias("claimed"), F.sum("n_fetched").alias("fetched"),
    ).collect()
    out: dict[int, dict[str, int]] = defaultdict(
        lambda: {"claimed": 0, "fetched": 0, "bloom_candidates": 0, "bloom_maybe": 0})
    for r in rows:
        f = out[r["round"]]
        if r["bloom"]:
            f["bloom_candidates"] += r["claimed"]
            f["bloom_maybe"] += r["fetched"]
        else:
            f["claimed"] += r["claimed"]
            f["fetched"] += r["fetched"]
    return dict(sorted(out.items()))
