"""The benchmark's crawl workloads: inputs, crawl settings and the
correctness gate each one's output must pass.

Each workload is one closed batch job at a stated input size; the seed is
the only thing that changes between runs.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark import tables
from spider_spark.registry.crawl import _doc_pages
from spider_spark.round import CrawlConfig
from spider_spark.seen import SeenSet

from perfbench import inputs


@dataclass
class CrawlInputs:
    pages: DataFrame
    seeds: list[tuple[str, int]] | DataFrame
    policy: DataFrame
    start_docs: list[int] | None = None


class CrawlWorkload:
    name: str
    why: str
    cfg: CrawlConfig

    def make_inputs(self, spark: SparkSession, seed: int, root: Path) -> CrawlInputs:
        raise NotImplementedError

    def check(self, spark: SparkSession, workdir: Path, inp: CrawlInputs,
              last_round: int) -> dict[str, str | None]:
        """Check name -> violation message, or None when it holds."""
        raise NotImplementedError


def _verdict(ok: bool, msg: str) -> str | None:
    return None if ok else msg


# ----------------------------------------------------------------- crawl_bfs

def doc_url(i: int) -> str:
    """Doc i's url in ``_doc_pages``: doc i links to (7i+k) % N, k = 1..3,
    on 13 hosts, with unlimited budgets."""
    return f"https://h{i % 13}.docs.example.com/d/{i}"


def bfs_depths(n: int, starts: list[int]) -> dict[int, int]:
    depth = {s: 0 for s in starts}
    queue = deque(starts)
    while queue:
        i = queue.popleft()
        for k in (1, 2, 3):
            j = (7 * i + k) % n
            if j not in depth:
                depth[j] = depth[i] + 1
                queue.append(j)
    return depth


class CrawlBfs(CrawlWorkload):
    name = "crawl_bfs"
    why = ("81 start pages, 3 BFS rounds of 81, ~235 and ~640 pages over 5 000 "
           "pages on 13 hosts: tiny rounds, so the fixed per-round tail dominates")
    n_starts = 81
    cfg = CrawlConfig(max_rounds=3, use_bloom=False, n_salt=4,
                      write_coalesce=4, seq_mode="hash")

    def make_inputs(self, spark, seed, root):
        sf = root / "sf"
        inputs.write_documents(sf, seed)
        # the flagship crawl_docs corpus; its fixed seed list is replaced
        # by the seeded start docs
        pages, _seeds, policy, n = _doc_pages(spark, str(sf))
        pages = pages.persist()
        pages.count()
        starts = inputs.bfs_start_docs(seed, n, self.n_starts)
        return CrawlInputs(pages, [(doc_url(i), 0) for i in starts], policy, starts)

    def check(self, spark, workdir, inp, last_round):
        """After r rounds, pages at BFS depth d < r are done in round d + 1
        at depth d, pages at depth r wait as 'new' at depth r, and no deeper
        page has been discovered."""
        want = {i: d for i, d in bfs_depths(inputs.N_DOCS, inp.start_docs).items()
                if d <= last_round}
        got = tables.read_frontier_resolved(spark, workdir, last_round).select(
            "url", "status", "depth", "fetched_round").collect()
        by_url = {r["url"]: r for r in got}
        expect = {
            doc_url(i): ("done", d, d + 1) if d < last_round else ("new", d, None)
            for i, d in want.items()
        }
        bad = [u for u, e in expect.items()
               if (r := by_url.get(u)) is None
               or (r["status"], r["depth"], r["fetched_round"]) != e]
        return {
            "urls_unique": _verdict(len(by_url) == len(got), "duplicate frontier urls"),
            "reach_equals_bfs": _verdict(
                set(by_url) == set(expect),
                f"frontier has {len(by_url)} urls, BFS reaches {len(expect)}"),
            "depth_and_round_match_bfs": _verdict(
                not bad, f"{len(bad)} pages off their BFS depth or round, e.g. {bad[:1]}"),
        }


# ---------------------------------------------------------------- crawl_zipf

class CrawlZipf(CrawlWorkload):
    name = "crawl_zipf"
    why = ("Zipf-skewed hosts with binding per-host budgets, MOR frontier, "
           "Bloom seen-set and one PageRank round: the data path dominates")
    n_pages = 60_000
    n_seeds = 6_000
    host_budget = 600
    cfg = CrawlConfig(max_rounds=2, use_bloom=True, bloom_buckets=8,
                      frontier_mode="mor", compact_ratio=4.0, pagerank_every=1,
                      pagerank_iters=3, n_salt=8, write_coalesce=4, seq_mode="hash")

    def make_inputs(self, spark, seed, root):
        pages, seeds, policy = inputs.zipf_corpus(
            spark, seed, self.n_pages, self.n_seeds, self.host_budget)
        pages = pages.persist()
        pages.count()
        return CrawlInputs(pages, seeds, policy)

    def check(self, spark, workdir, inp, last_round):
        stats = tables.read_manifest(workdir, last_round)["stats"]["by_status"]
        frontier = tables.read_frontier_resolved(spark, workdir, last_round).persist()
        by_status = {r["status"]: r["count"]
                     for r in frontier.groupBy("status").count().collect()}
        done = by_status.get("done", 0)
        log = tables.read_appended(spark, workdir, "fetch_log").where(F.col("partition_id") >= 0)
        tot = (log.groupBy("round", "host")
               .agg(F.sum("n_claimed").alias("c"), F.sum("n_fetched").alias("f"))
               .agg(F.sum("f").alias("fetched"), F.max("c").alias("max_claimed")).first())
        orphans = (frontier.where(F.col("status") == "done").select("url")
                   .join(inp.pages.select("url"), "url", "left_anti").count())
        seen = SeenSet.load(spark, workdir, last_round,
                            n_buckets=self.cfg.bloom_buckets, fpp=self.cfg.bloom_fpp)
        missed = seen.mark(frontier.select("url", "url_hash")).where(~F.col("maybe")).count()
        frontier.unpersist()
        return {
            "by_status_sums_to_frontier": _verdict(
                sum(stats.values()) == sum(by_status.values()) and stats.get("done", 0) == done,
                f"manifest by_status {stats} vs resolved frontier {by_status}"),
            "done_equals_fetched": _verdict(
                tot["fetched"] == done, f"done {done} != fetch_log n_fetched {tot['fetched']}"),
            "host_budget_holds": _verdict(
                tot["max_claimed"] <= self.host_budget,
                f"a host claimed {tot['max_claimed']} > budget {self.host_budget} in one round"),
            "done_urls_in_pages": _verdict(orphans == 0, f"{orphans} done urls not in pages"),
            "bloom_no_false_negatives": _verdict(
                missed == 0, f"Bloom filter misses {missed} frontier urls"),
        }


WORKLOADS: dict[str, CrawlWorkload] = {w.name: w for w in (CrawlBfs(), CrawlZipf())}
