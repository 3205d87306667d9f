"""The corpus_ops workload: registered, oracle-backed queries over a seeded
sf0.1-shaped corpus. No frontier tables and no round loop: dedup,
curation, DOM extraction in Python UDFs, link analysis, the WARC sink and
ANN search.

Each query is evaluated once inside the timed window, by a ``noop`` write
that counts rows through an ``Observation``. The correctness gate runs
afterwards: every query is compared with its registered DuckDB oracle
through ``tests/oracle_harness.compare``.
"""

from __future__ import annotations

import importlib.util
import random
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from perfbench import inputs

# query -> spider_spark module that does its work (per-layer metric prefix)
QUERY_MODULES = {
    "shingle_containment": "dedup",
    "containment_lsh": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "dedup_minhash_lsh": "dedup",
    "curate_corpus": "curation",
    "qcc_xpath_fields": "parse",
    "main_content_extract": "parse",
    "hits_scores": "pagerank",
    "pagerank_ranks": "pagerank",
    "cc_star_contraction": "graph",
    "warc_dedup_roundtrip": "warc",
    "ann_lsh_topk": "vectorops",
}
TABLES = ("documents", "embeddings", "lineitem")


def write_lineitem(sf_dir: Path, seed: int, n_rows: int = 600_000) -> None:
    """The two lineitem columns the link-analysis queries read, at sf0.1
    cardinalities (20 000 parts, 1 000 suppliers)."""
    rng = np.random.default_rng(seed + 3)
    pd.DataFrame({
        "l_orderkey": np.arange(n_rows, dtype=np.int64) // 4 + 1,
        "l_partkey": rng.integers(1, 20_001, n_rows).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_rows).astype(np.int64),
    }).to_parquet(sf_dir / "lineitem.parquet", index=False)


def make_inputs(sf_dir: Path, seed: int) -> None:
    inputs.write_documents(sf_dir, seed)
    write_lineitem(sf_dir, seed)


def query_order(seed: int) -> list[str]:
    names = list(QUERY_MODULES)
    random.Random(seed).shuffle(names)
    return names


def oracle_harness(root: Path):
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", root / "tests" / "oracle_harness.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def evaluate_once(df) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def run(spark, args, work: Path, phase, root: Path) -> dict:
    from spider_spark.registry import ORACLES, QUERIES

    setup_reps = []
    for k in range(3):
        t = time.perf_counter()
        with phase("setup.input_gen"):
            sf = work / f"sf{k}"
            make_inputs(sf, args.seed)
            for name in TABLES:  # file listing and footer reads, once
                spark.read.parquet(str(sf / f"{name}.parquet")).schema
        setup_reps.append(time.perf_counter() - t)

    order = query_order(args.seed)
    times, rows = {}, {}
    with phase("run.timed"):
        for name in order:
            with phase(f"query.{name}"):
                t = time.perf_counter()
                rows[name] = evaluate_once(QUERIES[name](spark, str(sf)))
                times[name] = time.perf_counter() - t

    checks = {}
    with phase("check"):
        harness = oracle_harness(root)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for name in order:
            rep = harness.compare(QUERIES[name](spark, str(sf)), con, ORACLES[name])
            ok = rep["ok"] and rep["rows_spark"] == rows[name]
            checks[name] = None if ok else (
                f"oracle mismatch: {({k: v for k, v in rep.items() if k != 'first_diffs'})}"
                f" timed rows {rows[name]}")
        con.close()
    errors = [f"{k}: {v}" for k, v in checks.items() if v]
    return {
        "errors": errors,
        "attempted": len(order),
        "setup_reps": setup_reps,
        "input_gen": setup_reps,
        "query_s": times,
        "metrics": {"suite_s": (sum(times.values()), "s")},
        "details": {
            "errors": errors,
            "order": order,
            "query_s": {k: round(v, 3) for k, v in times.items()},
            "rows": rows,
            "setup_rep_s": [round(x, 3) for x in setup_reps],
        },
    }
