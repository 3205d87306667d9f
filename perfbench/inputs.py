"""Seeded benchmark inputs. The same seed always gives the same inputs.

- ``write_documents``: an sf0.1-shaped ``documents`` table (5 000 docs over a
  30-word vocabulary, 5% near-duplicates) plus the 2 000-row ``embeddings``
  table, written as parquet so the registered queries and their DuckDB
  oracles read the same files.
- ``bfs_start_docs``: the crawl_bfs start documents.
- ``zipf_corpus``: a Spark-generated web corpus with Zipf host skew; every
  random choice is an ``xxhash64`` of the row id salted by the seed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

VOCAB = (
    "the a spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

N_DOCS = 5_000
N_EMBED = 2_000
EMBED_DIM = 64
DUP_FRAC = 0.05


def make_documents(seed: int, n_docs: int = N_DOCS) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 101, n_docs)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    # near-duplicates: another doc's text plus one marker token
    dups = np.flatnonzero(rng.random(n_docs) < DUP_FRAC)
    for i in dups:
        j = int(rng.integers(0, n_docs - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    doc_id = np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def make_embeddings(seed: int, n: int = N_EMBED, dim: int = EMBED_DIM) -> pd.DataFrame:
    """Unit vectors around 10 label centroids."""
    rng = np.random.default_rng(seed + 1)
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centroids[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": label,
    })


def write_documents(sf_dir: Path, seed: int) -> None:
    sf_dir.mkdir(parents=True, exist_ok=True)
    make_documents(seed).to_parquet(sf_dir / "documents.parquet", index=False)
    make_embeddings(seed).to_parquet(sf_dir / "embeddings.parquet", index=False)


def bfs_start_docs(seed: int, n_docs: int, n_starts: int) -> list[int]:
    rng = np.random.default_rng(seed + 2)
    return sorted(int(d) for d in rng.choice(n_docs, n_starts, replace=False))


# ------------------------------------------------------------- Zipf corpus

ZIPF_HOSTS = 2_000
ZIPF_ALPHA = 1.32  # Pareto tail: P(host 0) = 1 - 2**-alpha ~ 60%
ZIPF_LINKS = 4


def zipf_corpus(spark, seed: int, n_pages: int, n_seeds: int, host_budget: int):
    """(pages, seeds_df, policy) for the budgeted Zipf crawl.

    Page ``i`` sits on host ``floor(u**(-1/alpha)) - 1`` (folded into
    ``ZIPF_HOSTS``), so the head host holds about 60% of pages, and links to
    ``ZIPF_LINKS`` pages drawn uniformly. A page's host is a function of its
    id, so link targets get their urls without a join. Seeds are the pages
    whose salted hash falls in the first ``n_seeds / n_pages`` of the range."""
    from pyspark.sql import functions as F

    def h(*cols, mod):
        return F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(mod))

    def url(id_col):
        u = (h(id_col, F.lit("host"), mod=1 << 30) + 1) / float(1 << 30)
        raw = F.floor(F.pow(u, -1.0 / ZIPF_ALPHA)).cast("long") - 1
        host = F.when(raw < ZIPF_HOSTS, raw).otherwise(F.pmod(raw, F.lit(ZIPF_HOSTS)))
        return F.concat(F.lit("https://z"), host.cast("string"),
                        F.lit(".zipf.example.com/p/"), id_col.cast("string"))

    ids = spark.range(n_pages)
    anchors = [
        F.concat(F.lit('<a href="'), url(h(F.col("id"), F.lit(k), mod=n_pages)),
                 F.lit('">l</a>'))
        for k in range(ZIPF_LINKS)
    ]
    pages = ids.select(
        url(F.col("id")).alias("url"),
        F.encode(F.concat(
            F.lit("<html><head><title>Z"), F.col("id").cast("string"),
            F.lit("</title></head><body><p>page "), F.col("id").cast("string"),
            F.lit("</p>"), *anchors, F.lit("</body></html>"),
        ), "UTF-8").alias("html"),
    )
    seeds = ids.where(
        h(F.col("id"), F.lit("seed"), mod=1 << 30) < int(n_seeds / n_pages * (1 << 30))
    ).select(url(F.col("id")).alias("url"), F.lit(0).alias("depth"))
    policy = spark.range(ZIPF_HOSTS).select(
        F.concat(F.lit("z"), F.col("id").cast("string"),
                 F.lit(".zipf.example.com")).alias("host"),
        F.lit(5.0).alias("crawl_delay"),
        F.array(F.lit("/")).alias("robots_allow"),
        F.array().cast("array<string>").alias("robots_deny"),
        F.lit(host_budget).alias("host_budget"),
    )
    return pages, seeds, policy
