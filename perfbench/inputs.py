"""Seeded inputs for the benchmark workloads.

The engine's page-graph synthesis (``sources.pages.clean_pages_sql``)
derives every page from a ``documents`` table (doc_id, text, lang).
The benchmark builds that table itself instead of reading a fixture
directory, so a checkout of the repository is all it needs. The
document texts are drawn from a fixed generator with the same shape
as the repository's ``documents`` fixture (30-word vocabulary, 10-100
words per text, five languages, a few exact and near duplicates), so
every seed crawls and curates the same corpus. The workload seed only
picks which residue class of doc ids seeds the crawl and the order of
the input rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import pages as pagesrc

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
TEXT_SEED = 20251102  # fixed: the corpus is the same for every workload seed


def documents(n_docs: int) -> pd.DataFrame:
    """The ``documents`` table: ``n_docs`` rows, identical for every
    workload seed."""
    rng = np.random.default_rng(TEXT_SEED)
    n_words = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = [
        " ".join(VOCAB[w] for w in words[e - n : e]) for n, e in zip(n_words, ends)
    ]
    # ~5% near duplicates and ~0.2% exact duplicates of an earlier text,
    # so the curation pipeline's dedup stages have work to do
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    lang = rng.choice(LANGS, n_docs, p=LANG_P)
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts, "lang": lang}
    )


def shuffled(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The input row order the engine sees for this seed."""
    order = np.random.default_rng(seed).permutation(len(docs))
    return docs.iloc[order].reset_index(drop=True)


def corpus(spark, docs: pd.DataFrame, seed: int, body_repeat: int, residue: int):
    """(pages, seeds) DataFrames for one workload run: the seed URLs are
    the pages whose doc id is ``residue`` modulo ``SEED_MOD``.

    ``docs`` is materialized once as a small checkpointed table;
    ``pages`` is the engine's lazy html synthesis over it, so each crawl
    builds its own corpus cache from scratch, as a crawl over a fresh
    table would.
    """
    sdf = spark.createDataFrame(shuffled(docs, seed))
    sdf = sdf.repartition(spark.sparkContext.defaultParallelism).localCheckpoint(eager=True)
    sdf.createOrReplaceTempView("documents")
    base = spark.sql(pagesrc.clean_pages_sql(body_repeat, n_rows=len(docs)))
    seeds = base.filter(
        F.col("id") % pagesrc.SEED_MOD == residue
    ).select("url", F.lit(0).alias("depth"))
    return base, seeds
