"""Bucketed corpus tables: the zero-corpus-exchange fetch join.

At 10^10-URL scale the fetch join's corpus side is the job's heavy
data (multi-TB html). The in-memory path (`frontier._prepare_pages`)
shuffles it ONCE per crawl and caches the partitioning; this module is
the storage-side equivalent for corpora that outlive one crawl: write
the pages table bucketed by ``url_norm`` (Spark's storage-layer
analogue of an Iceberg bucket-partitioned table), and every subsequent
crawl's fetch join streams the buckets directly — the html bytes never
cross an exchange in ANY crawl, warm or cold, because the scan itself
carries the hash partitioning the join needs.

Contract: the written table is pre-keyed — ``url_norm`` is already
compat-normalized (idempotence is hypothesis-pinned in
tests/test_properties.py, so re-normalizing would be a no-op
semantically, but it would WRAP the bucket column in an expression and
destroy the scan's outputPartitioning; ``CrawlConfig.corpus_pre_keyed``
tells the crawl to join on the stored column as-is), bodies are
pre-capped at the 5 MB tier-1 bound, and rows are unique per
``url_norm`` (deduped at write inside the bucket shuffle, so the crawl
skips its own corpus dedup).

The writer repartitions by ``url_norm`` into exactly ``n_buckets``
tasks before ``bucketBy`` — repartition and bucketing use the same
murmur3 hash, so each task holds exactly one bucket and writes exactly
one file per bucket (no small-file blowup at high bucket counts). The
join keeps a per-bucket in-memory Sort (cheap, zero data movement);
what the bucketing removes is the corpus-side Exchange — the multi-TB
term.

tests/test_bucketed.py pins both the plan (corpus side of the SMJ:
``Bucketed: true`` scan, zero Exchange, the job's ONLY exchange is the
small frontier side) and crawl-result equivalence with the in-memory
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.predicates import MAX_BODY_SIZE
from ..functions.urlnorm import normalize_url_compat_col


def write_bucketed_corpus(
    pages: DataFrame,
    name: str,
    path: str,
    n_buckets: int = 32,
    url_col: str = "url",
    html_col: str = "html",
) -> None:
    """Materialize ``pages`` as a bucketed, pre-keyed corpus table.

    ``n_buckets`` is a layout decision made once at ingest: size it so
    one bucket's html fits an executor's scan budget at full corpus
    size (e.g. ~100 TB / 256 MB ≈ 400 K buckets on a real cluster; 32
    at fixture scale). All later crawls inherit it — the same trade-off
    as an Iceberg table's bucket spec.
    """
    prep = (
        pages.select(
            normalize_url_compat_col(F.col(url_col)).alias("url_norm"),
            F.substring(F.col(html_col), 1, MAX_BODY_SIZE).alias("html"),
        )
        .repartition(n_buckets, "url_norm")
        .dropDuplicates(["url_norm"])  # partition-local: same key layout
    )
    (
        prep.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "url_norm")
        .sortBy("url_norm")
        .option("path", path)
        .saveAsTable(name)
    )


def read_bucketed_corpus(spark: SparkSession, name: str) -> DataFrame:
    """Read a corpus written by :func:`write_bucketed_corpus`. Pass the
    result to ``crawl(..., CrawlConfig(corpus_pre_keyed=True,
    broadcast_frontier=False))`` for the zero-corpus-exchange
    sort-merge fetch join (broadcast_frontier=True also works and
    ignores the bucketing — right when one iteration's scheduled batch
    fits in memory)."""
    return spark.table(name)
