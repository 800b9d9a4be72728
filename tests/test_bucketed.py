"""Bucketed corpus tables (sources/bucketed.py).

The claim under test is the 100-TB one: with the corpus stored
bucketed by url_norm, the fetch join never exchanges the html bytes —
the scan itself carries the hash partitioning — and the crawl over the
bucketed table is result-identical to the in-memory path.
"""

from contextlib import contextmanager

import pytest

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans import (
    frontier as fr,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
    CrawlConfig,
    crawl,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
    bucketed,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources.pages import (
    quirk_pages,
)

SEED = "https://quirk.example/"


@contextmanager
def _no_broadcast(spark):
    """Fixture corpora sit under the broadcast threshold, which would
    let the planner broadcast the corpus — the exact anti-pattern the
    bucketing exists to avoid at real stats. Force the 10^10-scale
    plan shape."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def corpus_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bkt") / "corpus")
    bucketed.write_bucketed_corpus(
        quirk_pages(spark), "quirk_bucketed", path, n_buckets=8
    )
    yield "quirk_bucketed"
    spark.sql("DROP TABLE IF EXISTS quirk_bucketed")


def test_one_file_per_bucket_and_unique_keys(spark, corpus_table):
    df = bucketed.read_bucketed_corpus(spark, corpus_table)
    assert df.count() == df.select("url_norm").distinct().count()
    files = [
        r[0]
        for r in spark.sql(
            f"SELECT input_file_name() FROM {corpus_table}"
        ).distinct().collect()
    ]
    assert len(files) <= 8  # one file per bucket — no small-file blowup


def test_fetch_join_zero_corpus_exchange(spark, corpus_table):
    corpus = fr._prepare_pages(
        bucketed.read_bucketed_corpus(spark, corpus_table),
        "url",
        "html",
    )
    sched = spark.createDataFrame([(SEED,)], "url_norm string")
    with _no_broadcast(spark):
        plan = (
            fr.fetch_join(sched, corpus, broadcast_frontier=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan  # the scan carries the partitioning
    # the job's ONLY exchange is the small frontier side; the html
    # bytes never move
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(url_norm" in plan
    assert plan.index("Exchange") < plan.index("FileScan")


def test_bucketed_crawl_same_result(spark, corpus_table):
    seeds = spark.createDataFrame([(SEED, 0)], "url string, depth int")
    base = crawl(spark, quirk_pages(spark), seeds, CrawlConfig())
    want = {(r.url_norm, r.depth) for r in base.seen.collect()}
    want_dl = sorted((r.url, r.status, r.retry) for r in base.downloads.collect())

    with _no_broadcast(spark):  # execute the SMJ bucketed path for real
        res = crawl(
            spark,
            bucketed.read_bucketed_corpus(spark, corpus_table),
            seeds,
            CrawlConfig(),
        )
        got = {(r.url_norm, r.depth) for r in res.seen.collect()}
        got_dl = sorted((r.url, r.status, r.retry) for r in res.downloads.collect())
    assert got == want
    assert got_dl == want_dl
