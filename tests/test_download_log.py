"""Download-state machine (operators/download_log.py — S6/J2/J3/C5).

Semantics under test (downloader.go:280-310, config/config.go:34):
raw-URL dedup key, normalized fetch probe, one retry per superstep,
failure past the cap, drain-time pending marking.
"""

from pyspark.sql import functions as F

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
    download_log as dl,
)


def _corpus_keys(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "dl_norm string")


def _run(spark, discoveries, corpus_urls, n_iters, max_retries):
    """Drive the machine: discoveries = {iter: [raw urls]}."""
    state = spark.createDataFrame([], dl.LOG_SCHEMA)
    keys = _corpus_keys(spark, corpus_urls)
    for it in range(n_iters):
        new = spark.createDataFrame(
            [(u,) for u in discoveries.get(it, [])], "url string"
        )
        # one cut per step, as the crawl loop does: without it each
        # step's plan holds three copies of the last one
        state = dl.advance_download_state(
            new, state, keys, it, max_retries
        ).localCheckpoint(eager=True)
    return dl.finalize_download_log(state, n_iters - 1)


def test_hit_closes_done_at_discovery_iter(spark):
    out = _run(
        spark,
        {0: ["https://h.example/a.pdf"], 2: ["https://h.example/b.pdf"]},
        ["https://h.example/a.pdf", "https://h.example/b.pdf"],
        n_iters=4,
        max_retries=2,
    ).collect()
    rows = {r.url: r for r in out}
    assert (rows["https://h.example/a.pdf"].status, rows["https://h.example/a.pdf"].iter) == ("done", 0)
    assert (rows["https://h.example/b.pdf"].status, rows["https://h.example/b.pdf"].iter) == ("done", 2)
    assert all(r.retry == 0 for r in out)


def test_miss_retries_then_fails_past_cap(spark):
    out = _run(
        spark,
        {0: ["https://h.example/missing.pdf"]},
        [],
        n_iters=6,
        max_retries=2,
    ).collect()
    assert len(out) == 1
    r = out[0]
    # attempt at 0 (retry->1), 1 (->2), 2 (->3 > cap): failed at iter 2
    assert (r.status, r.retry, r.iter) == ("failed", 3, 2)


def test_pending_when_loop_ends_before_cap(spark):
    out = _run(
        spark,
        {3: ["https://h.example/late.pdf"]},
        [],
        n_iters=4,
        max_retries=2,
    ).collect()
    assert [(r.status, r.retry, r.iter) for r in out] == [("pending", 1, 3)]


def test_raw_key_dedup_and_normalized_probe(spark):
    # same url rediscovered while pending AND after done: both no-ops;
    # case-variant RAW key is a distinct J2 entry but the normalized
    # probe still hits the lowercase corpus key
    out = _run(
        spark,
        {
            0: ["https://h.example/A.pdf", "https://h.example/A.pdf"],
            1: ["https://h.example/A.pdf", "https://h.example/a.pdf"],
        },
        ["https://h.example/a.pdf"],
        n_iters=3,
        max_retries=2,
    ).collect()
    rows = {(r.url): (r.status, r.retry, r.iter) for r in out}
    assert rows == {
        "https://h.example/A.pdf": ("done", 0, 0),
        "https://h.example/a.pdf": ("done", 0, 1),
    }


def test_query_fragment_stripped_by_probe(spark):
    out = _run(
        spark,
        {0: ["https://h.example/a.pdf?sess=1#frag"]},
        ["https://h.example/a.pdf"],
        n_iters=1,
        max_retries=2,
    ).collect()
    assert [(r.url, r.status) for r in out] == [
        ("https://h.example/a.pdf?sess=1#frag", "done")
    ]


def test_retry_recovers_when_corpus_gains_key(spark):
    """A URL that misses at first but appears in the corpus later (the
    reference's transient-error retry path, C5) closes done with the
    accrued retry count."""
    state = spark.createDataFrame([], dl.LOG_SCHEMA)
    disc = spark.createDataFrame([("https://h.example/x.pdf",)], "url string")
    none = spark.createDataFrame([], "url string")
    empty_keys = _corpus_keys(spark, [])
    state = dl.advance_download_state(disc, state, empty_keys, 0, 3)
    keys = _corpus_keys(spark, ["https://h.example/x.pdf"])
    state = dl.advance_download_state(none, state, keys, 1, 3)
    # one row, closed: nothing left in the queue (status NULL)
    rows = state.collect()
    assert [(r.status, r.retry, r.iter) for r in rows] == [("done", 1, 1)]
