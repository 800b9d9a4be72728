"""Crawl-equivalence and resume tests (SURVEY.md §5.2/§5.4).

The quirks corpus exercises every extraction/normalization edge; the
oracle is the single-threaded reference-semantics loop in oracle.py.
Crawls are expensive (14 BFS supersteps), so they run once per module
via fixtures and every assertion shares the results.
"""

import tempfile

import pytest

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.checkpoint import (
    SnapshotStore,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
    CrawlConfig,
    crawl,
    resume,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources.pages import (
    quirk_pages,
    quirk_pages_rows,
)

from oracle import reference_crawl

SEED = "https://quirk.example/"


def run_engine(spark, cfg=None):
    pages = quirk_pages(spark)
    seeds = spark.createDataFrame([(SEED, 0)], "url string, depth int")
    return crawl(spark, pages, seeds, cfg or CrawlConfig())


@pytest.fixture(scope="module")
def full(spark):
    res = run_engine(spark)
    return {
        "seen": {(r.url_norm, r.depth) for r in res.seen.collect()},
        "downloads": [(r.url, r.status, r.retry) for r in res.downloads.collect()],
        "metrics": res.metrics,
        "iterations": res.iterations,
        "n_seen": res.seen.count(),
    }


@pytest.fixture(scope="module")
def budgeted(spark):
    res = run_engine(spark, CrawlConfig(budget_per_host=3, max_iterations=60))
    return {
        "seen": {(r.url_norm, r.depth) for r in res.seen.collect()},
        "metrics": res.metrics,
    }


def test_quirks_crawl_matches_oracle(full):
    oracle_seen, oracle_docs, oracle_dl = reference_crawl(
        dict(quirk_pages_rows()), [SEED]
    )
    assert full["seen"] == set(oracle_seen.items())
    # download attempts keyed on RAW doc url (downloader.go:280-286)
    assert {u for u, _, _ in full["downloads"]} == oracle_dl
    # every attempted URL is a dangling .pdf here -> all failed at retry>3
    assert {(s, r) for _, s, r in full["downloads"]} == {("failed", 4)}


def test_depth_cutoff(full):
    depths = dict(full["seen"])
    assert depths["https://quirk.example/chain/11"] == 13
    assert "https://quirk.example/chain/12" not in depths  # F1 at MaxDepth=13
    assert max(depths.values()) == 13


def test_politeness_same_set(full, budgeted):
    a = {u for u, _ in full["seen"]}
    b = {u for u, _ in budgeted["seen"]}
    assert a == b  # deferral reorders discovery but never loses URLs


def test_budget_enforced_per_iteration(budgeted):
    assert all(m["scheduled"] <= 3 for m in budgeted["metrics"])  # single host


METRICS_SCHEMA = (
    "struct<iter:int,partition_id:int,pages:bigint,links:bigint,docs:bigint,"
    "fast_cnt:bigint,slow_cnt:bigint>"
)


def assert_store_metrics_match(spark, ck, metrics):
    """Each committed superstep's per-partition lineage rows
    (read_metrics at K) have one row per partition, the store schema,
    and sum to the superstep's totals in CrawlResult.metrics."""
    store = SnapshotStore(ck)
    for m in metrics:
        k = m["iter"]
        df = store.read_metrics(spark, k)
        assert df.schema.simpleString() == METRICS_SCHEMA, k
        rows = df.collect()
        pids = [r.partition_id for r in rows]
        assert len(pids) == len(set(pids)), k
        assert {r.iter for r in rows} <= {k}
        for col, key in (
            ("pages", "fetched"),
            ("links", "links"),
            ("docs", "docs"),
            ("fast_cnt", "fast_cnt"),
            ("slow_cnt", "slow_cnt"),
        ):
            assert sum(r[col] for r in rows) == m[key], (k, col)


def test_resume_identical(spark, full):
    with tempfile.TemporaryDirectory() as ck:
        partial = run_engine(spark, CrawlConfig(max_iterations=2, checkpoint_dir=ck))
        assert partial.iterations == 2
        # the interruption must land mid-flight for the downloads leg
        # of the resume to be exercised (retry queue non-trivial)
        res = resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck))
        got = {(r.url_norm, r.depth) for r in res.seen.collect()}
        got_dl = sorted(
            (r.url, r.status, r.retry) for r in res.downloads.collect()
        )
        committed = partial.metrics + res.metrics
        assert [m["iter"] for m in committed] == list(range(1, res.iterations + 1))
        assert_store_metrics_match(spark, ck, committed)
    assert got == full["seen"]
    # downloads state (J2/J3/C5) resumes exactly too: closed entries
    # come back from the merged snapshot deltas, in-flight retries from
    # the pending snapshot, and the continuation finishes them off
    assert got_dl == sorted(full["downloads"])


def test_resume_time_travel(spark, full):
    """Iceberg-style time travel: a crawl checkpointed for 4 iterations
    can be resumed from ANY committed snapshot (as_of), not just the
    latest — and a continuation from iter 2 of a 4-iter run replays
    deterministically onto the same final state. Also pins rejection of
    out-of-range as_of."""
    with tempfile.TemporaryDirectory() as ck:
        partial = run_engine(spark, CrawlConfig(max_iterations=4, checkpoint_dir=ck))
        assert partial.iterations == 4
        res = resume(
            spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck), as_of=2
        )
        got = {(r.url_norm, r.depth) for r in res.seen.collect()}
        got_dl = sorted((r.url, r.status, r.retry) for r in res.downloads.collect())
        # the continuation kept committing to the same store, so the
        # pointer moved past 4 — probe far beyond any committed iter
        with pytest.raises(ValueError):
            resume(
                spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck), as_of=999
            )
    assert got == full["seen"]
    assert got_dl == sorted(full["downloads"])


def test_metrics_shape(full):
    m1 = full["metrics"][0]
    assert m1["scheduled"] == 1 and m1["fetched"] == 1
    assert m1["fast_cnt"] + m1["slow_cnt"] == m1["fetched"]
    total_new = sum(m["new_urls"] for m in full["metrics"])
    assert total_new == full["n_seen"] - 1  # all but the seed


def test_route_on_bytes_not_characters(spark):
    """O1 compares the body's BYTE length to the reference's thresholds
    (Decide gets len(body) of a []byte): 60 K two-byte characters are
    under 100 KiB as characters but over it as bytes, so a keyword-free
    four-segment path routes slow."""
    url = "https://bytes.example/a/b/c/d"
    html = "<html><body>" + "\u00e9" * 60_000 + "</body></html>"
    assert len(html) < 100 * 1024 < len(html.encode("utf-8"))
    pages = spark.createDataFrame([(url, html)], "url string, html string")
    seeds = spark.createDataFrame([(url, 0)], "url string, depth int")
    res = crawl(spark, pages, seeds, CrawlConfig(max_iterations=1))
    (m,) = res.metrics
    assert (m["fetched"], m["fast_cnt"], m["slow_cnt"]) == (1, 0, 1)


def test_body_cap_counts_bytes(spark):
    """The 5 MB body cap (colly MaxBodySize) counts bytes: 3 M two-byte
    characters are under 5 MiB as characters but over it as bytes, so
    the link after them is cut off. The cut never splits a code point:
    with a one-byte prefix, 5 MiB falls inside an 'é' and the body
    keeps one byte less."""
    from pyspark.sql import functions as F

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.predicates import (
        MAX_BODY_SIZE,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        _prepare_pages,
    )

    body = "é" * 3_000_000 + '<a href="https://cap.example/next">n</a>'
    assert len(body) < MAX_BODY_SIZE < len(body.encode("utf-8"))
    pages = spark.createDataFrame(
        [("https://cap.example/even", body), ("https://cap.example/odd", "a" + body)],
        "url string, html string",
    )
    got = {
        r.url_norm.rsplit("/", 1)[1]: (r.n, r.link)
        for r in _prepare_pages(pages, "url", "html").select(
            "url_norm",
            F.octet_length("html").alias("n"),
            F.col("html").contains("cap.example/next").alias("link"),
        ).collect()
    }
    assert got == {
        "even": (MAX_BODY_SIZE, False),
        "odd": (MAX_BODY_SIZE - 1, False),
    }


def test_bloom_crawl_identical(spark, full):
    """J1 behind the sharded-Bloom prefilter (CrawlConfig.use_bloom)
    must be bit-for-bit the exact-join crawl: false positives fall
    through to the authoritative anti-join, false negatives are
    impossible (every seen key is OR-ed into its shard)."""
    res = run_engine(spark, CrawlConfig(use_bloom=True))
    got = {(r.url_norm, r.depth) for r in res.seen.collect()}
    assert got == full["seen"]


def test_bloom_broadcasts_destroyed(spark, monkeypatch):
    """The Bloom prefilter ships its shard table to executors as a
    broadcast each superstep; the loop must destroy each one once the
    probe's output is checkpointed, so live broadcasts (and their
    copies of the shard state) do not grow with the superstep count."""
    sc = spark.sparkContext
    made = []
    broadcast = sc.broadcast

    def recording_broadcast(value):
        bc = broadcast(value)
        made.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", recording_broadcast)
    res = run_engine(
        spark,
        CrawlConfig(budget_per_host=3, max_iterations=4, use_bloom=True),
    )
    assert res.iterations >= 3 and len(made) >= 3
    live = [bc for bc in made if bc._jbroadcast.isValid()]
    assert len(live) <= 1, f"{len(live)} of {len(made)} broadcasts still valid"


def test_every_config_knob_is_read():
    """Every CrawlConfig field must be read somewhere in the engine
    package: a knob that nothing reads is a setting that silently does
    nothing."""
    import dataclasses
    import pathlib
    import re

    import go_crawler_20251102_011312_url_crawlerv10_twotier_spark as eng

    src = "\n".join(
        f.read_text() for f in pathlib.Path(eng.__file__).parent.rglob("*.py")
    )
    unread = [
        f.name
        for f in dataclasses.fields(CrawlConfig)
        if not re.search(rf"\b(?:cfg|crawl_cfg)\.{f.name}\b", src)
    ]
    assert not unread, f"CrawlConfig fields nothing reads: {unread}"


def test_every_env_knob_is_set_somewhere():
    """The engine package and the gate entry point (``__spark_entry__.py``)
    read exactly these environment variables, each one set by
    something outside them:

    - SPARK_GRAFT_CPUS: local cores; the tier-1 command and the test
      session set it to the host's vCPU count.
    - SPARK_UI: perfbench's traced run turns on Spark's REST API.
    - SPARK_DRIVER_MEM: driver heap, sized to the host of a local run.
    - SPARK_DRIVER_JAVA_OPTS: driver GC / direct-memory flags, same.

    An override that nothing sets is a second code path nothing runs;
    a new one belongs here with its reason."""
    import pathlib
    import re

    import go_crawler_20251102_011312_url_crawlerv10_twotier_spark as eng

    pkg = pathlib.Path(eng.__file__).parent
    files = [*pkg.rglob("*.py"), pkg.parent / "__spark_entry__.py"]
    src = "\n".join(f.read_text() for f in files)
    names = re.findall(
        r"""os\.(?:environ\.get\(|environ\[|getenv\()\s*["']([A-Za-z0-9_]+)["']""",
        src,
    )
    # every environ/getenv access must name its variable literally
    assert len(names) == len(re.findall(r"\b(?:environ|getenv)\b", src))
    kept = {
        "SPARK_GRAFT_CPUS",
        "SPARK_UI",
        "SPARK_DRIVER_MEM",
        "SPARK_DRIVER_JAVA_OPTS",
    }
    read = set(names)
    assert read == kept, (
        f"extra: {sorted(read - kept)}; missing: {sorted(kept - read)}"
    )


def test_checkpoint_storage_bounded(spark):
    """A long (budget=1, 32-superstep) crawl must not accumulate
    superseded localCheckpoint blocks: the loop's periodic GC nudge
    keeps cached state to the last few iterations (~3 frames/iter
    would be ~96 blocks unbounded; measured ~19 with cleanup)."""
    res = run_engine(
        spark,
        CrawlConfig(budget_per_host=1, max_iterations=100, use_bloom=True),
    )
    assert res.iterations >= 30  # one url per superstep on one host
    import time

    time.sleep(2)  # non-blocking cleanup drains
    n_blocks = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert n_blocks < 60, f"cached RDD state grew unbounded: {n_blocks}"


def test_host_trap_stats_flags_concentrated_hosts(spark):
    """Calendar-trap host (one prefix) and query-farm host flag
    suspect; a spread host with the same url count doesn't; small
    hosts never flag regardless of shape."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        host_trap_stats,
    )

    rows = (
        [(f"https://trap.ex/cal/view?d={i}", "trap.ex") for i in range(30)]
        + [(f"https://ok.ex/s{i % 10}/p/{i}", "ok.ex") for i in range(30)]
        + [(f"https://tiny.ex/cal/day?d={i}", "tiny.ex") for i in range(5)]
    )
    out = {
        r.host: r
        for r in host_trap_stats(
            spark.createDataFrame(rows, "url_norm string, host string")
        ).collect()
    }
    trap, ok, tiny = out["trap.ex"], out["ok.ex"], out["tiny.ex"]
    assert trap.suspect and trap.trap_share == 1.0 and trap.query_frac == 1.0
    assert trap.n_prefixes == 1 and trap.max_prefix_urls == 30
    assert not ok.suspect and ok.n_prefixes == 10 and ok.trap_share == 0.1
    assert not tiny.suspect  # shape is trappy but below min_urls


def test_soft404_hand_cases(spark):
    """Error phrasing behind a 200: short error bodies flag, a long
    article QUOTING an error phrase does not, clean text never does."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        soft404_flags,
    )

    long_quote = ("word " * 100) + "page not found"
    rows = [
        ("err1", "Page Not Found - this page does not exist."),
        ("err2", "HTTP Error 404 Not Found"),
        ("quote", long_quote),
        ("clean", "An ordinary article about nothing in particular."),
        ("empty", ""),
    ]
    out = {
        r["id"]: r
        for r in soft404_flags(
            spark.createDataFrame(rows, "url string, text string")
        ).collect()
    }
    assert out["err1"].soft404 and out["err1"].phrase_hit
    assert out["err2"].soft404
    assert out["quote"].phrase_hit and not out["quote"].soft404
    assert out["quote"].n_words == 103
    assert not out["clean"].phrase_hit and not out["clean"].soft404
    assert out["empty"].n_words == 0 and not out["empty"].soft404


def test_url_features_hand_case(spark):
    """Closed-form shape features: depth counts path slashes only,
    params count &-separated pairs, digit density is exact permille."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        url_features,
    )

    urls = spark.createDataFrame(
        [
            ("https://a.x/article",),
            ("https://a.x/shop/list?page=3&sort=12",),
            ("https://a.x/cal/2025/01/02?d=20250102",),
            ("https://a.x/",),
        ],
        "url_norm string",
    )
    got = {r.url_norm: r for r in url_features(urls).collect()}
    r0 = got["https://a.x/article"]
    assert (r0.path_depth, r0.n_params, r0.digit_permille) == (1, 0, 0)
    assert r0.shape_score == 90
    r1 = got["https://a.x/shop/list?page=3&sort=12"]
    assert (r1.path_depth, r1.n_params) == (2, 2)
    # digits '3' '12' -> 3 of 36 chars = 83 permille
    assert r1.digit_permille == 83
    assert r1.shape_score == 100 - 20 - 10 - 4
    r2 = got["https://a.x/cal/2025/01/02?d=20250102"]
    assert (r2.path_depth, r2.n_params) == (4, 1)
    r3 = got["https://a.x/"]
    assert (r3.path_depth, r3.n_params, r3.shape_score) == (1, 0, 90)
