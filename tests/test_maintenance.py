"""Snapshot-store maintenance (Iceberg procedure analogues).

At a 10^10-URL frontier the checkpoint store's growth terms are the
full-frontier + retry-queue snapshot written per superstep and the
one-small-file-dir-per-superstep delta accumulation. expire_snapshots
and rewrite_data_files bound both (checkpoint.py); these tests pin
that maintenance never changes what a retained resume point sees.
"""

import os

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
)

SEED = "https://quirk.example/"


def _run(spark, cfg):
    seeds = spark.createDataFrame([(SEED, 0)], "url string, depth int")
    return crawl(spark, quirk_pages(spark), seeds, cfg)


def _state(res):
    return (
        {(r.url_norm, r.depth) for r in res.seen.collect()},
        sorted((r.url, r.status, r.retry) for r in res.downloads.collect()),
    )


def _iters(root, table):
    d = os.path.join(root, table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(x.split("=")[1]) for x in os.listdir(d) if x.startswith("iter=")
    )


@pytest.fixture(scope="module")
def ck_run(spark, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck"))
    res = _run(spark, CrawlConfig(checkpoint_dir=ck))
    return ck, _state(res)


def test_expire_then_compact_preserve_retained_resume(spark, ck_run):
    ck, final = ck_run
    store = SnapshotStore(ck)
    last = store.latest_iter()
    assert last is not None and last >= 4  # quirks chain runs 14 iters
    n_seen_dirs = len(_iters(ck, "seen"))
    had_pending_below = any(k < last - 2 for k in _iters(ck, "pending"))

    # -- expire: keep the last 3 snapshots ---------------------------------
    h = store.expire_snapshots(keep_last=3)
    assert h == last - 2 == store.horizon()
    assert _iters(ck, "frontier") == [last - 2, last - 1, last]
    # pending walk-back state was relocated to the horizon, not lost
    if had_pending_below:
        assert min(_iters(ck, "pending")) >= h
    # append-only delta tables untouched by expire
    assert len(_iters(ck, "seen")) == n_seen_dirs

    # time travel to a retained snapshot replays onto the same state
    res = resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck), as_of=h)
    assert _state(res) == final
    # ... and below the horizon is expired, Iceberg-style
    with pytest.raises(ValueError, match="expired"):
        resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck), as_of=h - 1)

    # -- compact: merge deltas at/below the horizon -------------------------
    # (the resume above re-committed past `last`; its writes land above
    # the horizon and are untouched)
    removed = store.rewrite_data_files(spark)
    assert removed >= 1
    assert min(_iters(ck, "seen")) == h  # one merged delta at the horizon
    assert all(k >= h for k in _iters(ck, "downloads"))
    res2 = resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck), as_of=h)
    assert _state(res2) == final


def test_compaction_crash_recovery(spark, ck_run, tmp_path):
    """rewrite_data_files' crash contract: re-running an interrupted
    compaction restores exactly the pre-compaction data — both crash
    windows (pre-swap: horizon delta parked in _compact_old; post-swap:
    merged target coexists with not-yet-removed source dirs, i.e.
    duplicated rows)."""
    import shutil as sh

    ck, _ = ck_run
    store = SnapshotStore(ck)
    if store.horizon() == 0:  # order-independent: expire+compact first
        store.expire_snapshots(keep_last=3)
        store.rewrite_data_files(spark)
    h = store.horizon()
    last = store.latest_iter()
    want = sorted(
        tuple(r) for r in store.read_seen(spark, last).collect()
    )

    # window 1 (crash between swap renames): iter=h parked as
    # _compact_old, target missing, stale tmp left behind
    sh.move(f"{ck}/seen/iter={h}", f"{ck}/seen/_compact_old")
    os.makedirs(f"{ck}/seen/_compact_tmp")
    store.rewrite_data_files(spark)
    got = sorted(tuple(r) for r in store.read_seen(spark, last).collect())
    assert got == want

    # window 2 (crash before source-dir removal): a source delta
    # coexists with the merged target — its rows are duplicated
    sh.copytree(f"{ck}/seen/iter={h}", f"{ck}/seen/iter={max(0, h - 1)}")
    assert store.rewrite_data_files(spark) >= 1
    got = sorted(tuple(r) for r in store.read_seen(spark, last).collect())
    assert got == want  # exact-duplicate crash artifacts deduped away


def test_snapshot_keep_bounds_store_in_the_loop(spark, ck_run, tmp_path):
    _, final = ck_run
    ck = str(tmp_path / "ck2")
    res = _run(spark, CrawlConfig(checkpoint_dir=ck, snapshot_keep=2))
    assert _state(res) == final  # maintenance never changes the crawl
    store = SnapshotStore(ck)
    last = store.latest_iter()
    assert store.horizon() == last - 1
    assert _iters(ck, "frontier") == [last - 1, last]  # O(keep), not O(iters)
    # a plain resume (latest snapshot) still lands on the same state
    res2 = resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck))
    assert _state(res2) == final


def test_rewritten_iter_drops_stale_downloads_delta(spark, tmp_path):
    """Re-committing superstep K without a downloads delta (a
    time-travel resume whose new timeline closes nothing at K) must
    not leave the abandoned timeline's downloads/iter=K visible."""
    store = SnapshotStore(str(tmp_path))
    seen = spark.createDataFrame(
        [(SEED, SEED, "quirk.example", 0, 0)],
        "url_norm string, url string, host string, depth int, iter int",
    )
    frontier = seen.select("url", "url_norm", "host", "depth")
    df = spark.createDataFrame(
        [("https://quirk.example/a.pdf", "failed", 4, 1)],
        "url string, status string, retry int, iter int",
    )
    store.write_iter(1, seen, frontier, downloads_delta=df)
    store.write_iter(1, seen, frontier, downloads_delta=None)
    merged = store.merged_downloads(spark, 1)
    got = set() if merged is None else set(merged.collect())
    assert not got & set(df.collect())
