"""Snapshot-store maintenance (Iceberg procedure analogues).

At a 10^10-URL frontier the checkpoint store's growth terms are the
full-frontier + retry-queue snapshot written per superstep and the
one-small-file-dir-per-superstep delta accumulation. expire_snapshots
and rewrite_data_files bound both (checkpoint.py); these tests pin
that maintenance never changes what a retained resume point sees, and
that a crash at any file mutation of a commit or a maintenance step
leaves every read at its before or after state.
"""

import itertools
import json
import os
import shutil
from functools import reduce

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

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


def _dirs(root):
    """Directories on disk that hold files (the store's data dirs),
    as paths relative to ``root``: footprint is what is on disk, not
    what the manifest names."""
    return {
        os.path.relpath(d, root)
        for d, _, files in os.walk(root)
        if files and d != root
    }


def _count(root, table):
    return sum(d.split(os.sep)[0] == table for d in _dirs(root))


def _rows(df):
    return None if df is None else sorted(tuple(r) for r in df.collect())


def _iters(root, table):
    """Supersteps K with a ``<table>/<K>-<uuid>`` dir on disk."""
    return sorted(
        int(d.split(os.sep)[1].split("-")[0])
        for d in _dirs(root)
        if d.split(os.sep)[0] == table
    )


@pytest.fixture(scope="module")
def ck_run(spark, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck"))
    res = _run(spark, CrawlConfig(checkpoint_dir=ck))
    # the store as the crawl left it, before any test's maintenance
    committed = {t: _iters(ck, t) for t in ("downloads", "pending")}
    return ck, _state(res), committed, res.metrics


def test_download_tables_committed_only_when_moved(ck_run):
    """The loop commits ``downloads``/``pending`` only on supersteps
    that ran the download transition; the others carry the queue
    forward. On the quirks crawl every doc misses the corpus, so a doc
    found at superstep d is attempted at d..d+MAX_RETRIES and the
    transition runs on exactly those supersteps."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.predicates import (
        MAX_RETRIES,
    )

    _, _, committed, metrics = ck_run
    engaged = sorted(
        {
            k
            for m in metrics
            if m["docs"] > 0
            for k in range(m["iter"], m["iter"] + MAX_RETRIES + 1)
        }
    )
    assert len(metrics) == 14 and len(engaged) == 4
    assert committed == {"downloads": engaged, "pending": engaged}


def test_expire_then_compact_preserve_retained_resume(spark, ck_run):
    ck, final, _, _ = ck_run
    store = SnapshotStore(ck)
    last = store.latest_iter()
    assert last is not None and last >= 4  # quirks chain runs 14 iters
    n_seen_dirs = _count(ck, "seen")
    pending_at_h = _rows(store.read_pending(spark, last - 2))

    # -- expire: keep the last 3 snapshots ---------------------------------
    h = store.expire_snapshots(keep_last=3)
    assert h == last - 2 == store.horizon()
    assert _count(ck, "frontier") == 3
    # retained entries may share one carried-forward queue dir
    named = {store._manifest()["snaps"][k]["pending"] for k in range(h, last + 1)}
    assert {d for d in _dirs(ck) if d.startswith("pending" + os.sep)} == named
    assert len(named) <= 3
    # the horizon's retry queue is still named by its entry, not lost
    assert _rows(store.read_pending(spark, h)) == pending_at_h
    # delta tables untouched by expire
    assert _count(ck, "seen") == n_seen_dirs

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
    # one merged delta at the horizon plus one per iteration above it
    assert _count(ck, "seen") == store.latest_iter() - h + 1
    assert _count(ck, "downloads") <= store.latest_iter() - h + 1
    res2 = resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck), as_of=h)
    assert _state(res2) == final


def test_snapshot_keep_bounds_store_in_the_loop(spark, ck_run, tmp_path):
    _, final, _, _ = ck_run
    ck = str(tmp_path / "ck2")
    res = _run(spark, CrawlConfig(checkpoint_dir=ck, snapshot_keep=2))
    assert _state(res) == final  # maintenance never changes the crawl
    store = SnapshotStore(ck)
    last = store.latest_iter()
    assert store.horizon() == last - 1
    assert _count(ck, "frontier") == 2  # O(keep), not O(iters)
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


# -- crash consistency ------------------------------------------------------


def _df(spark, k, tag):
    return spark.createDataFrame([(k, tag)], "k int, tag string")


def _reads(spark, store):
    """Everything a reader can see: the pointer, the horizon and every
    table's read at each retained iteration (one collect for all)."""
    last, h = store.latest_iter(), store.horizon()
    reads = [
        df.select(F.lit(k).alias("at"), F.lit(t).alias("t"), "k", "tag")
        for k in range(h, last + 1)
        for t, df in (
            ("seen", store.read_seen(spark, k)),
            ("frontier", store.read_frontier(spark, k)),
            ("downloads", store.merged_downloads(spark, k)),
            ("pending", store.read_pending(spark, k)),
            ("metrics", store.read_metrics(spark, k)),
        )
        if df is not None
    ]
    return last, h, _rows(reduce(lambda a, b: a.unionByName(b), reads))


class _Crash(Exception):
    pass


def _inject(mp, n, only=("parquet", "replace", "rename", "rmtree")):
    """Raise instead of performing the n-th file mutation: a parquet
    write, ``os.replace``, ``os.rename`` or ``shutil.rmtree``."""
    calls = [0]

    def wrap(fn):
        def inner(*a, **kw):
            calls[0] += 1
            if calls[0] == n:
                raise _Crash(fn.__name__)
            return fn(*a, **kw)

        return inner

    for owner, name in (
        (DataFrameWriter, "parquet"), (os, "replace"), (os, "rename"), (shutil, "rmtree"),
    ):
        if name in only:
            mp.setattr(owner, name, wrap(getattr(owner, name)))


def test_crash_before_commit_keeps_committed_snapshot(spark, tmp_path, monkeypatch):
    """Defect 1: a re-commit of K < latest (a time-travel resume) that
    crashes after its data writes, before the pointer moves, must not
    change the committed snapshot ``latest``."""
    store = SnapshotStore(str(tmp_path))
    for k in range(4):
        store.write_iter(k, _df(spark, k, "a"), _df(spark, k, "a"))
    want = _rows(store.read_seen(spark, 3))
    with monkeypatch.context() as mp:
        _inject(mp, 1, only=("replace",))
        with pytest.raises(_Crash):
            store.write_iter(2, _df(spark, 2, "b"), _df(spark, 2, "b"))
    assert store.latest_iter() == 3
    assert _rows(store.read_seen(spark, 3)) == want


def test_recommit_without_pending_drops_abandoned_queue(spark, tmp_path):
    """Defect 2: re-committing K without a retry queue reads the queue
    the new timeline carries (K-1's), not the abandoned one."""
    store = SnapshotStore(str(tmp_path))
    store.write_iter(0, _df(spark, 0, "s"), _df(spark, 0, "f"),
                     downloads_pending=_df(spark, 0, "q0"))
    store.write_iter(1, _df(spark, 1, "s"), _df(spark, 1, "f"),
                     downloads_pending=_df(spark, 1, "q1"))
    store.write_iter(1, _df(spark, 1, "s"), _df(spark, 1, "f"))
    assert _rows(store.read_pending(spark, 1)) == [(0, "q0")]
    assert _count(str(tmp_path), "pending") == 1


def test_recommit_without_metrics_drops_abandoned_metrics(spark, tmp_path):
    """Defect 3: re-committing K without metrics leaves no abandoned
    metrics rows on disk or in reads."""
    store = SnapshotStore(str(tmp_path))
    store.write_iter(1, _df(spark, 1, "s"), _df(spark, 1, "f"),
                     metrics=_df(spark, 1, "m"))
    store.write_iter(1, _df(spark, 1, "s"), _df(spark, 1, "f"))
    assert _count(str(tmp_path), "metrics") == 0
    assert store.read_metrics(spark, 1) is None


def test_store_without_manifest_is_refused(spark, tmp_path):
    """A ``_meta.json`` that holds no manifest (the retired iter=K
    directory layout) raises on every read and write, and none of its
    directories is garbage-collected."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.checkpoint import (
        TABLES,
    )

    root = str(tmp_path)
    for table in TABLES:
        _df(spark, 0, "old").write.parquet(os.path.join(root, table, "iter=0"))
    with open(os.path.join(root, "_meta.json"), "w") as f:
        json.dump({"iter": 0, "horizon": 0}, f)
    before = _dirs(root)
    store = SnapshotStore(root)
    for op in (
        lambda: store.read_seen(spark, 0),
        lambda: store.write_iter(1, _df(spark, 1, "s"), _df(spark, 1, "f")),
        lambda: store.expire_snapshots(1),
        lambda: store.rewrite_data_files(spark),
    ):
        with pytest.raises(ValueError, match="manifest"):
            op()
    assert _dirs(root) == before


def _base_store(spark, root):
    """Two committed iterations touching all five tables; pending is
    written at 0 only and carried forward to 1."""
    store = SnapshotStore(root)
    for k in range(2):
        store.write_iter(
            k, _df(spark, k, "s"), _df(spark, k, "f"),
            downloads_delta=_df(spark, k, "d"),
            metrics=_df(spark, k, "m"),
            downloads_pending=_df(spark, k, "q") if k == 0 else None,
        )
    return store


def test_expire_keep_zero_raises(spark, tmp_path):
    """expire_snapshots(0) would move the horizon past the last commit
    and drop every frontier: it is a caller error, raised (also under
    ``python -O``) before the manifest is read or written."""
    root = str(tmp_path)
    store = _base_store(spark, root)
    meta = os.path.join(root, "_meta.json")
    with open(meta, "rb") as f:
        before = f.read()
    with pytest.raises(ValueError, match="keep_last"):
        store.expire_snapshots(0)
    with open(meta, "rb") as f:
        assert f.read() == before


def test_interrupted_compaction_keeps_seen(spark, tmp_path, monkeypatch):
    """Defect 4: rewrite_data_files interrupted at any file mutation
    (e.g. after it set the horizon delta aside) must not lose seen rows
    before anyone re-runs it."""
    base = str(tmp_path / "base")
    _base_store(spark, base).expire_snapshots(1)
    want = _rows(SnapshotStore(base).read_seen(spark, 1))
    for n in itertools.count(1):
        work = str(tmp_path / str(n))
        shutil.copytree(base, work)
        store = SnapshotStore(work)
        with monkeypatch.context() as mp:
            _inject(mp, n)
            try:
                store.rewrite_data_files(spark)
                break
            except _Crash:
                pass
        assert _rows(store.read_seen(spark, 1)) == want, n
    assert n > 2


def test_fault_injection_every_mutation(spark, tmp_path, monkeypatch):
    """A crash at each file mutation of write_iter (a time-travel
    re-commit), expire_snapshots and rewrite_data_files leaves every
    read at either the before or the after state, without re-running
    anything; re-running the operation then removes every directory
    the crash left."""
    base = str(tmp_path / "base")
    _base_store(spark, base)
    expired = str(tmp_path / "expired")
    shutil.copytree(base, expired)
    SnapshotStore(expired).expire_snapshots(1)  # horizon 1: deltas to merge
    cases = (
        ("write_iter", base, lambda s: s.write_iter(
            1, _df(spark, 1, "s2"), _df(spark, 1, "f2"),
            downloads_delta=_df(spark, 1, "d2"), metrics=_df(spark, 1, "m2"),
        )),
        ("expire_snapshots", base, lambda s: s.expire_snapshots(1)),
        ("rewrite_data_files", expired, lambda s: s.rewrite_data_files(spark)),
    )
    kinds = set()
    for name, start, op in cases:
        ref = str(tmp_path / name / "ref")
        shutil.copytree(start, ref)
        before = _reads(spark, SnapshotStore(ref))
        op(SnapshotStore(ref))
        after, n_dirs = _reads(spark, SnapshotStore(ref)), len(_dirs(ref))
        assert after != before or n_dirs < len(_dirs(start)), name
        for n in itertools.count(1):
            work = str(tmp_path / name / str(n))
            shutil.copytree(start, work)
            store = SnapshotStore(work)
            with monkeypatch.context() as mp:
                _inject(mp, n)
                try:
                    op(store)
                    break  # n exceeds the operation's mutations
                except _Crash as e:
                    kinds.add(e.args[0])
            assert _reads(spark, store) in (before, after), (name, n)
            op(store)
            assert (store.latest_iter(), store.horizon()) == after[:2], (name, n)
            assert len(_dirs(work)) == n_dirs, (name, n)
        assert n > 2, name
    assert kinds == {"parquet", "replace", "rmtree"}


def test_resume_after_injected_crash(spark, ck_run, tmp_path, monkeypatch):
    """Crawl level: a crash between the data writes of superstep 3 and
    its manifest replace leaves superstep 2 committed; resume lands on
    the uninterrupted state and leaves no orphaned directory."""
    _, final, _, _ = ck_run
    ck = str(tmp_path / "ck")
    with monkeypatch.context() as mp:
        _inject(mp, 4, only=("replace",))  # commits 0, 1, 2 succeed
        with pytest.raises(_Crash):
            _run(spark, CrawlConfig(checkpoint_dir=ck))
    store = SnapshotStore(ck)
    assert store.latest_iter() == 2
    res = resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck))
    assert _state(res) == final
    assert _count(ck, "seen") == store.latest_iter() + 1


def test_crashed_crawl_releases_its_caches(spark, tmp_path, monkeypatch):
    """A crawl that raises (here: superstep 1's commit) still releases
    the corpus and link-index caches it persisted."""
    from pyspark.storagelevel import StorageLevel

    df_type = type(spark.range(1))
    persist = df_type.persist
    persisted = []

    def recording_persist(df, *args, **kwargs):
        persisted.append(df)
        return persist(df, *args, **kwargs)

    with monkeypatch.context() as mp:
        mp.setattr(df_type, "persist", recording_persist)
        _inject(mp, 2, only=("replace",))  # commit 0 succeeds
        with pytest.raises(_Crash):
            _run(spark, CrawlConfig(checkpoint_dir=str(tmp_path)))
    assert persisted
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_time_travel_resume_removes_abandoned_timeline(spark, tmp_path):
    """A time-travel resume under a different budget: after its first
    commit, no directory written only by the abandoned timeline is on
    disk, and the store reads the new timeline."""
    ck = str(tmp_path)
    _run(spark, CrawlConfig(checkpoint_dir=ck, max_iterations=1))  # commits 0, 1
    kept = _dirs(ck)
    resume(spark, quirk_pages(spark), CrawlConfig(checkpoint_dir=ck, max_iterations=4))
    abandoned = _dirs(ck) - kept
    assert abandoned
    res = resume(
        spark, quirk_pages(spark),
        CrawlConfig(checkpoint_dir=ck, max_iterations=2, budget_per_host=1),
        as_of=1,
    )
    on_disk = _dirs(ck)
    assert not on_disk & abandoned
    assert kept <= on_disk
    store = SnapshotStore(ck)
    assert store.latest_iter() == 2
    assert _rows(store.read_seen(spark, 2)) == _rows(res.seen)


def test_resume_as_of_zero_keeps_superstep_zero(spark, tmp_path):
    """A resume from superstep 0 reads that snapshot and commits only
    the supersteps it runs: superstep 0's manifest entry, and the dirs
    it names, stay as the crawl wrote them."""
    ck = str(tmp_path)
    _run(spark, CrawlConfig(checkpoint_dir=ck, max_iterations=1))  # commits 0, 1

    def superstep_zero():
        with open(os.path.join(ck, "_meta.json")) as f:
            entry = json.load(f)["snaps"]["0"]
        return entry, {d: sorted(os.listdir(os.path.join(ck, d))) for d in entry.values()}

    before = superstep_zero()
    resume(
        spark, quirk_pages(spark),
        CrawlConfig(checkpoint_dir=ck, max_iterations=1),
        as_of=0,
    )
    assert SnapshotStore(ck).latest_iter() == 1
    assert superstep_zero() == before
