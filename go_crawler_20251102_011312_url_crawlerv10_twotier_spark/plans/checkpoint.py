"""Snapshot checkpointing for the frontier loop (north_rule: resumable
with per-partition lineage + metrics).

The reference's only persistence is three append-only text files
written by racing goroutines (crawler_twotier.go:237-244,
downloader.go:302-310) — unordered and unusable for resume. Here each
iteration commits an atomic snapshot:

    <dir>/seen/iter=K/*.parquet        (append-only: new URLs of iter K)
    <dir>/frontier/iter=K/*.parquet    (full frontier entering iter K+1)
    <dir>/downloads/iter=K/*.parquet   (download-state delta of iter K)
    <dir>/pending/iter=K/*.parquet     (full retry queue after iter K)
    <dir>/metrics/iter=K/*.parquet     (per-partition fetch metrics)
    <dir>/_meta.json                   (latest committed iteration)

``downloads`` deltas are MERGE-shaped: the state machine closes each
url exactly once (J2 anti-joins the log), so the deltas are disjoint
and their union IS the merged downloads table — the same final state
an Iceberg ``MERGE INTO`` of each delta would produce, with the
append + commit-pointer discipline standing in for the snapshot
commit. ``merged_downloads`` is that read-side merge view; ``pending``
is a full (small) snapshot per iteration, like ``frontier``.

``_meta.json`` is written last (rename-into-place), so a crash mid-
iteration leaves the previous snapshot authoritative — the same
commit-pointer discipline an Iceberg snapshot gives; on a cluster this
class is swapped for Iceberg ``MERGE INTO``/append on the same
schemas (the table layout IS Iceberg-partition-shaped: hive-style
``iter=K`` directories). Resume = read all ``seen`` iters ≤ K and the
``frontier`` of K.

Table maintenance mirrors Iceberg's procedures (required at 10^10-URL
scale, where frontier/pending snapshots grow per superstep and delta
dirs accumulate small files): :meth:`SnapshotStore.expire_snapshots`
bounds per-iteration state to a retention window behind a moving
``horizon`` (time travel below it becomes unavailable, exactly
Iceberg's contract; wired into the loop via
``CrawlConfig.snapshot_keep``), and
:meth:`SnapshotStore.rewrite_data_files` compacts the seen/downloads
deltas at-or-below the horizon into one merged delta. Pinned in
tests/test_maintenance.py: maintenance never changes what a retained
resume point sees.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- commit -------------------------------------------------------------

    def write_iter(
        self,
        it: int,
        seen_delta: DataFrame,
        frontier: DataFrame,
        downloads_delta: DataFrame | None = None,
        metrics: DataFrame | None = None,
        downloads_pending: DataFrame | None = None,
    ) -> None:
        seen_delta.write.mode("overwrite").parquet(f"{self.root}/seen/iter={it}")
        frontier.write.mode("overwrite").parquet(f"{self.root}/frontier/iter={it}")
        dl_dir = f"{self.root}/downloads/iter={it}"
        if downloads_delta is not None:
            downloads_delta.write.mode("overwrite").parquet(dl_dir)
        elif os.path.isdir(dl_dir):
            # a superstep without a delta must not inherit one from an
            # abandoned timeline (a time-travel resume re-running iter
            # K): merged_downloads unions every downloads/iter<=K dir
            shutil.rmtree(dl_dir)
        if downloads_pending is not None:
            downloads_pending.write.mode("overwrite").parquet(
                f"{self.root}/pending/iter={it}"
            )
        if metrics is not None:
            metrics.write.mode("overwrite").parquet(f"{self.root}/metrics/iter={it}")
        self._commit_meta(it)

    def _commit_meta(self, it: int, horizon: int | None = None) -> None:
        h = self.horizon() if horizon is None else horizon
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump({"iter": it, "horizon": h}, f)
        os.replace(tmp, f"{self.root}/_meta.json")  # atomic commit pointer

    # -- resume -------------------------------------------------------------

    def latest_iter(self) -> int | None:
        meta = f"{self.root}/_meta.json"
        if not os.path.exists(meta):
            return None
        with open(meta) as f:
            return json.load(f)["iter"]

    def horizon(self) -> int:
        """Oldest resumable iteration (0 until expire_snapshots runs)."""
        meta = f"{self.root}/_meta.json"
        if not os.path.exists(meta):
            return 0
        with open(meta) as f:
            return json.load(f).get("horizon", 0)

    # -- maintenance (the Iceberg table-maintenance procedures) -------------

    def expire_snapshots(self, keep_last: int) -> int:
        """``expire_snapshots`` analogue: drop per-iteration state older
        than the last ``keep_last`` committed iterations, so the store's
        footprint is O(retained window + deltas) instead of
        O(iterations) — at a 10^10-URL frontier the full-frontier and
        retry-queue snapshots are the terms that grow per superstep.
        Time travel (``resume(as_of=K)``) below the new horizon becomes
        unavailable — exactly Iceberg's expire contract. The append-only
        delta tables (``seen``, ``downloads``) are untouched: every
        retained snapshot still references all of them (compact those
        with :meth:`rewrite_data_files`). ``metrics`` is kept whole as
        the permanent per-partition lineage record (O(partitions)/iter —
        negligible). Single maintenance writer, no concurrent crawl —
        the same operational contract as Iceberg's procedures. Returns
        the new horizon.
        """
        assert keep_last >= 1
        last = self.latest_iter()
        if last is None:
            return 0
        new_h = max(self.horizon(), last - keep_last + 1)
        # commit the horizon FIRST: every state below it is thereby
        # forbidden to readers (resume raises), so a crash anywhere in
        # the file mutations below leaves only harmless extra files
        # that the next run removes. The reverse order would have a
        # window where a still-"resumable" below-horizon iteration
        # reads a relocated (stale) retry queue.
        self._commit_meta(last, horizon=new_h)
        # a retained iteration may still depend on the newest retry-
        # queue snapshot BELOW the horizon (pending is only written on
        # iterations that ran the download machine, and read_pending
        # walks back): materialize that walk-back result AT the horizon
        # before dropping it — identical content for every retained read
        below = [
            k
            for k in range(new_h)
            if os.path.isdir(f"{self.root}/pending/iter={k}")
        ]
        if below and not os.path.isdir(f"{self.root}/pending/iter={new_h}"):
            os.rename(
                f"{self.root}/pending/iter={below[-1]}",
                f"{self.root}/pending/iter={new_h}",
            )
        for table in ("frontier", "pending"):
            for k in range(new_h):
                d = f"{self.root}/{table}/iter={k}"
                if os.path.isdir(d):
                    shutil.rmtree(d)
        return new_h

    def rewrite_data_files(self, spark: SparkSession) -> int:
        """``rewrite_data_files`` (compaction) analogue for the
        append-only delta tables: merge every ``seen``/``downloads``
        delta at or below the horizon into ONE delta dir at the horizon.
        Reads are union-shaped (read_seen/read_downloads), so the merged
        dir is read-equivalent for every retained iteration; iterations
        below the horizon are already expired, which is exactly why
        compaction must never cross it (a merged delta above a live
        resume point could not be excluded by ``upto``). Bounds the
        store's file count to O(retained window) where a long crawl
        otherwise accumulates one small-file dir per superstep — the
        classic streaming-ingest small-files problem. Returns the number
        of delta dirs removed.

        Crash contract (this is rename-based, not an atomic snapshot
        commit like real Iceberg): an interrupted compaction must be
        RE-RUN before the store is read again — the recovery preamble
        restores a pre-swap horizon delta from ``_compact_old``, and
        the rewrite dedupes full rows, which heals the
        swap-done-sources-not-yet-removed window (deltas are
        row-disjoint by construction, so exact-duplicate rows can only
        be crash artifacts). Pinned in tests/test_maintenance.py.
        """
        h = self.horizon()
        removed = 0
        for table in ("seen", "downloads"):
            base = f"{self.root}/{table}"
            tmp = f"{base}/_compact_tmp"
            bak = f"{base}/_compact_old"
            target = f"{base}/iter={h}"
            # recovery from a prior interrupted run: _compact_old is
            # the authoritative pre-swap horizon delta — restore it if
            # the swap never completed; a leftover _compact_tmp is
            # stale either way and gets recomputed
            if os.path.isdir(bak):
                if not os.path.isdir(target):
                    os.rename(bak, target)
                else:
                    shutil.rmtree(bak)
            if os.path.isdir(tmp):
                shutil.rmtree(tmp)
            dirs = [
                k for k in range(h + 1) if os.path.isdir(f"{base}/iter={k}")
            ]
            if len(dirs) <= 1:
                continue
            df = spark.read.parquet(
                *(f"{base}/iter={k}" for k in dirs)
            ).dropDuplicates()
            df.write.mode("overwrite").parquet(tmp)
            if os.path.isdir(target):
                os.rename(target, bak)
            os.rename(tmp, target)
            for k in dirs:
                d = f"{base}/iter={k}"
                if k != h and os.path.isdir(d):
                    shutil.rmtree(d)
                    removed += 1
            if os.path.isdir(bak):
                shutil.rmtree(bak)
        return removed

    def read_seen(self, spark: SparkSession, upto: int) -> DataFrame:
        paths = [
            f"{self.root}/seen/iter={k}"
            for k in range(upto + 1)
            if os.path.isdir(f"{self.root}/seen/iter={k}")
        ]
        return spark.read.parquet(*paths)

    def read_frontier(self, spark: SparkSession, it: int) -> DataFrame:
        return spark.read.parquet(f"{self.root}/frontier/iter={it}")

    def read_downloads(self, spark: SparkSession, upto: int) -> DataFrame | None:
        paths = [
            f"{self.root}/downloads/iter={k}"
            for k in range(upto + 1)
            if os.path.isdir(f"{self.root}/downloads/iter={k}")
        ]
        return spark.read.parquet(*paths) if paths else None

    def merged_downloads(self, spark: SparkSession, upto: int) -> DataFrame | None:
        """Read-side MERGE view of the downloads table: deltas are
        disjoint on ``url`` (the state machine closes each url exactly
        once), so the union of deltas equals the Iceberg-MERGEd table.
        Alias of read_downloads, named for the semantic contract."""
        return self.read_downloads(spark, upto)

    def read_pending(self, spark: SparkSession, it: int) -> DataFrame | None:
        """Latest retry-queue snapshot at or before ``it`` (the queue
        only changes on iterations that ran the download machine)."""
        for k in range(it, -1, -1):
            if os.path.isdir(f"{self.root}/pending/iter={k}"):
                return spark.read.parquet(f"{self.root}/pending/iter={k}")
        return None
