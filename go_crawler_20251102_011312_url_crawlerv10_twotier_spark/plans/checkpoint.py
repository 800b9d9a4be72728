"""Snapshot checkpointing for the frontier loop (north_rule: resumable
with per-partition lineage + metrics).

The reference's only persistence is three append-only text files
written by racing goroutines (crawler_twotier.go:237-244,
downloader.go:302-310) — unordered and unusable for resume. Here each
iteration K commits an Iceberg-style snapshot
(https://iceberg.apache.org/spec/): its tables go to new, never
overwritten dirs ``<dir>/<table>/<K>-<uuid>/`` — ``seen`` (new URLs of
K), ``frontier`` (entering K+1), ``downloads`` (download-state delta),
``pending`` (retry queue), ``metrics`` (per-partition fetch metrics) —
and one atomic replace of the manifest ``<dir>/_meta.json`` commits
them: ``{"iter": K, "horizon": h, "snaps": {K: {table: dir}}}``.

Each entry names only the dirs its iteration added (``pending``
carries the previous entry's queue forward when K does not rewrite
it), so the manifest grows O(iterations). Reads at K follow the
entries ≤ K: the union of the ``seen``/``downloads`` deltas, the newest
``frontier``/``pending``/``metrics``. A commit at K also drops the
entries ≥ K (a time-travel resume's abandoned timeline), then deletes
every dir the manifest does not name: a crash anywhere leaves the last
commit intact plus unreferenced dirs that the next commit removes, and
every committed snapshot is immutable. A ``_meta.json`` without
``snaps`` raises, and none of its dirs is deleted.

``downloads`` deltas are MERGE-shaped: the state machine closes each
url exactly once (J2 anti-joins the log), so the deltas are disjoint
and their union (``merged_downloads``) IS the table an Iceberg
``MERGE INTO`` of each delta would produce.

Table maintenance mirrors Iceberg's procedures as manifest edits
followed by the same commit: :meth:`SnapshotStore.expire_snapshots`
bounds per-iteration state to a window behind a moving ``horizon``
(wired into the loop via ``CrawlConfig.snapshot_keep``) and
:meth:`SnapshotStore.rewrite_data_files` compacts the deltas at or
below it. tests/test_maintenance.py pins that maintenance never changes
what a retained resume point sees, and that a crash at any file
mutation leaves every read at its before or after state.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

TABLES = ("seen", "frontier", "downloads", "pending", "metrics")


def _keys(snaps: dict, table: str, upto: int) -> list[int]:
    """Iterations ≤ ``upto`` whose manifest entry names ``table``."""
    return [k for k in sorted(snaps) if k <= upto and table in snaps[k]]


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest(self) -> dict:
        meta = os.path.join(self.root, "_meta.json")
        if not os.path.exists(meta):
            return {"iter": None, "horizon": 0, "snaps": {}}
        with open(meta) as f:
            m = json.load(f)
        if "snaps" not in m:
            raise ValueError(
                f"{meta} holds no snapshot manifest (an iter=K directory "
                "store); it cannot be read or written — use a new "
                "checkpoint_dir"
            )
        m["snaps"] = {int(k): e for k, e in m["snaps"].items()}
        return m

    def _commit(self, m: dict) -> None:
        """Atomically replace the manifest, then delete every directory
        it does not name (writes of crashed or abandoned commits)."""
        tmp = os.path.join(self.root, "_meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, os.path.join(self.root, "_meta.json"))
        live = {d for e in m["snaps"].values() for d in e.values()}
        for table in TABLES:
            for d in glob.glob(os.path.join(glob.escape(self.root), table, "*")):
                if os.path.relpath(d, self.root) not in live:
                    shutil.rmtree(d)

    def _write(self, table: str, it: int, df: DataFrame) -> str:
        name = f"{table}/{it}-{uuid.uuid4().hex}"
        df.write.parquet(os.path.join(self.root, name))
        return name

    def _paths(self, table: str, upto: int) -> list[str]:
        snaps = self._manifest()["snaps"]
        return [
            os.path.join(self.root, snaps[k][table])
            for k in _keys(snaps, table, upto)
        ]

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
        m = self._manifest()
        snaps = {k: e for k, e in m["snaps"].items() if k < it}
        entry = {
            table: self._write(table, it, df)
            for table, df in (
                ("seen", seen_delta),
                ("frontier", frontier),
                ("downloads", downloads_delta),
                ("pending", downloads_pending),
                ("metrics", metrics),
            )
            if df is not None
        }
        prev = snaps[max(snaps)] if snaps else {}
        if "pending" not in entry and "pending" in prev:
            entry["pending"] = prev["pending"]
        snaps[it] = entry
        self._commit({"iter": it, "horizon": m["horizon"], "snaps": snaps})

    # -- resume -------------------------------------------------------------

    def latest_iter(self) -> int | None:
        return self._manifest()["iter"]

    def horizon(self) -> int:
        """Oldest resumable iteration (0 until expire_snapshots runs)."""
        return self._manifest()["horizon"]

    # -- maintenance (the Iceberg table-maintenance procedures) -------------

    def expire_snapshots(self, keep_last: int) -> int:
        """``expire_snapshots`` analogue: clear the ``frontier`` and
        ``pending`` references older than the last ``keep_last``
        committed iterations, so the footprint is O(retained window +
        deltas) instead of O(iterations) — at a 10^10-URL frontier those
        full snapshots are the terms that grow per superstep. Time
        travel below the new horizon becomes unavailable (Iceberg's
        expire contract); the horizon entry still names its retry queue
        because ``pending`` is carried forward. ``seen``/``downloads``
        deltas (every retained snapshot reads them; compact them with
        :meth:`rewrite_data_files`) and ``metrics`` (the permanent
        lineage record, O(partitions)/iter) stay. Single maintenance
        writer, no concurrent crawl. Returns the new horizon.
        """
        assert keep_last >= 1
        m = self._manifest()
        if m["iter"] is None:
            return 0
        m["horizon"] = max(m["horizon"], m["iter"] - keep_last + 1)
        for k, e in m["snaps"].items():
            if k < m["horizon"]:
                e.pop("frontier", None)
                e.pop("pending", None)
        self._commit(m)
        return m["horizon"]

    def rewrite_data_files(self, spark: SparkSession) -> int:
        """``rewrite_data_files`` (compaction) analogue: merge every
        ``seen``/``downloads`` delta at or below the horizon into ONE
        delta named by the horizon entry. Reads are union-shaped, so the
        merged delta is read-equivalent for every retained iteration;
        compaction never crosses the horizon (a merged delta above a
        live resume point could not be excluded by ``upto``). Bounds the
        file count to O(retained window) where a long crawl otherwise
        accumulates one small-file dir per superstep. Returns the number
        of delta dirs removed.
        """
        m = self._manifest()
        h, snaps = m["horizon"], m["snaps"]
        removed = 0
        for table in ("seen", "downloads"):
            ks = _keys(snaps, table, h)
            if len(ks) <= 1:
                continue
            paths = [os.path.join(self.root, snaps[k].pop(table)) for k in ks]
            merged = self._write(table, h, spark.read.parquet(*paths))
            snaps.setdefault(h, {})[table] = merged
            removed += len(ks) - 1
        self._commit(m)
        return removed

    # -- reads --------------------------------------------------------------

    def read_seen(self, spark: SparkSession, upto: int) -> DataFrame:
        return spark.read.parquet(*self._paths("seen", upto))

    def merged_downloads(self, spark: SparkSession, upto: int) -> DataFrame | None:
        """Read-side MERGE view of the downloads table: deltas are
        disjoint on ``url`` (the state machine closes each url exactly
        once), so the union of deltas equals the Iceberg-MERGEd table."""
        paths = self._paths("downloads", upto)
        return spark.read.parquet(*paths) if paths else None

    def _newest(self, spark: SparkSession, table: str, it: int) -> DataFrame | None:
        paths = self._paths(table, it)
        return spark.read.parquet(paths[-1]) if paths else None

    def read_frontier(self, spark: SparkSession, it: int) -> DataFrame:
        df = self._newest(spark, "frontier", it)
        if df is None:
            raise FileNotFoundError(f"no frontier at or before {it} in {self.root}")
        return df

    def read_pending(self, spark: SparkSession, it: int) -> DataFrame | None:
        """Retry queue of the newest entry ≤ ``it``."""
        return self._newest(spark, "pending", it)

    def read_metrics(self, spark: SparkSession, it: int) -> DataFrame | None:
        """Per-partition metrics rows of the newest entry ≤ ``it``."""
        return self._newest(spark, "metrics", it)
