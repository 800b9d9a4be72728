"""In-memory spans and Spark-side counters for the traced run.

A span is (name, start, end, parent, run id). Spans live in memory
and are written once, at the end of the run, with each span's self
time: its duration minus the part of it its child spans cover.

Spark is lazy, so a span around a bare DataFrame call would time only
plan construction; every layer span in ``probes`` forces a full
materialization with a noop write.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlsplit


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        out = {}
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            # children run inside their parent and one at a time, so
            # their durations do not overlap
            out[s["id"]] = (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in kids
            )
        return out

    def write(self, path: str, metrics: dict) -> None:
        st = self.self_times()
        spans = [
            dict(s, duration_s=s["end"] - s["start"], self_s=st[s["id"]])
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": spans, "metrics": metrics}, fh, indent=1)


class SparkMeter:
    """Spark jobs and stage metrics of one job group.

    The job count comes from the status tracker (exact). Task counts,
    shuffle, spill, GC and run time come from Spark's monitoring REST
    API, which ``session.get_spark`` serves when ``SPARK_UI=true``.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = urlsplit(self.sc.uiWebUrl).port
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def _drain(self) -> None:
        # stage metrics reach the REST store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "")

    def stats(self, name: str, wall_s: float) -> dict:
        self._drain()
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(name)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        with urllib.request.urlopen(f"{self.api}/stages", timeout=30) as resp:
            stages = [
                s
                for s in json.load(resp)
                if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
            ]
        run_ms = sum(s["executorRunTime"] for s in stages)
        return {
            "jobs": len(job_ids),
            "tasks": sum(s["numTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
            "busy_share": run_ms / 1000 / (wall_s * self.sc.defaultParallelism),
        }
