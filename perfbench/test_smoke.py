"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The smoke mode runs every workload at the sf0.001 fixture's size with
no warm-up, so these tests check wiring, oracles and output format,
not figures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )


def _results(stdout: str) -> list[dict]:
    return [json.loads(line) for line in stdout.splitlines() if line.startswith("{")]


def test_oracles_agree_on_an_unbudgeted_crawl():
    import inputs
    import oracle

    docs = inputs.documents(500)
    residue = oracle.modal_residues(docs, None, 100)[0]
    bfs = oracle.bfs(docs, residue)
    replay = oracle.budgeted(docs, residue, None, 100)
    key = ["url_norm", "depth"]
    assert len(bfs) == len(docs)
    assert (
        bfs.sort_values("url_norm")[key].astype(str).values.tolist()
        == replay.sort_values("url_norm")[key].astype(str).values.tolist()
    )


def test_smoke_untraced_reports_every_end_to_end_metric():
    p = _run("--workload", "all", "--smoke", "--seed", "7", "--trace", "0")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    results = _results(p.stdout)
    assert len(results) == len(SPEC["workloads"])
    for r in results:
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] and r["attempted"] >= 1 and r["failed"] == 0
        assert set(r["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
        assert all(m["value"] > 0 for m in r["metrics"].values())


def test_smoke_traced_writes_spans_and_every_layer_metric():
    p = _run("--workload", "polite_durable", "--smoke", "--seed", "8", "--trace", "1")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    (r,) = _results(p.stdout)
    assert set(r["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    with open(os.path.join(HERE, "out", "trace-polite_durable-seed8.json")) as fh:
        trace = json.load(fh)
    names = {s["name"] for s in trace["spans"]}
    assert {"job", "frontier.crawl", "frontier.resume", "dedup.bloom_probe_shards"} <= names
    assert all(s["self_s"] <= s["duration_s"] + 1e-9 for s in trace["spans"])


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _run("--workload", "dom_heavy", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert not _results(p.stdout)
