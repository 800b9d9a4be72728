"""The benchmark's workloads: inputs, one job, and its output check.

A job is one call into the engine's public entry points,
``plans.frontier.crawl`` and, for the durable workload,
``plans.frontier.resume``, ending when the final seen set has been
collected. The engine sees only the DataFrames ``inputs.corpus``
builds. Jobs run one at a time (a closed loop with one client).
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace

import pandas as pd

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
    CrawlConfig,
    crawl,
    resume,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.pipeline import _HeapWatch
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import pages as pagesrc

import inputs
import oracle


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    body_repeat: int
    config: dict = field(default_factory=dict)  # CrawlConfig fields
    # durable workloads crawl with a snapshot store, then resume from
    # this committed superstep
    resume_as_of: int | None = None


WORKLOADS = {
    # sf0.1-sized documents with tag-dense ~16 KB bodies, every page
    # through the Python DOM tier: the extract kernel is the layer that
    # grows with the data, on the same plan as an unbudgeted crawl
    "dom_heavy": Workload("dom_heavy", 2000, 40, {"force_path": "slow"}),
    # a small corpus under a per-host budget of 5 (about a quarter of
    # the frontier deferred) with the Bloom prefilter and the snapshot
    # store: narrow supersteps whose fixed cost (schedule window, count
    # jobs, Bloom merge, snapshot writes) dominates, then a resume from
    # the snapshot of superstep 1
    "polite_durable": Workload(
        "polite_durable",
        1000,
        1,
        {"budget_per_host": 5, "use_bloom": True, "max_iterations": 2},
        resume_as_of=1,
    ),
}

# every workload at the size of the sf0.001 fixture, for the
# benchmark's own tests
SMOKE = {
    "dom_heavy": Workload(
        "dom_heavy", 500, 4, {"force_path": "slow", "max_iterations": 3}
    ),
    "polite_durable": Workload(
        "polite_durable",
        500,
        1,
        {"budget_per_host": 5, "use_bloom": True, "max_iterations": 1},
        resume_as_of=0,
    ),
}

# the untimed warm-up job, run on the workload's own inputs. A crawl
# keeps getting faster for several jobs in a fresh JVM (JIT); what the
# warm-up leaves cold shows in the first timed job, which the median
# over a run's jobs absorbs. Each warm-up is a shorter job through the
# same code paths: three supersteps for dom_heavy; a one-superstep
# crawl and resume for polite_durable.
WARMUP = {
    "dom_heavy": replace(
        WORKLOADS["dom_heavy"], config={"force_path": "slow", "max_iterations": 3}
    ),
    "polite_durable": SMOKE["polite_durable"],
}


@dataclass
class Inputs:
    docs: pd.DataFrame
    residue: int
    pages: object  # DataFrame
    seeds: object  # DataFrame
    n_seed_urls: int
    expected: pd.DataFrame = None  # (url_norm, depth) of a correct run


def _cut(wl: Workload) -> tuple[int | None, int]:
    """(per-host budget, superstep cap) of the workload's crawl."""
    return wl.config.get("budget_per_host"), wl.config.get("max_iterations", 100)


def pick_residue(wl: Workload, seed: int) -> int:
    residues = oracle.modal_residues(inputs.documents(wl.n_docs), *_cut(wl))
    return residues[seed % len(residues)]


def synthesize(spark, wl: Workload, seed: int, residue: int) -> Inputs:
    docs = inputs.documents(wl.n_docs)
    pages, seeds = inputs.corpus(spark, docs, seed, wl.body_repeat, residue)
    n_seed = int((docs["doc_id"] % pagesrc.SEED_MOD == residue).sum())
    return Inputs(docs, residue, pages, seeds, n_seed)


def expected(wl: Workload, inp: Inputs) -> pd.DataFrame:
    if "max_iterations" not in wl.config:
        return oracle.bfs(inp.docs, inp.residue)
    return oracle.budgeted(inp.docs, inp.residue, *_cut(wl))


def reap(spark) -> None:
    """Free the finished job's localCheckpoint blocks: the context
    cleaner drops them once both interpreters have collected the
    DataFrames that reference them."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


@dataclass
class JobResult:
    wall_s: float
    calls: list  # (entry point, wall_s, CrawlResult.metrics)
    seen: pd.DataFrame  # (url_norm, depth), collected
    peak_heap_mb: int
    store_bytes: int = 0
    n_seen_crawl: int = 0
    errors: list = field(default_factory=list)
    # kept for the traced run's layer probes
    final: object = None  # CrawlResult
    store_dir: str | None = None
    spark: dict | None = None  # tracing.SparkMeter.stats of the traced run


def run_job(
    spark, wl: Workload, inp: Inputs, work_dir: str, tracer=None, checked=True
) -> JobResult:
    """One job on fresh state: its own store directory, nothing reused
    from earlier jobs but the inputs and the warm JVM. ``checked=False``
    skips the output check (the warm-up job)."""
    span = tracer.span if tracer else (lambda name: nullcontext())
    store = os.path.join(work_dir, "store") if wl.resume_as_of is not None else None
    if store:
        shutil.rmtree(store, ignore_errors=True)
    cfg = CrawlConfig(**wl.config, checkpoint_dir=store)
    heap = _HeapWatch(spark)
    heap.reset()
    t0 = time.perf_counter()
    with span("frontier.crawl"):
        res = crawl(spark, inp.pages, inp.seeds, cfg)
    t1 = time.perf_counter()
    calls = [("crawl", t1 - t0, res.metrics)]
    first, store_bytes = res, 0
    if store:
        store_bytes = dir_bytes(store)
        with span("frontier.resume"):
            res = resume(spark, inp.pages, cfg, as_of=wl.resume_as_of)
        calls.append(("resume", time.perf_counter() - t1, res.metrics))
    with span("collect"):
        seen = res.seen.select("url_norm", "depth").toPandas()
    wall = time.perf_counter() - t0
    out = JobResult(wall, calls, seen, heap.peak_mb(), store_bytes, final=res, store_dir=store)
    if checked:
        with span("check"):
            out.errors = check(inp, out, first)
    return out


def check(inp: Inputs, job: JobResult, first) -> list[str]:
    """Errors in one job's output: its (url_norm, depth) set against the
    oracle and, after a resume, the resumed seen set against the
    uninterrupted crawl's (``first``)."""
    errors = []
    got = job.seen.sort_values("url_norm").reset_index(drop=True)
    want = inp.expected.sort_values("url_norm").reset_index(drop=True)
    if len(got) != len(want) or not got.astype(str).equals(want.astype(str)):
        extra = len(set(got["url_norm"]) - set(want["url_norm"]))
        missing = len(set(want["url_norm"]) - set(got["url_norm"]))
        errors.append(
            f"seen (url_norm, depth) != oracle: {len(got)} rows vs {len(want)},"
            f" {extra} unexpected, {missing} missing"
        )
    if first is not job.final:
        cols = ["url_norm", "url", "host", "depth", "iter"]
        a, b = first.seen.select(cols), job.final.seen.select(cols)
        n_ab, n_ba = a.exceptAll(b).count(), b.exceptAll(a).count()
        if n_ab or n_ba:
            errors.append(
                f"resumed seen != uninterrupted seen ({n_ab} only in the crawl,"
                f" {n_ba} only after resume)"
            )
        job.n_seen_crawl = first.seen.count()
    return errors

