"""Layer probes of the traced run.

Each probe calls one public layer function on inputs captured from the
workload's own last job and forces a full materialization (a noop
write), inside a span named after the layer. The frontier and seen set
at the job's middle superstep are read back from its snapshot store
when it has one, and cut from its final seen set otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import functions as F

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.predicates import MAX_BODY_SIZE
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.routing import route_decision_col
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import normalize_url_compat_col
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import dedup, fetch, politeness
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import extract_stage
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.checkpoint import SnapshotStore
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import fetch_join
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.pipeline import run_training_pipeline

from workloads import dir_bytes

PIPELINE_STAGES = (
    "crawl",
    "tier2_extract",
    "normalize",
    "quality_filter",
    "exact_dedup",
    "dedup_clusters",
    "corpus_refine",
    "sequence_pack",
    "training_shards",
)
# the per-host budget the schedule probe applies on workloads that
# crawl without one
PROBE_BUDGET = 5
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name, fn):
    with tracer.span(name):
        t = time.perf_counter()
        out = fn()
        return time.perf_counter() - t, out


def layer_probes(spark, wl, inp, job, tracer, work_dir: str) -> dict:
    with tracer.span("layer_probes"):
        return _layer_probes(spark, wl, inp, job, tracer, work_dir)


def _layer_probes(spark, wl, inp, job, tracer, work_dir: str) -> dict:
    m = {}
    seen = job.final.seen
    iters = seen.agg(F.max("iter")).first()[0]
    mid = wl.resume_as_of if wl.resume_as_of is not None else iters // 2
    if job.store_dir:
        src = SnapshotStore(job.store_dir)
        frontier_mid = src.read_frontier(spark, mid)
        seen_mid = src.read_seen(spark, mid)
    else:
        seen_mid = seen.filter(F.col("iter") <= mid)
        frontier_mid = seen.filter(F.col("iter") == mid).select(
            "url_norm", "url", "host", "depth",
            F.lit(False).alias("priority"), F.lit(0).alias("retry"),
        )
    frontier_mid = frontier_mid.localCheckpoint(eager=True)
    seen_mid = seen_mid.localCheckpoint(eager=True)
    delta = seen.filter(F.col("iter") == mid + 1).localCheckpoint(eager=True)
    cands = seen.select("url_norm", "url", "host", "depth").localCheckpoint(eager=True)
    n_cands = cands.count()
    keyed = inp.pages.select(
        normalize_url_compat_col(F.col("url")).alias("url_norm"),
        F.substring(F.col("html"), 1, MAX_BODY_SIZE).alias("html"),
    ).localCheckpoint(eager=True)

    budget = wl.config.get("budget_per_host") or PROBE_BUDGET
    sched, deferred = politeness.schedule(frontier_mid, budget)
    m["politeness.schedule_s"], _ = _timed(
        tracer, "politeness.schedule",
        lambda: (materialize(sched), materialize(deferred)),
    )

    hits = fetch_join(frontier_mid, keyed).localCheckpoint(eager=True)
    n_hits = hits.count()
    force = wl.config.get("force_path")
    path = F.lit(force) if force else route_decision_col(F.col("url"), F.length("html"))
    ext = extract_stage(hits.withColumn("path", path), url_col="url", html_col="html")
    t, _ = _timed(tracer, "extract.extract_stage", lambda: materialize(ext))
    m["extract.pages_per_s"] = n_hits / t

    new = dedup.seen_anti_join(cands, seen_mid)
    m["dedup.anti_join_s"], _ = _timed(tracer, "dedup.seen_anti_join", lambda: materialize(new))
    n_new = new.count()

    ns, bits = dedup.resolve_bloom_sizing(seen_mid.count())
    shards = dedup.build_bloom_shards(seen_mid, "url_norm", ns, bits).localCheckpoint(eager=True)
    merged = dedup.merge_bloom_shards(
        shards, dedup.build_bloom_shards(delta, "url_norm", ns, bits)
    )
    m["dedup.bloom_merge_s"], _ = _timed(tracer, "dedup.merge_bloom_shards", lambda: materialize(merged))
    def_new, maybe = dedup.bloom_probe_shards(cands, shards, "url_norm", ns, bits)
    m["dedup.bloom_probe_s"], _ = _timed(
        tracer, "dedup.bloom_probe_shards",
        lambda: (materialize(def_new), materialize(maybe)),
    )
    n_def_new, n_maybe = def_new.count(), maybe.count()
    n_old = n_cands - n_new
    m["dedup.bloom_skip_share"] = n_def_new / n_cands
    m["dedup.bloom_fp_share"] = (n_maybe - n_old) / n_new if n_new else 0.0

    probe_dir = os.path.join(work_dir, "probe_store")
    store = SnapshotStore(probe_dir)
    m["checkpoint.write_s"], _ = _timed(
        tracer, "checkpoint.write_iter",
        lambda: store.write_iter(mid, seen_mid, frontier_mid),
    )
    m["checkpoint.bytes_written"] = dir_bytes(probe_dir)
    m["checkpoint.read_s"], _ = _timed(
        tracer, "checkpoint.read",
        lambda: (
            materialize(store.read_seen(spark, mid)),
            materialize(store.read_frontier(spark, mid)),
        ),
    )
    store.write_iter(mid + 1, delta, frontier_mid)
    m["checkpoint.expire_s"], _ = _timed(
        tracer, "checkpoint.expire_snapshots", lambda: store.expire_snapshots(1)
    )

    queue = seen.select(F.col("url_norm").alias("url"), "host")
    n_queue = queue.count()
    tier2 = fetch.fetch_and_extract(queue, keyed)
    t, _ = _timed(tracer, "fetch.fetch_and_extract", lambda: materialize(tier2))
    m["fetch.tier2_pages_per_s"] = n_queue / t
    return m


def pipeline_probe(spark, wl, inp, tracer, work_dir: str) -> tuple[dict, list[str]]:
    """The nine-stage training pipeline over the workload's corpus:
    per-stage wall, rows out and heap peak, and a check of the funnel
    and the shard-manifest digest against their recorded values."""
    with tracer.span("pipeline.run_training_pipeline"):
        res = run_training_pipeline(spark, inp.pages, inp.seeds, os.path.join(work_dir, "pipeline"))
    stats = {s["name"]: s for s in res.stats()}
    m = {}
    for name in PIPELINE_STAGES:
        m[f"pipeline.{name}_s"] = stats[name]["wall_s"]
        m[f"pipeline.{name}_rows_out"] = stats[name]["rows_out"]
        m[f"pipeline.{name}_heap_mb"] = stats[name]["peak_heap_mb"]
    rows = sorted(json.dumps(r.asDict(), sort_keys=True) for r in res.manifest.collect())
    got = {
        "funnel": [stats[n]["rows_out"] for n in PIPELINE_STAGES],
        "manifest_sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }
    key = f"{wl.n_docs}_body{wl.body_repeat}"
    with open(EXPECTED) as fh:
        want = json.load(fh).get(key)
    if want != got:
        return m, [f"pipeline over {key}: got {got}, recorded {want}"]
    return m, []
