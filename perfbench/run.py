"""Frontier-engine benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload dom_heavy --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --smoke      # every workload, tiny

Run from the root of a checkout. Each run starts a Spark session
(``session.get_spark`` as tuned, ``local[nproc]``), synthesizes the
workload's inputs from ``--seed``, runs one untimed warm-up job, then
runs jobs back to back for ``--seconds`` seconds and checks every
job's output against an oracle. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit code is 0 when every output was correct, 1
when one was wrong, and 2 when the engine package is not there.

``--trace 1`` turns on Spark's monitoring REST API, records spans and
writes them with every per-layer metric to
``perfbench/out/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "go_crawler_20251102_011312_url_crawlerv10_twotier_spark"
OUT = os.path.join(HERE, "out")
SYNTH_ROUNDS = 3


def _isolate(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let Python workers import the engine."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_UI"] = "true" if trace else "false"
    sys.path[:0] = [ROOT, HERE]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None


def _cpu_jiffies() -> list[int]:
    """Host-wide CPU counters (user nice system idle iowait irq softirq
    steal ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def end_to_end(jobs, setup_s: float) -> dict:
    steps = [m["wall_s"] for j in jobs for _, _, ms in j.calls for m in ms]

    def rate(j):
        urls = sum(m["scheduled"] + m["fetched"] for _, _, ms in j.calls for m in ms)
        return urls / sum(w for _, w, _ in j.calls)

    return {
        "setup_s": (setup_s, "s"),
        "job_s": (statistics.median(j.wall_s for j in jobs), "s"),
        "urls_per_s": (statistics.median(rate(j) for j in jobs), "1/s"),
        "superstep_p50_s": (statistics.median(steps), "s"),
        "superstep_p90_s": (statistics.quantiles(steps, n=10, method="inclusive")[8], "s"),
    }


def durability(jobs) -> dict:
    """recover_s and ckpt_bytes_per_url, on workloads that resume."""
    resumed = [j for j in jobs if len(j.calls) > 1]
    if not resumed:
        return {"recover_s": (0.0, "s"), "ckpt_bytes_per_url": (0.0, "B")}
    return {
        "recover_s": (
            statistics.median(
                j.calls[1][1] - sum(m["wall_s"] for m in j.calls[1][2]) for j in resumed
            ),
            "s",
        ),
        "ckpt_bytes_per_url": (
            statistics.median(j.store_bytes / j.n_seen_crawl for j in resumed),
            "B",
        ),
    }


def frontier_layers(job, n_seed_urls: int) -> dict:
    """Per-layer figures the crawl loop itself reports in
    ``CrawlResult.metrics``."""
    ms = [m for _, _, cm in job.calls for m in cm]
    fetched = sum(m["fetched"] for m in ms) or 1
    _, wall, crawl_ms = job.calls[0]
    f, deferred, frontier = n_seed_urls, 0, 0
    for m in crawl_ms:
        frontier += f
        deferred += f - m["scheduled"]
        f = f - m["scheduled"] + m["new_urls"]
    out = {
        "frontier.corpus_prep_s": wall - sum(m["wall_s"] for m in crawl_ms),
        "frontier.supersteps": len(ms),
        "frontier.fetch_miss": sum(m["fetch_miss"] for m in ms),
        "frontier.fast_share": sum(m["fast_cnt"] for m in ms) / fetched,
        "politeness.deferred_share": deferred / frontier,
        "extract.slow_share": sum(m["slow_cnt"] for m in ms) / fetched,
        "extract.links_per_page": sum(m["links"] for m in ms) / fetched,
    }
    for t in ("sched", "extract", "stats", "state"):
        out[f"frontier.{t}_s"] = sum(m[f"t_{t}"] for m in ms)
    return out


def run_workload(spark, wl, seed, seconds, trace, session_s, smoke) -> dict:
    import workloads

    run_id = f"{wl.name}-seed{seed}"
    work = os.path.join(OUT, f"{run_id}-{os.getpid()}")
    tracer = meter = None
    if trace:
        from tracing import SparkMeter, Tracer

        tracer, meter = Tracer(run_id), SparkMeter(spark)
    try:
        residue = workloads.pick_residue(wl, seed)
        synth = []
        for _ in range(1 if smoke else SYNTH_ROUNDS):
            t = time.perf_counter()
            inp = workloads.synthesize(spark, wl, seed, residue)
            synth.append(time.perf_counter() - t)
        inp.expected = workloads.expected(wl, inp)
        attempted = failed = 0
        errors = []

        def one(k):
            nonlocal attempted, failed
            group = f"perfbench-job{k}"
            if meter:
                with meter.group(group), tracer.span("job", k=k):
                    job = workloads.run_job(spark, wl, inp, work, tracer)
                job.spark = meter.stats(group, job.wall_s)
            else:
                job = workloads.run_job(spark, wl, inp, work)
            attempted += 1
            if job.errors:
                failed += 1
                errors.extend(f"job {k}: {e}" for e in job.errors)
            return job

        warm_s = 0.0
        if not smoke:
            t = time.perf_counter()
            warm = workloads.WARMUP.get(wl.name, wl)
            workloads.run_job(spark, warm, inp, work, checked=False)
            warm_s = time.perf_counter() - t
            workloads.reap(spark)
        setup_s = session_s + statistics.median(synth) + warm_s

        # closed loop: start the next job only while it can end within
        # --seconds, judged by the previous job
        jobs = []
        cpu0, gc0 = _cpu_jiffies(), _jvm_gc_s(spark)
        t_loop = time.perf_counter()
        while not jobs or time.perf_counter() - t_loop + jobs[-1].wall_s <= seconds:
            if jobs:
                jobs[-1].final = None  # only the last job feeds the probes
                workloads.reap(spark)
            jobs.append(one(len(jobs) + 1))

        cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
        e2e = end_to_end(jobs, setup_s)
        extra = durability(jobs)
        extra["peak_heap_mb"] = (statistics.median(j.peak_heap_mb for j in jobs), "MB")
        # CPU time the hypervisor gave to other guests while the timed
        # jobs ran: the usual cause of a whole run reading slow
        extra["host_steal_share"] = (cpu[7] / sum(cpu), "1")
        extra["jvm_gc_s"] = (_jvm_gc_s(spark) - gc0, "s")
        extra["failed_share"] = (failed / attempted, "1")
        extra["jobs"] = (len(jobs), "count")
        layers = None
        if trace:
            import probes

            last = jobs[-1]
            layers = frontier_layers(last, inp.n_seed_urls)
            layers["frontier.jobs_per_superstep"] = (
                last.spark["jobs"] / layers["frontier.supersteps"]
            )
            for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "busy_share"):
                layers[f"spark.{k}"] = last.spark[k]
            layers["checkpoint.recover_s"] = extra["recover_s"][0]
            layers["checkpoint.bytes_per_url"] = extra["ckpt_bytes_per_url"][0]
            layers["trace.job_s"] = e2e["job_s"][0]
            layers["spark.peak_heap_mb"] = extra["peak_heap_mb"][0]
            layers.update(probes.layer_probes(spark, wl, inp, last, tracer, work))
            if wl.resume_as_of is not None:
                pipe, perr = probes.pipeline_probe(spark, wl, inp, tracer, work)
                attempted += 1
                if perr:
                    failed += 1
                    errors.extend(perr)
            else:
                pipe = {
                    f"pipeline.{s}_{k}": 0
                    for s in probes.PIPELINE_STAGES
                    for k in ("s", "rows_out", "heap_mb")
                }
            layers.update(pipe)
            os.makedirs(OUT, exist_ok=True)
            tracer.write(os.path.join(OUT, f"trace-{run_id}.json"), layers)
        return {
            "workload": wl.name,
            "seed": seed,
            "residue": inp.residue,
            "e2e": e2e,
            "extra": extra,
            "layers": layers,
            "attempted": attempted,
            "failed": failed,
            "errors": errors,
            "job_walls": [round(j.wall_s, 3) for j in jobs],
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _print_report(r: dict, units: dict) -> None:
    print(f"workload {r['workload']} seed {r['seed']} (seed residue {r['residue']})")
    print(f"  job walls (s): {r['job_walls']}")
    for name, (value, unit) in {**r["e2e"], **r["extra"]}.items():
        print(f"  {name:<24} {value:>16.6g} {unit}")
    for name, value in sorted((r["layers"] or {}).items()):
        print(f"  {name:<36} {value:>16.6g} {units.get(name, '')}")
    for e in r["errors"]:
        print(f"  WRONG OUTPUT: {e}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 size, no warm-up, one job")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG} not found next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    _isolate(bool(args.trace))

    import workloads

    table = workloads.SMOKE if args.smoke else workloads.WORKLOADS
    names = list(table) if args.workload == "all" else [args.workload]
    if any(n not in table for n in names):
        print(f"unknown workload {args.workload}; one of {', '.join(table)} or all", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=len(os.sched_getaffinity(0)))  # nproc
    spark.range(1).count()
    session_s = time.perf_counter() - t
    ok = True
    try:
        for name in names:
            seconds = 0 if args.smoke else args.seconds  # smoke: one job
            r = run_workload(
                spark, table[name], args.seed, seconds, bool(args.trace), session_s, args.smoke
            )
            _print_report(r, units)
            got = r["layers"] if args.trace else {k: v for k, (v, _) in r["e2e"].items()}
            metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
            ok = ok and not r["errors"]
            print(json.dumps({
                "correct": not r["errors"],
                "attempted": r["attempted"],
                "failed": r["failed"],
                "metrics": metrics,
            }), flush=True)
            session_s = 0.0  # later workloads of an `all` run share the session
    finally:
        _stop(spark)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
