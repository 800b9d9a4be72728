"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric mirrors BASELINE.json: URLs scheduled+fetched per
second over the full frontier-BFS crawl (the flagship), with per-query
wall times for the rest of the operator surface. ``value`` is the total
wall-clock of all benched queries.

Scaling evidence (north_rule: efficiency >= 0.8 from N to 4N executors;
sandbox stand-in = local[4] vs local[16] — the box has 16 PHYSICAL
cores; 32 vCPUs are SMT siblings, so a 4x-cores pair must stay on
physical cores to measure the engine rather than the hyperthreads):

    python bench.py --scaling     # runs the heavy-body wave at 4 and
                                  # 16 cores in fresh subprocesses,
                                  # best-of-3, prints both throughputs
                                  # + efficiency
    python bench.py --scaling-cluster
                                  # PROCESS-ISOLATED variant: localhost
                                  # standalone cluster, 1 vs 4 worker
                                  # JVMs x 4 cores (one executor each);
                                  # removes the shared-heap/GC/python-
                                  # pool confounders of --scaling
    python bench.py --bloom       # J1 exact anti-join vs sharded-Bloom
                                  # prefilter at a large pre-seeded
                                  # seen set (env SPARK_GRAFT_BLOOM_*)
    python bench.py --skew        # mega-domain tier-2 A/B: salted host
                                  # repartition (salts=16) vs plain
                                  # repartition-by-host on a 90%-one-
                                  # host queue (env SPARK_GRAFT_SKEW_*)
    python bench.py --pipeline    # 9-stage end-to-end rehearsal at the
                                  # padded 1M-page scale; per-stage
                                  # wall/rows/heap (BENCH.md section 9)
    python bench.py --incremental # recrawl rehearsal: full v1 run,
                                  # then the incremental pipeline over
                                  # a ~10%-changed / ~6%-removed v2
                                  # against the v1 checkpoints
                                  # (BENCH.md section 10)
    python bench.py --skew-para   # hot-paragraph A/B: winner-set
                                  # paragraph_dedup vs the naive
                                  # per-paragraph window (BENCH.md §7b)
    python bench.py --skew-boiler # mega-host boilerplate A/B: salted
                                  # docs x host-vocab join vs AQE-only
                                  # vs raw hash layout, broadcast
                                  # disabled (env SPARK_GRAFT_BOILER_*)
    python bench.py --scaling-final # round-5 headline scaling number:
                                  # K interleaved (1w leg, 4w leg)
                                  # rounds, full-size warm-up waves on
                                  # the short 4x4 leg, MEDIAN-of-K
                                  # efficiency (best-of = roofline
                                  # only); env SPARK_GRAFT_SCALE_ROUNDS
    python bench.py --skew-phrase # stopword-first phrase A/B:
                                  # pre-aggregated anchor positions
                                  # (shipped) vs per-anchor token-array
                                  # join on a mega-doc fixture
                                  # (env SPARK_GRAFT_PHRASE_*)

Results are recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# queries benched besides the flagship crawl (name -> force-action)
BENCH_QUERIES = [
    "url_normalize_compat",
    "url_canonicalize",
    "route_decision",
    "extract_links_fast",
    "anchor_texts",
    "politeness_budget",
    "politeness_hostrank",
    "host_inlink_ranks",
    "host_pagerank",
    "download_state",
    "latest_snapshot",
    "recrawl_change_rates",
    "recrawl_schedule",
    "recrawl_diff",
    "warc_roundtrip",
    "stream_host_budget",
    "url_resolve",
    "format_bytes",
    "ann_topk_multiprobe",
    "ivf_assign",
    "ann_topk_ivf",
    "kmeans_train",
    "semdedup",
    "multimodal_frames",
    "metrics_rollup",
    "dedup_exact",
    "ngram_span_dedup",
    "benchmark_contamination",
    "ngram_span_removal",
    "minhash_signatures",
    "lsh_dup_pairs",
    # lsh_recall / ann_recall are recall AUDITS (they compute exact
    # all-pairs truth as the denominator — at sf0.1 that truth costs
    # ~28 s, dwarfing every real operator); they stay driver-gated
    # for correctness but are not throughput-representative, so
    # neither is benched.
    "dedup_clusters",
    "simhash",
    "embedding_topk",
    "ann_topk_bucketed",
    "lang_id",
    "token_counts",
    "quality_score",
    "quality_filter",
    "training_mix",
    "corpus_refine",
    "training_shards",
    "source_quality_rollup",
    "vocab_stats",
    "bpe_train",
    "bpe_token_counts",
    "seen_anti_join_cuckoo",
    "seen_cuckoo_delete",
    "host_mirrors",
    "dust_params",
    "dust_canonicalize",
    "bigram_commonness",
    "anchor_profile",
    "host_reciprocity",
    "host_hits",
    "redirect_resolve",
    "soft404",
    "line_dedup_scrub",
    "bm25_topk",
    "luhn_pan",
    "compression_signal",
    "phrase_match",
    "postings_delta",
    "hll_distinct",
    "cms_heavy_hitters",
    "hll_set_overlap",
    "hyperball",
    "robots_agent_groups",
    "kwic_snippets",
    "canonical_clusters",
    "crawl_frontier_redirects",
    "fetch_schedule",
    "registered_domains",
    "retrieval_pairs",
    "latency_percentiles",
    "politeness_domain",
    "stream_latency_percentiles",
    "stream_host_sessions",
    "vocab_growth",
    "freq_spectrum",
    "robots_sitemap_urls",
    "embedding_quantize",
    "politeness_quality",
    "clean_params",
    "sequence_pack",
    "doc_keyterms",
    "redact_pii",
    "text_normalize",
    "fingerprint_normalized",
    "script_profile",
    "host_boilerplate",
    "domain_cap_sample",
    "lang_temperature",
    "dsir_importance",
    "dsir_resample",
    "paragraph_dedup",
    "cdx_index",
    "url_features",
    "host_trap_stats",
    "fingerprint",
    "events_rollup",
    # round 5: the formerly gate-only queries, benched once under the
    # same noop materialization so every operator has a wall number in
    # the final record (VERDICT r04 next-round #5). lsh_recall /
    # ann_recall stay excluded by design: they compute exact all-pairs
    # truth as their denominator (~28 s at sf0.1), which measures the
    # audit, not the operator.
    "extract_docs_slow",
    "is_document_url",
    "crawl_frontier_bucketed",
    "tier2_extract_text",
    "download_state_store",
    "link_density",
    "seen_anti_join",
    "seen_anti_join_bloom",
    "extract_filename",
    "robots_filter",
    "stream_host_rates",
    "stream_host_budget_multibatch",
    "stream_seen_dedup",
    "simhash_neardup",
    "politeness_crawl_delay",
    "sitemap_seeds",
    "cluster_reps",
    "jaccard_pairs",
    "embedding_neardup",
    "corpus_pack",
    "pack_stats",
    "unigram_commonness",
    "repetition_stats",
    "mirror_cap_audit",
    "multimodal_probe",
    "multimodal_features",
    "multimodal_decode",
]


def env_default(key: str, default: str) -> str:
    return os.environ.get(key, default)


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _replicate(df, url_cols: list[str], k: int):
    """K isolated copies of the page graph: rewriting ``.example/`` to
    ``.rN.example/`` in urls AND html retargets every link into the
    same replica, so the BFS explores K disjoint components — a
    deterministic way to scale work without touching the fixtures."""
    from pyspark.sql import functions as F

    reps = df.sparkSession.range(k).select(F.col("id").alias("rep"))
    rep_sfx = F.concat(F.lit(".r"), F.col("rep").cast("string"), F.lit(".example/"))
    out = df.crossJoin(F.broadcast(reps))
    for c in url_cols:
        out = out.withColumn(c, F.replace(F.col(c), F.lit(".example/"), rep_sfx))
    return out.drop("rep")


def run_crawl(spark, sf_dir: str, scale_mult: int = 1) -> dict:
    """Flagship: full frontier BFS; throughput = (scheduled + fetched) / wall."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        CrawlConfig,
        crawl,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    seeds = spark.sql(pagesrc.seeds_sql())
    if scale_mult > 1:
        pages = _replicate(pages, ["url", "html"], scale_mult)
        seeds = _replicate(seeds, ["url"], scale_mult)
    t0 = time.time()
    res = crawl(spark, pages, seeds, CrawlConfig())
    n_seen = res.seen.count()
    wall = time.time() - t0
    sched = sum(m["scheduled"] for m in res.metrics)
    fetched = sum(m["fetched"] for m in res.metrics)
    return {
        "wall_s": round(wall, 3),
        "iterations": res.iterations,
        "urls_scheduled": sched,
        "urls_fetched": fetched,
        "urls_seen": n_seen,
        "urls_per_sec": round((sched + fetched) / wall, 1),
        "iter_wall_s": [m["wall_s"] for m in res.metrics],
    }


def materialize(df) -> None:
    """Force FULL-column computation without driver transfer: a noop
    datasource write runs every projected expression end to end.

    ``count()`` (the timing action through round 4's first series) is
    not that: Catalyst prunes every column the count doesn't need —
    a map-only query like quality_score degrades to a bare scan, and a
    full-surface left join from the id column (dsir_importance's
    shape) is dropped outright as provably count-preserving. Measured
    on this box at sf0.1: dsir_importance 0.47 s under count() vs
    3.3 s materialized — a 7x under-report. Filters, joins that change
    cardinality, and aggregations were still honest under count();
    BENCH.md §4 carries the cross-series comparability note."""
    df.write.format("noop").mode("overwrite").save()


def run_bench(sf_dir: str) -> dict:
    import __spark_entry__ as entrymod
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

    spark = get_spark(app_name="bench")
    qs = entrymod.queries()

    timings: dict[str, float] = {}

    # JIT warm-up: one small UNTIMED crawl first. Fresh-JVM numbers are
    # dominated by C2 compilation of the codegen'd stages (measured
    # 41 s cold vs 18 s warm for the identical sf0.1 crawl on this
    # box); a long-lived cluster executor runs warm, so the steady-
    # state number is the one that projects — reported as such here
    # and in BENCH.md §7 (variance caveat).
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    t_warm0 = time.time()
    run_crawl(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir)
    t_warm = round(time.time() - t_warm0, 3)

    t_total0 = time.time()

    crawl_stats = run_crawl(spark, sf_dir)
    timings["crawl_frontier_bfs"] = crawl_stats["wall_s"]

    for name in BENCH_QUERIES:
        t0 = time.time()
        materialize(qs[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)

    total = round(time.time() - t_total0, 3)
    return {
        "metric": "frontier_bench_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "jit_warmup_s": t_warm,
        "crawl": crawl_stats,
    }


def run_wave(spark, sf_dir: str, scale_mult: int, body_repeat: int) -> dict:
    """The scaling job: the full frontier BFS over a corpus with
    Common-Crawl-realistic tag-dense bodies (~20 KB at body_repeat=50),
    thorough (DOM) tier forced — the tier-2-heavy workload whose
    per-page compute dominates at production page sizes.
    """
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        CrawlConfig,
        crawl,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    base = pagesrc.synth_clean_pages(spark, sf_dir, body_repeat=body_repeat)
    pages = _replicate(base, ["url", "html"], scale_mult)
    seeds = _replicate(spark.sql(pagesrc.seeds_sql()), ["url"], scale_mult)
    t0 = time.time()
    res = crawl(spark, pages, seeds, CrawlConfig(force_path="slow"))
    wall = time.time() - t0
    fetched = sum(m["fetched"] for m in res.metrics)
    links = sum(m["links"] for m in res.metrics)
    return {
        "wall_s": round(wall, 3),
        "pages": fetched,
        "links": links,
        "iterations": res.iterations,
        "pages_per_sec": round(fetched / wall, 1),
    }


def run_bloom_bench(spark, n_seen: int, n_cand: int) -> dict:
    """J1 at a large pre-seeded seen set: exact anti-join vs the
    sharded-Bloom prefilter path, same inputs, results asserted equal.

    Two candidate mixes, bracketing a crawl's life:
    * expanding (10% already seen) — most candidates are definitely
      new; the Bloom probe lets them skip the exact-join machinery
      entirely, which is where the candidate-shuffle reduction shows.
    * mature (90% already seen) — most candidates fall through to the
      exact join; the probe is near-pure overhead. Reported so the
      trade-off is visible, not hidden.
    """
    from pyspark.sql import functions as F

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import dedup

    def urls(df, col_in, alias):
        return df.select(
            F.concat(
                F.lit("https://h"), (F.col(col_in) % 1000).cast("string"),
                F.lit(".example/p/"), F.col(col_in).cast("string"),
            ).alias(alias)
        )

    seen = urls(spark.range(n_seen), "id", "url_norm").persist()
    seen.count()
    out = {"n_seen": n_seen, "n_cand": n_cand, "mixes": {}}
    for label, seen_frac in (("expanding_10pct_seen", 0.1), ("mature_90pct_seen", 0.9)):
        cut = int(seen_frac * 10)
        base = spark.range(n_cand)
        # ids < cut*n_cand/10 map into the seen id space; the rest above it
        cand = urls(
            base.select(
                F.when(
                    F.col("id") % 10 < cut, F.col("id") % n_seen
                ).otherwise(F.col("id") + n_seen).alias("cid")
            ),
            "cid",
            "url_norm",
        )
        t0 = time.time()
        n_exact = dedup.seen_anti_join(cand, seen).count()
        t_exact = time.time() - t0
        t0 = time.time()
        n_bloom = dedup.dedup_new_candidates(cand, seen, use_bloom=True).count()
        t_bloom = time.time() - t0
        # the crawl-loop case: a STANDING filter (built once, then
        # maintained incrementally via merge_bloom_shards) — per-probe
        # cost excludes the build
        t0 = time.time()
        # auto sizing (resolve once, feed the SAME pair to build+probe)
        ns, bps = dedup.resolve_bloom_sizing(n_seen)
        shards = dedup.build_bloom_shards(
            seen, n_shards=ns, bits_per_shard=bps
        ).localCheckpoint(eager=True)
        t_build = time.time() - t0
        t0 = time.time()
        def_new, maybe = dedup.bloom_probe_shards(
            cand, shards, n_shards=ns, bits_per_shard=bps
        )
        n_standing = def_new.unionByName(
            dedup.seen_anti_join(maybe, seen)
        ).count()
        t_probe = time.time() - t0
        assert n_exact == n_bloom == n_standing, (n_exact, n_bloom, n_standing)
        out["bloom_sizing"] = {"n_shards": ns, "bits_per_shard": bps}
        out["mixes"][label] = {
            "new_urls": n_exact,
            "exact_s": round(t_exact, 3),
            "bloom_one_shot_s": round(t_bloom, 3),
            "bloom_build_s": round(t_build, 3),
            "bloom_standing_probe_s": round(t_probe, 3),
            "standing_speedup": round(t_exact / t_probe, 3),
        }
    seen.unpersist()
    return out


def run_skew(
    spark, sf_dir: str, scale_mult: int, body_repeat: int, skew_frac: float
) -> dict:
    """Mega-domain skew A/B (north_rule: "host-skew (mega-domains) is
    handled with explicit salting"): the tier-2 fetch+extract stage
    over a queue where ONE host owns ``skew_frac`` of all urls,
    measured with the salted host repartition ON (salts=16, the
    shipped default — fetch.salted_host_repartition) vs OFF (salts=1,
    which degenerates to a plain repartition-by-host: every mega-host
    row lands in one task). Both legs read the same persisted corpus;
    result rows are identical either way (the gate pins that), so the
    A/B isolates partitioning. Reports wall and the biggest task's
    row share from the A5 per-partition metrics.
    """
    from pyspark.sql import functions as F

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        fetch,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    base = pagesrc.synth_clean_pages(spark, sf_dir, body_repeat=body_repeat)
    corpus = _replicate(base, ["url", "html"], scale_mult)
    # rewrite hosts only: skew_frac of urls belong to the mega-domain,
    # the rest spread over ~1000 tail hosts. Partitioning keys on
    # ``host``; the fetch join still keys on the untouched url.
    bucket = F.pmod(F.xxhash64("url"), F.lit(1000))
    host = F.when(
        bucket < int(skew_frac * 1000), F.lit("mega.example")
    ).otherwise(
        F.concat(F.lit("tail-"), bucket.cast("string"), F.lit(".example"))
    )
    queue = corpus.select("url", host.alias("host"))
    keyed = corpus.select(F.col("url").alias("url_norm"), "html").persist()
    keyed.count()  # materialize once so both legs pay the same scan
    reps = int(os.environ.get("SPARK_GRAFT_SKEW_REPEATS", "2"))
    out = {}
    try:
        for label, salts in (("salted", 16), ("unsalted", 1)):
            runs = []
            for _ in range(reps):  # best-of: 1st run in a fresh JVM is
                t0 = time.time()  # ~2x JIT (BENCH.md §1 warm-up row)
                res = fetch.fetch_and_extract(queue, keyed, salts=salts)
                m = fetch.fetch_metrics(res).collect()
                runs.append((time.time() - t0, m))
            wall, m = min(runs, key=lambda r: r[0])
            total = sum(r["attempts"] for r in m)
            out[label] = {
                "wall_s": round(wall, 3),
                "all_walls_s": [round(w, 3) for w, _ in runs],
                "rows": total,
                "tasks": len(m),
                "max_task_share": round(
                    max(r["attempts"] for r in m) / total, 3
                ),
            }
    finally:
        keyed.unpersist()
    out.update(
        metric="tier2_megahost_salting_speedup",
        value=round(out["unsalted"]["wall_s"] / out["salted"]["wall_s"], 2),
        unit="x",
        sf=_sf_of(sf_dir),
        scale_mult=scale_mult,
        body_repeat=body_repeat,
        skew_frac=skew_frac,
    )
    return out


def run_skew_boiler(
    spark, n_docs: int, skew_frac: float, salts: int
) -> dict:
    """Mega-host skew A/B for strip_host_boilerplate (VERDICT r03
    "wrong" #1): one mega-host owns ``skew_frac`` of all pages, every
    one carrying the SAME cookie-banner line. The rework made the df
    count an aggregation (map-side partials absorb the hot key), so the
    only join left is docs x per-host-vocabulary on ``host`` — 1 row
    per host on the build side, normally a broadcast. This A/B measures
    the regime where that table CANNOT broadcast (threshold forced to
    -1, i.e. a corpus whose boiler vocabulary outgrows executor
    memory); three legs, same input, identical results (asserted):

    * ``naive``  — unsalted, AQE skew-join OFF: the raw hash layout,
      every mega-host doc in ONE task (share ~= skew_frac);
    * ``aqe``    — unsalted, AQE skew-join ON: the runtime-stats fix,
      AQE splits the skewed partition after the map stage observes it;
    * ``salted`` — salt_partitions-way salt (shipped default): the
      by-construction fix — deterministic layout, no reliance on
      runtime stat thresholds (AQE's skewedPartitionFactor can miss
      moderate skew; salting cannot).

    AQE partition coalescing is disabled for ALL legs so the reported
    max-task row share reflects the join's hash layout, not post-hoc
    coalescing.
    """
    from pyspark.sql import functions as F

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    mega_n = int(n_docs * skew_frac)
    pad = "lorem ipsum dolor sit amet " * 4
    host = F.when(F.col("id") < mega_n, F.lit("mega.example")).otherwise(
        F.concat(
            F.lit("tail-"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).cast("string"),
            F.lit(".example"),
        )
    )
    chrome = F.when(
        F.col("host") == "mega.example",
        F.lit("COOKIE BANNER accept all " + pad),
    ).otherwise(F.concat(F.lit("NAV "), F.col("host"), F.lit(" " + pad)))
    body = lambda tag: F.concat(  # noqa: E731 — unique per doc: df=1, kept
        F.lit(f"body {tag} "), F.col("id").cast("string"), F.lit(" " + pad)
    )
    docs = (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), F.col("id").alias("id"), host.alias("host"))
        .withColumn(
            "text",
            F.concat_ws(
                "\n", chrome, body("a"), body("b"), body("c"), body("d")
            ),
        )
        .drop("id")
        .persist()
    )
    docs.count()  # materialize once; both legs read the same corpus
    reps = int(os.environ.get("SPARK_GRAFT_SKEW_REPEATS", "2"))
    out = {}
    checks = {}
    # simulate the vocab-outgrows-broadcast regime (both the static
    # planner's threshold and AQE's runtime conversion)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    saved["spark.sql.adaptive.coalescePartitions.enabled"] = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", None
    )
    saved["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled", None
    )
    legs = (("salted", salts, "true"), ("aqe", 1, "true"), ("naive", 1, "false"))
    try:
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ):
            spark.conf.set(k, "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for label, sp, skew_on in legs:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            walls = []
            for _ in range(reps):  # best-of: fresh-JVM JIT (§1)
                t0 = time.time()
                row = (
                    curation.strip_host_boilerplate(
                        docs, min_df=3, salt_partitions=sp
                    )
                    .agg(
                        F.sum("n_boiler").alias("b"),
                        F.sum(F.length("clean_text")).alias("c"),
                    )
                    .collect()[0]
                )
                walls.append(time.time() - t0)
            checks[label] = (row.b, row.c)
            # sum a right-side-derived column so Catalyst cannot
            # eliminate the (distinct-keyed) left join under the
            # partition-id count — we are measuring THAT join's layout
            parts = (
                curation.strip_host_boilerplate(
                    docs, min_df=3, salt_partitions=sp
                )
                .groupBy(F.spark_partition_id().alias("p"))
                .agg(
                    F.count("*").alias("count"),
                    F.sum(F.length("clean_text")).alias("_c"),
                )
                .collect()
            )
            total = sum(r["count"] for r in parts)
            out[label] = {
                "wall_s": round(min(walls), 3),
                "all_walls_s": [round(w, 3) for w in walls],
                "join_rows": total,
                "join_tasks": len(parts),
                "max_task_share": round(
                    max(r["count"] for r in parts) / total, 3
                ),
            }
        assert len(set(checks.values())) == 1, checks  # pure routing
    finally:
        docs.unpersist()
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    out.update(
        metric="boilerplate_megahost_salting_speedup",
        value=round(out["naive"]["wall_s"] / out["salted"]["wall_s"], 2),
        unit="x",
        n_docs=n_docs,
        skew_frac=skew_frac,
        salt_partitions=salts,
    )
    return out


def run_skew_para(spark, n_docs: int, skew_frac: float) -> dict:
    """Hot-paragraph skew A/B for paragraph_dedup: ``skew_frac`` of all
    docs open with the SAME license paragraph. Two legs, identical
    results (asserted):

    * ``naive``      — the textbook formulation: explode, rank with
      ``row_number() OVER (PARTITION BY para)``, keep rank 1, rebuild.
      The hot paragraph's every copy transits ONE window task (the
      exchange hash-routes equal keys together; AQE cannot split a
      running window partition).
    * ``winner_set`` — the shipped operator: ``min(struct)`` agg picks
      winners (map-side partials absorb the hot key), docs rebuild
      from the winner rows — the paragraph-keyed row explosion never
      crosses an exchange after the partial agg.

    Reported max_task_share is the row share of the heaviest task in
    each leg's paragraph-keyed stage (the window input for naive, the
    post-partial agg input for winner_set). Coalescing off so shares
    reflect the hash layout.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    hot_n = int(n_docs * skew_frac)
    # web-typical paragraph length (~900 B) — string compare cost is
    # the window sort's real work
    pad = "lorem ipsum dolor sit amet " * 32
    license_para = F.lit("LICENSE shared corpus paragraph " + pad)
    uniq = lambda tag: F.concat(  # noqa: E731
        F.lit(f"para {tag} "), F.col("id").cast("string"), F.lit(" " + pad)
    )
    docs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            # hot docs ARE the license paragraph (mass-duplicated
            # pages, the CCNet regime); tail docs carry unique content
            F.when(F.col("id") < hot_n, license_para)
            .otherwise(F.concat_ws("\n\n", uniq("solo"), uniq("a")))
            .alias("text"),
        )
        .persist()
    )
    docs.count()
    reps = int(os.environ.get("SPARK_GRAFT_SKEW_REPEATS", "2"))

    def naive(d):
        paras = d.select(
            "doc_id", F.posexplode(F.split("text", "\n\n")).alias("pos", "para")
        ).filter(F.col("para") != "")
        w = Window.partitionBy("para").orderBy("doc_id", "pos")
        kept = paras.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        agg = (
            kept.select("doc_id", F.struct("pos", "para").alias("_p"))
            .groupBy("doc_id")
            .agg(
                F.concat_ws(
                    "\n\n",
                    F.transform(
                        F.array_sort(F.collect_list("_p")),
                        lambda st: st["para"],
                    ),
                ).alias("_ct")
            )
        )
        # same output contract as the operator: docs whose every
        # paragraph lost still surface (empty clean_text)
        return d.select("doc_id").join(agg, "doc_id", "left").select(
            "doc_id", F.coalesce("_ct", F.lit("")).alias("clean_text")
        )

    def winner(d):
        return curation.paragraph_dedup(d).select("doc_id", "clean_text")

    # per-leg layout probe: rows per task in the paragraph-keyed stage
    def share_naive(d):
        paras = d.select(
            "doc_id", F.posexplode(F.split("text", "\n\n")).alias("pos", "para")
        ).filter(F.col("para") != "")
        w = Window.partitionBy("para").orderBy("doc_id", "pos")
        staged = paras.withColumn("_rn", F.row_number().over(w))
        return staged.groupBy(F.spark_partition_id().alias("p")).agg(
            F.count("*").alias("count"), F.sum("_rn").alias("_s")
        )

    def share_winner(d):
        paras = d.select(
            "doc_id", F.posexplode(F.split("text", "\n\n")).alias("pos", "para")
        ).filter(F.col("para") != "")
        staged = paras.groupBy("para").agg(
            F.min(F.struct("doc_id", "pos")).alias("w")
        )
        return staged.groupBy(F.spark_partition_id().alias("p")).agg(
            F.count("*").alias("count"), F.count("w").alias("_s")
        )

    saved = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", None
    )
    out, checks = {}, {}
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        for label, fn, probe in (
            ("winner_set", winner, share_winner),
            ("naive", naive, share_naive),
        ):
            walls = []
            for _ in range(reps):
                t0 = time.time()
                row = fn(docs).agg(
                    F.count("*").alias("n"),
                    F.sum(F.length("clean_text")).alias("c"),
                ).collect()[0]
                walls.append(time.time() - t0)
            checks[label] = (row.n, row.c)
            parts = probe(docs).collect()
            total = sum(r["count"] for r in parts)
            out[label] = {
                "wall_s": round(min(walls), 3),
                "all_walls_s": [round(w, 3) for w in walls],
                "stage_rows": total,
                "stage_tasks": len(parts),
                "max_task_share": round(
                    max(r["count"] for r in parts) / total, 3
                ),
            }
        assert len(set(checks.values())) == 1, checks
    finally:
        docs.unpersist()
        if saved is not None:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", saved
            )
        else:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    out.update(
        metric="paragraph_dedup_hotkey_speedup",
        value=round(out["naive"]["wall_s"] / out["winner_set"]["wall_s"], 2),
        unit="x",
        n_docs=n_docs,
        skew_frac=skew_frac,
    )
    return out


def run_skew_phrase(spark, n_docs: int, mega_tokens: int) -> dict:
    """Stopword-first phrase skew A/B for phrase_match (VERDICT r04
    "wrong" #1): the query phrase opens with a ~5 %-frequency stopword
    and ONE mega-doc carries ``mega_tokens`` tokens. Two legs,
    identical result rows (asserted with exceptAll both ways):

    * ``per_anchor`` — the pre-r5 plan: every first-term occurrence
      joins the doc's FULL token array, so the mega-doc ships
      (anchors x L) array cells through a single doc-keyed task —
      per-doc quadratic bytes, the §7a/§7b single-task cliff.
    * ``pre_agg``    — the shipped operator: anchor positions
      aggregate to ONE sorted array per (doc, phrase) BEFORE the token
      array joins in, so each doc's array crosses the join exactly
      once and per-task state is O(L + anchors).

    Reported per leg: wall, array cells through the doc-keyed verify
    join, and max_task_share of those cells (coalescing off so shares
    reflect the hash layout). Honest reading: on ONE box the legs are
    wall-par (±30 % — whole-stage codegen reads the joined array
    lazily, the slice touches plen elements, and pre_agg pays one
    extra collect_list shuffle), so the measured win is STRUCTURAL:
    ~300x fewer logical cells through the verify join and the hot
    task's state dropping from ~all cells to O(L + anchors) — the
    guarantee no longer depends on codegen laziness holding across
    join strategy, spill, or columnar materialization changes.
    """
    from pyspark.sql import functions as F

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        search,
    )

    tail_tokens = 200

    def tok(i):
        return (
            F.when(i % 400 == 0, F.lit("the"))
            .when(i % 400 == 1, F.lit("quick"))
            .when(i % 400 == 2, F.lit("brown"))
            .when(i % 20 == 0, F.lit("the"))
            .otherwise(F.concat(F.lit("w"), (i % 97).cast("string")))
        )

    docs = (
        spark.range(n_docs + 1)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") == 0, F.lit(mega_tokens))
            .otherwise(F.lit(tail_tokens))
            .alias("_n"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform(F.sequence(F.lit(0), F.col("_n") - 1), tok)
            ).alias("text"),
        )
        .persist()
    )
    docs.count()
    phrases = spark.createDataFrame(
        [(0, "the quick brown")], "phrase_id long, phrase string"
    )

    def _toks_ph(d):
        toks = d.select(
            "doc_id",
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                F.lit(search.TOKEN_PATTERN),
                0,
            ).alias("toks"),
        )
        ph = phrases.select(
            "phrase_id",
            F.split(F.lower(F.col("phrase")), r"\s+").alias("terms"),
        ).select(
            "phrase_id",
            "terms",
            F.col("terms")[0].alias("first_term"),
            F.size("terms").alias("plen"),
        )
        return toks, ph

    def per_anchor(d):
        toks, ph = _toks_ph(d)
        occ = toks.select("doc_id", F.posexplode("toks").alias("pos", "term"))
        anchors = occ.join(F.broadcast(ph), occ.term == ph.first_term)
        verified = anchors.join(toks, "doc_id").filter(
            F.slice(F.col("toks"), F.col("pos") + 1, F.col("plen"))
            == F.col("terms")
        )
        return verified.groupBy("phrase_id", "doc_id").agg(
            F.count("*").cast("bigint").alias("n_matches")
        )

    def pre_agg(d):
        return search.phrase_match(d, phrases)

    # layout probes: array cells through the doc-keyed verify join
    def share_per_anchor(d):
        toks, ph = _toks_ph(d)
        occ = toks.select("doc_id", F.posexplode("toks").alias("pos", "term"))
        anchors = occ.join(F.broadcast(ph), occ.term == ph.first_term)
        joined = anchors.join(toks, "doc_id")
        return joined.groupBy(F.spark_partition_id().alias("p")).agg(
            F.sum(F.size("toks")).alias("cells")
        )

    def share_pre_agg(d):
        # probe the SHIPPED operator's own candidate frame, so the
        # measured layout can never drift from what search.py plans
        joined = search._phrase_candidates(
            d, phrases, "doc_id", "text", "phrase"
        )
        return joined.groupBy(F.spark_partition_id().alias("p")).agg(
            F.sum(F.size("toks") + F.size("poss")).alias("cells")
        )

    reps = int(os.environ.get("SPARK_GRAFT_SKEW_REPEATS", "2"))
    saved = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", None
    )
    out, checks = {}, {}
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false"
        )
        for label, fn, probe in (
            ("pre_agg", pre_agg, share_pre_agg),
            ("per_anchor", per_anchor, share_per_anchor),
        ):
            walls = []
            for _ in range(reps):
                t0 = time.time()
                row = fn(docs).agg(
                    F.count("*").alias("n"),
                    F.sum("n_matches").alias("m"),
                    F.sum(F.col("doc_id") * F.col("n_matches")).alias("c"),
                ).collect()[0]
                walls.append(time.time() - t0)
            checks[label] = row.m
            parts = probe(docs).collect()
            total = sum(r["cells"] for r in parts)
            out[label] = {
                "wall_s": round(min(walls), 3),
                "all_walls_s": [round(w, 3) for w in walls],
                "join_cells": int(total),
                "join_tasks": len(parts),
                "max_task_share": round(
                    max(r["cells"] for r in parts) / total, 3
                ),
            }
        # same rows, not just the same totals
        a = pre_agg(docs)
        b = per_anchor(docs).select(*a.columns)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        docs.unpersist()
        if saved is not None:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", saved
            )
        else:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    out.update(
        metric="phrase_anchor_join_speedup",
        value=round(out["per_anchor"]["wall_s"] / out["pre_agg"]["wall_s"], 2),
        unit="x",
        n_docs=n_docs,
        mega_tokens=mega_tokens,
        matches=checks["pre_agg"],
    )
    return out


def run_pipeline_bench(sf_dir: str, scale_mult: int, body_repeat: int) -> dict:
    """End-to-end rehearsal (VERDICT r03 next-round #1): the eight-stage
    training pipeline — crawl -> tier-2 extract -> normalize -> quality
    filter -> exact dedup -> near-dup clusters -> corpus refine ->
    sequence pack -> shard sink — driven as ONE job over the padded
    corpus (sf0.1 x 200 = 1 M pages by default). Reports per-stage wall / rows in-out / JVM heap peak
    (the BENCH.md §9 table) plus the shard manifest. No gate can see
    cross-stage costs (corpus-cache pressure vs the refine shuffles,
    the CC floor composed with everything else); this run does.
    """
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.pipeline import (
        run_training_pipeline,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    spark = get_spark(app_name="bench-pipeline")
    base = pagesrc.synth_clean_pages(spark, sf_dir, body_repeat=body_repeat)
    pages = _replicate(base, ["url", "html"], scale_mult)
    seeds = _replicate(spark.sql(pagesrc.seeds_sql()), ["url"], scale_mult)
    # SPARK_GRAFT_PIPE_OPT=1 turns the three optional curation stages
    # ON (soft-404 filter, corpus-global paragraph dedup, within-doc
    # line scrub) — the twelve-stage variant whose composed cost and
    # funnel impact §9 alone could not show (VERDICT r04 #7)
    opt = os.environ.get("SPARK_GRAFT_PIPE_OPT", "") == "1"
    wd = tempfile.mkdtemp(prefix="bench_pipe_")
    try:
        t0 = time.time()
        res = run_training_pipeline(
            spark,
            pages,
            seeds,
            wd,
            drop_soft404=opt,
            para_dedup=opt,
            line_scrub=opt,
        )
        wall = time.time() - t0
        return {
            "metric": "pipeline_total_wall",
            "value": round(wall, 3),
            "unit": "sec",
            "sf": _sf_of(sf_dir),
            "scale_mult": scale_mult,
            "body_repeat": body_repeat,
            "optional_stages_on": opt,
            "stages": res.stats(),
            "manifest": sorted(
                (r.asDict() for r in res.manifest.collect()),
                key=lambda d: str(d),
            ),
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def run_incremental_bench(sf_dir: str, scale_mult: int, body_repeat: int) -> dict:
    """Incremental-recrawl rehearsal: run the full pipeline over corpus
    v1 (the prior), mutate ~10% of bodies + remove ~6% of pages
    (sources.pages.recrawl_v2), then run run_incremental_pipeline over
    v2 against the v1 work_dir. Reports both walls, both stage tables
    and the reuse fraction — the evidence that a few-percent recrawl
    delta costs delta-sized work in the per-document stages while
    producing full-run-identical shards (equivalence itself is pinned
    at test scale by tests/test_pipeline.py)."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.pipeline import (
        run_incremental_pipeline,
        run_training_pipeline,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    spark = get_spark(app_name="bench-incremental")
    base = pagesrc.synth_clean_pages(spark, sf_dir, body_repeat=body_repeat)
    pages_v1 = _replicate(base, ["url", "html"], scale_mult)
    pages_v2 = pagesrc.recrawl_v2(pages_v1)
    seeds = _replicate(spark.sql(pagesrc.seeds_sql()), ["url"], scale_mult)
    wd_v1 = tempfile.mkdtemp(prefix="bench_inc_v1_")
    wd_v2 = tempfile.mkdtemp(prefix="bench_inc_v2_")
    try:
        t0 = time.time()
        res_v1 = run_training_pipeline(spark, pages_v1, seeds, wd_v1)
        wall_v1 = time.time() - t0
        t0 = time.time()
        res_v2 = run_incremental_pipeline(
            spark, pages_v2, seeds, wd_v1, wd_v2
        )
        wall_v2 = time.time() - t0
        diff = next(
            s for s in res_v2.stages if s.name == "tier2_diff"
        ).as_dict()
        return {
            "metric": "incremental_pipeline_wall",
            "value": round(wall_v2, 3),
            "unit": "sec",
            "sf": _sf_of(sf_dir),
            "scale_mult": scale_mult,
            "full_v1_wall": round(wall_v1, 3),
            "reuse_fraction": diff["reuse_fraction"],
            "n_new_or_changed": diff["n_new_or_changed"],
            "n_removed": diff["n_removed"],
            "stages_v1": res_v1.stats(),
            "stages_v2": res_v2.stats(),
        }
    finally:
        shutil.rmtree(wd_v1, ignore_errors=True)
        shutil.rmtree(wd_v2, ignore_errors=True)


def _cluster_wave_leg(
    n_workers: int,
    cores_per_worker: int,
    pin_cpus: bool,
    driver_slice: str | None,
    zip_path: str,
    wave_repeats: int,
    warmup_waves: int,
    warmup_mult: int,
    scale_mult: int,
    body_repeat: int,
) -> list[dict]:
    """One standalone-cluster leg: stand up ``n_workers`` x
    ``cores_per_worker`` (one executor JVM per worker), run a
    --wave-series subprocess (``warmup_waves`` untimed waves of
    ``warmup_mult``, then ``wave_repeats`` timed waves of
    ``scale_mult``), tear down, return the timed-run dicts."""
    _tools = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    if _tools not in sys.path:
        sys.path.insert(0, _tools)
    from standalone_cluster import StandaloneCluster

    with StandaloneCluster(
        n_workers=n_workers,
        cores_per_worker=cores_per_worker,
        pin_cpus=pin_cpus,
    ) as cl:
        env = dict(
            os.environ,
            SPARK_GRAFT_MASTER=cl.master_url,
            SPARK_GRAFT_EXEC_CORES=str(cores_per_worker),
            # 6g OOMed ("GC overhead limit exceeded") partway through
            # repeated 1M-page waves; 12g holds them comfortably and
            # 4 workers x (12g heap + 12g direct worst-case) still
            # fits the 125 GB box
            SPARK_GRAFT_EXEC_MEM=env_default("SPARK_GRAFT_EXEC_MEM", "12g"),
            SPARK_GRAFT_MAX_CORES=str(n_workers * cores_per_worker),
            SPARK_GRAFT_PYFILES=zip_path,
            SPARK_GRAFT_SCALE_MULT=str(scale_mult),
            SPARK_GRAFT_BODY_REPEAT=str(body_repeat),
            SPARK_ARROW_BATCH=env_default("SPARK_ARROW_BATCH", "2000"),
            # driver plans + collects small metric rows only; keep it
            # lean so executor heaps own the box's memory
            SPARK_DRIVER_MEM=env_default("SPARK_DRIVER_MEM", "4g"),
        )
        env["SPARK_GRAFT_WAVE_REPEATS"] = str(wave_repeats)
        env["SPARK_GRAFT_WARMUP_WAVES"] = str(warmup_waves)
        env["SPARK_GRAFT_WARMUP_MULT"] = str(warmup_mult)
        drv_pin = ["taskset", "-c", driver_slice] if driver_slice else []
        p = subprocess.run(
            drv_pin + [sys.executable, __file__, "--wave-series"],
            env=env,
            capture_output=True,
            text=True,
        )
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-8000:])
            raise RuntimeError(
                f"wave-series failed at n_workers={n_workers} "
                f"(rc={p.returncode}); stderr tail above"
            )
        return json.loads(p.stdout.strip().splitlines()[-1])


def run_scaling_final(sf_dir: str) -> dict:
    """The round-5 scaling protocol (VERDICT r04 next-round #2):
    process-isolated 1 vs 4 executor JVMs x 4 cores as in
    --scaling-cluster, but

    * INTERLEAVED — K rounds, each standing up the 1-worker leg then
      the 4-worker leg back-to-back, so slow box drift (page cache,
      thermal, background load) hits both sides of every ratio;
    * WARM-UP-AWARE — the short 4x4 waves are preceded by FULL-size
      untimed warm-up waves (the §12a spread was the timed 4x4 wave
      sampling the executor JIT/GC ramp; the stable 1x4 leg keeps the
      cheap 10x-smaller warm-up);
    * MEDIAN-reported — the headline efficiency is
      median(hi)/median(lo)/4 across the K rounds; best-of is reported
      alongside as the roofline claim, never as THE number.

    ~10-13 min per round at mult=100 on this box; K=5 by default.
    """
    _tools = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    if _tools not in sys.path:
        sys.path.insert(0, _tools)
    import statistics
    import tempfile

    import make_pyfiles

    rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "5"))
    scale_mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "100"))
    body_repeat = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "50"))
    cores_per_worker = int(os.environ.get("SPARK_GRAFT_CLUSTER_CORES", "4"))
    workers = [
        int(w)
        for w in os.environ.get("SPARK_GRAFT_CLUSTER_WORKERS", "1,4").split(",")
    ]
    if len(workers) != 2:
        raise ValueError(
            "--scaling-final compares exactly TWO cluster sizes; set "
            "SPARK_GRAFT_CLUSTER_WORKERS=lo,hi (got "
            f"{os.environ.get('SPARK_GRAFT_CLUSTER_WORKERS')!r}; the "
            "N-value form is --scaling-cluster's)"
        )
    w_lo, w_hi = workers
    if not w_lo < w_hi:
        raise ValueError(
            "--scaling-final needs SPARK_GRAFT_CLUSTER_WORKERS=lo,hi with "
            f"lo < hi (got {w_lo},{w_hi}): the efficiency ratio and the "
            "pinned driver slice both assume the second size is larger"
        )
    full_warm_hi = int(os.environ.get("SPARK_GRAFT_WARMUP_WAVES", "2"))
    pin_cpus = os.environ.get("SPARK_GRAFT_PIN_CPUS", "") == "1"
    tmp = tempfile.mkdtemp(prefix="scaling-final-")
    zip_path = make_pyfiles.build(os.path.join(tmp, "engine.zip"))

    n_cpus = os.cpu_count() or 32
    driver_slice = None
    if pin_cpus:
        lo = w_hi * cores_per_worker
        hi = min(n_cpus, lo + 8) - 1
        if hi < lo:
            raise RuntimeError("not enough CPUs to pin a driver slice")
        driver_slice = f"{lo}-{hi}"

    tps = {w_lo: [], w_hi: []}
    rounds_out = []
    for k in range(rounds):
        row = {"round": k}
        for n_workers in (w_lo, w_hi):
            is_hi = n_workers == w_hi
            runs = _cluster_wave_leg(
                n_workers=n_workers,
                cores_per_worker=cores_per_worker,
                pin_cpus=pin_cpus,
                driver_slice=driver_slice,
                zip_path=zip_path,
                wave_repeats=1,
                # full-size warm-up for the short-wave hi leg (JIT/GC
                # ramp); the long stable lo leg warms in its first
                # minutes anyway — 10x-smaller suffices
                warmup_waves=full_warm_hi if is_hi else 1,
                warmup_mult=scale_mult if is_hi else max(1, scale_mult // 10),
                scale_mult=scale_mult,
                body_repeat=body_repeat,
            )
            tp = runs[-1]["pages_per_sec"]
            tps[n_workers].append(tp)
            row[f"tp_{n_workers}w"] = tp
        row["efficiency"] = round(
            (row[f"tp_{w_hi}w"] / row[f"tp_{w_lo}w"]) / (w_hi / w_lo), 3
        )
        rounds_out.append(row)

    med_lo = statistics.median(tps[w_lo])
    med_hi = statistics.median(tps[w_hi])
    eff_med = (med_hi / med_lo) / (w_hi / w_lo)
    eff_best = (max(tps[w_hi]) / min(tps[w_lo])) / (w_hi / w_lo)
    c = cores_per_worker
    return {
        "metric": f"scaling_efficiency_median_{w_lo}x{c}_to_{w_hi}x{c}_executors",
        "value": round(eff_med, 3),
        "unit": "ratio",
        "protocol": (
            f"interleaved, K={rounds} rounds; per round: {w_lo}-worker leg "
            f"(1 warm-up wave at mult/10) then {w_hi}-worker leg "
            f"({full_warm_hi} FULL-size warm-up waves), 1 timed wave each; "
            "headline = median(hi)/median(lo)/4, best-of = roofline only"
        ),
        "sf": _sf_of(sf_dir),
        "scale_mult": scale_mult,
        "body_repeat": body_repeat,
        "pin_cpus": pin_cpus,
        "driver_cpu_slice": driver_slice,
        f"median_tp_{w_lo}w": med_lo,
        f"median_tp_{w_hi}w": med_hi,
        f"all_tp_{w_lo}w": tps[w_lo],
        f"all_tp_{w_hi}w": tps[w_hi],
        "efficiency_median": round(eff_med, 3),
        "efficiency_best_over_worst": round(eff_best, 3),
        "efficiency_per_round": [r["efficiency"] for r in rounds_out],
        "rounds": rounds_out,
    }


def run_scaling_cluster(sf_dir: str) -> dict:
    """North_rule scaling evidence, process-isolated: the same wave job
    on a localhost Spark STANDALONE cluster at 1 worker (N=4 cores)
    vs 4 workers (4N=16 cores), one executor JVM per worker.

    Unlike ``--scaling`` (threads inside one shared JVM), each executor
    here has its own heap, GC, direct-memory arena and python-worker
    pool — the process topology of a real 4-node cluster. What remains
    shared is only the box itself (memory bus, disk, 16 physical
    cores), whose ceiling is measured separately (BENCH.md §3).
    """
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    import make_pyfiles
    from standalone_cluster import StandaloneCluster

    import tempfile

    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
    scale_mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "100"))
    body_repeat = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "50"))
    worker_counts = tuple(
        int(w)
        for w in os.environ.get("SPARK_GRAFT_CLUSTER_WORKERS", "1,4").split(",")
    )
    # 4 = the r1/r2-protocol shape (4 -> 16 cores). 2 measures N -> 4N
    # BELOW the box's bus-saturation point (2 -> 8 cores): the regime a
    # real multi-node cluster lives in, where each node brings its own
    # memory bus.
    cores_per_worker = int(os.environ.get("SPARK_GRAFT_CLUSTER_CORES", "4"))
    # CPU-fair mode (SPARK_GRAFT_PIN_CPUS=1): taskset every worker onto
    # its own identical vCPU slice and the driver onto a FIXED separate
    # slice used in both legs — on one box an unpinned 1-worker run
    # free-rides on ~30 idle vCPUs (GC/IO/python workers), inflating
    # the small-N denominator in a way no real per-node cluster
    # reproduces. Requires max(workers)*cores + driver slice <= nproc.
    pin_cpus = os.environ.get("SPARK_GRAFT_PIN_CPUS", "") == "1"
    tmp = tempfile.mkdtemp(prefix="scaling-cluster-")
    zip_path = make_pyfiles.build(os.path.join(tmp, "engine.zip"))

    n_cpus = os.cpu_count() or 32
    driver_slice = None
    if pin_cpus:
        lo = max(worker_counts) * cores_per_worker
        hi = min(n_cpus, lo + 8) - 1
        if hi < lo:
            raise RuntimeError("not enough CPUs to pin a driver slice")
        driver_slice = f"{lo}-{hi}"

    out = {}
    for n_workers in worker_counts:
        runs = _cluster_wave_leg(
            n_workers=n_workers,
            cores_per_worker=cores_per_worker,
            pin_cpus=pin_cpus,
            driver_slice=driver_slice,
            zip_path=zip_path,
            wave_repeats=repeats,
            warmup_waves=1,
            warmup_mult=max(1, scale_mult // 10),
            scale_mult=scale_mult,
            body_repeat=body_repeat,
        )
        best = max(runs, key=lambda r: r["pages_per_sec"])
        best["all_runs_pages_per_sec"] = [r["pages_per_sec"] for r in runs]
        out[n_workers] = best
    w_lo, w_hi = min(worker_counts), max(worker_counts)
    tp_lo, tp_hi = out[w_lo]["pages_per_sec"], out[w_hi]["pages_per_sec"]
    eff = (tp_hi / tp_lo) / (w_hi / w_lo)
    c = cores_per_worker
    res = {
        "metric": f"scaling_efficiency_{w_lo}x{c}_to_{w_hi}x{c}_executors",
        "value": round(eff, 3),
        "unit": "ratio",
        "sf": _sf_of(sf_dir),
        "scale_mult": scale_mult,
        "body_repeat": body_repeat,
        "topology": f"standalone cluster, 1 executor JVM per worker, {c} cores each",
        "pin_cpus": pin_cpus,
        "driver_cpu_slice": driver_slice,
        f"throughput_{w_lo}_worker": tp_lo,
        f"throughput_{w_hi}_workers": tp_hi,
    }
    for w in worker_counts:
        res[f"wave_{w}_workers"] = out[w]
    return res


SCALING_CORES = (4, 16)  # 16 physical cores here; 32 vCPUs are SMT —
# threads beyond 16 add ~0.7x-capacity hyperthreads, capping any
# job's measurable 8->32 efficiency at ~0.72 before the engine runs.


def run_scaling(sf_dir: str, scale_mult: int | None = None) -> dict:
    """Same job, same input, at local[N] vs local[4N] — the sandbox
    stand-in for N vs 4N executors (north_rule: efficiency >= 0.8).

    Two measurements per parallelism level:
    * wave  — one compute-bound frontier superstep (run_wave): the
      scaling-relevant number, on which efficiency is computed.
    * bfs   — the full 8-superstep BFS at the fixture size, reported
      for transparency; at sandbox sizes it is bound by per-superstep
      coordination latency (~2 s x 8), identical at every core count.
    """
    if scale_mult is None:
        scale_mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "100"))
    body_repeat = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "50"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "3"))
    out = {}
    for cpus in SCALING_CORES:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_SCALE_MULT=str(scale_mult),
            SPARK_GRAFT_BODY_REPEAT=str(body_repeat),
            # heavy-body wave: 16 concurrent 20 KB-row Arrow batches of
            # 10K records OOM an 8g heap — smaller batches + more heap
            SPARK_ARROW_BATCH=env_default("SPARK_ARROW_BATCH", "2000"),
            SPARK_DRIVER_MEM=env_default("SPARK_DRIVER_MEM", "16g"),
        )
        runs = []
        for _ in range(repeats):
            p = subprocess.run(
                [sys.executable, __file__, "--wave-only"],
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            runs.append(json.loads(p.stdout.strip().splitlines()[-1]))
        best = max(runs, key=lambda r: r["pages_per_sec"])
        best["all_runs_pages_per_sec"] = [r["pages_per_sec"] for r in runs]
        out[cpus] = best
    lo, hi = SCALING_CORES
    tp_lo, tp_hi = out[lo]["pages_per_sec"], out[hi]["pages_per_sec"]
    eff = (tp_hi / tp_lo) / (hi / lo)
    return {
        "metric": f"scaling_efficiency_{lo}_to_{hi}_cores",
        "value": round(eff, 3),
        "unit": "ratio",
        "sf": _sf_of(sf_dir),
        "scale_mult": scale_mult,
        "body_repeat": body_repeat,
        f"throughput_local{lo}": tp_lo,
        f"throughput_local{hi}": tp_hi,
        f"wave_{lo}": out[lo],
        f"wave_{hi}": out[hi],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    if "--scaling-final" in sys.argv:
        print(json.dumps(run_scaling_final(sf_dir)))
    elif "--scaling-cluster" in sys.argv:
        print(json.dumps(run_scaling_cluster(sf_dir)))
    elif "--scaling" in sys.argv:
        print(json.dumps(run_scaling(sf_dir)))
    elif "--crawl-only" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-crawl")
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "1"))
        print(json.dumps(run_crawl(spark, sf_dir, scale_mult=mult)))
    elif "--bloom" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-bloom")
        n_seen = int(os.environ.get("SPARK_GRAFT_BLOOM_SEEN", "5000000"))
        n_cand = int(os.environ.get("SPARK_GRAFT_BLOOM_CAND", "2000000"))
        print(json.dumps(run_bloom_bench(spark, n_seen, n_cand)))
    elif "--skew" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-skew")
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "4"))
        br = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "50"))
        frac = float(os.environ.get("SPARK_GRAFT_SKEW_FRAC", "0.9"))
        print(json.dumps(run_skew(spark, sf_dir, mult, br, frac)))
    elif "--pipeline" in sys.argv:
        mult = int(os.environ.get("SPARK_GRAFT_PIPE_MULT", "200"))
        # body_repeat=1: padding multiplies PAGE COUNT (the capability
        # fixture), not bodies — repeated-snippet bodies are (rightly)
        # killed wholesale by the quality filter's repetition rule,
        # which would empty the funnel after stage 4
        br = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "1"))
        print(json.dumps(run_pipeline_bench(sf_dir, mult, br)))
    elif "--incremental" in sys.argv:
        mult = int(os.environ.get("SPARK_GRAFT_PIPE_MULT", "200"))
        br = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "1"))
        print(json.dumps(run_incremental_bench(sf_dir, mult, br)))
    elif "--skew-boiler" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-skew-boiler")
        n = int(os.environ.get("SPARK_GRAFT_BOILER_DOCS", "400000"))
        frac = float(os.environ.get("SPARK_GRAFT_SKEW_FRAC", "0.9"))
        sp = int(os.environ.get("SPARK_GRAFT_BOILER_SALTS", "64"))
        print(json.dumps(run_skew_boiler(spark, n, frac, sp)))
    elif "--skew-phrase" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-skew-phrase")
        n = int(os.environ.get("SPARK_GRAFT_PHRASE_DOCS", "20000"))
        mt = int(os.environ.get("SPARK_GRAFT_PHRASE_MEGA", "160000"))
        print(json.dumps(run_skew_phrase(spark, n, mt)))
    elif "--skew-para" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-skew-para")
        n = int(os.environ.get("SPARK_GRAFT_PARA_DOCS", "400000"))
        frac = float(os.environ.get("SPARK_GRAFT_SKEW_FRAC", "0.9"))
        print(json.dumps(run_skew_para(spark, n, frac)))
    elif "--wave-only" in sys.argv:
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-wave")
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "100"))
        br = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "50"))
        print(json.dumps(run_wave(spark, sf_dir, mult, br)))
    elif "--wave-series" in sys.argv:
        # one long-lived app: an untimed small warm-up wave (JIT), then
        # N timed waves — the steady-state protocol for cluster runs,
        # where executors live for the application's whole life
        from go_crawler_20251102_011312_url_crawlerv10_twotier_spark import get_spark

        spark = get_spark(app_name="bench-wave-series")
        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "100"))
        br = int(os.environ.get("SPARK_GRAFT_BODY_REPEAT", "50"))
        reps = int(os.environ.get("SPARK_GRAFT_WAVE_REPEATS", "3"))
        # warm-up must be big enough to drive every executor's JIT
        # through the hot codegen paths (a 10x-smaller wave suffices;
        # 50x-smaller left the first timed 16-core run 2.8x slow).
        # The interleaved final protocol (--scaling-final) overrides
        # count/size: short-wave legs sample the JIT/GC ramp unless
        # warmed with FULL-size waves (BENCH.md §12a spread).
        n_warm = int(os.environ.get("SPARK_GRAFT_WARMUP_WAVES", "1"))
        warm_mult = int(
            os.environ.get("SPARK_GRAFT_WARMUP_MULT", str(max(1, mult // 10)))
        )
        for _ in range(n_warm):
            run_wave(spark, sf_dir, warm_mult, br)

        def _reap():
            # a finished wave's localCheckpoint blocks are reaped by
            # ContextCleaner only after a JVM GC notices the RDD objects
            # died; back-to-back 1M-page waves otherwise stack several
            # waves of dead state into executor storage (frontier.py
            # applies the same nudge in-loop every 8 supersteps)
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()

        results = []
        for _ in range(reps):
            _reap()
            results.append(run_wave(spark, sf_dir, mult, br))
        print(json.dumps(results))
    else:
        print(json.dumps(run_bench(sf_dir)))


if __name__ == "__main__":
    main()
