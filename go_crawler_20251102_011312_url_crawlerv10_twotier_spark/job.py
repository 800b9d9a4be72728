"""spark-submit entry point (north_rule: ships as spark-submit --py-files).

Packaging:
    cd /root/repo
    zip -r engine.zip go_crawler_20251102_011312_url_crawlerv10_twotier_spark
    spark-submit --py-files engine.zip \
        go_crawler_20251102_011312_url_crawlerv10_twotier_spark/job.py \
        --pages /path/to/pages.parquet \
        --seed https://example.com/ \
        --checkpoint-dir /path/to/snapshots \
        --budget-per-host 100 --max-depth 13

On a cluster the session comes from spark-submit's conf (master,
executors, shuffle partitions); ``--resume`` continues from the latest
committed snapshot in --checkpoint-dir. The pages input is any table
with (url, html) columns — parquet path or an Iceberg/catalog table
name via --pages-table.

Replaces the reference's main() wiring (main.go:18-121): NIC detection,
worker pools, fd limits and GC tuning (steps 1-3, 5-7 there) are
Spark's problem; what remains is exactly this driver loop.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="two-tier frontier crawl over a pages table")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet path of the pages table (url, html, ...)")
    src.add_argument("--pages-table", help="catalog table name (e.g. Iceberg) instead of a path")
    p.add_argument("--seed", action="append", default=[], help="seed URL (repeatable)")
    p.add_argument("--seeds-parquet", help="parquet of (url, depth) seed rows")
    p.add_argument("--max-depth", type=int, default=13)  # config/config.go:7
    p.add_argument("--max-iterations", type=int, default=100)
    p.add_argument("--budget-per-host", type=int, default=None)
    p.add_argument("--global-budget", type=int, default=None,
                   help="cap URLs per iteration (top-N by priority/host-rank/depth)")
    p.add_argument("--host-ranks-parquet", default=None,
                   help="(host, host_rank double) table for rank-aware scheduling")
    p.add_argument("--respect-robots", action="store_true",
                   help="enforce robots.txt rules found in the corpus")
    p.add_argument("--use-bloom", action="store_true",
                   help="route the seen probe through the sharded-Bloom prefilter")
    p.add_argument("--politeness-salts", type=int, default=16)
    p.add_argument("--corpus-pre-keyed", action="store_true",
                   help="pages table is already (url_norm, html) — normalized,"
                   " body-capped, unique (e.g. a bucketed corpus written by"
                   " sources.bucketed.write_bucketed_corpus); joins on the"
                   " stored column so a bucketed scan's partitioning reaches"
                   " the fetch join (zero corpus-side exchange)")
    p.add_argument("--no-broadcast-frontier", action="store_true",
                   help="sort-merge the fetch join instead of broadcasting the"
                   " scheduled frontier (set at 10^10-scale iteration sizes)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--snapshot-keep", type=int, default=None,
                   help="retain only the last K committed snapshots"
                   " (expire_snapshots after each commit; time travel below"
                   " the moving horizon becomes unavailable)")
    p.add_argument("--resume", action="store_true", help="continue from the latest snapshot")
    p.add_argument("--output", default=None, help="write final seen/downloads parquet here")
    p.add_argument("--url-col", default="url")
    p.add_argument("--html-col", default="html")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    # absolute import: under spark-submit this file runs as __main__
    # with no package context — the engine package resolves from the
    # --py-files zip on both driver and executors
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        CrawlConfig,
        crawl,
        resume,
    )

    # under spark-submit the session is pre-configured; getOrCreate picks
    # it up, and session.py defaults only apply in bare local runs
    spark = SparkSession.builder.getOrCreate()

    if args.pages_table:
        pages = spark.read.table(args.pages_table)
    else:
        pages = spark.read.parquet(args.pages)

    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_iterations=args.max_iterations,
        budget_per_host=args.budget_per_host,
        global_budget=args.global_budget,
        politeness_salts=args.politeness_salts,
        checkpoint_dir=args.checkpoint_dir,
        snapshot_keep=args.snapshot_keep,
        respect_robots=args.respect_robots,
        use_bloom=args.use_bloom,
        corpus_pre_keyed=args.corpus_pre_keyed,
        broadcast_frontier=not args.no_broadcast_frontier,
    )
    host_ranks = (
        spark.read.parquet(args.host_ranks_parquet)
        if args.host_ranks_parquet
        else None
    )

    if args.resume:
        if not args.checkpoint_dir:
            raise SystemExit("--resume requires --checkpoint-dir")
        res = resume(spark, pages, cfg, url_col=args.url_col, html_col=args.html_col)
    else:
        if args.seeds_parquet:
            seeds = spark.read.parquet(args.seeds_parquet)
        elif args.seed:
            # scheme default https, like main.go:63-66
            rows = [
                (u if "://" in u else f"https://{u}", 0) for u in args.seed
            ]
            seeds = spark.createDataFrame(rows, "url string, depth int")
        else:
            raise SystemExit("need --seed or --seeds-parquet (or --resume)")
        res = crawl(
            spark, pages, seeds, cfg,
            url_col=args.url_col, html_col=args.html_col, host_ranks=host_ranks,
        )

    if args.output:
        res.seen.write.mode("overwrite").parquet(f"{args.output}/seen")
        res.downloads.write.mode("overwrite").parquet(f"{args.output}/downloads")

    print(
        json.dumps(
            {
                "iterations": res.iterations,
                "seen": res.seen.count(),
                "downloads": res.downloads.count(),
                "metrics": res.metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
