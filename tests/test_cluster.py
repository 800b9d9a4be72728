"""Multi-executor standalone-cluster proof (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Stands up a REAL localhost standalone cluster (tools/
standalone_cluster.py: 1 master + 2 worker JVMs, one executor each) and
spark-submits job.py against it from outside the repo, all imports from
the --py-files zip. Every stage — scan, Arrow UDF extract, shuffles,
broadcast of the frontier — therefore crosses process boundaries
exactly as on a multi-node cluster. The crawl result must equal the
in-process library crawl row-for-row.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = "/root/testdata/sf0.001"
SEED = "https://host0.example/page/0"
MAX_ITER = 3


def _spark_submit() -> str | None:
    from shutil import which

    return which("spark-submit")


@pytest.mark.skipif(_spark_submit() is None, reason="spark-submit not on PATH")
def test_spark_submit_on_standalone_cluster(spark, tmp_path):
    sys.path.insert(0, REPO)
    from tools.make_pyfiles import build
    from tools.standalone_cluster import StandaloneCluster

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        CrawlConfig,
        crawl,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    pages = pagesrc.synth_clean_pages(spark, SF_SMALL)
    pages_path = str(tmp_path / "pages.parquet")
    pages.write.parquet(pages_path)

    zip_path = build(str(tmp_path / "engine.zip"))
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # imports must come from --py-files only
    with StandaloneCluster(n_workers=2) as cl:
        proc = subprocess.run(
            [
                _spark_submit(),
                "--master", cl.master_url,
                "--conf", "spark.executor.cores=2",
                "--conf", "spark.executor.memory=2g",
                "--conf", "spark.driver.memory=2g",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--conf", f"spark.pyspark.python={sys.executable}",
                "--py-files", zip_path,
                os.path.join(
                    REPO,
                    "go_crawler_20251102_011312_url_crawlerv10_twotier_spark",
                    "job.py",
                ),
                "--pages", pages_path,
                "--seed", SEED,
                "--max-iterations", str(MAX_ITER),
                "--output", out_dir,
            ],
            cwd=str(tmp_path),  # NOT the repo — no accidental source imports
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"

    summary = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            summary = json.loads(line)
    assert summary is not None, proc.stdout[-2000:]
    assert summary["seen"] > 1

    seeds = spark.createDataFrame([(SEED, 0)], "url string, depth int")
    ref = crawl(spark, pages, seeds, CrawlConfig(max_iterations=MAX_ITER))
    got = spark.read.parquet(f"{out_dir}/seen").select("url_norm", "depth")
    want = ref.seen.select("url_norm", "depth")
    assert got.count() == summary["seen"]
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
