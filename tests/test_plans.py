"""Physical-plan contracts for every registered query.

BENCH.md §5 audits the expensive queries' plans by hand ("no
cartesian products", "broadcast the frontier side", "map-side partial
agg before the single exchange", "TakeOrderedAndProject, never a
global sort"). These tests make those claims regression-proof: a
refactor that silently introduces an all-to-one exchange, a
nested-loop join, or a full-width parquet scan fails CI instead of
surfacing as a 100x slowdown at real scale.

The driver-loop queries (crawl/download/stream) are excluded from the
lazy sweep — their interesting plans live inside per-superstep
iterations. The crawl loop's are audited HERE too, via
CrawlConfig.plan_hook (test_crawl_loop_plan_contracts): the hook
captures each superstep's schedule and fetch-join physical plans from
inside crawl(), where the k-th iteration's carriers (checkpointed
frontier, grown seen set) are what the planner actually sees — a
static composition check cannot reproduce that. The remaining loops
are pinned by their own tests (test_streaming, test_download_log).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry

# queries whose callables DRIVE jobs (supersteps / streaming replay)
# rather than returning one lazy plan — excluded from the lazy sweep.
DRIVER_LOOP = {
    "crawl_frontier_bfs",
    "download_state",
    "download_state_store",
    "host_pagerank",
    "stream_host_rates",
    "stream_host_budget",
    "stream_host_budget_multibatch",
    "stream_seen_dedup",
    # eager sink: writes shards + re-reads the manifest; the write-side
    # plan (one writer per stratum dir) is pinned by tests/test_shards
    "training_shards",
}


def _physical(df) -> str:
    return df._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]


@pytest.fixture(scope="module")
def plans(spark, sf_small):
    out = {}
    for name, fn in entry.queries().items():
        if name in DRIVER_LOOP:
            continue
        out[name] = _physical(fn(spark, sf_small))
    return out


def test_no_cartesian_or_nested_loop_joins(plans):
    """No query may plan a CartesianProduct or BroadcastNestedLoopJoin.

    Every self-join in the dedup/similarity family is band/bucket-keyed
    precisely so this holds; the corpus synthesis inlines its row count
    as a literal (sources/pages.py clean_pages_sql n_rows) for the same
    reason — the scalar-CTE form planned a BNLJ into every consumer.

    Exemption: a BroadcastNestedLoopJoin whose build side is a SCALAR
    aggregate (HashAggregate(keys=[]) — or SortAggregate(key=[]), the
    form a non-hashable agg like min-over-struct plans as
    (dsir_resample's top-k threshold) — under the broadcast: at most
    one row) is the scalar-subquery attach (recrawl_schedule's batch
    clock): one row shipped to every task, structurally unable to blow
    up. A plan is exempt only if EVERY BNLJ in it broadcasts a scalar.
    Row-PRESERVING wrappers (Project / codegen markers) may sit
    between the exchange and the aggregate — hll_set_overlap's
    estimate frames project the rounded estimate over the scalar agg —
    but any line that could grow rows (a join, another exchange, a
    scan, a union, a generate) breaks the exemption.
    """
    scalar_build = re.compile(
        r"BroadcastExchange IdentityBroadcastMode[^\n]*\n"
        r"(?:(?![^\n]*(?:Join|Exchange|Scan|Union|Generate|Expand))[^\n]*\n){0,4}?"
        r"[^\n]*(?:HashAggregate\(keys=\[\]|SortAggregate\(key=\[\])"
    )

    def benign(p: str) -> bool:
        n_bnlj = p.count("BroadcastNestedLoopJoin")
        return n_bnlj > 0 and n_bnlj == len(scalar_build.findall(p))

    offenders = {
        n: p for n, p in plans.items()
        if "CartesianProduct" in p
        or ("BroadcastNestedLoopJoin" in p and not benign(p))
    }
    assert not offenders, f"nested-loop plans in: {sorted(offenders)}"


def test_no_single_partition_exchange(plans):
    """No query funnels through Exchange SinglePartition.

    Global top-k must be TakeOrderedAndProject (driver-side merge of
    per-partition heaps), global trims use the salted two-phase top-K
    (operators/politeness.py) — an all-to-one exchange is the one plan
    shape that cannot survive 100 TB.

    Exemption: scalar aggregates. Catalyst's runtime Bloom-filter join
    optimization plans a scalar subquery whose final bloom_filter_agg
    sits on an Exchange SinglePartition; recrawl_schedule's batch
    clock (max ts over the table) finalizes a partial_max the same
    way; the recall gates' hits/total rows finalize a partial_count;
    unigram_commonness' corpus-token total finalizes a partial_sum
    over the already-reduced per-token count table; and
    lang_temperature's n_min finalizes a partial_min over the
    per-language count table (tens of rows). All
    move one pre-aggregated row per partition, not data rows — the
    partial→final pattern this test exists to protect.
    """
    bloom_final = re.compile(
        r"Exchange SinglePartition[^\n]*\n[^\n]*"
        r"partial_(?:bloom_filter_agg|max\(|min\(|count\(|sum\()"
    )
    offenders = {
        n for n, p in plans.items()
        if "Exchange SinglePartition" in bloom_final.sub("", p)
    }
    assert not offenders, f"all-to-one exchanges in: {sorted(offenders)}"


def test_topk_is_take_ordered_not_global_sort(plans):
    """embedding_topk: per-partition heap + driver merge, no sort shuffle."""
    assert "TakeOrderedAndProject" in plans["embedding_topk"]
    assert "Exchange rangepartitioning" not in plans["embedding_topk"]


def test_aggregations_have_map_side_partial(plans):
    """The single-shuffle aggregations combine map-side before the
    exchange (partial_* functions in the pre-shuffle HashAggregate/
    ObjectHashAggregate) — at scale this is the difference between
    shuffling rows and shuffling groups."""
    for name in ("dedup_exact", "latest_snapshot", "events_rollup"):
        assert "partial_" in plans[name], f"{name}: no map-side partial agg"


def test_fetch_join_broadcasts_frontier_not_corpus(spark, sf_small):
    """The flagship claim of the crawl loop (plans/frontier.py
    fetch_join): the per-iteration S2 lookup join broadcasts the
    FRONTIER side (BuildLeft) and only streams the cached corpus — the
    multi-MB html bodies never cross an exchange inside the loop. The
    corpus-prep shuffle inside the InMemoryRelation runs once per
    crawl and is excluded deliberately."""
    from pyspark import StorageLevel

    import go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources.pages as pagesrc
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans import (
        frontier as fr,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_small)
    corpus = fr._prepare_pages(pages, "url", "html").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        corpus.count()  # materialize, as crawl() does
        sched = fr._seed_frontier(spark.sql(pagesrc.seeds_sql()))
        fmt = (
            fr.fetch_join(sched, corpus)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        sketch = fmt.split("\n\n")[0].splitlines()
        (join_idx,) = [
            i for i, line in enumerate(sketch) if "BroadcastHashJoin" in line
        ]
        assert "BuildLeft" in sketch[join_idx], sketch[join_idx]
        # first child (':'-prefixed branch) = the broadcast frontier
        branch1 = [
            line for line in sketch[join_idx + 1 :] if line.lstrip().startswith(":")
        ]
        assert any("BroadcastExchange" in line for line in branch1)
        # second child = the corpus: from the join down to the cache
        # scan there must be NO exchange of any kind
        branch2 = [
            line
            for line in sketch[join_idx + 1 :]
            if not line.lstrip().startswith(":")
        ]
        cache_idx = next(
            i for i, line in enumerate(branch2) if "InMemoryTableScan" in line
        )
        hot_path = branch2[: cache_idx + 1]
        assert hot_path, "corpus branch not found"
        assert not any("Exchange" in line for line in hot_path), hot_path
    finally:
        corpus.unpersist()


def test_documents_scan_prunes_columns(plans):
    """Text queries read (doc_id, text), never the full 5-column row —
    at 100 TB the unread columns are most of the bytes."""
    for name in ("lang_id", "token_counts", "quality_score", "fingerprint"):
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plans[name])
        assert schemas, f"{name}: no FileScan found"
        for cols in schemas:
            assert "n_chars" not in cols and "source" not in cols, (
                f"{name}: scan reads unused columns: struct<{cols}>"
            )


def test_crawl_loop_plan_contracts(spark):
    """The BENCH.md §5 contracts, asserted on the plans the crawl loop
    ACTUALLY builds at every superstep (VERDICT r03 #5): per iteration
    k, the scheduled-politeness frame, the fetch join and the seen
    probe must plan with no CartesianProduct / BroadcastNestedLoopJoin,
    no all-to-one Exchange SinglePartition (scalar partial_*
    finalizations exempt, as in the lazy sweep); the fetch join must
    broadcast the FRONTIER side while the corpus branch reads straight
    from the cache with no exchange of any kind below the join; and
    the seen probe must broadcast seen's keys — Catalyst's estimate of
    the checkpointed seen set compounds across supersteps, so the
    planner alone plans the probe as a sort-merge join."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        CrawlConfig,
        crawl,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources.pages import (
        quirk_pages,
    )

    captured = []
    cfg = CrawlConfig(
        budget_per_host=2,
        max_iterations=6,
        plan_hook=lambda it, stage, plan: captured.append((it, stage, plan)),
    )
    pages = quirk_pages(spark)
    seeds = spark.createDataFrame(
        [("https://quirk.example/", 0)], "url string, depth int"
    )
    crawl(spark, pages, seeds, cfg)

    # the live fallback's fetch (pages reached by a URL the link index
    # cannot serve) is held to the same contract as the index join
    lives = [(it, p) for it, stage, p in captured if stage == "fetch_live"]
    assert lives, "no superstep extracted live"
    fetches = [(it, p) for it, stage, p in captured if stage == "fetch_join"]
    schedules = [(it, p) for it, stage, p in captured if stage == "schedule"]
    probes = [(it, p) for it, stage, p in captured if stage == "seen_probe"]
    assert len(fetches) >= 3, "loop did not run enough supersteps"
    assert len(schedules) >= 3
    assert len(probes) == len(fetches)

    scalar_final = re.compile(
        r"Exchange SinglePartition[^\n]*\n[^\n]*"
        r"partial_(?:bloom_filter_agg|max\(|min\(|count\(|sum\()"
    )
    for it, p in fetches + lives + schedules + probes:
        assert "CartesianProduct" not in p, f"iter {it}"
        assert "BroadcastNestedLoopJoin" not in p, f"iter {it}"
        assert "Exchange SinglePartition" not in scalar_final.sub("", p), (
            f"iter {it}: all-to-one exchange inside the loop"
        )
    for it, p in fetches + lives:
        # frontier is the build side of one BroadcastHashJoin...
        joins = [ln for ln in p.splitlines() if "BroadcastHashJoin" in ln]
        assert joins and all("BuildLeft" in ln for ln in joins), f"iter {it}"
        # ...and the corpus branch (everything after the broadcast
        # branch) reaches the cache scan without ANY exchange
        lines = p.splitlines()
        (jidx,) = [i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln]
        corpus_branch = [
            ln for ln in lines[jidx + 1 :] if not ln.lstrip().startswith(":")
        ]
        cache = next(
            i for i, ln in enumerate(corpus_branch) if "InMemoryTableScan" in ln
        )
        hot = corpus_branch[: cache + 1]
        assert not any("Exchange" in ln for ln in hot), (it, hot)
    for it, p in probes:
        assert "BroadcastHashJoin" in p, f"iter {it}"
        assert "SortMergeJoin" not in p, f"iter {it}"
