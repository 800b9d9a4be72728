"""Per-host budget scheduling: exactness of the salted two-phase
top-K vs the naive window, and ordering semantics."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.politeness import (
    priority_order,
    schedule,
    tag_schedule,
)


def _frontier(spark, n=200, hosts=3):
    rows = [
        (f"https://h{i % hosts}.x/p{i}", f"h{i % hosts}.x", i % 7, i % 11 == 0, 0)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "url_norm string, host string, depth int, priority boolean, retry int"
    )


def test_budget_counts(spark):
    f = _frontier(spark)
    sched, deferred = schedule(f, budget_per_host=5)
    per_host = {r.host: r["cnt"] for r in sched.groupBy("host").agg(F.count("*").alias("cnt")).collect()}
    assert all(v == 5 for v in per_host.values())
    assert sched.count() + deferred.count() == f.count()
    # scheduled ∩ deferred = ∅
    assert sched.join(deferred, "url_norm", "inner").count() == 0


@pytest.mark.parametrize("case", ["plain", "host_budgets", "global_ranks"])
def test_schedule_partitions_input_in_its_column_order(spark, case):
    """scheduled and deferred are the two filters of tag_schedule's
    frame: both keep the input's column order, their counts add up to
    the input's, and they share no row."""
    f = _frontier(spark, n=200, hosts=4)
    kwargs = {
        "plain": {"budget_per_host": 5},
        "host_budgets": {
            "budget_per_host": 5,
            "host_budgets": spark.createDataFrame(
                [("h0.x", 2), ("h1.x", 9)], "host string, budget int"
            ),
        },
        "global_ranks": {
            "budget_per_host": 5,
            "global_budget": 8,
            "host_ranks": _ranks(spark, hosts=4),
        },
    }[case]
    assert tag_schedule(f, **kwargs).columns == [*f.columns, "scheduled"]
    sched, deferred = schedule(f, **kwargs)
    assert sched.columns == deferred.columns == f.columns
    n_sched, n_deferred = sched.count(), deferred.count()
    assert n_sched > 0 and n_deferred > 0
    assert n_sched + n_deferred == f.count()
    assert sched.join(deferred, "url_norm", "inner").count() == 0


def test_salted_topk_equals_naive_window(spark):
    f = _frontier(spark, n=500, hosts=2)  # skewed: 250/host
    sched, _ = schedule(f, budget_per_host=17, n_salts=8)
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("depth").asc(), F.col("url_norm").asc()
    )
    naive = (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 17)
        .drop("rn")
    )
    got = {tuple(r) for r in sched.collect()}
    want = {tuple(r) for r in naive.collect()}
    assert got == want


def test_priority_first(spark):
    f = _frontier(spark)
    sched, _ = schedule(f, budget_per_host=3)
    # every scheduled slot must be filled by priority rows before
    # non-priority ones of the same host (priority DESC first)
    rows = sched.collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    full = {r.url_norm: r for r in f.collect()}
    for host, scheduled_rows in by_host.items():
        host_all = [r for r in full.values() if r.host == host]
        n_prio = sum(r.priority for r in host_all)
        got_prio = sum(r.priority for r in scheduled_rows)
        assert got_prio == min(n_prio, 3)


def test_host_budgets_override_default(spark):
    f = _frontier(spark, n=200, hosts=4)  # 50 urls/host
    budgets = spark.createDataFrame(
        [("h0.x", 2), ("h1.x", 9)], "host string, budget int"
    )
    sched, deferred = schedule(f, budget_per_host=5, host_budgets=budgets)
    per_host = {
        r.host: r.cnt
        for r in sched.groupBy("host").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_host == {"h0.x": 2, "h1.x": 9, "h2.x": 5, "h3.x": 5}
    assert sched.count() + deferred.count() == f.count()
    assert sched.join(deferred, "url_norm", "inner").count() == 0
    # the cut picks each host's window-top rows, same order as the
    # scalar-budget path
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("depth").asc(), F.col("url_norm").asc()
    )
    b = {"h0.x": 2, "h1.x": 9, "h2.x": 5, "h3.x": 5}
    naive = (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.udf(lambda h: b[h], "int")("host"))
        .drop("rn")
    )
    assert {r.url_norm for r in sched.collect()} == {
        r.url_norm for r in naive.collect()
    }


def test_host_budgets_without_default_leaves_others_unbounded(spark):
    f = _frontier(spark, n=120, hosts=3)  # 40 urls/host
    budgets = spark.createDataFrame([("h1.x", 3)], "host string, budget int")
    sched, deferred = schedule(f, budget_per_host=None, host_budgets=budgets)
    per_host = {
        r.host: r.cnt
        for r in sched.groupBy("host").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_host == {"h0.x": 40, "h1.x": 3, "h2.x": 40}
    assert deferred.count() == 37


def test_priority_order_sorts_within_partitions(spark):
    f = _frontier(spark, n=50, hosts=2)
    out = priority_order(f)
    pdf = out.withColumn("pid", F.spark_partition_id()).toPandas()
    for _, grp in pdf.groupby("pid"):
        keys = [(-int(p), d, u) for p, d, u in zip(grp.priority, grp.depth, grp.url_norm)]
        assert keys == sorted(keys)


def _ranks(spark, hosts=3):
    rows = [(f"h{i}.x", float((hosts - i) * 10)) for i in range(hosts)]
    return spark.createDataFrame(rows, "host string, host_rank double")


def test_global_budget_trims_by_host_rank(spark):
    f = _frontier(spark, n=200, hosts=3)
    sched, deferred = schedule(
        f, budget_per_host=5, host_ranks=_ranks(spark), global_budget=8
    )
    rows = sched.collect()
    assert len(rows) == 8
    assert sched.count() + deferred.count() == f.count()
    # global order: priority=True rows first (there are <8 of them in
    # the per-host cut), then rank-descending hosts (h0 > h1 > h2)
    non_prio = [r for r in rows if not r.priority]
    hosts = [r.host for r in non_prio]
    assert hosts == sorted(hosts)  # h0 before h1 before h2


def test_global_budget_without_ranks_orders_by_depth(spark):
    f = _frontier(spark, n=200, hosts=3)
    sched, _ = schedule(f, budget_per_host=None, global_budget=10)
    rows = sched.collect()
    assert len(rows) == 10
    # equals the naive global window on (priority DESC, depth, url_norm)
    w_rows = (
        f.orderBy(F.col("priority").desc(), F.col("depth"), F.col("url_norm"))
        .limit(10)
        .collect()
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in w_rows}


def test_global_budget_crawl_reaches_same_urls(spark):
    """A globally-budgeted crawl defers, never drops: same final seen
    set as the unbudgeted crawl, just more iterations."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
        CrawlConfig,
        crawl,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        pages as pagesrc,
    )

    pages = pagesrc.synth_clean_pages(spark, "/root/testdata/sf0.001")
    seeds = spark.sql(pagesrc.seeds_sql())
    free = crawl(spark, pages, seeds, CrawlConfig())
    capped = crawl(
        spark, pages, seeds, CrawlConfig(global_budget=25, max_iterations=100)
    )
    assert capped.iterations > free.iterations
    assert all(m["scheduled"] <= 25 for m in capped.metrics)
    a = {r.url_norm for r in free.seen.select("url_norm").collect()}
    b = {r.url_norm for r in capped.seen.select("url_norm").collect()}
    assert a == b


def test_host_inlink_ranks_counts(spark):
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        host_inlink_ranks,
    )

    rows = [
        ("https://a.x/", '<a href="https://b.x/1"></a><a href="https://b.x/2"></a>'),
        ("https://b.x/", '<a href="https://a.x/1"></a><a href="#skip"></a>      '),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    got = {r.host: r.host_rank for r in host_inlink_ranks(pages).collect()}
    assert got == {"b.x": 2.0, "a.x": 1.0}


def test_recrawl_change_rates(spark):
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        recrawl_change_rates,
    )

    rows = [
        # u1: a -> a -> b -> b -> a : 2 changes over 4 steps
        ("u1", "2025-01-01 00:00:01", "a"),
        ("u1", "2025-01-01 00:00:02", "a"),
        ("u1", "2025-01-01 00:00:03", "b"),
        ("u1", "2025-01-01 00:00:04", "b"),
        ("u1", "2025-01-01 00:00:05", "a"),
        # u2: single version
        ("u2", "2025-01-01 00:00:01", "x"),
    ]
    df = spark.createDataFrame(
        rows, "url_norm string, ts string, content_md5 string"
    ).selectExpr("url_norm", "to_timestamp(ts) AS warc_ts", "content_md5")
    got = {
        r.url_norm: (r.n_versions, r.n_changes, r.change_rate)
        for r in recrawl_change_rates(df).collect()
    }
    assert got == {"u1": (5, 2, 0.5), "u2": (1, 0, 0.0)}


def test_recrawl_diff_classes(spark):
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        recrawl_diff,
    )

    prior = spark.createDataFrame(
        [("u1", "a"), ("u2", "b"), ("u3", "c")],
        "url_norm string, content_md5 string",
    )
    cur = spark.createDataFrame(
        [("u1", "a"), ("u2", "B"), ("u4", "d")],
        "url_norm string, content_md5 string",
    )
    got = {r.url_norm: r.change for r in recrawl_diff(prior, cur).collect()}
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "removed",
        "u4": "new",
    }


def test_schedule_by_domain_shares_one_budget(spark):
    """Ten vanity subdomains of one registered domain get ONE shared
    budget (the per-host bypass closed); an unrelated host keeps its
    own. Host column survives untouched."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.politeness import (
        schedule_by_domain,
    )

    rows = [(f"s{i}.farm.co.uk", f"https://s{i}.farm.co.uk/", 1) for i in range(10)]
    rows += [("other.com", "https://other.com/a", 0), ("other.com", "https://other.com/b", 2)]
    f = spark.createDataFrame(rows, "host string, url_norm string, depth int")
    sched, defer = schedule_by_domain(f, budget_per_domain=2)
    got = sorted((r.host, r.url_norm) for r in sched.collect())
    # farm family: depth ties broken by url_norm ASC -> s0, s1
    assert [h for h, _ in got if h.endswith("co.uk")] == [
        "s0.farm.co.uk", "s1.farm.co.uk"
    ]
    assert [h for h, _ in got if h == "other.com"] == ["other.com", "other.com"]
    assert defer.count() == 8
    assert set(sched.columns) >= {"host", "url_norm", "depth"}


def test_host_quality_ranks_prioritize_fluent_hosts(spark):
    """The quality feedback loop: the host serving fluent text wins
    the global trim over the template host, under equal depths."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.textstats import (
        host_quality_ranks,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.politeness import (
        schedule,
    )

    fluent = (
        "the quick brown fox jumps over the lazy dog, and then the "
        "small cat walks by the old house near the river with a calm mood."
    )
    docs = spark.createDataFrame(
        [(0, fluent, "good.example"), (1, fluent, "good.example"),
         (2, "zz", "junk.example"), (3, "zz", "junk.example")],
        "doc_id bigint, text string, source string",
    )
    ranks = host_quality_ranks(docs)
    got = {r.host: r.host_rank for r in ranks.collect()}
    assert got["good.example"] > got["junk.example"]

    frontier = spark.createDataFrame(
        [("good.example", "https://good.example/a", 1),
         ("junk.example", "https://junk.example/a", 1)],
        "host string, url_norm string, depth int",
    )
    sched, _ = schedule(frontier, budget_per_host=5, host_ranks=ranks, global_budget=1)
    assert [r.host for r in sched.collect()] == ["good.example"]


def test_dispatch_timeline_slots_and_delays(spark):
    """Slots are per-host 0-based in (priority DESC, depth, url) order;
    fetch times step by the host's delay, default for unknown hosts."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.politeness import (
        dispatch_timeline,
    )

    frontier = spark.createDataFrame(
        [
            ("https://a.x/1", "a.x", 2, False),
            ("https://a.x/2", "a.x", 1, False),
            ("https://a.x/3", "a.x", 3, True),  # priority wins slot 0
            ("https://b.x/1", "b.x", 0, False),
            ("https://b.x/2", "b.x", 0, False),
        ],
        "url_norm string, host string, depth int, priority boolean",
    )
    delays = spark.createDataFrame([("a.x", 2.5)], "host string, crawl_delay double")
    out = {
        r["url_norm"]: (r["slot"], r["fetch_at_ms"])
        for r in dispatch_timeline(frontier, delays, default_delay_ms=300).collect()
    }
    assert out["https://a.x/3"] == (0, 0)  # priority first despite depth 3
    assert out["https://a.x/2"] == (1, 2500)
    assert out["https://a.x/1"] == (2, 5000)
    assert out["https://b.x/1"] == (0, 0)  # default 300 ms for b.x
    assert out["https://b.x/2"] == (1, 300)
