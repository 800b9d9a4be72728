"""Sitemap ingestion (operators/sitemaps.py — engine-native; the
reference discovers by link-walking only)."""

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sitemaps import (
    sitemap_entries,
    sitemap_index_children,
    sitemap_seeds,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans import (
    frontier as fr,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
    CrawlConfig,
    crawl,
    resume,
)

URLSET = """<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> https://a.example/p1 </loc>
    <lastmod>2026-03-01</lastmod>
  </url>
  <url><loc>https://a.example/p2</loc></url>
</urlset>
"""

INDEX = """<sitemapindex>
  <sitemap><loc>https://a.example/parts/x.xml</loc></sitemap>
</sitemapindex>
"""

CHILD = "<urlset><url><loc>https://a.example/p3</loc><lastmod>2026-04-01</lastmod></url></urlset>"


def _corpus(spark):
    rows = [
        ("https://a.example/sitemap.xml", URLSET),
        ("https://a.example/sitemap-index.xml", INDEX),
        ("https://a.example/parts/x.xml", CHILD),  # name misses the pattern
        ("https://a.example/p1", "<html><body>x</body></html>"),
        # a second sitemap repeats p1 with a LATER lastmod
        (
            "https://b.example/sitemap.xml",
            "<urlset><url><loc>https://a.example/p1</loc>"
            "<lastmod>2026-05-01</lastmod></url></urlset>",
        ),
    ]
    return spark.createDataFrame(rows, "url_norm string, html string")


def test_entries_whitespace_and_optional_lastmod(spark):
    got = {
        (r.loc, r.lastmod)
        for r in sitemap_entries(_corpus(spark))
        .filter("sitemap_url = 'https://a.example/sitemap.xml'")
        .collect()
    }
    assert got == {
        ("https://a.example/p1", "2026-03-01"),
        ("https://a.example/p2", None),
    }


def test_index_children_and_unmatched_child_resolution(spark):
    kids = sitemap_index_children(_corpus(spark)).collect()
    assert [(k.index_url, k.child) for k in kids] == [
        ("https://a.example/sitemap-index.xml", "https://a.example/parts/x.xml")
    ]
    seeds = {
        (r.host, r.loc): r.lastmod for r in sitemap_seeds(_corpus(spark)).collect()
    }
    # p3 only reachable through the index (child name misses the pattern)
    assert seeds[("a.example", "https://a.example/p3")] == "2026-04-01"
    # duplicate loc across sitemaps keeps the max lastmod
    assert seeds[("b.example", "https://a.example/p1")] == "2026-05-01"
    assert seeds[("a.example", "https://a.example/p1")] == "2026-03-01"
    assert len(seeds) == 4  # p1 (a+b), p2, p3


def test_crawl_discovers_sitemap_urls(spark):
    """An island page listed only in a sitemap (no inlinks) is crawled
    with discover_sitemaps=True and missed without it."""
    rows = [
        (
            "https://s.example/sitemap.xml",
            "<urlset><url><loc>https://s.example/island</loc></url></urlset>",
        ),
        ("https://s.example/", '<html><body><a href="/linked">a</a></body></html>'),
        ("https://s.example/linked", "<html><body>x</body></html>"),
        ("https://s.example/island", '<html><body><a href="/cove">y</a></body></html>'),
        ("https://s.example/cove", "<html><body>z</body></html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    seeds = spark.createDataFrame([("https://s.example/", 0)], "url string, depth int")

    plain = {r.url_norm for r in crawl(spark, pages, seeds, CrawlConfig()).seen.collect()}
    assert "https://s.example/island" not in plain

    res = crawl(spark, pages, seeds, CrawlConfig(discover_sitemaps=True))
    seen = {r.url_norm: r.depth for r in res.seen.select("url_norm", "depth").collect()}
    assert seen["https://s.example/island"] == 0  # seeded, not walked
    assert "https://s.example/cove" in seen  # BFS continues past it
    assert "https://s.example/linked" in seen


def test_resume_takes_the_committed_frontier(spark, monkeypatch, tmp_path):
    """A resume enters the loop with the committed frontier as it is:
    the sitemap's URLs are seeds of the fresh crawl only. Re-merging
    them at depth 0 would re-schedule the already-crawled island and,
    at one page per host and superstep, push the rest of the crawl one
    superstep later. crawl(2) + resume equals the uninterrupted crawl
    row for row, and the page robots.txt disallows stays out of both.
    seen's first state is the fresh crawl's frontier cut (no seen0
    cut of its own); a resume cuts the committed seen set."""
    rows = [
        ("https://s.example/robots.txt", "User-agent: *\nDisallow: /private/\n"),
        (
            "https://s.example/sitemap.xml",
            "<urlset><url><loc>https://s.example/island</loc></url></urlset>",
        ),
        (
            "https://s.example/",
            '<html><body><a href="/l1">a</a><a href="/private/x">p</a></body></html>',
        ),
        ("https://s.example/l1", '<html><body><a href="/l2">b</a></body></html>'),
        ("https://s.example/l2", '<html><body><a href="/l3">c</a></body></html>'),
        ("https://s.example/l3", "<html><body>end</body></html>"),
        ("https://s.example/island", '<html><body><a href="/cove">y</a></body></html>'),
        ("https://s.example/cove", "<html><body>z</body></html>"),
        ("https://s.example/private/x", "<html><body>secret</body></html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html string")
    seeds = spark.createDataFrame([("https://s.example/", 0)], "url string, depth int")
    cfg = {"discover_sitemaps": True, "respect_robots": True, "budget_per_host": 1}

    names = []
    cut = fr._cut

    def recording_cut(df, name, *args):
        names.append(name)
        return cut(df, name, *args)

    monkeypatch.setattr(fr, "_cut", recording_cut)

    def seen_rows(res):
        cols = ("url_norm", "url", "host", "depth", "iter")
        return sorted(tuple(r) for r in res.seen.select(*cols).collect())

    full_run = crawl(
        spark, pages, seeds,
        CrawlConfig(**cfg, max_iterations=8, checkpoint_dir=str(tmp_path / "full")),
    )
    assert "seen0" not in names
    part = str(tmp_path / "part")
    crawl(spark, pages, seeds, CrawlConfig(**cfg, max_iterations=2, checkpoint_dir=part))
    names.clear()
    res = resume(spark, pages, CrawlConfig(**cfg, max_iterations=8, checkpoint_dir=part))
    assert names.count("seen0") == 1
    got = seen_rows(res)
    want = seen_rows(full_run)
    assert "https://s.example/l3" in {r[0] for r in want}
    assert "https://s.example/private/x" not in {r[0] for r in want + got}
    assert res.iterations == full_run.iterations
    assert got == want
