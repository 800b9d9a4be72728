"""Deterministic synthetic ``pages`` corpora (FIXTURES.md §1).

The synthetic corpus IS the web: the reference's HTTP fetch
(crawler/crawler_twotier.go:98) becomes a lookup join against this
table (SURVEY.md §2.1 S2). Two corpora exist:

1. **clean corpus** (``clean_pages_sql`` / ``synth_clean_pages``) —
   derived row-for-row from the driver's ``documents`` table by ONE
   shared SQL string that executes verbatim on BOTH Spark SQL and
   DuckDB. The link graph is a pure function of ``doc_id``, so the
   DuckDB oracle can recompute the BFS answer with a recursive CTE
   while the engine recovers the same edges the hard way — routing +
   byte-scan / DOM extraction + normalization. Only double-quoted
   hrefs and absolute URLs appear here (the subset where fast scan,
   DOM parse, and a regex oracle provably agree).

2. **quirks corpus** (``quirk_pages``) — a small driver-side-generated
   table exercising every reference quirk: unquoted/single-quoted
   hrefs, terminator cases (fastpath.go:54-65), '#'/javascript:/mailto:
   skips, protocol-relative and bare-relative links (the naive-concat
   P3 path, fastpath.go:122-126), fragment/query URLs, mixed-case
   URLs, ``.pdf`` document links incl. ``.PDF`` and ``.pdf?x=1``
   (P5/P6 divergence), oversized bodies (5 MB cap), and dangling
   links. Verified in pytest against the single-threaded
   reference-semantics oracle.

Link graph (clean corpus), N = row count of ``documents``:
  e1: id -> (id+1) % N                       (chain: depth structure
      beyond MaxDepth=13, so the F1 cutoff binds)
  e2: id -> (id + (id*7)%50 + 2) % N         (local expander: volume)
  e3: id -> (id*13+7) % N      when id%17=0  (long-range shortcut)
  e4: id -> 0                  when id%7=0   (nav hub: mega in-link)
Seeds: every id % 50 == 0 (multi-seed BFS; single-seed covered by the
quirks tests). Host skew: id%3==0 -> host0 (~1/3 of all pages, the
mega-domain for salting/politeness tests); else id%20.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# -- knobs shared by engine, oracle SQL and tests ---------------------------
MEGA_HOST_MOD = 3
N_HOSTS = 20
SEED_MOD = 50
PAD_SLOW_MOD = 97  # ~1% of pages padded past the 500 KB slow threshold
PAD_HUGE_MOD = 1009  # a handful padded past the 5 MB body cap
UPPER_PATH_MOD = 23  # emit 'PAGE/' (mixed case) hrefs to exercise P1
NAV_MOD = 7
E3_MOD = 17
MAX_BODY = 5 * 1024 * 1024  # crawler_twotier.go:57


def _h(col: str) -> str:
    """Host index expression for a node id column."""
    return f"(CASE WHEN ({col}) % {MEGA_HOST_MOD} = 0 THEN 0 ELSE ({col}) % {N_HOSTS} END)"


def _url(col: str, path: str = "page") -> str:
    """Canonical URL expression for a node id column."""
    return f"('https://host' || {_h(col)} || '.example/{path}/' || ({col}))"


def _href(dst: str, src: str) -> str:
    """href emitted for edge src->dst: canonical URL, but with an
    uppercased path segment when src%UPPER_PATH_MOD=0 (normalization
    coverage — P1 lowercases the whole string, utils/utils.go:14-18)."""
    return (
        f"(CASE WHEN ({src}) % {UPPER_PATH_MOD} = 0 THEN {_url(dst, 'PAGE')} "
        f"ELSE {_url(dst)} END)"
    )


def clean_pages_sql(body_repeat: int = 1, n_rows: int | None = None) -> str:
    """SELECT producing the clean pages corpus FROM ``documents``.

    Runs verbatim on Spark SQL and DuckDB (shared dialect subset:
    ||, CASE, %, substr, replace, repeat). Columns:
    (id, url, host, warc_ts, html, text, lang).

    ``n_rows``: the ``documents`` row count. When None the statement
    computes it inline (``WITH nn AS (SELECT count(*) ...)`` — the
    form the DuckDB oracle embeds). When given, it is inlined as a
    literal: on Spark the scalar-CTE form plans as a
    BroadcastNestedLoopJoin against the 1-row count (an extra scan +
    SinglePartition exchange per consumer), so ``synth_clean_pages``
    counts once driver-side and passes it here — same output, two
    fewer exchanges in every downstream plan.

    ``body_repeat`` scales the in-page content volume (real tokenizable
    words in real paragraph markup, not filler): 1 for the correctness
    fixtures; ~20-50 gives Common-Crawl-realistic multi-KB tag-dense
    bodies for throughput/scaling runs (each repetition is its own
    ``<p>`` element, so DOM work scales with the byte count — a single
    giant text node would parse in one C-level skip).
    """
    h = _h("b.id")
    url1 = _href("b.d1", "b.id")
    url2 = _href("b.d2", "b.id")
    url3 = _href("b.d3", "b.id")
    body = (
        "replace(substr(d.text, 1, 400), 'href', 'link')"
        if body_repeat <= 1
        else (
            "repeat('<p>' || replace(substr(d.text, 1, 400), 'href', 'link')"
            f" || '</p>', {body_repeat})"
        )
    )
    if n_rows is None:
        with_nn = "WITH nn AS (SELECT count(*) AS n FROM documents),"
        n = "nn.n"
        from_b = "FROM documents d, nn"
    else:
        with_nn = "WITH"
        n = str(int(n_rows))
        from_b = "FROM documents d"
    return f"""
{with_nn}
b AS (
  SELECT
    d.doc_id AS id,
    (d.doc_id + 1) % {n} AS d1,
    (d.doc_id + (d.doc_id * 7) % 50 + 2) % {n} AS d2,
    (d.doc_id * 13 + 7) % {n} AS d3,
    {body} AS body_text,
    d.text AS text,
    d.lang AS lang
  {from_b}
)
SELECT
  b.id AS id,
  {_url('b.id')} AS url,
  ('host' || {h} || '.example') AS host,
  timestamp '2025-01-01 00:00:00' + (b.id * interval '1' second) AS warc_ts,
  ('<html><head><title>Page ' || b.id || '</title>'
   || '<meta name="description" content="synthetic page ' || b.id || '">'
   || '</head><body>'
   || (CASE WHEN b.id % {NAV_MOD} = 0
        THEN ('<nav><a href="' || {_url('0')} || '">home</a></nav>') ELSE '' END)
   || '<p>' || b.body_text || ' <a href="' || {url1} || '">next</a></p>'
   || '<p><a href="' || {url2} || '">jump</a>'
   || (CASE WHEN b.id % {E3_MOD} = 0
        THEN (' <a href="' || {url3} || '">far</a>') ELSE '' END)
   || '</p>'
   || repeat('x', CASE WHEN b.id % {PAD_HUGE_MOD} = 0 THEN 5400000
                       WHEN b.id % {PAD_SLOW_MOD} = 0 THEN 532480
                       ELSE 0 END)
   || '</body></html>') AS html,
  b.text AS text,
  b.lang AS lang
FROM b
""".strip()


def edges_sql() -> str:
    """The clean-corpus link graph as (src, dst) — the oracle's view of
    what the engine must recover via extraction. DuckDB + Spark SQL.
    No WITH clause (scalar subqueries only) so it embeds directly as a
    CTE body inside larger statements (e.g. a recursive BFS)."""
    n = "(SELECT count(*) FROM documents)"
    return f"""
SELECT d.doc_id AS src, (d.doc_id + 1) % {n} AS dst FROM documents d
UNION ALL
SELECT d.doc_id, (d.doc_id + (d.doc_id * 7) % 50 + 2) % {n} FROM documents d
UNION ALL
SELECT d.doc_id, (d.doc_id * 13 + 7) % {n} FROM documents d WHERE d.doc_id % {E3_MOD} = 0
UNION ALL
SELECT d.doc_id, 0 FROM documents d WHERE d.doc_id % {NAV_MOD} = 0
""".strip()


def synth_clean_pages(
    spark: SparkSession, sf_dir: str, body_repeat: int = 1
) -> DataFrame:
    """Clean corpus as a DataFrame (lazy; html synthesized JVM-side by
    whole-stage-codegen'd string exprs — no Python in this path).

    The documents fixture is a single small parquet file = ONE input
    split, which would serialize the whole (fan-out) synthesis into a
    single task; spread it across the cluster first.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # count BEFORE the repartition node (metadata-only on parquet) and
    # inline it as a literal — the scalar-CTE form would otherwise plan
    # a BroadcastNestedLoopJoin + SinglePartition count into every
    # consumer of this corpus (tests/test_plans.py pins the absence).
    n_rows = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    docs.createOrReplaceTempView("documents")
    return spark.sql(clean_pages_sql(body_repeat, n_rows=n_rows))


def recrawl_v2(
    pages: DataFrame, changed_pct: int = 10, removed_mod: int = 17
) -> DataFrame:
    """Deterministic recrawl mutation of a pages corpus: ~changed_pct%
    of surviving pages get extra body text (changed bytes), ~1/removed_mod
    vanish (removed). No hrefs are added — only membership and body
    bytes move, which is the shape of a real refetch delta. Shared by
    the incremental-pipeline tests and the BENCH.md §10 recrawl runs."""
    from pyspark.sql import functions as F

    bucket = F.pmod(F.xxhash64("url"), F.lit(100))
    return (
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(removed_mod)) != 3)
        .withColumn(
            "html",
            F.when(
                bucket < changed_pct,
                F.concat("html", F.lit(" recrawl appended body update")),
            ).otherwise(F.col("html")),
        )
    )


def seeds_sql() -> str:
    """Seed frontier (url, depth 0) — every SEED_MOD-th node."""
    return (
        f"SELECT {_url('d.doc_id')} AS url, 0 AS depth "
        f"FROM documents d WHERE d.doc_id % {SEED_MOD} = 0"
    )


# ---------------------------------------------------------------------------
# quirks corpus — small, python-generated, full reference-quirk coverage
# ---------------------------------------------------------------------------


def quirk_pages_rows() -> list[tuple[str, str]]:
    """(url, html) rows exercising every extraction/normalization quirk.

    The pages link each other; several links dangle (no such page —
    a fetch miss, like a 404 in the reference's OnError path).
    """
    site = "https://quirk.example"
    rows: list[tuple[str, str]] = []

    rows.append(
        (
            f"{site}/",  # seed; trailing-slash base for naive concat
            """<html><head><title>Quirk Home</title></head><body>
<a href="/a">rootrel</a>
<a href='/b'>singlequote</a>
<a href=/c>unquoted-gt</a>
<a href=/d >unquoted-space</a>
<a href="//quirk.example/e">protorel</a>
<a href="#frag">fragonly</a>
<a href="#">hashonly</a>
<a href="javascript:void(0)">js</a>
<a href="mailto:x@y.z">mail</a>
<a href="rel1">bare-relative</a>
<a href="HTTPS://QUIRK.EXAMPLE/UPPER">upper</a>
<a href="/q?b=2&a=1#sec">query-frag</a>
<a href="/docs/paper.pdf">pdf1</a>
<a href="/docs/REPORT.PDF">pdf-upper</a>
<a href="/docs/file.pdf?x=1">pdf-query</a>
</body></html>""",
        )
    )
    rows.append(
        (
            f"{site}/a",  # no trailing slash base; relative link -> naive concat
            """<html><head><title>A</title>
<meta name="description" content="page a"></head><body><nav>nav here</nav>
<p>alpha text <a href="rel2">bare2</a> and <a href="/b">b</a></p>
</body></html>""",
        )
    )
    rows.append(
        (
            f"{site}/b",
            # fast-sized page: plain href soup incl. a trailing href inside
            # the final 6 bytes (never extracted — fastpath.go:41)
            '<html><body><a href="/c">c</a><p>text href=/zzz more</p>'
            '<a href="/early">e</a></body><a href="/x">',
        )
    )
    rows.append((f"{site}/c", "<html><body><p>leaf no links</p></body></html>"))
    rows.append(
        (
            f"{site}/d",
            '<html><body><a href="/research/x?id=1">dyn</a></body></html>',
        )
    )
    rows.append((f"{site}/e", '<html><body><a href="/loop"></a></body></html>'))
    rows.append((f"{site}/q", "<html><body>query target</body></html>"))
    rows.append((f"{site}/upper", "<html><body>upper target</body></html>"))
    rows.append(
        (
            f"{site}/research/x",  # slow-keyword URL (coordinator.go:55-61)
            """<html><head><title>Research Index</title></head><body>
<p>Study one: the full report is at <a href="/files/study-one.pdf">Study One (PDF)</a>
with appendices and supplementary data covering many experiments across multiple years;
this sentence pads the parent context well past the two-hundred-byte truncation point of
getContext so the ellipsis branch is exercised too.</p>
<p>short ctx <a href="/files/b.PDF">B</a></p>
<p>research page <a href="/deep/1/2/3/4">deep</a></p>
</body></html>""",
        )
    )
    # oversized page: links only in the first bytes, then >5MB padding
    rows.append(
        (
            f"{site}/huge",
            '<html><body><a href="/c">c</a>' + "x" * (5 * 1024 * 1024 + 64) + "</body></html>",
        )
    )
    # a deep chain to exercise MaxDepth=13 (config.go:7)
    for i in range(1, 20):
        rows.append(
            (
                f"{site}/chain/{i}",
                f'<html><body><a href="/chain/{i + 1}">n</a></body></html>',
            )
        )
    rows.append((f"{site}/loop", '<html><body><a href="/">back</a> <a href="/chain/1">chain</a></body></html>'))
    return rows


def quirk_pages(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(quirk_pages_rows(), "url string, html string")
