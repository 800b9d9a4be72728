"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship frontier crawl at sf0.001.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the training-data operators) — 131 entries, each
compared exactly against a DuckDB oracle. One oracle is not pure SQL:
zlib exists in no SQL engine, so compression_signal's takes its
per-text zlib byte counts from a fixture built by an independent
Python pass (tools/make_compression_fixture.py) and derives the rest
in SQL. Row-by-row map: COVERAGE.md.

Synthetic inputs are derived deterministically from the driver's
``documents``/``embeddings``/``events`` tables; where Spark and the
oracle must agree on *generated* data, ONE SQL string (shared dialect
subset) produces it on both engines — see
go_crawler_..._spark/sources/pages.py.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions import (
    textstats,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.routing import (
    route_decision_col,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import (
    canonicalize_rfc3986,
    get_extension_col,
    is_document_slow_col,
    is_document_url_col,
    normalize_url_compat,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
    cuckoo,
    dedup,
    download_log,
    fetch,
    multimodal,
    politeness,
    sampling,
    similarity,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
    PREFIX_PATTERN as _TRAP_PREFIX_PATTERN,
    SOFT404_MAX_WORDS as _TRAP_SOFT404_MAX_WORDS,
    SOFT404_PATTERN as _TRAP_SOFT404_PATTERN,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.frontier import (
    CrawlConfig,
    crawl,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import pages as pagesrc
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources.tables import load

MAX_DEPTH = 13

#: expected-output fixture for the compression_signal oracle, resolved
#: relative to this file so the gate works from any checkout path
_COMPRESSION_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "fixtures",
    "compression_expected.parquet",
)


# ---------------------------------------------------------------------------
# shared synthetic inputs (ONE SQL text, runs on Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

# URL variants exercising normalization: query, fragment, full-uppercase
URL_SYNTH_SQL = f"""
SELECT d.doc_id AS id,
  CASE WHEN d.doc_id % 4 = 0 THEN {pagesrc._url('d.doc_id')} || '?b=2&a=1'
       WHEN d.doc_id % 4 = 1 THEN {pagesrc._url('d.doc_id')} || '#frag'
       WHEN d.doc_id % 4 = 2 THEN upper({pagesrc._url('d.doc_id')})
       ELSE {pagesrc._url('d.doc_id')} END AS url
FROM documents d
""".strip()

# routing-coverage URLs: every coordinator keyword, shallow/deep paths,
# query strings, and body sizes straddling the 100 KB / 500 KB limits
ROUTE_SYNTH_SQL = """
SELECT d.doc_id AS id,
  'https://host' || (d.doc_id % 20) || '.example'
  || (CASE d.doc_id % 13
        WHEN 0 THEN '/document' WHEN 1 THEN '/paper' WHEN 2 THEN '/publication'
        WHEN 3 THEN '/research' WHEN 4 THEN '/library' WHEN 5 THEN '/sitemap'
        WHEN 6 THEN '/archive' WHEN 7 THEN '/category' WHEN 8 THEN '/tag'
        WHEN 9 THEN '/index' WHEN 10 THEN '/list' WHEN 11 THEN '/plain'
        ELSE '' END)
  || (CASE d.doc_id % 5 WHEN 0 THEN '/a/b/c' WHEN 1 THEN '' ELSE '/x' END)
  || (CASE WHEN d.doc_id % 9 = 0 THEN '?q=1' ELSE '' END) AS url,
  (d.n_chars * 997) % 800000 AS body_size
FROM documents d
""".strip()

# document-URL variants for the P5/P6 divergence
DOCURL_SYNTH_SQL = f"""
SELECT d.doc_id AS id,
  {pagesrc._url('d.doc_id')}
  || (CASE d.doc_id % 5 WHEN 0 THEN '/files/r.pdf' WHEN 1 THEN '/files/R.PDF'
        WHEN 2 THEN '/files/r.pdf?x=1' WHEN 3 THEN '/files/r.txt'
        ELSE '' END) AS url
FROM documents d
""".strip()

# redirect map: one row per doc URL, dst NULL when not a redirect.
# Precedence (top CASE arm wins): a 2-cycle pair at doc_id%97 in (5,6)
# (loop -> stuck), descending chains of length 1..14 at doc_id%53 in
# 1..14 (tops exceed the 10-hop policy -> stuck; bottoms resolve ok),
# short 1..3-hop chains at doc_id%7 in (1,2,3). Chains may hand over
# to an earlier arm mid-walk (e.g. into the 2-cycle) — deterministic,
# same CASE on both engines.
REDIRECT_SYNTH_SQL = f"""
SELECT {pagesrc._url('d.doc_id', 'r')} AS src,
  CASE WHEN d.doc_id % 97 = 5 THEN {pagesrc._url('(d.doc_id + 1)', 'r')}
       WHEN d.doc_id % 97 = 6 THEN {pagesrc._url('(d.doc_id - 1)', 'r')}
       WHEN d.doc_id % 53 BETWEEN 1 AND 14 THEN {pagesrc._url('(d.doc_id - 1)', 'r')}
       WHEN d.doc_id % 7 IN (1, 2, 3) THEN {pagesrc._url('(d.doc_id - 1)', 'r')}
       ELSE NULL END AS dst
FROM documents d
""".strip()

# soft-404 bodies: three error-page shapes, one long genuine article
# that merely QUOTES an error phrase (phrase hit, not soft404), one
# empty body, the rest real document text
SOFT404_SYNTH_SQL = """
SELECT d.doc_id AS id,
  CASE WHEN d.doc_id % 13 = 0
         THEN 'Page Not Found - the page you requested does not exist.'
       WHEN d.doc_id % 13 = 1 THEN 'HTTP Error 404 Not Found'
       WHEN d.doc_id % 13 = 2 THEN 'Sorry, this article is no longer available.'
       WHEN d.doc_id % 13 = 3
         THEN repeat('lorem ipsum dolor sit amet ', 20)
              || 'page not found in the archive index'
       WHEN d.doc_id % 13 = 4 THEN ''
       ELSE d.text END AS text
FROM documents d
""".strip()

# within-doc duplicate lines: [A, Share, B, Share, A] per doc — the
# scrub must keep [A, Share, B] in order
LINEDUP_SYNTH_SQL = """
SELECT d.doc_id,
  substr(d.text, 1, 60) || chr(10) || 'Share this article' || chr(10)
  || substr(d.text, 61, 60) || chr(10) || 'Share this article' || chr(10)
  || substr(d.text, 1, 60) AS text
FROM documents d
""".strip()

# agent-group robots: hosts h%3==0 publish a layered file ('*' blocks
# /pub, 'graft' blocks /beta, 'graftbot' blocks /gamma except
# /gamma/ok) — for agent 'graftbot' ONLY the longest-matching group
# applies, so /pub and /beta stay allowed; h%3==1 hosts publish a
# '*'-only file blocking /beta; h%3==2 hosts publish nothing
AGENT_FRONTIER_SQL = """
SELECT 'https://host' || (d.doc_id % 20) || '.example'
  || (CASE d.doc_id % 4 WHEN 0 THEN '/pub/x' WHEN 1 THEN '/gamma/x'
      WHEN 2 THEN '/gamma/ok/x' ELSE '/beta/x' END) || d.doc_id AS url_norm,
  'host' || (d.doc_id % 20) || '.example' AS host,
  (d.doc_id % 20) AS h,
  (d.doc_id % 4) AS shape
FROM documents d
""".strip()

AGENT_ROBOTS_SQL = """
SELECT 'https://host' || h || '.example/robots.txt' AS url_norm,
  CASE WHEN h % 3 = 0 THEN
    'User-agent: *' || chr(10) || 'Disallow: /pub' || chr(10) || chr(10)
    || 'User-agent: graft' || chr(10) || 'Disallow: /beta' || chr(10) || chr(10)
    || 'User-agent: graftbot' || chr(10) || 'Disallow: /gamma' || chr(10)
    || 'Allow: /gamma/ok' || chr(10)
  ELSE
    'User-agent: *' || chr(10) || 'Disallow: /beta' || chr(10)
  END AS html
FROM (SELECT DISTINCT doc_id % 20 AS h FROM documents) WHERE h % 3 <> 2
""".strip()

# redirect map for the redirect-aware CRAWL gate, on corpus page
# URLs: a 2-cycle pair at doc_id%97 in (10,11) (those link targets
# drop — net/http aborts loops) and a hop arm at doc_id%23==1 whose
# target (7*id+3) mod N can itself chain into any arm. Seeds are
# never resolved (entry points, not responses).
CRAWL_REDIRECTS_SQL = f"""
SELECT {pagesrc._url('d.doc_id')} AS src,
  CASE WHEN d.doc_id % 97 = 10 THEN {pagesrc._url('(d.doc_id + 1)')}
       WHEN d.doc_id % 97 = 11 THEN {pagesrc._url('(d.doc_id - 1)')}
       WHEN d.doc_id % 23 = 1 THEN
         {pagesrc._url('((d.doc_id * 7 + 3) % (SELECT count(*) FROM documents))')}
       ELSE NULL END AS dst
FROM documents d
""".strip()

# rel=canonical corpus: base pages (no canonical), ?utm / /amp
# variants pointing at their base, a 2-level chain (d%4==3 -> the amp
# variant of d-1 -> base), and a canonical 2-cycle pair at d%101 in
# (7,8) that must fall back to self
CANON_SYNTH_SQL = f"""
SELECT
  CASE WHEN d.doc_id % 101 IN (7, 8) THEN {pagesrc._url('d.doc_id', 'c')}
       WHEN d.doc_id % 4 = 1 THEN {pagesrc._url('d.doc_id', 'c')} || '?utm=1'
       WHEN d.doc_id % 4 = 2 THEN {pagesrc._url('d.doc_id', 'c')} || '/amp'
       ELSE {pagesrc._url('d.doc_id', 'c')} END AS url,
  CASE WHEN d.doc_id % 101 = 7 THEN
         '<html><head><link rel="canonical" href="'
         || {pagesrc._url('(d.doc_id + 1)', 'c')} || '"></head></html>'
       WHEN d.doc_id % 101 = 8 THEN
         '<html><head><link rel="canonical" href="'
         || {pagesrc._url('(d.doc_id - 1)', 'c')} || '"></head></html>'
       WHEN d.doc_id % 4 = 1 THEN
         '<html><head><link rel="canonical" href="'
         || {pagesrc._url('(d.doc_id - 1)', 'c')} || '"></head></html>'
       WHEN d.doc_id % 4 = 2 THEN
         '<html><head><link rel="canonical" href="'
         || {pagesrc._url('(d.doc_id - 2)', 'c')} || '"></head></html>'
       WHEN d.doc_id % 4 = 3 THEN
         '<html><head><link rel="canonical" href="'
         || {pagesrc._url('(d.doc_id - 1)', 'c')} || '/amp"></head></html>'
       ELSE '<html><head></head><body>page</body></html>' END AS html
FROM documents d
""".strip()

# exact-phrase queries over the documents vocabulary (2- and 3-term,
# plus one absent phrase that must return no rows)
PHRASE_QUERY_SQL = """
SELECT * FROM (VALUES
  (0, 'hash join'), (1, 'table scan'), (2, 'spark window'),
  (3, 'key order sort'), (4, 'no such phrase')
) AS p(phrase_id, phrase)
""".strip()

# v2 corpus for incremental index maintenance: ~9% of docs changed
# (extra tokens appended), ~8% removed, a handful of brand-new ids
V2_DOCS_SQL = """
SELECT d.doc_id,
  CASE WHEN d.doc_id % 11 = 0 THEN d.text || ' freshly appended revision terms'
       ELSE d.text END AS text
FROM documents d WHERE d.doc_id % 13 <> 5
UNION ALL
SELECT d.doc_id + 1000000 AS doc_id,
  'brand new page about spark joins and window functions' AS text
FROM documents d WHERE d.doc_id % 17 = 0
""".strip()

# two crawl-snapshot URL sets for the HLL overlap audit: B drops the
# d%3==0 third of A and adds a disjoint tail (d%17==0 shifted ids)
HLL_SET_A_SQL = f"""
SELECT {pagesrc._url('d.doc_id', 's')} AS _v FROM documents d
""".strip()

HLL_SET_B_SQL = f"""
SELECT {pagesrc._url('d.doc_id', 's')} AS _v FROM documents d
WHERE d.doc_id % 3 <> 0
UNION ALL
SELECT {pagesrc._url('(d.doc_id + 1000000)', 's')} AS _v FROM documents d
WHERE d.doc_id % 17 = 0
""".strip()

# Luhn corpus: valid PAN, invalid same-length run, too-short run,
# a multi-number doc (valid 16 + valid 13 + invalid 19), and a 26-digit
# timestamp whose greedy 19-digit prefix must not false-positive
LUHN_SYNTH_SQL = """
SELECT d.doc_id,
  CASE WHEN d.doc_id % 7 = 0 THEN d.text || ' pay 4111111111111111 now'
       WHEN d.doc_id % 7 = 1 THEN d.text || ' ref 4111111111111112 x'
       WHEN d.doc_id % 7 = 2 THEN d.text || ' id 123456789012 short'
       WHEN d.doc_id % 7 = 3 THEN
         'cards 4532015112830366 and 7992739871300 and 1234567890123456789'
       WHEN d.doc_id % 7 = 4 THEN d.text || ' ts 20240101120000123456789012'
       ELSE d.text END AS text
FROM documents d
""".strip()

# BM25 term queries over the documents vocabulary: common terms,
# a rare term, and a multi-term mix (VALUES runs on both engines)
BM25_QUERY_SQL = """
SELECT * FROM (VALUES
  (0, 'spark'), (0, 'join'),
  (1, 'window'), (1, 'hash'), (1, 'scan'),
  (2, 'customer'), (2, 'vector'),
  (3, 'dup'), (3, 'stream')
) AS q(query_id, term)
""".strip()

# frontier rows for the robots filter: hosts 0..19, three path shapes;
# even hosts get a robots.txt (Disallow /private, Allow /private/ok)
ROBOTS_FRONTIER_SQL = """
SELECT 'https://host' || (d.doc_id % 20) || '.example'
  || (CASE d.doc_id % 3 WHEN 0 THEN '/pub/x' WHEN 1 THEN '/private/x'
      ELSE '/private/ok/x' END) || d.doc_id AS url_norm,
  'host' || (d.doc_id % 20) || '.example' AS host,
  (d.doc_id % 20) AS h,
  (d.doc_id % 3) AS shape
FROM documents d
""".strip()

# robots bodies with Crawl-delay for the politeness integration: hosts
# h%3<>2 declare delay h%5+1 seconds in the '*' group; a trailing
# non-star group with delay 99 must be IGNORED (group handling) and a
# comment line must not parse. Budgets are closed-form in the oracle.
CRAWLDELAY_ROBOTS_SQL = f"""
SELECT 'https://host' || h || '.example/robots.txt' AS url_norm,
       'User-agent: *' || chr(10) || 'Crawl-delay: ' || (h % 5 + 1) || chr(10)
       || '# maintenance window pending' || chr(10)
       || 'User-agent: megabot' || chr(10) || 'Crawl-delay: 99' || chr(10) AS html
FROM (SELECT DISTINCT {pagesrc._h('doc_id')} AS h FROM documents) WHERE h % 3 <> 2
""".strip()

# sitemap corpus: h%4=0 hosts carry a urlset sitemap (3 entries, one
# without lastmod, messy whitespace) PLUS a second sitemap repeating
# sm/0 with a LATER lastmod (max-dedup coverage); h%4=2 hosts carry a
# sitemapindex pointing at a child whose name does NOT match the
# sitemap pattern (exercises the index-resolution join). Closed-form
# entry structure — the oracle re-derives it without parsing XML.
SITEMAP_CORPUS_SQL = f"""
WITH hosts AS (SELECT DISTINCT {pagesrc._h('doc_id')} AS h FROM documents)
SELECT 'https://host' || h || '.example/sitemap.xml' AS url_norm,
  '<urlset>' || chr(10)
  || ' <url><loc>https://host' || h || '.example/sm/0</loc><lastmod>2026-01-01</lastmod></url>' || chr(10)
  || ' <url>' || chr(10) || '  <loc>  https://host' || h || '.example/sm/1 </loc>' || chr(10)
  || '  <lastmod>2026-01-02</lastmod>' || chr(10) || ' </url>' || chr(10)
  || ' <url><loc>https://host' || h || '.example/sm/2</loc></url>' || chr(10)
  || '</urlset>' AS html
FROM hosts WHERE h % 4 = 0
UNION ALL
SELECT 'https://host' || h || '.example/sitemap-extra.xml',
  '<urlset><url><loc>https://host' || h || '.example/sm/0</loc><lastmod>2026-02-01</lastmod></url></urlset>'
FROM hosts WHERE h % 4 = 0
UNION ALL
SELECT 'https://host' || h || '.example/sitemap.xml',
  '<sitemapindex><sitemap><loc>https://host' || h || '.example/parts/a.xml</loc></sitemap></sitemapindex>'
FROM hosts WHERE h % 4 = 2
UNION ALL
SELECT 'https://host' || h || '.example/parts/a.xml',
  '<urlset><url><loc>https://host' || h || '.example/smx/0</loc></url><url><loc>https://host' || h || '.example/smx/1</loc></url></urlset>'
FROM hosts WHERE h % 4 = 2
""".strip()

# download-state fixture (S6/J2/J3/C5): doc URLs discovered across BFS
# iterations. doc_id%13=0 rows carry an uppercase path segment (the
# fetch probe normalizes, the J2 key stays raw); doc_id%2=0 rows are
# RE-discovered two iterations later (J2 anti-join must no-op them);
# the corpus serves only doc_id%3<>0, so the rest retry to failure;
# doc_id%50=0 spawns a late doc on the final iteration that must drain
# as 'pending'. The per-URL outcome is closed-form — the oracle below.
_DL_URL = (
    "('https://host' || (d.doc_id % 5) || '.example/'"
    " || (CASE WHEN d.doc_id % 13 = 0 THEN 'FILES' ELSE 'files' END)"
    " || '/report-' || d.doc_id || '.pdf')"
)
_DL_LATE_URL = "('https://host' || (d.doc_id % 5) || '.example/files/late-' || d.doc_id || '.pdf')"
DL_ITERS = 8
DL_MAX_RETRIES = 2

DL_DISCOVERY_SQL = f"""
SELECT {_DL_URL} AS url, CAST(d.doc_id % 4 AS INT) AS it FROM documents d
UNION ALL
SELECT {_DL_URL} AS url, CAST(d.doc_id % 4 + 2 AS INT) AS it
FROM documents d WHERE d.doc_id % 2 = 0
UNION ALL
SELECT {_DL_LATE_URL} AS url, {DL_ITERS - 1} AS it
FROM documents d WHERE d.doc_id % 50 = 0
""".strip()

DL_CORPUS_SQL = f"""
SELECT lower({_DL_URL}) AS dl_norm FROM documents d WHERE d.doc_id % 3 <> 0
""".strip()

# RFC 3986 reference shapes against clean-corpus bases (closed-form
# resolution per shape in the oracle)
RESOLVE_SYNTH_SQL = f"""
SELECT d.doc_id AS id,
  {pagesrc._url('d.doc_id')} AS base,
  CASE d.doc_id % 4
    WHEN 0 THEN 'https://other.example/abs'
    WHEN 1 THEN '/rooted/x'
    WHEN 2 THEN 'sub.html'
    ELSE '?q=' || d.doc_id END AS ref
FROM documents d
""".strip()

# byte counts spanning B/KB/MB/GB at gate scale and crossing into TB
# above doc_id ~1027 (sf0.1+) — the oracle carries the full K..E suffix
# ladder so the gate holds at every sf (primes keep every value off the
# round-half-even tie points, so Python/C/DuckDB %.1f agree exactly)
BYTES_SYNTH_SQL = """
SELECT d.doc_id AS id,
  CAST(CASE d.doc_id % 4
    WHEN 0 THEN d.doc_id
    WHEN 1 THEN d.doc_id * 1021 + 13
    WHEN 2 THEN d.doc_id * 1048573 + 7
    ELSE d.doc_id * 1073741789 + 3 END AS BIGINT) AS n
FROM documents d
""".strip()

# WARC-style multi-version snapshots: ~5 refetches per page (page id =
# doc_id mod 101), each under a distinct warc_ts; the newest one wins
SNAP_SQL = """
SELECT 'https://host' || ((d.doc_id % 101) % 7) || '.example/page/' || (d.doc_id % 101) AS url_norm,
  timestamp '2025-01-01 00:00:00' + (d.doc_id * interval '1' second) AS warc_ts,
  md5('v' || d.doc_id) AS content_md5
FROM documents d
""".strip()

# recrawl history with a known change cycle: content keyed on
# doc_id % 303, so consecutive versions of a page (doc_id stepping by
# 101) usually differ but repeat on a 3-version cycle
RECRAWL_SQL = """
SELECT 'https://host' || ((d.doc_id % 101) % 7) || '.example/page/' || (d.doc_id % 101) AS url_norm,
  timestamp '2025-01-01 00:00:00' + (d.doc_id * interval '1' second) AS warc_ts,
  md5('v' || (d.doc_id % 303)) AS content_md5
FROM documents d
""".strip()

# two snapshot versions for the recrawl diff gate: membership and
# content each keyed on independent doc_id residues so all four
# classes (new / removed / changed / unchanged) are populated
PRIOR_DIFF_SQL = """
SELECT 'https://host' || (d.doc_id % 7) || '.example/page/' || d.doc_id AS url_norm,
  md5('a' || (d.doc_id % 9)) AS content_md5
FROM documents d WHERE d.doc_id % 11 <> 3
""".strip()

CURR_DIFF_SQL = """
SELECT 'https://host' || (d.doc_id % 7) || '.example/page/' || d.doc_id AS url_norm,
  CASE WHEN d.doc_id % 5 = 0 THEN md5('b' || (d.doc_id % 9))
       ELSE md5('a' || (d.doc_id % 9)) END AS content_md5
FROM documents d WHERE d.doc_id % 13 <> 4
""".strip()

# PII-injected corpus for the redaction gate: every doc_id % 4 class
# appends one known PII shape to the stored text (shared SQL — the
# oracle re-synthesizes the identical strings)
PII_SYNTH_SQL = """
SELECT d.doc_id,
  d.text || CASE d.doc_id % 4
    WHEN 0 THEN ' contact user' || d.doc_id || '@example.com now'
    WHEN 1 THEN ' call +1 (555) 123-' || (1000 + d.doc_id % 9000) || ' today'
    WHEN 2 THEN ' server 10.0.' || (d.doc_id % 256) || '.7 logs'
    ELSE '' END AS text
FROM documents d
""".strip()

# messy-rendering corpus for the normalization gate: each doc_id % 5
# class appends one whitespace/control/NBSP pathology via chr()
# (codes <= 160 only — Spark's chr is mod-256, so higher codepoints
# would diverge between the engines; NFC itself is pytest-pinned on
# decomposed fixtures the shared SQL cannot portably express)
NORM_SYNTH_SQL = """
SELECT d.doc_id,
  CASE d.doc_id % 5
    WHEN 0 THEN d.text || ' tab' || chr(9) || 'and' || chr(9) || chr(10) || 'newline runs'
    WHEN 1 THEN d.text || ' ding' || chr(7) || 'bat' || chr(11) || chr(127) || '!'
    WHEN 2 THEN d.text || ' x' || chr(160) || 'y' || chr(160) || chr(160) || 'z'
    WHEN 3 THEN '  ' || d.text || '   '
    ELSE d.text END AS text
FROM documents d
""".strip()

# the DuckDB replay of textstats.normalize_text's step sequence —
# shared verbatim by the text_normalize and fingerprint_normalized
# oracles so the two can't drift apart
_NORM_CHAIN_SQL = (
    "trim(regexp_replace("
    "regexp_replace("
    "regexp_replace("
    "replace(nfc_normalize(text), chr(160), ' '), "
    "'[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]', '', 'g'), "
    "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'), "
    "'[ \\t\\n\\r]+', ' ', 'g'))"
)

# boilerplate-shaped corpus: 7 hosts, every page of a host shares a
# NAV header + COPYRIGHT footer (df = all pages of the host), 1 in 25
# pages adds a PROMO line (df crosses min_df=3 only at larger SFs —
# fine: both engines derive the same df from the same rows), the body
# line stays unique per page
BOILER_SYNTH_SQL = """
SELECT d.doc_id,
  'h' || (d.doc_id % 7) || '.example' AS host,
  'NAV home about contact' || chr(10)
    || d.text || chr(10)
    || CASE WHEN d.doc_id % 25 = 0
         THEN 'PROMO subscribe now' || chr(10) ELSE '' END
    || 'COPYRIGHT h' || (d.doc_id % 7) AS text
FROM documents d
""".strip()

# mirror-shaped corpus: 12 hosts; m0/m1 serve identical page sets
# (full mirrors), m2 mirrors the even half, m3..m11 are unique, and
# EVERY host serves one parked-template page (a hot fingerprint the
# pairing cap must exclude). p = page index = doc_id div 12, derived
# portably (no DIV/// operator parity risk).
MIRROR_SYNTH_SQL = """
SELECT d.doc_id,
  'm' || (d.doc_id % 12) || '.example' AS host,
  CASE WHEN CAST((d.doc_id - d.doc_id % 12) / 12 AS BIGINT) = 0
         THEN 'TEMPLATE parked page'
       WHEN d.doc_id % 12 <= 1
         THEN 'CONTENT ' || CAST((d.doc_id - d.doc_id % 12) / 12 AS BIGINT)
       WHEN d.doc_id % 12 = 2 AND d.doc_id % 24 = 2
         THEN 'CONTENT ' || CAST((d.doc_id - d.doc_id % 12) / 12 AS BIGINT)
       ELSE 'CONTENT h' || (d.doc_id % 12) || ' p'
            || CAST((d.doc_id - d.doc_id % 12) / 12 AS BIGINT)
       END AS text
FROM documents d
""".strip()

# DUST-shaped fetch log: page drives content, sessionid never does,
# sort is pinned by page (no variation evidence). host/sort derive
# from page so the oracle can re-derive everything closed-form from
# (page, session) combos actually present at the SF.
DUST_SYNTH_SQL = """
SELECT d.doc_id,
  'https://d' || ((d.doc_id % 20) % 5) || '.example/item?page=' || (d.doc_id % 20)
    || '&sessionid=s' || (d.doc_id % 3)
    || '&sort=' || ((d.doc_id % 20) % 2) AS url,
  'ITEM ' || (d.doc_id % 20) || ' v' || ((d.doc_id % 20) % 2) AS text
FROM documents d
""".strip()

# registered-domain-shaped host mix: subdomain fan-outs over .co.uk /
# .com / .com.au suffixes, a bare-name host, and an IPv4 literal —
# each branch's pay-level domain is closed-form, so the oracle states
# the answer instead of re-implementing the suffix walk
DOMAIN_SYNTH_SQL = """
SELECT d.doc_id,
  CASE d.doc_id % 6
    WHEN 0 THEN 'a' || (d.doc_id % 7) || '.shop.example' || (d.doc_id % 4) || '.co.uk'
    WHEN 1 THEN 'www.example' || (d.doc_id % 4) || '.co.uk'
    WHEN 2 THEN 'cdn.example' || (d.doc_id % 4) || '.com'
    WHEN 3 THEN 'example' || (d.doc_id % 4) || '.com'
    WHEN 4 THEN CASE WHEN d.doc_id % 2 = 0 THEN 'localhost'
                     ELSE '10.0.' || (d.doc_id % 4) || '.1' END
    ELSE 'deep.a.b.example' || (d.doc_id % 4) || '.com.au'
  END AS host
FROM documents d
""".strip()

# paragraph-duplication-shaped corpus: every doc opens with ONE shared
# license paragraph (corpus-global hot duplicate), 1 in 3 docs carries
# one of 5 syndicated promo paragraphs (medium-df duplicates), every
# doc keeps a unique tail; doc 0's text itself may collide with other
# docs' — fine, both engines see the same rows
PARA_SYNTH_SQL = """
SELECT d.doc_id,
  'LICENSE shared corpus paragraph' || chr(10) || chr(10)
    || d.text || chr(10) || chr(10)
    || CASE WHEN d.doc_id % 3 = 0
         THEN 'SYNDICATED promo ' || (d.doc_id % 5)
              || chr(10) || chr(10) ELSE '' END
    || 'UNIQUE tail ' || d.doc_id AS text
FROM documents d
""".strip()

# archive-capture-shaped rows for the CDX gate: url variants that SURT
# must collapse (www., :port, query param order), bodies drawn from 50
# classes so recaptures of an unchanged page exist (revisits), capture
# times built textually (no date-function parity risk)
CDX_SYNTH_SQL = """
SELECT
  'https://' || CASE WHEN d.doc_id % 4 = 0 THEN 'www.' ELSE '' END
    || 'h' || (d.doc_id % 7) || '.example'
    || CASE WHEN d.doc_id % 5 = 0 THEN ':8080' ELSE '' END
    || '/p/' || (d.doc_id % 97)
    || CASE WHEN d.doc_id % 3 = 0 THEN '?b=2&a=1'
            WHEN d.doc_id % 3 = 1 THEN '?a=1&b=2' ELSE '' END AS url,
  '2025-01-01T' || lpad('' || (d.doc_id % 24), 2, '0') || ':'
    || lpad('' || (d.doc_id % 60), 2, '0') || ':00Z' AS warc_ts,
  'BODY class ' || (d.doc_id % 50) AS body
FROM documents d
""".strip()

# mega-host-skewed corpus for the domain-cap gate: two thirds of all
# docs live on ONE host (the skew the salted two-phase top-K exists
# for), quality is a deterministic double with cross-doc collisions so
# the doc_id tie-break is exercised
DOMCAP_SYNTH_SQL = """
SELECT d.doc_id,
  CASE WHEN d.doc_id % 3 < 2 THEN 'mega.example'
       ELSE 'h' || (d.doc_id % 5) || '.example' END AS host,
  ((d.doc_id * 37) % 1000) / 1000.0 AS quality
FROM documents d
""".strip()

# multilingual corpus for the script-profile gate: UTF-8 literals in
# the shared SQL (both engines parse string literals as UTF-8 — unlike
# chr(), whose semantics diverge above 160)
SCRIPT_SYNTH_SQL = """
SELECT d.doc_id,
  CASE d.doc_id % 6
    WHEN 0 THEN d.text || ' Привет мир'
    WHEN 1 THEN d.text || ' 你好世界'
    WHEN 2 THEN d.text || ' γειά σου κόσμε'
    WHEN 3 THEN d.text || ' مرحبا بالعالم'
    WHEN 4 THEN 'Привет 你好 mix Ω' || d.text
    ELSE d.text END AS text
FROM documents d
""".strip()

# trap-shaped frontier for the crawl-trap gate: two hosts concentrate
# every url under one prefix (calendar / faceted search), one spreads
# across sections, one mixes — shared SQL, oracle re-synthesizes it
TRAP_SYNTH_SQL = """
SELECT
  CASE d.doc_id % 5
    WHEN 0 THEN 'https://cal.example/cal/view?date=2025-' || d.doc_id
    WHEN 1 THEN 'https://facet.example/shop/list?page=' || (d.doc_id % 7) || '&sort=' || d.doc_id
    WHEN 2 THEN 'https://ok.example/sec' || (d.doc_id % 17) || '/page/' || d.doc_id
    WHEN 3 THEN 'https://ok.example/a' || (d.doc_id % 11) || '/b' || (d.doc_id % 13)
    ELSE 'https://mixed.example/' ||
      CASE WHEN d.doc_id % 3 = 0 THEN 'cal/day?d=' || d.doc_id
           ELSE 'art/' || d.doc_id END
  END AS url_norm,
  CASE d.doc_id % 5
    WHEN 0 THEN 'cal.example' WHEN 1 THEN 'facet.example'
    WHEN 2 THEN 'ok.example' WHEN 3 THEN 'ok.example'
    ELSE 'mixed.example' END AS host
FROM documents d
""".strip()

# deterministic host-rank table for the rank-aware scheduler (a stand-in
# for harmonic-centrality / in-link scores a production crawl would feed)
HOSTRANK_SQL = f"""
SELECT DISTINCT 'host' || {pagesrc._h('d.doc_id')} || '.example' AS host,
  CAST(({pagesrc._h('d.doc_id')} * 7) % 20 AS DOUBLE) AS host_rank
FROM documents d
""".strip()

# frontier rows for the politeness/scheduling operators
FRONTIER_SYNTH_SQL = f"""
SELECT {pagesrc._url('d.doc_id')} AS url_norm,
  'host' || {pagesrc._h('d.doc_id')} || '.example' AS host,
  d.doc_id % 14 AS depth,
  (d.doc_id % 13 = 0) AS priority
FROM documents d
""".strip()


def _docs_view(spark: SparkSession, sf_dir: str) -> None:
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")


def _synth(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    _docs_view(spark, sf_dir)
    return spark.sql(sql)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).head()
    )
    return list(row["embedding"])


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_url_normalize_compat(spark, sf_dir):
    """P1 NormalizeParsedURL (utils/utils.go:14-18) via the pandas UDF."""
    return _synth(spark, sf_dir, URL_SYNTH_SQL).select(
        "id", normalize_url_compat("url").alias("url_norm")
    )


def q_url_canonicalize(spark, sf_dir):
    """Engine-native RFC 3986 canonicalizer (north_rule)."""
    return _synth(spark, sf_dir, URL_SYNTH_SQL).select(
        "id", canonicalize_rfc3986("url").alias("url_canon")
    )


def q_url_resolve(spark, sf_dir):
    """P2 RFC 3986 reference resolution (tokenizer/slowpath.go:94-97)
    over absolute / root-relative / relative / query-only shapes."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import (
        resolve_rfc3986,
    )

    return _synth(spark, sf_dir, RESOLVE_SYNTH_SQL).select(
        "id", resolve_rfc3986("ref", "base").alias("resolved")
    )


def q_format_bytes(spark, sf_dir):
    """P11 FormatBytes (utils/utils.go:72-84): '%d B' under 1 KiB, else
    one decimal with a K/M/G suffix."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.files import (
        format_bytes,
    )

    return _synth(spark, sf_dir, BYTES_SYNTH_SQL).select(
        "id", format_bytes("n").alias("pretty")
    )


def q_route_decision(spark, sf_dir):
    """O1 two-tier coordinator (tokenizer/coordinator.go:42-99)."""
    return _synth(spark, sf_dir, ROUTE_SYNTH_SQL).select(
        "id", route_decision_col("url", "body_size").alias("path")
    )


def q_anchor_texts(spark, sf_dir):
    """Anchor-text table (extract.anchor_texts): one (id, href,
    anchor) row per well-formed <a> element over the clean corpus —
    two JVM regexp group passes zipped positionally, the html column
    never leaves the scan. Oracle runs the identical pattern with
    DuckDB's parallel unnest."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
        anchor_texts,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return anchor_texts(pages)


def q_anchor_profile(spark, sf_dir):
    """Per-target anchor rollup (extract.target_anchor_profile):
    inlink counts, distinct sources/anchors, and the modal anchor with
    the deterministic (count DESC, anchor ASC) pick — the off-page
    relevance signal for frontier prioritization and retrieval
    labels."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
        anchor_texts,
        target_anchor_profile,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return target_anchor_profile(anchor_texts(pages))


def q_retrieval_pairs(spark, sf_dir):
    """Anchor-supervised retrieval pairs (extract.retrieval_pairs):
    distinct (anchor query, target) with the target's DOM-extracted
    text as the positive document and distinct-source endorsement
    counts. Engine DOM-parses; oracle strips tags textually (exact on
    the markup-free clean fixture, the tier2 gate's own trick)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
        retrieval_pairs,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return retrieval_pairs(pages)


def q_extract_links_fast(spark, sf_dir):
    """E1 fast-path byte scan (tokenizer/fastpath.go:33-96) over the
    clean corpus (double-quoted absolute hrefs: scan == href regex)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
        extract_links_fast,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return pages.select(
        "id", F.explode(extract_links_fast(F.col("html"), F.col("url"))).alias("link")
    )


def q_extract_docs_slow(spark, sf_dir):
    """P6 isDocument + P7 getExtension (tokenizer/slowpath.go:135-157)."""
    s = _synth(spark, sf_dir, DOCURL_SYNTH_SQL)
    return s.filter(is_document_slow_col(F.col("url"))).select(
        "id", "url", get_extension_col(F.col("url")).alias("ext")
    )


def q_is_document_url(spark, sf_dir):
    """P5 IsDocumentURL (utils/utils.go:21-31) — the laxer variant."""
    s = _synth(spark, sf_dir, DOCURL_SYNTH_SQL)
    return s.select("id", "url", is_document_url_col(F.col("url")).alias("is_doc"))


def q_crawl_frontier_bfs(spark, sf_dir):
    """Flagship: full frontier loop (fetch-join + route + extract +
    normalize + seen anti-join, SURVEY.md §3.2) on the clean corpus.
    Runs with the sharded-Bloom J1 prefilter ON so the driver gate
    verifies the scale path end-to-end (bit-for-bit equal to the
    exact-join path — also asserted in tests/test_frontier.py)."""
    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    seeds = spark.sql(pagesrc.seeds_sql())
    res = crawl(spark, pages, seeds, CrawlConfig(use_bloom=True))
    return res.seen.select("url_norm", "depth")


def q_crawl_frontier_bucketed(spark, sf_dir):
    """Flagship over a BUCKETED corpus table (sources/bucketed.py):
    the corpus is materialized bucketBy(url_norm), and the crawl joins
    on the stored bucket column (corpus_pre_keyed) as a sort-merge
    join with broadcasting off — the gate executes the
    zero-corpus-exchange scan path end-to-end (plan pinned in
    tests/test_bucketed.py) and must reproduce the exact BFS the
    in-memory flagship computes (same DuckDB recursive-CTE oracle)."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        bucketed,
    )

    tmp = tempfile.mkdtemp(prefix="gate-bucketed-")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed.write_bucketed_corpus(
            pagesrc.synth_clean_pages(spark, sf_dir),
            "gate_bucketed_corpus",
            tmp + "/corpus",
            n_buckets=8,
        )
        seeds = spark.sql(pagesrc.seeds_sql())
        res = crawl(
            spark,
            bucketed.read_bucketed_corpus(spark, "gate_bucketed_corpus"),
            seeds,
            CrawlConfig(
                corpus_pre_keyed=True,
                broadcast_frontier=False,
            ),
        )
        # the loop drives every superstep eagerly (localCheckpoint), so
        # seen is materialized — safe to drop the table + files now
        return res.seen.select("url_norm", "depth")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS gate_bucketed_corpus")
        shutil.rmtree(tmp, ignore_errors=True)


def q_crawl_frontier_redirects(spark, sf_dir):
    """Flagship BFS with a live REDIRECT MAP (crawl(redirects=...)):
    every discovered link resolves through the pointer-doubled map
    before dedup/seen — chains land on their final URL at the parent's
    depth+1 (3xx hops are transparent, no depth cost), loops drop the
    candidate. The oracle rewrites the closed-form edge set through
    the same bounded recursive resolve, then runs the standard BFS."""
    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    seeds = spark.sql(pagesrc.seeds_sql())
    # inline N as a literal on the Spark side (pages.py pattern: the
    # scalar-subquery form plans a BNLJ + SinglePartition count into
    # every leaf of the resolver's composition tree — measured 25 s
    # for a 500-row synth); the oracle keeps the subquery text.
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    sql = CRAWL_REDIRECTS_SQL.replace("(SELECT count(*) FROM documents)", str(n))
    redirects = _synth(spark, sf_dir, sql).filter(F.col("dst").isNotNull())
    res = crawl(spark, pages, seeds, CrawlConfig(), redirects=redirects)
    return res.seen.select("url_norm", "depth")


def q_tier2_extract_text(spark, sf_dir):
    """M7 tier-2 fetch-and-extract (downloader.go:110-222 + the
    tokenize-stage text contract): salted-host repartition +
    mapInPandas; text md5'd for compact comparison. A sprinkling of
    dangling URLs exercises the 404 path (downloader.go:200-202)."""
    corpus = pagesrc.synth_clean_pages(spark, sf_dir)
    queue = corpus.select("url", "host").unionByName(
        corpus.filter(F.col("id") % 100 == 0).select(
            F.concat(F.lit("https://host0.example/missing/"), F.col("id")).alias("url"),
            F.lit("host0.example").alias("host"),
        )
    )
    keyed = corpus.select(F.col("url").alias("url_norm"), "html")
    out = fetch.fetch_and_extract(queue, keyed)
    return out.select(
        "url",
        "status",
        F.md5("text").alias("text_md5"),
        "n_bytes",
        "filename",  # S4 sink parity (downloader.go:204-215)
    )


def _drive_download_state(spark, sf_dir, store=None):
    """S6/J2/J3/C5 superstep loop shared by both download gates: the
    crawl loop's transition (operators/download_log.py), cut once per
    superstep — an uncut state compounds its lineage (the 15x lesson
    from round 1). With a store, each superstep commits the delta and
    queue filtered from that cut. Batching several supersteps per cut
    was measured slower (VERDICT r03 #6).

    The coalesce before the cut is load-bearing: the carriers are
    NARROW transforms of checkpointed RDDs (AQE only coalesces
    shuffles), so without it partition counts compound ~3x per
    superstep — measured 26 -> 59,024 partitions over 8 supersteps,
    with the final one spending 67 s scheduling empty tasks.
    """
    disc = _synth(spark, sf_dir, DL_DISCOVERY_SQL).localCheckpoint(eager=True)
    corpus_keys = _synth(spark, sf_dir, DL_CORPUS_SQL).localCheckpoint(eager=True)
    state = spark.createDataFrame([], download_log.LOG_SCHEMA)
    empty_seen = spark.createDataFrame([], "url_norm string")
    ncoal = max(4, spark.sparkContext.defaultParallelism // 2)
    for it in range(DL_ITERS):
        new_docs = disc.filter(F.col("it") == it).select("url")
        state = (
            download_log.advance_download_state(
                new_docs, state, corpus_keys, it, DL_MAX_RETRIES
            )
            .coalesce(ncoal)
            .localCheckpoint(eager=True)
        )
        if store is not None:
            delta, pending = download_log.to_tables(state, it)
            store.write_iter(
                it, empty_seen, empty_seen,
                downloads_delta=delta, downloads_pending=pending,
            )
    return state


def q_download_state(spark, sf_dir):
    """S6/J2/J3/C5: the download-state machine driven standalone over
    DL_ITERS supersteps (downloader.go:280-310 semantics — raw-URL
    dedup key, retry cap, drain-time pending). Same transition the
    crawl loop runs (plans/frontier.py), factored in
    operators/download_log.py; the oracle is the closed-form per-URL
    outcome of the fixture's discovery/corpus arithmetic."""
    state = _drive_download_state(spark, sf_dir)
    return download_log.finalize_download_log(state, DL_ITERS - 1)


def q_download_state_store(spark, sf_dir):
    """J3 exercised through the PERSISTENCE layer: every superstep
    commits its MERGE-shaped delta + retry-queue snapshot to a
    SnapshotStore (plans/checkpoint.py — the Iceberg-MERGE stand-in
    with the atomic commit pointer), and the final answer is rebuilt
    from the STORE ALONE (merged_downloads + read_pending), never from
    the in-memory frames. Same closed-form oracle as download_state:
    a round-trip through the commit/merge path must be lossless."""
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.plans.checkpoint import (
        SnapshotStore,
    )

    store = SnapshotStore(tempfile.mkdtemp(prefix="dlstore_"))
    _drive_download_state(spark, sf_dir, store=store)
    last = DL_ITERS - 1
    state = download_log.from_tables(
        store.merged_downloads(spark, last), store.read_pending(spark, last), last
    )
    return download_log.finalize_download_log(state, last)


def q_link_density(spark, sf_dir):
    """P10 link density (slowpath.go:117-120) over the clean corpus:
    fast-path link count per KB of HTML."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
        extract_links_fast,
        link_density_col,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return pages.select(
        "id",
        F.round(
            link_density_col(
                F.size(extract_links_fast(F.col("html"), F.col("url"))), F.col("html")
            ),
            6,
        ).alias("link_density"),
    )


def q_seen_anti_join_bloom(spark, sf_dir):
    """J1 with the sharded-Bloom prefilter (O4 / north_rule): bloom
    probe skims definitely-new rows past the shuffle; false positives
    fall through to the exact anti-join — same answer as
    seen_anti_join, cheaper at 10^10 seen keys."""
    s = _synth(spark, sf_dir, URL_SYNTH_SQL).select(
        "id", normalize_url_compat("url").alias("url_norm")
    )
    cands = s.filter(F.col("id") % 2 == 0).select("url_norm")
    seen = s.filter((F.col("id") % 3 == 0) | (F.col("id") % 7 == 0)).select("url_norm")
    return dedup.dedup_new_candidates(cands, seen, use_bloom=True)


def q_seen_anti_join_cuckoo(spark, sf_dir):
    """J1 behind the sharded CUCKOO prefilter (operators/cuckoo.py —
    the north_rule's other filter family): same exactness contract as
    the Bloom path (no false negatives; FPs fall through to the exact
    anti-join), lower FPP at comparable bytes/key, and — the reason it
    exists — in-place deletion for recrawl invalidation."""
    s = _synth(spark, sf_dir, URL_SYNTH_SQL).select(
        "id", normalize_url_compat("url").alias("url_norm")
    )
    cands = s.filter(F.col("id") % 2 == 0).select("url_norm")
    seen = s.filter((F.col("id") % 3 == 0) | (F.col("id") % 7 == 0)).select("url_norm")
    return cuckoo.dedup_new_candidates_cuckoo(cands, seen)


def q_seen_cuckoo_delete(spark, sf_dir):
    """The deletable-filter path end-to-end: build shards over the
    seen set, DELETE the recrawl-invalidated subset in place
    (update_cuckoo_shards — no rebuild, only touched shards work),
    then run J1 against the live remainder. Exact because deletions
    never introduce false negatives (a (bucket,fp)-twin keeps
    answering for both keys) and maybe-seen rows confirm via the
    exact anti-join on the live set."""
    s = _synth(spark, sf_dir, URL_SYNTH_SQL).select(
        "id", normalize_url_compat("url").alias("url_norm")
    )
    cands = s.filter(F.col("id") % 2 == 0).select("url_norm")
    seen = s.filter((F.col("id") % 3 == 0) | (F.col("id") % 7 == 0)).select("url_norm")
    removed = s.filter(F.col("id") % 21 == 0).select("url_norm")
    live = seen.join(removed, "url_norm", "left_anti")
    n_shards = 32
    shards = cuckoo.build_cuckoo_shards(seen, n_shards=n_shards)
    updated = cuckoo.update_cuckoo_shards(shards, removals=removed, n_shards=n_shards)
    new, maybe = cuckoo.cuckoo_probe_shards(cands, updated, n_shards=n_shards)
    return new.unionByName(dedup.seen_anti_join(maybe, live))


def q_seen_anti_join(spark, sf_dir):
    """J1 membership probe as a left-anti join (crawler_twotier.go:195)."""
    s = _synth(spark, sf_dir, URL_SYNTH_SQL).select(
        "id", normalize_url_compat("url").alias("url_norm")
    )
    cands = s.filter(F.col("id") % 2 == 0).select("url_norm")
    seen = s.filter((F.col("id") % 3 == 0) | (F.col("id") % 7 == 0)).select("url_norm")
    return dedup.seen_anti_join(cands, seen)


def q_extract_filename(spark, sf_dir):
    """P8 ExtractFilename + P9 SanitizeFilename (utils/utils.go:34-69):
    Content-Disposition wins, else last path segment sans query, else a
    deterministic download_<id> fallback (the reference uses wall-clock
    nanos there — documented deviation for reproducibility)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.files import (
        extract_filename,
    )

    s = _synth(spark, sf_dir, DOCURL_SYNTH_SQL)
    cd = F.when(
        F.col("id") % 7 == 0, F.lit('attachment; filename="r pt:1.pdf"')
    ).otherwise(F.lit(None).cast("string"))
    return s.select(
        "id",
        extract_filename(F.col("url"), cd, F.col("id").cast("string")).alias("filename"),
    )


def q_robots_filter(spark, sf_dir):
    """north_rule robots enforcement (operators/robots.py): rules
    table broadcast onto the frontier + longest-match verdict UDF.
    The reference ignores robots (crawler_twotier.go:56) — this is
    engine-native. The oracle re-derives verdicts from the KNOWN rule
    structure with pure SQL prefix logic (independent path)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
        filter_allowed,
        robots_rules,
    )

    frontier = _synth(spark, sf_dir, ROBOTS_FRONTIER_SQL)
    robots_corpus = spark.sql(
        """
        SELECT 'https://host' || h || '.example/robots.txt' AS url_norm,
               'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
               || 'Allow: /private/ok' || chr(10) AS html
        FROM (SELECT DISTINCT doc_id % 20 AS h FROM documents) WHERE h % 2 = 0
        """
    )
    rules = robots_rules(robots_corpus)
    return filter_allowed(frontier, rules).select("url_norm")


def q_robots_agent_groups(spark, sf_dir):
    """RFC 9309 agent-group selection (robots.select_agent_rules_py /
    robots_rules_for_agent): crawling as 'graftbot', ONLY the
    longest-prefix-matching group binds — the layered fixture's '*'
    and 'graft' rules must NOT apply on hosts that also publish a
    'graftbot' group. Oracle encodes the expected winner closed-form;
    a wrong precedence order flips whole path classes."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
        filter_allowed,
        robots_rules_for_agent,
    )

    frontier = _synth(spark, sf_dir, AGENT_FRONTIER_SQL)
    robots_corpus = _synth(spark, sf_dir, AGENT_ROBOTS_SQL)
    rules = robots_rules_for_agent(robots_corpus, "graftbot")
    return filter_allowed(frontier, rules).select("url_norm")


def q_robots_sitemap_urls(spark, sf_dir):
    """robots.txt ``Sitemap:`` directive discovery
    (robots.robots_sitemaps): any position, any case, flexible
    whitespace, several per file. Spark parses REAL robots bodies; the
    oracle states each fixture branch's known directives."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
        robots_sitemaps,
    )

    _docs_view(spark, sf_dir)
    corpus = spark.sql(
        """
        SELECT 'https://host' || h || '.example/robots.txt' AS url_norm,
               'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
               || CASE WHEN h % 2 = 0
                    THEN 'Sitemap: https://host' || h || '.example/sitemap.xml'
                         || chr(10) ELSE '' END
               || CASE WHEN h % 3 = 0
                    THEN '  SITEMAP:  https://host' || h || '.example/news.xml'
                         || chr(10) ELSE '' END AS html
        FROM (SELECT DISTINCT doc_id % 20 AS h FROM documents)
        """
    )
    return robots_sitemaps(corpus)


def q_clean_params(spark, sf_dir):
    """Clean-param end-to-end (robots.clean_param_rules +
    strip_declared_params): the site DECLARES its irrelevant query
    params (scoped to a path prefix), the canonicalizer strips them —
    the spec-side twin of the learned DUST rules, applicable from the
    first fetch. Spark parses real robots bodies and real urls; the
    oracle states each branch's closed-form answer."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
        clean_param_rules,
        strip_declared_params,
    )

    _docs_view(spark, sf_dir)
    robots = spark.sql(
        """
        SELECT 'https://host' || h || '.example/robots.txt' AS url_norm,
               'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
               || CASE WHEN h % 2 = 0
                    THEN 'Clean-param: sid&ref /shop/' || chr(10) ELSE '' END
               || CASE WHEN h % 3 = 0
                    THEN 'clean-param:  utm' || chr(10) ELSE '' END AS html
        FROM (SELECT DISTINCT doc_id % 20 AS h FROM documents)
        """
    )
    urls = spark.sql(
        """
        SELECT 'https://host' || (doc_id % 20) || '.example'
          || CASE WHEN CAST((doc_id - doc_id % 20) / 20 AS BIGINT) % 2 = 0
               THEN '/shop/item' ELSE '/blog/post' END
          || CAST((doc_id - doc_id % 20) / 20 AS BIGINT)
          || '?id=' || doc_id || '&sid=s' || (doc_id % 3) || '&utm=x' AS url
        FROM documents
        """
    )
    return strip_declared_params(urls, clean_param_rules(robots))


def q_stream_host_rates(spark, sf_dir):
    """Structured Streaming surface (streaming/feed.py): tumbling
    10 s windows + watermark over a bounded file feed, driven with
    availableNow to completion; equals the batch windowed agg, which
    is the DuckDB oracle."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.feed import (
        run_to_memory_sink,
        stream_host_rates,
    )

    feed_dir = tempfile.mkdtemp(prefix="feed_")
    ev = load(spark, sf_dir, "events")
    ev.select(
        F.concat(F.col("event_type"), F.lit("/"), F.col("event_id")).alias("url"),
        F.col("event_type").alias("host"),
        (F.round(F.col("value") * 1000).cast("int") % 14).alias("depth"),
        F.col("ts").alias("discovered_ts"),
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)

    agg = stream_host_rates(spark, feed_dir)
    q = run_to_memory_sink(agg, name="host_rates_gate")
    q.awaitTermination()
    shutil.rmtree(feed_dir, ignore_errors=True)  # memory sink holds the rows
    # the window key crosses the gate as epoch seconds (BIGINT): raw
    # timestamps can NEVER hash-match the oracle — DuckDB hands pandas
    # datetime64[us] (tz-aware from to_timestamp), Spark datetime64[ns]
    return spark.sql(
        """
        SELECT CAST(window.start AS LONG) AS win_start, host,
               discovered, min_depth
        FROM host_rates_gate
        """
    )


def q_stream_host_sessions(spark, sf_dir):
    """Session windows (feed.stream_host_sessions): per-host activity
    bursts over the events feed, gap 2 h, driven availableNow in
    complete mode (Spark 4 rejects UPDATE for session windows —
    merged sessions can't be keyed as updates). Session keys cross the
    gate as epoch MICROseconds (unix_micros / epoch_us — exact
    BIGINTs; raw timestamps never hash-match). Oracle is the
    gaps-and-islands rewrite: new island when idle is STRICTLY
    greater than the gap (Spark merges boundary-touching sessions —
    pinned by the hand test at exact equality)."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.feed import (
        run_to_memory_sink,
        stream_host_sessions,
    )

    feed_dir = tempfile.mkdtemp(prefix="feed_")
    ev = load(spark, sf_dir, "events")
    ev.select(
        F.col("event_type").alias("host"), F.col("ts")
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)

    agg = stream_host_sessions(spark, feed_dir)
    q = run_to_memory_sink(agg, name="host_sessions_gate", output_mode="complete")
    q.awaitTermination()
    shutil.rmtree(feed_dir, ignore_errors=True)
    return spark.sql(
        """
        SELECT host,
               unix_micros(session_window.start) AS win_start_us,
               unix_micros(session_window.end) AS win_end_us,
               n_events
        FROM host_sessions_gate
        """
    )


def q_stream_latency_percentiles(spark, sf_dir):
    """Live exact percentiles: the stream maintains the windowed
    (window, host, milli-value) histogram (feed.stream_value_histogram
    — state bounded by value space × watermarked windows), then the
    identical nearest-rank extraction the batch gate uses
    (metrics.percentiles_from_counts) runs over the sink. Oracle =
    batch windowed histogram + the same integer rank arithmetic."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.metrics import (
        percentiles_from_counts,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.feed import (
        run_to_memory_sink,
        stream_value_histogram,
    )

    feed_dir = tempfile.mkdtemp(prefix="feed_")
    ev = load(spark, sf_dir, "events")
    ev.select(
        F.col("event_type").alias("host"), "value", "ts"
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)

    hist = stream_value_histogram(spark, feed_dir)
    q = run_to_memory_sink(hist, name="latency_hist_gate")
    q.awaitTermination()
    shutil.rmtree(feed_dir, ignore_errors=True)
    sink = spark.table("latency_hist_gate").select(
        F.col("window.start").cast("long").alias("win_start"), "host", "v", "c"
    )
    return percentiles_from_counts(sink, ["win_start", "host"])


def q_stream_host_budget(spark, sf_dir):
    """Custom STATEFUL streaming operator (applyInPandasWithState,
    streaming/stateful.py): lifetime per-host politeness budget over a
    discovered-URL stream — one int of state per host, sequence +
    schedule verdict per URL. Driven as one availableNow micro-batch
    here, where the contract equals the batch row_number window (the
    oracle); cross-micro-batch state survival is pytest-verified
    (tests/test_streaming.py)."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.stateful import (
        run_bounded,
        streaming_host_budget,
    )

    feed_dir = tempfile.mkdtemp(prefix="feed_budget_")
    ev = load(spark, sf_dir, "events")
    # ONE file => availableNow replays it as ONE micro-batch, so the
    # stateful operator's per-batch (ts, url) sort IS the global order
    # the oracle's row_number window assumes; a multi-file feed would
    # follow file order if the source ever split batches
    ev.select(
        F.concat(F.col("event_type"), F.lit("/"), F.col("event_id")).alias("url"),
        F.col("event_type").alias("host"),
        F.col("ts").alias("discovered_ts"),
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)

    feed = spark.readStream.schema(
        "url string, host string, discovered_ts timestamp"
    ).parquet(feed_dir)
    q = run_bounded(streaming_host_budget(feed, budget_per_host=300), "host_budget_gate")
    q.awaitTermination()
    shutil.rmtree(feed_dir, ignore_errors=True)  # memory sink holds the rows
    return spark.sql("SELECT host, url, seq, scheduled FROM host_budget_gate")


def q_stream_host_budget_multibatch(spark, sf_dir):
    """The stateful budget operator across REAL micro-batch boundaries
    (the round-2 gates replayed one availableNow batch; cross-batch
    state survival was pytest-only). The feed is split into 3
    ts-RANGE chunks — one file each, modification times in range
    order — and replayed with maxFilesPerTrigger=1, so per-host counts
    must survive 3 batch transitions to reproduce the batch
    row_number window the oracle runs. The gate raises if the replay
    collapsed into fewer than 3 non-empty micro-batches (it must
    never silently degrade into the single-batch variant)."""
    import os
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.stateful import (
        run_bounded,
        streaming_host_budget,
    )

    feed_root = tempfile.mkdtemp(prefix="feed_budget_mb_")
    ev = load(spark, sf_dir, "events").select(
        F.concat(F.col("event_type"), F.lit("/"), F.col("event_id")).alias("url"),
        F.col("event_type").alias("host"),
        F.col("ts").alias("discovered_ts"),
    )
    # ts-RANGE terciles (equal timestamps stay in one chunk), so
    # batch order == global (ts, url) order and the single-batch
    # oracle stays valid across the 3-batch replay
    b1, b2 = ev.selectExpr(
        "percentile(unix_micros(cast(discovered_ts AS timestamp)),"
        " array(0.3333333333, 0.6666666666)) AS p"
    ).head()["p"]
    us = F.unix_micros(F.col("discovered_ts").cast("timestamp"))
    chunks = [
        ev.filter(us <= F.lit(int(b1))),
        ev.filter((us > F.lit(int(b1))) & (us <= F.lit(int(b2)))),
        ev.filter(us > F.lit(int(b2))),
    ]
    feed_dir = os.path.join(feed_root, "feed")
    os.makedirs(feed_dir)
    for k, ch in enumerate(chunks):
        tmp = os.path.join(feed_root, f"chunk{k}")
        ch.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(feed_dir, f"{k:03d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        # the file source picks files oldest-mtime-first: pin widely
        # spaced mtimes so chunk order is unambiguous
        os.utime(dst, (1_700_000_000 + 100 * k, 1_700_000_000 + 100 * k))
    feed = (
        spark.readStream.schema("url string, host string, discovered_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = run_bounded(
        streaming_host_budget(feed, budget_per_host=300), "host_budget_mb_gate"
    )
    q.awaitTermination()

    def _rows(p):
        return p["numInputRows"] if isinstance(p, dict) else p.numInputRows

    n_batches = sum(1 for p in q.recentProgress if _rows(p) > 0)
    shutil.rmtree(feed_root, ignore_errors=True)
    if n_batches < 3:
        raise AssertionError(
            f"multibatch replay ran {n_batches} non-empty micro-batches, need >=3"
        )
    return spark.sql("SELECT host, url, seq, scheduled FROM host_budget_mb_gate")


def q_stream_seen_dedup(spark, sf_dir):
    """Streaming URL-seen set (streaming/feed.py stream_seen_dedup):
    J1's crawl-seen dedup in live form via
    dropDuplicatesWithinWatermark keyed on xxhash64(url_norm). The
    feed forces ~50 re-discoveries per URL (event_id % 200); exactly
    one row per distinct URL may pass. Gate projects url_norm only
    (functionally determined by the key — deterministic regardless of
    which duplicate row wins; the key hash itself is Spark-specific).
    Watermark is set beyond the feed's ts span so no state evicts;
    eviction + cross-batch semantics are pytest-pinned
    (tests/test_streaming.py)."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.feed import (
        stream_seen_dedup,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.streaming.stateful import (
        run_bounded,
    )

    feed_dir = tempfile.mkdtemp(prefix="feed_seen_")
    ev = load(spark, sf_dir, "events")
    ev.select(
        F.concat(
            F.lit("http://"),
            F.col("event_type"),
            F.lit(".example/u"),
            (F.col("event_id") % 200).cast("string"),
        ).alias("url"),
        F.col("ts").alias("discovered_ts"),
    ).coalesce(1).write.mode("overwrite").parquet(feed_dir)

    feed = spark.readStream.schema(
        "url string, discovered_ts timestamp"
    ).parquet(feed_dir)
    q = run_bounded(
        stream_seen_dedup(feed, watermark="3650 days"), "seen_dedup_gate"
    )
    q.awaitTermination()
    shutil.rmtree(feed_dir, ignore_errors=True)
    return spark.sql("SELECT url_norm FROM seen_dedup_gate")


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs: hamming(fp_a, fp_b) <= 6 inside
    (source, length-bucket) blocks, via pigeonhole multi-band blocking
    (dedup.hamming_neardup_pairs — 7 disjoint bit bands, a qualifying
    pair must agree exactly on one) with the bucket cap ON (64 smallest
    ids per (block, band, bkey) bucket — the 100 TB guard against
    boilerplate clusters that collapse into one band bucket; the
    oracle replays the identical banding + deterministic cap)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "lbucket", F.floor(F.col("n_chars") / F.lit(64)).cast("int")
    )
    sig = dedup.simhash(docs, "doc_id", "text").join(
        docs.select(F.col("doc_id").alias("id"), "source", "lbucket"), "id"
    )
    return dedup.hamming_neardup_pairs(
        sig, ["source", "lbucket"], max_hamming=6, max_bucket_size=64
    )


def q_politeness_budget(spark, sf_dir):
    """C1/O8 per-host budget via salted two-phase top-K."""
    frontier = _synth(spark, sf_dir, FRONTIER_SYNTH_SQL)
    scheduled, _ = politeness.schedule(frontier, budget_per_host=5)
    return scheduled.select("url_norm", "host", "depth")


def q_politeness_hostrank(spark, sf_dir):
    """North_rule priority queue — crawl-depth + HOST-RANK ordering: the
    per-host budget cut, then a global per-iteration top-N by
    (priority DESC, host_rank DESC, depth, url_norm). The global trim
    compiles to TakeOrderedAndProject (never a full sort)."""
    frontier = _synth(spark, sf_dir, FRONTIER_SYNTH_SQL)
    ranks = _synth(spark, sf_dir, HOSTRANK_SQL)
    scheduled, _ = politeness.schedule(
        frontier, budget_per_host=5, host_ranks=ranks, global_budget=40
    )
    return scheduled.select("url_norm", "host", "depth")


def q_politeness_quality(spark, sf_dir):
    """The crawl → quality → priority feedback loop composed end-to-
    end: per-host mean quality_score in exact micro-units
    (textstats.host_quality_ranks) feeds schedule(host_ranks=...), so
    historically-fluent hosts win the global trim. Oracle nests the
    quality-score SQL and replays the deterministic two-level cut."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.textstats import (
        host_quality_ranks,
    )

    docs = load(spark, sf_dir, "documents")
    ranks = host_quality_ranks(docs)
    frontier = docs.select(
        F.col("source").alias("host"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/d/"), F.col("doc_id")
        ).alias("url_norm"),
        (F.col("doc_id") % 13).cast("int").alias("depth"),
    )
    scheduled, _ = politeness.schedule(
        frontier, budget_per_host=5, host_ranks=ranks, global_budget=40
    )
    return scheduled.select("url_norm", "host", "depth")


def q_politeness_crawl_delay(spark, sf_dir):
    """robots Crawl-delay driving the per-host politeness budget
    (operators/robots.host_crawl_delays + delay_budgets feeding
    politeness.schedule(host_budgets=...)): a host asking for one
    request per d seconds gets max(1, floor(window/d)) slots per
    scheduling window; hosts without a delay keep the default budget.
    The oracle re-derives budgets from the KNOWN closed-form delay
    structure — the Spark side actually parses robots bodies."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
        delay_budgets,
        host_crawl_delays,
    )

    frontier = _synth(spark, sf_dir, FRONTIER_SYNTH_SQL)
    robots_corpus = _synth(spark, sf_dir, CRAWLDELAY_ROBOTS_SQL)
    budgets = delay_budgets(host_crawl_delays(robots_corpus), window_s=10.0)
    scheduled, _ = politeness.schedule(
        frontier, budget_per_host=7, host_budgets=budgets
    )
    return scheduled.select("url_norm", "host", "depth")


def q_fetch_schedule(spark, sf_dir):
    """Dispatch timeline (politeness.dispatch_timeline): the budgeted
    batch gets concrete per-host fire times — slot k of host H at
    k * crawl_delay_ms(H) (default 1000 ms) — replacing a runtime
    rate limiter with a precomputed table. Composes the crawl-delay
    budget gate's exact selection; the oracle re-derives both the cut
    and the timeline closed-form."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.politeness import (
        dispatch_timeline,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
        delay_budgets,
        host_crawl_delays,
    )

    frontier = _synth(spark, sf_dir, FRONTIER_SYNTH_SQL)
    robots_corpus = _synth(spark, sf_dir, CRAWLDELAY_ROBOTS_SQL)
    delays = host_crawl_delays(robots_corpus)
    budgets = delay_budgets(delays, window_s=10.0)
    scheduled, _ = politeness.schedule(
        frontier, budget_per_host=7, host_budgets=budgets
    )
    return dispatch_timeline(scheduled, delays, default_delay_ms=1000)


def q_sitemap_seeds(spark, sf_dir):
    """Sitemap ingestion (operators/sitemaps.py — engine-native; the
    reference link-walks only): urlset entries + one resolved index
    level, deduped on (host, loc) keeping max lastmod. Spark side does
    real XML-shaped extraction (pure Catalyst regexp — zero Python);
    the oracle re-derives the closed-form entry structure."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sitemaps import (
        sitemap_seeds,
    )

    corpus = _synth(spark, sf_dir, SITEMAP_CORPUS_SQL)
    return sitemap_seeds(corpus).select("host", "loc", "lastmod")


def q_host_inlink_ranks(spark, sf_dir):
    """Host-rank PRODUCER (operators/ranks.py): in-link count per
    target host from E1-extracted links over the clean corpus — the
    table the rank-aware scheduler broadcasts. Oracle: the same counts
    from the closed-form edge graph (pages.edges_sql)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        host_inlink_ranks,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return host_inlink_ranks(pages)


def q_host_pagerank(spark, sf_dir):
    """Iterative host PageRank (operators/ranks.py host_pagerank) over
    the host graph built from E1-extracted links — the refinement of
    host_inlink_ranks for the rank-aware scheduler. 3 synchronized
    iterations, damping 0.85, dangling mass dropped. Oracle: the same
    fixed-point arithmetic unrolled as chained CTEs over the
    closed-form edge graph (pages.edges_sql)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        host_edges,
        host_pagerank,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    pr = host_pagerank(host_edges(pages), n_iters=3, damping=0.85)
    return pr.select("host", F.round("host_rank", 6).alias("pagerank"))


def q_registered_domains(spark, sf_dir):
    """Pay-level-domain rollup (urlnorm.registered_domain_col, PSL-lite):
    group the host mix by registered domain — the budget principal
    per-host politeness cannot see (a.shop.x.co.uk and www.x.co.uk are
    one crawl target). Spark walks the suffix rules; the oracle states
    each fixture branch's known answer."""
    s = _synth(spark, sf_dir, DOMAIN_SYNTH_SQL)
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import (
        registered_domain_col,
    )

    return (
        s.select("host", registered_domain_col(F.col("host")).alias("domain"))
        .groupBy("domain")
        .agg(
            F.countDistinct("host").cast("bigint").alias("n_hosts"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )


def q_politeness_domain(spark, sf_dir):
    """Politeness at pay-level-domain granularity
    (politeness.schedule_by_domain): the subdomain fan-out in the
    domain fixture shares one budget per registered domain — the
    wildcard-DNS/link-farm bypass per-host budgets leave open. Cut is
    the deterministic (depth ASC, url_norm ASC) rule; oracle replays
    it with a row_number over the closed-form domain."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.politeness import (
        schedule_by_domain,
    )

    s = _synth(spark, sf_dir, DOMAIN_SYNTH_SQL)
    frontier = s.select(
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.lit("/p/"), F.col("doc_id")).alias(
            "url_norm"
        ),
        (F.col("doc_id") % 5).cast("int").alias("depth"),
    )
    scheduled, _deferred = schedule_by_domain(frontier, budget_per_domain=3)
    return scheduled.select("url_norm", "host", "depth")


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution (redirects.resolve_redirects): Go
    net/http's 10-hop redirect policy (inherited by colly — only the
    final response reaches downloader/downloader.go:200) replayed as
    a pointer-doubling join over the (src, dst) redirect map. Chains
    that terminate within 10 hops resolve ok with exact hop counts;
    loops and over-long chains are stuck, like net/http's "stopped
    after 10 redirects". Oracle walks the same functional graph with
    a bounded recursive CTE. n_hops uses -1 for stuck (nullable-int
    pandas dtypes don't round-trip)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        redirects as rd,
    )

    s = _synth(spark, sf_dir, REDIRECT_SYNTH_SQL)
    requests = s.select(F.col("src").alias("url"))
    out = rd.resolve_redirects(requests, s, max_hops=10)
    return out.select(
        "url",
        "status",
        "final_url",
        F.coalesce("n_hops", F.lit(-1)).cast("long").alias("n_hops"),
    )


def q_soft404(spark, sf_dir):
    """Soft-404 detection (traps.soft404_flags): error-page phrasing
    behind a 200 status — the corpus-poisoning class the reference's
    status-only gate (downloader/downloader.go:200) cannot see. Long
    pages that merely quote an error phrase stay clean via the
    word-count bound; map-only Catalyst."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        soft404_flags,
    )

    s = _synth(spark, sf_dir, SOFT404_SYNTH_SQL)
    return soft404_flags(s, id_col="id", text_col="text")


def q_line_dedup_scrub(spark, sf_dir):
    """Within-doc duplicate-line removal (curation.line_dedup_scrub):
    keep-first per line, original order, zero shuffles — the repair
    half of repetition_stats. Oracle replays keep-first with a
    row_number over (doc, line, pos)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.curation import (
        line_dedup_scrub,
    )

    s = _synth(spark, sf_dir, LINEDUP_SYNTH_SQL)
    return line_dedup_scrub(s)


def q_canonical_clusters(spark, sf_dir):
    """rel=canonical clustering (redirects.canonical_clusters):
    map-only href extraction, then the SAME pointer-doubling jump
    table as redirect_resolve over the canonical edge graph —
    variants collapse to their base through 2-level chains, canonical
    loops fall back to self. Cluster sizes attach via the unique-url
    join (no hot-canonical-key path)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.redirects import (
        canonical_clusters,
    )

    s = _synth(spark, sf_dir, CANON_SYNTH_SQL)
    return canonical_clusters(s, url_col="url", html_col="html")


def q_phrase_match(spark, sf_dir):
    """Exact phrase search (search.phrase_match): positional postings
    via posexplode + broadcast first-term anchor join + doc-keyed
    array-slice verification — no BNLJ, no token-array carry through
    the explode. Oracle replays with unnest + list_slice."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.search import (
        phrase_match,
    )

    docs = load(spark, sf_dir, "documents")
    phrases = _synth(spark, sf_dir, PHRASE_QUERY_SQL)
    return phrase_match(docs, phrases)


def q_postings_delta(spark, sf_dir):
    """Incremental index maintenance (search.postings_incremental):
    v1 postings + a ~9%-changed / ~8%-removed / new-ids v2 corpus →
    the v2 index via digest diff, unchanged postings passing through
    a doc-keyed semi join untokenized. The oracle is the FULL REBUILD
    over the v2 corpus — the delta path must equal it exactly."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.search import (
        postings_incremental,
        term_postings,
    )

    docs_v1 = load(spark, sf_dir, "documents")
    docs_v2 = _synth(spark, sf_dir, V2_DOCS_SQL)
    index_v1 = term_postings(docs_v1)
    digests_v1 = docs_v1.select(
        "doc_id", F.xxhash64("text").alias("digest")
    )
    return postings_incremental(index_v1, digests_v1, docs_v2)


def _hll_oracle_sql(src_sql: str, label: str, b: int = 10) -> str:
    """One label's HLL audit as SQL — the register build, the exact
    integer S-sum, the raw/linear-counting branch and the error
    column, mirroring operators/sketches.py arithmetic 1:1."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        _alpha,
    )

    m = 1 << b
    k = 60 - b + 1
    alpha = _alpha(m)
    big = float(m) * float(m) * float(1 << k)
    return f"""
SELECT '{label}' AS label, CAST({m} AS BIGINT) AS m, v_zero,
  round(CASE WHEN raw <= {2.5 * m!r} AND v_zero > 0
             THEN {float(m)!r} * ln({float(m)!r} / v_zero)
             ELSE raw END, 4) AS est,
  n_exact,
  round(abs(round(CASE WHEN raw <= {2.5 * m!r} AND v_zero > 0
             THEN {float(m)!r} * ln({float(m)!r} / v_zero)
             ELSE raw END, 4) - n_exact) / n_exact * 100, 3) AS err_pct
FROM (
  SELECT (CAST({m} AS BIGINT) - nz) AS v_zero,
    {alpha!r} * {big!r}
      / CAST(s_ne + (CAST({m} AS BIGINT) - nz) * (CAST(1 AS BIGINT) << {k})
             AS DOUBLE) AS raw,
    n_exact
  FROM (
    SELECT count(*) AS nz,
      coalesce(sum((CAST(1 AS BIGINT)) << ({k} - rho)), 0) AS s_ne,
      (SELECT CAST(count(*) AS BIGINT) FROM (
        SELECT DISTINCT _v FROM ({src_sql}) WHERE _v IS NOT NULL)) AS n_exact
    FROM (
      SELECT bucket,
        max(CASE WHEN w = 0 THEN {k}
            ELSE length(bin(w)) - length(regexp_replace(bin(w), '0+$', '')) + 1
            END) AS rho
      FROM (
        SELECT h % {m} AS bucket, h >> {b} AS w FROM (
          SELECT ('0x' || substr(md5(_v), 1, 15))::BIGINT AS h FROM (
            SELECT DISTINCT _v FROM ({src_sql}) WHERE _v IS NOT NULL)))
      GROUP BY bucket)))
""".strip()


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count audit (operators/sketches.py): the
    md5-60-bit engine-exact HLL over three cardinality classes —
    deep linear-counting (user_id, 15), boundary linear (doc text,
    ~500) and the raw estimator branch (lineitem key, ~6000 at
    sf0.001) — each row carrying the true distinct count and the
    sketch's measured error. Register build = one m-bounded shuffle
    per column; no distinct-key shuffle anywhere in the sketch path
    (the exact column is the AUDIT, not the product)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        hll_distinct,
    )

    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    li = load(spark, sf_dir, "lineitem")
    labeled = [
        ("user_id", ev.select(F.col("user_id").cast("string").alias("v"))),
        ("doc_text", docs.select(F.col("text").alias("v"))),
        (
            "lineitem_key",
            li.select(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                ).alias("v")
            ),
        ),
    ]
    outs = []
    for label, df in labeled:
        est = hll_distinct(df, "v")
        exact = (
            df.na.drop()
            .agg(F.countDistinct("v").cast("long").alias("n_exact"))
        )
        outs.append(
            est.crossJoin(F.broadcast(exact)).select(
                F.lit(label).alias("label"),
                "m",
                "v_zero",
                "est",
                "n_exact",
                F.round(
                    F.abs(F.col("est") - F.col("n_exact"))
                    / F.col("n_exact")
                    * 100,
                    3,
                ).alias("err_pct"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _hll_est_sql(src_sql: str, b: int = 10) -> str:
    """Scalar SQL subquery: the HLL estimate for a (_v) value source,
    mirroring sketches.hll_estimate's arithmetic (shared with
    _hll_oracle_sql's inline copy)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        _alpha,
    )

    m = 1 << b
    k = 60 - b + 1
    alpha = _alpha(m)
    big = float(m) * float(m) * float(1 << k)
    return f"""(
SELECT round(CASE WHEN raw <= {2.5 * m!r} AND v_zero > 0
             THEN {float(m)!r} * ln({float(m)!r} / v_zero)
             ELSE raw END, 4)
FROM (
  SELECT (CAST({m} AS BIGINT) - nz) AS v_zero,
    {alpha!r} * {big!r}
      / CAST(s_ne + (CAST({m} AS BIGINT) - nz) * (CAST(1 AS BIGINT) << {k})
             AS DOUBLE) AS raw
  FROM (
    SELECT count(*) AS nz,
      coalesce(sum((CAST(1 AS BIGINT)) << ({k} - rho)), 0) AS s_ne
    FROM (
      SELECT bucket,
        max(CASE WHEN w = 0 THEN {k}
            ELSE length(bin(w)) - length(regexp_replace(bin(w), '0+$', '')) + 1
            END) AS rho
      FROM (
        SELECT h % {m} AS bucket, h >> {b} AS w FROM (
          SELECT ('0x' || substr(md5(_v), 1, 15))::BIGINT AS h FROM (
            SELECT DISTINCT _v FROM ({src_sql}) WHERE _v IS NOT NULL)))
      GROUP BY bucket))))""".strip()


def q_hll_set_overlap(spark, sf_dir):
    """Snapshot-overlap from sketches alone (sketches.hll_set_overlap):
    union = register-wise MAX merge, intersection = inclusion-
    exclusion — "how many URLs do crawls A and B share" without
    shuffling either key set. The audit row carries the exact three
    counts next to the estimates; the oracle recomputes union
    registers from the UNION of the value streams (identical by
    construction to the max-merge)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        hll_set_overlap,
    )

    a = _synth(spark, sf_dir, HLL_SET_A_SQL)
    bdf = _synth(spark, sf_dir, HLL_SET_B_SQL)
    ov = hll_set_overlap(a, "_v", bdf, "_v")
    n_a = a.distinct().agg(F.count("*").cast("long").alias("n_a"))
    n_b = bdf.distinct().agg(F.count("*").cast("long").alias("n_b"))
    n_i = (
        a.distinct()
        .intersect(bdf.distinct())
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    return (
        ov.crossJoin(F.broadcast(n_a))
        .crossJoin(F.broadcast(n_b))
        .crossJoin(F.broadcast(n_i))
        .select("n_a", "n_b", "n_inter", "est_a", "est_b", "est_union", "est_inter")
    )


def _hll_grouped_est_sql(pairs_sql: str, b: int = 10) -> str:
    """Grouped-HLL estimate SQL: (g, est) from a (g, val) pair source —
    sketches.hll_grouped_registers + hll_grouped_estimate mirrored."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        _alpha,
    )

    m = 1 << b
    k = 60 - b + 1
    alpha = _alpha(m)
    big = float(m) * float(m) * float(1 << k)
    return f"""(
SELECT g, round(CASE WHEN raw <= {2.5 * m!r} AND v_zero > 0
                THEN {float(m)!r} * ln({float(m)!r} / v_zero)
                ELSE raw END, 4) AS est
FROM (
  SELECT g, (CAST({m} AS BIGINT) - nz) AS v_zero,
    {alpha!r} * {big!r}
      / CAST(s_ne + (CAST({m} AS BIGINT) - nz) * (CAST(1 AS BIGINT) << {k})
             AS DOUBLE) AS raw
  FROM (
    SELECT g, count(*) AS nz,
      coalesce(sum((CAST(1 AS BIGINT)) << ({k} - rho)), 0) AS s_ne
    FROM (
      SELECT g, bucket,
        max(CASE WHEN w = 0 THEN {k}
            ELSE length(bin(w)) - length(regexp_replace(bin(w), '0+$', '')) + 1
            END) AS rho
      FROM (
        SELECT g, h % {m} AS bucket, h >> {b} AS w FROM (
          SELECT g, ('0x' || substr(md5(val), 1, 15))::BIGINT AS h FROM (
            SELECT DISTINCT g, CAST(val AS VARCHAR) AS val
            FROM ({pairs_sql}) WHERE val IS NOT NULL)))
      GROUP BY g, bucket)
    GROUP BY g)))""".strip()


def q_hyperball(spark, sf_dir):
    """HyperBall neighborhood balls (sketches.hyperball) over the E1
    host graph: per-host |B_1| and |B_2| estimates from iterated
    per-node HLL registers — each radius step is one edges-vs-registers
    join + a register-wise max, never a BFS frontier. The oracle
    rebuilds the t=1,2 ball VALUE SETS closed-form and runs the same
    grouped register arithmetic (register-of-union == max-merge, by
    construction)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        host_edges,
    )
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        hyperball,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return hyperball(host_edges(pages), t_max=2)


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min heavy hitters (operators/sketches.py cms_*): the
    documents token stream sketched into 4x1024 sum-mergeable
    counters, point-queried for the true top-20 terms; each audit row
    carries the exact count and the inflation (CMS error is strictly
    one-sided). Counter table bounded at d*w rows; the exact side is
    the AUDIT, not the product."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term")
    )
    counters = cms_counters(toks, "term")
    top = (
        toks.groupBy("term")
        .agg(F.count("*").cast("long").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("term").asc())
        .limit(20)
    )
    est = cms_estimate(counters, top.select("term"))
    return top.join(est, "term").select(
        "term",
        "true_cnt",
        "est",
        (F.col("est") - F.col("true_cnt")).cast("long").alias("inflation"),
    )


def q_compression_signal(spark, sf_dir):
    """zlib-ratio quality signal (curation.compression_signal) over
    documents. zlib exists in neither SQL engine, so the oracle joins
    precomputed zlib byte counts (independent plain-Python pass,
    tools/make_compression_fixture.py, keyed by md5(text) so one
    static SQL string is exact at every sf) and computes the ratio and
    both flags itself; threshold/edge semantics additionally
    pytest-pinned (test_curation)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.curation import (
        compression_signal,
    )

    return compression_signal(load(spark, sf_dir, "documents"))


def q_kwic_snippets(spark, sf_dir):
    """Keyword-in-context snippets (search.kwic_snippets): every
    exact phrase occurrence with ±5 tokens of context, cut from the
    token array in the anchor-verify projection. Oracle: unnest +
    list_slice + array_to_string."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.search import (
        kwic_snippets,
    )

    docs = load(spark, sf_dir, "documents")
    phrases = _synth(spark, sf_dir, PHRASE_QUERY_SQL)
    return kwic_snippets(docs, phrases, context=5)


def q_luhn_pan(spark, sf_dir):
    """Card-number exposure (textstats.luhn_stats): digit runs 13-19
    Luhn-checked with nested higher-order functions — exact integer
    checksum, no UDF, map-only. The oracle replays the identical
    arithmetic with DuckDB list lambdas."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.textstats import (
        luhn_stats,
    )

    s = _synth(spark, sf_dir, LUHN_SYNTH_SQL)
    return luhn_stats(s)


def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval (search.bm25_topk) over the documents table for
    four term queries. Scores are integer micro-units computed from
    exact (tf, df, dl, N, total_len) — the float-free-aggregation
    pattern — so the oracle replays the identical expression tree in
    SQL. Postings agg is map-side-partialed; query terms broadcast;
    top-k is a per-query window, never a global sort."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.search import (
        bm25_topk,
    )

    docs = load(spark, sf_dir, "documents")
    queries = _synth(spark, sf_dir, BM25_QUERY_SQL)
    return bm25_topk(docs, queries, k=10)


def q_host_reciprocity(spark, sf_dir):
    """Link-farm reciprocity signal (ranks.host_reciprocity) over the
    E1-extracted host graph: distinct cross-host out-degree, how many
    out-neighbors link straight back, and the integer-exact farm flag.
    Oracle reuses the closed-form edge graph (pages.edges_sql) with an
    EXISTS for the reverse edge."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        host_edges,
        host_reciprocity,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    return host_reciprocity(host_edges(pages))


def q_host_hits(spark, sf_dir):
    """HITS hubs & authorities (ranks.host_hits) over the E1 host
    graph, 2 synchronized iterations, L1 normalization — the
    directional split of host_pagerank's single scalar. Oracle unrolls
    the same arithmetic as chained CTEs."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        host_edges,
        host_hits,
    )

    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    out = host_hits(host_edges(pages), n_iters=2)
    return out.select(
        "host",
        F.round("hub", 6).alias("hub"),
        F.round("auth", 6).alias("auth"),
    )


def q_metrics_rollup(spark, sf_dir):
    """A1/A2 routing-split metrics over the clean corpus, routed on
    the body's byte length like the loop (the reference's len(body))."""
    pages = pagesrc.synth_clean_pages(spark, sf_dir)
    routed = pages.withColumn("path", route_decision_col("url", F.octet_length("html")))
    return routed.groupBy("host").agg(
        F.count("*").alias("pages"),
        F.sum(F.when(F.col("path") == "fast", 1).otherwise(0)).alias("n_fast"),
        F.sum(F.when(F.col("path") == "slow", 1).otherwise(0)).alias("n_slow"),
    )


def q_dedup_exact(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


def q_benchmark_contamination(spark, sf_dir):
    """Eval-set decontamination (dedup.benchmark_contamination): the
    benchmark corpus is the doc_id % 17 == 0 slice of documents (an
    eval set verbatim-leaked into training), and every doc gets the
    fraction of its distinct 8-gram spans found in that set plus a
    contaminated flag at 0.05. The leaked docs themselves score ~1.0;
    everything else only via genuinely shared spans. Hash-vs-string
    grouping keeps the gate collision-blind (see q_ngram_span_dedup)."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    c = dedup.benchmark_contamination(docs, bench, n=8, threshold=0.05)
    return c.select(
        F.col("id").alias("doc_id"),
        "n_grams",
        "bench_grams",
        "contamination",
        "contaminated",
    )


def q_ngram_span_dedup(spark, sf_dir):
    """Exact substring-level dedup (operators/dedup.ngram_span_stats):
    per-document count/fraction of distinct 8-token spans that occur
    verbatim in another document — the Lee-et-al.-style exact measure
    complementing the thresholded MinHash/SimHash/Jaccard family.
    Grouping runs on xxhash64(gram) (16-byte shuffle keys); the oracle
    groups on the gram strings themselves, so a hash collision would
    surface as a gate mismatch."""
    docs = load(spark, sf_dir, "documents")
    s = dedup.ngram_span_stats(docs, "doc_id", "text", n=8)
    return s.select(
        F.col("id").alias("doc_id"),
        "n_grams",
        "dup_grams",
        F.round("dup_frac", 6).alias("dup_frac"),
    )


def q_ngram_span_removal(spark, sf_dir):
    """The removal step the contamination stats feed (dedup.
    ngram_span_scrub): drop every token covered by a cross-document
    duplicated 8-gram and rebuild the cleaned text. Same hash-vs-
    string oracle relationship as ngram_span_dedup — and the oracle
    reconstructs clean_text independently (string_agg ORDER BY pos),
    so position bookkeeping is value-checked, not just counts."""
    docs = load(spark, sf_dir, "documents")
    return dedup.ngram_span_scrub(docs, "doc_id", "text", n=8)


def q_minhash_signatures(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text", k=8)


def q_lsh_dup_pairs(spark, sf_dir):
    """Banded MinHash-LSH pairs with the AUTO bucket cap (p99 of
    bucket sizes floored at 64 — dedup.lsh_auto_cap's integer rule;
    the oracle replays the identical percentile arithmetic in SQL).
    The 100 TB guard against degenerate band keys without the fixed
    cap's dense-corpus recall loss (VERDICT r03 "wrong" #2)."""
    docs = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", k=8)
    return dedup.lsh_dup_pairs(
        sig, k=8, rows_per_band=4, max_bucket_size="auto"
    )


def q_dedup_clusters(spark, sf_dir):
    """LSH pairs -> connected components -> canonical keep-list: the
    operator a dedup pass actually applies (drop every non-canonical
    doc). Impl: alternating large-star/small-star (O(log^2 n) rounds,
    edges-only shuffles); oracle: DuckDB recursive-CTE transitive
    closure — exact but quadratic per component, the small-scale
    cross-check for the scalable algorithm."""
    docs = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", k=8)
    pairs = dedup.lsh_dup_pairs(
        sig, k=8, rows_per_band=4, max_bucket_size="auto"
    )
    return dedup.dup_clusters(docs, pairs)


def q_simhash(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text")


def q_jaccard_pairs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").withColumn(
        "lbucket", F.floor(F.col("n_chars") / F.lit(64)).cast("int")
    )
    return dedup.jaccard_pairs(docs, "doc_id", "text", ["source", "lbucket"], 0.5)


LSH_RECALL_CONFIGS = (
    # (label, k, rows_per_band, max_bucket_size)
    ("k8_b2r4_auto", 8, 4, "auto"),    # the production default (p99 cap)
    ("k8_b2r4_cap64", 8, 4, 64),       # the old fixed default (foot-gun)
    ("k16_b8r2_cap64", 16, 2, 64),     # more bands, same cap
    ("k16_b8r2_cap256", 16, 2, 256),   # cap dial
    ("k16_b8r2_auto", 16, 2, "auto"),  # auto at the wider banding
    ("k16_b8r2_cap1000", 16, 2, 1000),
)


def q_lsh_recall(spark, sf_dir):
    """Recall of banded MinHash-LSH candidate pairs against the
    exact-Jaccard >= 0.5 truth set — the dedup recall/cost dial
    pinned with numbers (ann_recall's twin for the text-dedup
    family). Two dials: banding (k, rows/band) and the degenerate-
    bucket cap. On this fixture the CAP dominates — the synthetic
    corpus is pairwise-dense (small shared vocabulary keeps every
    band bucket huge), so cap 64 -> ~0.17 recall while cap 1000 ->
    ~0.99 at identical banding (sf0.01; minhash row agreement itself
    measured == J, so the loss is purely truncation). The AUTO cap
    (p99 of bucket sizes, floor 64 — the round-4 default) closes
    that: 0.99 at k16_b8r2 (vs 0.17 fixed-64) and 0.58 at the k8_b2r4
    default banding (vs 0.07 fixed-64) — at which point the residual
    loss is the BANDING's own J-threshold curve, not truncation. All
    set math is engine-side joins + counts."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "lbucket", F.floor(F.col("n_chars") / F.lit(64)).cast("int")
    )
    truth = dedup.jaccard_pairs(
        docs, "doc_id", "text", ["source", "lbucket"], 0.5
    ).select("id_a", "id_b")
    total = truth.agg(F.count("*").cast("int").alias("total"))
    outs = []
    for name, k, rpb, cap in LSH_RECALL_CONFIGS:
        sig = dedup.minhash_signatures(docs, "doc_id", "text", k=k)
        pairs = dedup.lsh_dup_pairs(
            sig, k=k, rows_per_band=rpb, max_bucket_size=cap
        ).select("id_a", "id_b")
        hits = truth.join(pairs, ["id_a", "id_b"]).agg(
            F.count("*").cast("int").alias("hits")
        )
        outs.append(
            hits.crossJoin(F.broadcast(total)).select(
                F.lit(name).alias("config"),
                "hits",
                "total",
                F.round(F.col("hits") / F.col("total"), 6).alias("recall"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def q_embedding_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization
    (similarity.quantize_embeddings) — the 4x ANN memory lever —
    projected through quantization_digest for the exact gate (dims,
    scale, code stats, order-committing codes md5). Dequantized
    retrieval recall is pytest-pinned (test_similarity)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.quantization_digest(similarity.quantize_embeddings(emb))


def q_ann_topk_bucketed(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ann_topk_bucketed(emb, _query_vec(spark, sf_dir), k=10, n_bits=8)


def q_ann_topk_multiprobe(spark, sf_dir):
    """Multiprobe ANN: query bucket + every Hamming-1 neighbor bucket
    (similarity.ann_topk_multiprobe) — recovers most single-probe
    recall loss while still reading (n_bits+1)/2^n_bits of the corpus
    (an IN-list of partition values when bucket is the partition key)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ann_topk_multiprobe(emb, _query_vec(spark, sf_dir), k=10, n_bits=8)


def _centroids(spark, sf_dir, n=16):
    """Deterministic IVF centroid list: the first ``n`` corpus vectors
    (vec_id < n, id order) — rebuildable by the oracle. Production
    would hand k-means output to the same operators."""
    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .orderBy("vec_id")
        .collect()
    )
    return [list(r["embedding"]) for r in rows]


def q_ivf_assign(spark, sf_dir):
    """IVF coarse quantization (similarity.ivf_assign): every vector's
    nearest-centroid cell by rounded cosine, ties to the lowest cid —
    the data-adaptive partition key the 100 TB layout writes by.
    Map-only, centroids are task-closure literals; full corpus
    surface."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ivf_assign(emb, _centroids(spark, sf_dir)).select(
        "vec_id", "cid", "cid_cosine"
    )


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN top-k (similarity.ann_topk_ivf): probe the nprobe=4 of
    16 cells nearest the query, exact cosine top-10 inside them —
    reads ~1/4 of the corpus here, exactly nprobe partitions once the
    table is cid-partitioned. Completes the ANN family: brute-force
    exact, signbit LSH single/multiprobe, and IVF (data-adaptive
    cells)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ann_topk_ivf(
        emb, _centroids(spark, sf_dir), _query_vec(spark, sf_dir), k=10, nprobe=4
    )


def q_kmeans_train(spark, sf_dir):
    """Deterministic spherical k-means chain (similarity.kmeans_train
    + kmeans_stats): init = the k=8 lowest-id vectors, one Lloyd
    iteration (rounded-cosine argmax assign -> integer micro-unit
    mean update, emptied cells keep their centroid), then the SECOND
    iteration's sufficient statistics as the gate surface — per-cell
    member count and per-dimension bigint micro sums. Every step is
    engine-independent (int sums commute; the only floats are one
    fixed chain per value), so the DuckDB oracle replays the full
    two-step chain to bit-identical rows. This is the trainer that
    feeds ivf_assign/ann_topk_ivf data-adaptive centroids; per
    iteration it is ONE shuffle of k*(d+1) longs."""
    emb = load(spark, sf_dir, "embeddings")
    cents1, _ = similarity.kmeans_train(emb, k=8, n_iters=1)
    return similarity.kmeans_stats(emb, cents1)


def q_semdedup(spark, sf_dir):
    """SemDeDup (similarity.semdedup; Abbas et al. 2023): cluster by
    the deterministic 16-cell IVF assignment, pair up within-cell
    vectors with cosine >= 0.25 (the random fixture's top ~1 % of
    within-cell pairs), and keep per eps-neighborhood the item LEAST
    similar to its centroid (ties -> lowest id). max_cell_size=24
    binds on the fixture (cells average ~31), so the
    participation-cap rule — first 24 rows per cell by the keep order,
    later rows pass through kept with examined=false — is itself
    under oracle. Full decision surface: one row per input vector
    with (cid, cid_cosine, examined, n_sem_dups, keep)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semdedup(
        emb, _centroids(spark, sf_dir), eps=0.25, max_cell_size=24
    )


def q_cluster_reps(spark, sf_dir):
    """Quality-aware canonical selection (dedup.cluster_representatives):
    the same LSH pair set and components as dedup_clusters, but each
    cluster keeps its HIGHEST-quality member (micro-unit quality_score,
    ties -> lowest doc_id) instead of the arbitrary min id. Oracle:
    recursive-CTE closure + the qscore twin + a rank-1 window — exact
    but quadratic per component, the small-scale cross-check."""
    docs = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", k=8)
    pairs = dedup.lsh_dup_pairs(
        sig, k=8, rows_per_band=4, max_bucket_size="auto"
    )
    return dedup.cluster_representatives(
        docs,
        pairs,
        score=F.round(textstats.quality_score(F.col("text")) * 1000000).cast(
            "long"
        ),
    )


def _kmeans_oracle_sql(k=8, d=64):
    """DuckDB replay of q_kmeans_train: init cells from vec_id < k,
    assignment 1 (rounded-cosine argmax, ties -> lowest cid), integer
    micro-unit mean update (emptied cells keep the init centroid),
    assignment 2, then count + per-dimension micro sums per cell."""
    micro = (
        lambda i: f"CAST(round(e.embedding[{i + 1}]::DOUBLE * 1000000.0, 0) AS BIGINT)"
    )
    sums = ",\n    ".join(
        f"CAST(sum({micro(i)}) AS BIGINT) AS s{i}" for i in range(d)
    )
    cvec1 = ", ".join(f"(m.s{i}::DOUBLE / m.n) / 1000000.0" for i in range(d))
    assign = """
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round(list_cosine_similarity(
          list_transform(e.embedding, x -> x::DOUBLE), c.cvec), 6) DESC,
        c.cid) AS rn
    FROM embeddings e CROSS JOIN {cents} c
  ) WHERE rn = 1
"""
    return f"""
WITH c0 AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cvec
  FROM embeddings WHERE vec_id < {k}
),
a1 AS ({assign.format(cents="c0")}),
m1 AS (
  SELECT a.cid, count(*) AS n,
    {sums}
  FROM embeddings e JOIN a1 a USING (vec_id) GROUP BY a.cid
),
c1 AS (
  SELECT c0.cid,
    CASE WHEN m.cid IS NULL THEN c0.cvec ELSE [{cvec1}] END AS cvec
  FROM c0 LEFT JOIN m1 m ON c0.cid = m.cid
),
a2 AS ({assign.format(cents="c1")})
SELECT CAST(a.cid AS INT) AS cid, count(*) AS n,
  {sums}
FROM embeddings e JOIN a2 a USING (vec_id)
GROUP BY a.cid
"""


def _bpe_oracle_sql(n_merges=8, min_freq=1, token_counts=False):
    """DuckDB replay of q_bpe_train / q_bpe_token_counts. Per step s:
    ``t{s}`` = the corpus-weighted adjacent-pair argmax (MATERIALIZED
    so chained steps never re-evaluate upstream), ``f{s}`` = a
    recursive CTE walking each word's symbol list position-by-position
    with the same fuse-or-append fold as bpe._apply_merge (the merge
    pair rides along as columns via LEFT JOIN ON TRUE, so an empty
    t{s} — early stop — passes segmentations through unchanged,
    matching the Spark loop's break). ``word[i]`` / substr are
    character-based on both engines; '\\s+' splits identically on the
    ASCII-space corpus."""
    having = f"HAVING count(*) >= {min_freq}" if min_freq > 1 else ""
    parts = [
        rf"""w AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents
  ) WHERE word <> '' GROUP BY word {having}
),
s0 AS MATERIALIZED (
  SELECT word, freq,
    list_append(list_transform(range(1, length(word)+1), i -> word[i]), '</w>') AS seg
  FROM w
)"""
    ]
    for s in range(1, n_merges + 1):
        parts.append(
            f"""t{s} AS MATERIALIZED (
  SELECT a, b, cnt FROM (
    SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      SELECT freq, unnest(list_transform(range(1, len(seg)), i -> [seg[i], seg[i+1]])) AS pr
      FROM s{s - 1}
    ) GROUP BY 1, 2
  ) ORDER BY cnt DESC, a, b LIMIT 1
),
f{s} AS (
  SELECT word, freq, seg, t.a AS ma, t.b AS mb, 2 AS pos, seg[1:1] AS acc
  FROM s{s - 1} LEFT JOIN t{s} t ON TRUE
  UNION ALL
  SELECT word, freq, seg, ma, mb, pos + 1,
    CASE WHEN acc[-1] = ma AND seg[pos] = mb
         THEN list_append(acc[1:len(acc)-1], ma || mb)
         ELSE list_append(acc, seg[pos]) END
  FROM f{s} WHERE pos <= len(seg)
),
s{s} AS MATERIALIZED (SELECT word, freq, acc AS seg FROM f{s} WHERE pos = len(seg)+1)"""
        )
    if token_counts:
        final = rf"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(coalesce(word_tokens, CAST(length(word) AS BIGINT) + 1)) AS BIGINT)
    AS n_bpe_tokens
FROM (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word
    FROM documents
  ) WHERE word <> ''
) ex LEFT JOIN (
  SELECT word, CAST(len(seg) AS BIGINT) AS word_tokens FROM s{n_merges}
) pw USING (word)
GROUP BY doc_id"""
    else:
        union = "\n  UNION ALL ".join(
            f"SELECT CAST({s} AS INT) AS step, a, b, a||b AS merged,"
            f" cnt AS pair_count FROM t{s}"
            for s in range(1, n_merges + 1)
        )
        final = f"\nSELECT * FROM (\n  {union}\n) ORDER BY step"
    return "WITH RECURSIVE\n" + ",\n".join(parts) + final


def q_ann_recall(spark, sf_dir):
    """Recall@10 of the two ANN paths against the exact scan — the
    recall/cost dial as a measured gate row, not prose: single-probe
    reads 1/2^8 of the corpus, multiprobe (n_bits+1)/2^8, and this
    query pins what each recovers of cosine_topk's true top-10.
    All three top-k sets are computed engine-side and intersected with
    joins (no driver-side set math), so the same plan runs at any
    corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    exact = similarity.cosine_topk(emb, qv, k=10).select("vec_id")
    approx = {
        "bucketed": similarity.ann_topk_bucketed(emb, qv, k=10, n_bits=8),
        "multiprobe": similarity.ann_topk_multiprobe(emb, qv, k=10, n_bits=8),
    }
    outs = []
    for name, df in approx.items():
        outs.append(
            df.select("vec_id")
            .join(exact, "vec_id", "inner")
            .agg(F.count("*").alias("_n"))
            .select(
                F.lit(name).alias("method"),
                F.col("_n").cast("int").alias("hits"),
                F.round(F.col("_n") / 10.0, 6).alias("recall_at_10"),
            )
        )
    return outs[0].unionByName(outs[1])


def q_latest_snapshot(spark, sf_dir):
    """Recrawl dedup (dedup.latest_snapshot): newest fetch per url_norm
    over a multi-version WARC-style fixture (pages refetched under
    distinct warc_ts). max-struct agg, one shuffle; the oracle is the
    row_number()=1 window over the same versions."""
    snaps = _synth(spark, sf_dir, SNAP_SQL)
    latest = dedup.latest_snapshot(snaps, key_col="url_norm", ts_col="warc_ts")
    return latest.select(
        "url_norm",
        F.unix_timestamp("warc_ts").alias("ts_epoch"),
        "content_md5",
    )


def q_embedding_neardup(spark, sf_dir):
    """Multi-band sign-LSH near-dup pairs (4 bands x 8 sign bits,
    bucket cap 100) — the bounded-block scale path; the oracle
    reproduces bands + cap + cosine in SQL."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(
        emb, threshold=0.30, n_bits=8, n_bands=4, max_bucket_size=100
    )


def q_lang_id(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.lang_id("text").alias("lang_pred"))


def q_token_counts(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count_ws("text").cast("long").alias("n_ws"),
        textstats.token_count_bpe("text").cast("long").alias("n_bpe"),
    )


def q_quality_score(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.quality_score("text").alias("score"))


def q_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.fingerprint("text").alias("fp"))


def q_quality_filter(spark, sf_dir):
    """C4/Gopher-style composite keep/drop with per-rule flags and a
    first-failing-rule reason — map-only, no shuffle (textstats.
    quality_filter docstring has the 100 TB argument)."""
    docs = load(spark, sf_dir, "documents")
    return textstats.quality_filter(docs)


def q_corpus_refine(spark, sf_dir):
    """The composed training-data pipeline over the corpus: keep docs
    that (a) pass the quality filter, (b) are their near-dup cluster's
    canonical representative, and (c) fall in the stratified mix
    sample — emitting (doc_id, stratum, n_tokens, weight), i.e. the
    table a tokenizer shards. One gate pinning that the components
    compose (same thresholds, same hash policy) — the oracle nests the
    three component oracles verbatim.

    Scale shape: quality + mix are map-only predicates that Catalyst
    pushes into the scan side of the joins; the only heavy lifting is
    the dedup clustering the pipeline needs anyway."""
    docs = load(spark, sf_dir, "documents")
    qf = textstats.quality_filter(docs).filter("keep").select("doc_id")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", k=8)
    pairs = dedup.lsh_dup_pairs(
        sig, k=8, rows_per_band=4, max_bucket_size="auto"
    )
    canon = dedup.dup_clusters(docs, pairs).filter("is_canonical").select("doc_id")
    mix = (
        sampling.training_mix_sample(docs)
        .filter("keep")
        .select("doc_id", "stratum", "weight")
    )
    return (
        docs.join(qf, "doc_id")
        .join(canon, "doc_id")
        .join(mix, "doc_id")
        .select(
            "doc_id",
            "stratum",
            textstats.token_count_ws("text").cast("long").alias("n_tokens"),
            "weight",
        )
    )


def q_corpus_pack(spark, sf_dir):
    """The pipeline's last stage: the refined corpus (quality ∧
    canonical ∧ mix — q_corpus_refine's exact DataFrame) packed into
    training sequences (curation.sequence_pack, tokens_col reuses
    refine's n_tokens — no second text scan). Sparse doc_ids are the
    point: sequence offsets are defined over the SURVIVING docs in id
    order within each shard, so the oracle nests the refine oracle
    verbatim and packs its output."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    refined = q_corpus_refine(spark, sf_dir)
    return curation.sequence_pack(
        refined, seq_len=256, shard_docs=64, tokens_col="n_tokens"
    )


def q_host_trap_stats(spark, sf_dir):
    """Crawl-trap detection (operators/traps.py): per-host URL-shape
    stats over a frontier where two hosts concentrate everything
    under one prefix (calendar / faceted search) — those flag
    suspect; the section-spread and mixed hosts don't. Integer-count
    rates keep the flag engine-independent."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        traps,
    )

    u = _synth(spark, sf_dir, TRAP_SYNTH_SQL)
    return traps.host_trap_stats(u)


def q_redact_pii(spark, sf_dir):
    """PII redaction (textstats.redact_pii) over the PII-injected
    corpus: sequential email → ipv4 → phone scrub with per-kind
    counts; clean text crosses the gate as md5. Patterns avoid the
    \\s / \\b corners where Java regex and RE2 diverge."""
    docs = _synth(spark, sf_dir, PII_SYNTH_SQL)
    r = textstats.redact_pii(docs)
    return r.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5("clean_text").alias("clean_md5"),
    )


def q_text_normalize(spark, sf_dir):
    """Unicode/whitespace canonicalization (textstats.normalize_text)
    over the messy-rendering corpus: NFC → NBSP→space → control strip
    → whitespace collapse → trim, the pre-dedup pass every text-keyed
    operator depends on. Normalized text crosses the gate as md5; the
    oracle replays the identical step sequence in RE2."""
    docs = _synth(spark, sf_dir, NORM_SYNTH_SQL)
    r = textstats.normalize_text(docs)
    return r.select(
        "doc_id",
        F.md5("norm_text").alias("norm_md5"),
        "n_before",
        "n_after",
        "changed",
    )


def q_url_features(spark, sf_dir):
    """Per-URL shape features (operators/traps.py url_features) over
    the trap-shaped frontier: path depth, query params, digit density
    (exact integer permille) and the composite shape_score that
    demotes calendar/facet/session noise in the priority queue."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        url_features,
    )

    return url_features(_synth(spark, sf_dir, TRAP_SYNTH_SQL))


def q_host_mirrors(spark, sf_dir):
    """Mirror-host detection (operators/mirrors.py): host pairs by
    content-fingerprint overlap, pairing capped at 8 hosts/fingerprint
    (the parked template in the fixture is hotter and must contribute
    to no pair), Jaccard mirror flag as an integer cross-multiply.
    m0/m1 flag as mirrors; m2's half-overlap pairs list unflagged."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        mirrors,
    )

    docs = _synth(spark, sf_dir, MIRROR_SYNTH_SQL)
    return mirrors.host_mirror_pairs(docs, max_hosts_per_fp=8)


def q_mirror_cap_audit(spark, sf_dir):
    """The no-silent-caps companion to host_mirrors: corpus
    fingerprint count, how many the pairing cap excluded, and the
    hottest fingerprint's host fan-out."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        mirrors,
    )

    docs = _synth(spark, sf_dir, MIRROR_SYNTH_SQL)
    return mirrors.mirror_cap_audit(docs, max_hosts_per_fp=8)


def q_dust_params(spark, sf_dir):
    """DUST parameter mining (operators/traps.py dust_param_stats):
    per (host, query-param) content-irrelevance learned by bucketing
    urls on everything-but-the-param and counting fingerprint
    collapse. Spark REALLY parses the url strings (regexp host/base,
    posexplode params, sorted-others bucket key); the oracle
    re-derives the bucket structure closed-form from the fixture's
    (page, session) residues."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        dust_param_stats,
    )

    pages = _synth(spark, sf_dir, DUST_SYNTH_SQL)
    return dust_param_stats(pages, min_urls=6, irrelevance_pct=90)


def q_dust_canonicalize(spark, sf_dir):
    """The DUST composition end-to-end: dust_param_stats learns the
    rules from the fixture's fetch log, strip_learned_params rewrites
    every distinct url — sessionid vanishes, survivors sort — so a
    3-session url family collapses to one seen-set key. Spark learns
    AND applies; the oracle re-derives both closed-form."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.traps import (
        dust_param_stats,
        strip_learned_params,
    )

    pages = _synth(spark, sf_dir, DUST_SYNTH_SQL)
    rules = dust_param_stats(pages, min_urls=6, irrelevance_pct=90)
    return strip_learned_params(pages.select("url").distinct(), rules)


def q_host_boilerplate(spark, sf_dir):
    """Host-level boilerplate removal (curation.strip_host_boilerplate)
    over the boilerplate-shaped corpus: lines on >= 3 distinct pages of
    the same host (nav, footer, promo) are stripped, content lines
    survive in order; pages that were all chrome keep an empty
    clean_text. Cleaned text crosses the gate as md5."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = _synth(spark, sf_dir, BOILER_SYNTH_SQL)
    r = curation.strip_host_boilerplate(docs, min_df=3)
    return r.select(
        "doc_id",
        "host",
        "n_lines",
        "n_boiler",
        F.md5("clean_text").alias("clean_md5"),
    )


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-global paragraph dedup (curation.paragraph_dedup) over
    the duplication-shaped corpus: the shared license paragraph and the
    5 syndicated promos survive exactly once each (first occurrence by
    (doc_id, pos)), unique tails all survive, docs reassemble in
    original order. Winner-set reassembly — no join back on the hot
    paragraph key. Cleaned text crosses the gate as md5."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = _synth(spark, sf_dir, PARA_SYNTH_SQL)
    r = curation.paragraph_dedup(docs)
    return r.select(
        "doc_id",
        "n_paras",
        "n_kept",
        "n_dropped",
        F.md5("clean_text").alias("clean_md5"),
    )


def q_domain_cap_sample(spark, sf_dir):
    """Dominant-domain cap (sampling.domain_cap_sample) over the
    mega-host-skewed corpus: top-10 docs per host by (quality DESC,
    doc_id), salted two-phase so the 2/3-of-corpus host never transits
    one window task. Dropped rows keep rank 0 in the gate projection
    (the operator reports NULL = below-cap)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        sampling,
    )

    docs = _synth(spark, sf_dir, DOMCAP_SYNTH_SQL)
    r = sampling.domain_cap_sample(docs, max_per_host=10)
    return r.select(
        "doc_id",
        "host",
        "quality",
        F.coalesce("rank", F.lit(0)).cast("bigint").alias("rank"),
        "keep",
    )


def q_cdx_index(spark, sf_dir):
    """CDX archive index (sources.warc.cdx_index) over the
    capture-shaped corpus: SURT keys collapse www./port/query-order url
    variants, digests mark unchanged recaptures as revisits. One
    window shuffle, group = captures of one page."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        warc as warcsrc,
    )

    caps = _synth(spark, sf_dir, CDX_SYNTH_SQL)
    return warcsrc.cdx_index(caps)


def q_script_profile(spark, sf_dir):
    """Per-doc Unicode-script profile (textstats.script_profile) over
    the multilingual corpus: per-block char counts + dominant script.
    lang_id's stopword heuristic only sees Latin-script languages;
    this is the curation signal for everything else. Integer counts
    only — bit-identical across engines; the literal char-class
    constants are shared with the oracle pattern by construction."""
    docs = _synth(spark, sf_dir, SCRIPT_SYNTH_SQL)
    return textstats.script_profile(docs)


def q_fingerprint_normalized(spark, sf_dir):
    """Rendering-independent dedup keys: the exact-dedup fingerprint
    computed on raw vs normalized text over the messy-rendering
    corpus. ``key_fixed`` marks docs where normalization changes the
    key — NBSP/control/zero-width/padding renderings that ws-collapse
    alone cannot unify. Map-only composition (normalize_text passes
    fp_raw through — no re-join)."""
    docs = _synth(spark, sf_dir, NORM_SYNTH_SQL).withColumn(
        "fp_raw", textstats.fingerprint("text")
    )
    n = textstats.normalize_text(docs, keep=("fp_raw",))
    return n.select(
        "doc_id",
        "fp_raw",
        textstats.fingerprint("norm_text").alias("fp_norm"),
        (F.col("fp_raw") != textstats.fingerprint("norm_text")).alias(
            "key_fixed"
        ),
    )


def q_doc_keyterms(spark, sf_dir):
    """Per-doc distinctive terms (curation.doc_keyterms): top-3 tokens
    by tf/df — the rational tf-idf rank-equivalent (integer division
    is engine-bit-identical; log idf could flip ranks by an ulp).
    Oracle replays tf, df-over-tf, and the per-doc row_number."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    kt = curation.doc_keyterms(docs, k=3)
    return kt.select(
        F.col("id").alias("doc_id"), "token", "tf", "df", "score", "rank"
    )


def q_bigram_commonness(spark, sf_dir):
    """Conditional-bigram LM commonness (curation.bigram_commonness):
    mean MLE P(w_i|w_{i-1}) per doc under the corpus' own bigram
    distribution — catches common-word word-salad the unigram score
    cannot. Micro-probabilities are int64 floor divisions materialized
    once in the model table; per-doc sums are pure integers."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    return curation.bigram_commonness(docs)


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (curation.vocab_growth): exact
    distinct-vocab at 10 doc_id-prefix cutoffs from ONE corpus pass
    (per-token first-occurrence + broadcast cutoff ladder)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    return curation.vocab_growth(load(spark, sf_dir, "documents"))


def q_freq_spectrum(spark, sf_dir):
    """Good-Turing frequency-of-frequencies (curation.freq_spectrum):
    N_f type counts + token mass per frequency — the unseen-mass and
    vocab-cutoff planning table."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    return curation.freq_spectrum(load(spark, sf_dir, "documents"))


def q_unigram_commonness(spark, sf_dir):
    """CCNet-style LM filtering, exact-arithmetic twin
    (curation.unigram_commonness): per-doc mean unigram probability
    under the corpus' own token distribution + hapax rate. Integer
    sums, one final double division — bit-identical across engines
    where a log-prob would drift by an ulp."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    return curation.unigram_commonness(docs)


def q_repetition_stats(spark, sf_dir):
    """Gopher repetition signals (curation.repetition_stats):
    per-doc duplicate-line fractions (count- and char-weighted) and
    top-bigram dominance. Integer sums, one double division per
    fraction — bit-identical across engines."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    return curation.repetition_stats(docs)


def q_sequence_pack(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing, per shard
    (curation.sequence_pack): doc offsets in the shard token stream
    and the training-sequence indices each doc lands in. Per-SHARD
    packing is the 100 TB design — a global token stream needs a
    global prefix sum (all-to-one), and real pipelines pack per
    output shard anyway. One shard-keyed window, integer arithmetic
    only — bit-identical across engines."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    return curation.sequence_pack(docs, seq_len=256, shard_docs=64)


def q_pack_stats(spark, sf_dir):
    """Per-shard packing audit (curation.pack_stats): sequence count,
    tail padding waste, boundary-crossing docs — the no-silent-caps
    companion measuring what per-shard packing trades for
    parallelism."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    packed = curation.sequence_pack(docs, seq_len=256, shard_docs=64)
    return curation.pack_stats(packed, seq_len=256)


def q_vocab_stats(spark, sf_dir):
    """Tokenizer-prep vocabulary table (curation.vocab_stats): top-100
    lowercase whitespace tokens by total occurrences with document
    frequency; (count DESC, token ASC) tiebreak pins the cutoff set.
    Plan contract: TakeOrderedAndProject, both aggs map-side-partial."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    return curation.vocab_stats(docs, top_k=100)


def q_bpe_train(spark, sf_dir):
    """Distributed BPE training (operators/bpe.py): collapse the
    corpus to the distinct-word freq table, then 8 merge steps — each
    is one pair aggregation over the word table + a ONE-ROW argmax
    collect + a pure-Catalyst re-segmentation fold. Returns the
    learned merge list (the model). Oracle = an unrolled DuckDB
    replay: per-step MATERIALIZED pair-count CTE + argmax + a
    recursive-CTE left-to-right fold, exact by the determinism
    contract in the module docstring (integer counts, lowest-(a,b)
    tiebreak, non-overlapping merge)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        bpe,
    )

    docs = load(spark, sf_dir, "documents")
    words = bpe.word_freqs(docs)
    merges, seg = bpe.bpe_train(spark, words, n_merges=8)
    seg.unpersist()
    return merges


def q_bpe_token_counts(spark, sf_dir):
    """Per-document token counts under a BPE vocabulary learned on
    frequent words only (min_freq=900 at sf0.01 splits the corpus
    vocab ~19 kept / 12 fallback, so the out-of-table char-count+1
    fallback path is exercised, not just declared). The curation
    signal: docs whose BPE token count approaches char count are
    noise the vocabulary cannot compress."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        bpe,
    )

    docs = load(spark, sf_dir, "documents")
    words = bpe.word_freqs(docs, min_freq=900)
    _, seg = bpe.bpe_train(spark, words, n_merges=8)
    return bpe.bpe_token_counts(docs, seg)


def q_source_quality_rollup(spark, sf_dir):
    """Domain-level curation table (operators/curation.py): per-source
    doc/token counts, quality-filter keep rate, mean quality score
    (micro-unit sums — order-independent) and near-dup rate from the
    LSH clustering — the table a curator thresholds to drop whole
    domains before per-doc work. Oracle = the per-doc component
    oracles rolled up per source."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
        curation,
    )

    docs = load(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text", k=8)
    pairs = dedup.lsh_dup_pairs(
        sig, k=8, rows_per_band=4, max_bucket_size="auto"
    )
    return curation.source_quality_rollup(docs, pairs)


def q_training_shards(spark, sf_dir):
    """The sink end of the pipeline: shard the refined corpus as
    stratum-partitioned, record-bounded parquet (sources/shards.py)
    and return the manifest the sink certifies from a RE-READ of the
    written files. The oracle aggregates the corpus_refine oracle per
    stratum, so a pass pins that the round trip through the on-disk
    layout (partitionBy dirs, maxRecordsPerFile splits, _manifest
    exclusion) loses and invents nothing."""
    import shutil
    import tempfile

    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        shards,
    )

    out = tempfile.mkdtemp(prefix="gate_shards_")
    try:
        manifest = shards.write_training_shards(
            q_corpus_refine(spark, sf_dir), out, max_records_per_file=100
        )
        # materialize before the files vanish (driver collects later)
        return manifest.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def q_training_mix(spark, sf_dir):
    """Deterministic stratified training-mix sampler over the stored
    lang column: md5-bucket threshold per stratum + inverse-propensity
    weight. Map-only; reproducible under any partitioning (pinned by
    tests/test_sampling.py)."""
    docs = load(spark, sf_dir, "documents")
    return sampling.training_mix_sample(docs)


def q_lang_temperature(spark, sf_dir):
    """Temperature-based language rebalancing
    (sampling.lang_temperature_sample, alpha=0.5) over the stored lang
    column: per-language keep threshold floor(B*sqrt(n_min/n_lang)),
    so the sampled mix is proportional to n_lang**0.5 — the XLM/mT5
    rule derived from the corpus' own histogram, vs training_mix's
    POLICY rates. The per-row keep is integer bucket-vs-threshold;
    the only floating point is one correctly-rounded chain per
    LANGUAGE (divide, sqrt, multiply, floor), so the DuckDB oracle
    reproduces the exact sample."""
    docs = load(spark, sf_dir, "documents")
    return sampling.lang_temperature_sample(docs)


def q_dsir_importance(spark, sf_dir):
    """DSIR data-selection scoring (sampling.dsir_importance): hashed
    unigram+bigram log-likelihood ratio of a target slice (sources
    src0/src1 stand in for the high-quality corpus) vs the full raw
    corpus, summed per document. Per-bucket lr is materialized as
    INTEGER micro-nats (one fixed-association double chain per bucket,
    mirrored verbatim in the oracle), so the per-doc sum is an
    order-free integer and the gate is exact. Tokenize/hash map-side;
    bucket-keyed count aggs; lr table broadcast; one doc_id sum."""
    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    return sampling.dsir_importance(docs, target)


def q_dsir_resample(spark, sf_dir):
    """DSIR's selection step (sampling.importance_resample): Gumbel
    top-k=100 without replacement, P(doc) ∝ exp(score_micro/1e6), the
    gumbel drawn from the doc's md5 uniform so both engines pick the
    SAME 100 docs. Engine side has NO global sort — top-k is
    TakeOrderedAndProject, the k-th (key, -doc_id) struct becomes a
    broadcast scalar threshold, membership a map-side comparison; the
    oracle's global row_number is equivalent because (key, doc_id) is
    a total order. The scored input is lazily localCheckpointed so the
    whole DSIR gram pipeline runs ONCE and both resample passes (top-k
    job, membership scan) read the tiny (doc_id, 3 ints) materialized
    frame — scores are corpus-independent-small, so at 100 TB this is
    the persist-the-reduction side of the recompute-vs-spill trade
    (the opposite call from dsir_importance's re-tokenize)."""
    scored = q_dsir_importance(spark, sf_dir).localCheckpoint(eager=False)
    return sampling.importance_resample(scored, k=100)


def q_events_rollup(spark, sf_dir):
    """Metrics-table rollup shape (A3-A5) over the events stream table.
    Value sum uses milli-units summed as integers (order-independent);
    the hour bucket crosses the gate as epoch seconds (BIGINT, see
    q_stream_host_rates on why timestamps can't)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").cast("long").alias("hour_epoch"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
    )


def q_latency_percentiles(spark, sf_dir):
    """Exact nearest-rank p50/p95 per event_type
    (operators/metrics.py exact_percentiles): integer milli-units,
    histogram-reduction shape — the window runs over the value space,
    never the raw stream — where percentile_approx would be neither
    exact nor engine-stable. The tail signal the reference's mean
    counters (downloader.go:51-57) cannot see."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.metrics import (
        exact_percentiles,
    )

    ev = load(spark, sf_dir, "events")
    return exact_percentiles(ev, "event_type", "value")


def q_multimodal_probe(spark, sf_dir):
    """Binary-payload plumbing (mapInPandas probe). Fully oracle-
    checked: the DuckDB twin re-synthesizes the payload blob (magic ||
    utf8(text)) and independently derives mime/n_bytes/hex_md5. sha1
    is dropped from the gate projection only because DuckDB's digest
    functions are VARCHAR-only (hex_md5 commits to the same bytes)."""
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "text")
    return multimodal.probe_media(payloads, "doc_id", "payload").select(
        "doc_id", "mime", "n_bytes", "hex_md5"
    )


def q_recrawl_change_rates(spark, sf_dir):
    """Recrawl revisit statistics (ranks.recrawl_change_rates): per-url
    version count, change count (lag-compare of content digests in
    warc_ts order) and change rate — one shuffle on the url key. The
    oracle runs the identical lag window in DuckDB."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        recrawl_change_rates,
    )

    snaps = _synth(spark, sf_dir, RECRAWL_SQL)
    return recrawl_change_rates(snaps)


def q_recrawl_schedule(spark, sf_dir):
    """Freshness-driven revisit scheduler (ranks.recrawl_schedule):
    staleness = change_rate x seconds-since-last-capture (batch clock
    = the table's newest ts), top per_host_budget urls per host. The
    oracle replays the lag window, the scalar max, and the per-host
    row_number in DuckDB."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        recrawl_schedule,
    )

    snaps = _synth(spark, sf_dir, RECRAWL_SQL)
    return recrawl_schedule(snaps, per_host_budget=8)


def q_recrawl_diff(spark, sf_dir):
    """Recrawl delta router (ranks.recrawl_diff): classify every url
    across two snapshot versions as new / changed / unchanged /
    removed via ONE full-outer digest join — the gatekeeper of
    plans.pipeline.run_incremental_pipeline (only new+changed re-enter
    the per-document stages). The oracle recomputes the classes with
    the same full-outer join in DuckDB."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.ranks import (
        recrawl_diff,
    )

    prior = _synth(spark, sf_dir, PRIOR_DIFF_SQL)
    cur = _synth(spark, sf_dir, CURR_DIFF_SQL)
    return recrawl_diff(prior, cur)


def q_warc_roundtrip(spark, sf_dir):
    """WARC container round-trip (sources.warc.parse_warc): build
    two-record WARC/1.0 blobs from the documents table (consecutive
    doc_ids paired into one blob), parse them with the real
    length-delimited parser, one row out per document. The oracle
    predicts the parser's output closed-form from the same documents
    table — url, ISO date, octet length, body — with no parser on its
    side (the multimodal-gate pattern: the engine must recover
    exactly what the synthesis put in)."""
    from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.sources import (
        warc as warcsrc,
    )

    _docs_view(spark, sf_dir)
    recs = spark.sql(
        """
        SELECT doc_id,
          'https://host' || (doc_id % 7) || '.example/page/' || doc_id AS uri,
          date_format(timestamp '2025-01-01 00:00:00'
                      + (doc_id * interval '1' second),
                      "yyyy-MM-dd'T'HH:mm:ss'Z'") AS dt,
          text
        FROM documents
        """
    )
    one = recs.select(
        "doc_id",
        warcsrc.warc_record_col(
            F.col("uri"), F.col("dt"), F.col("text")
        ).alias("rec"),
    )
    evens = one.filter("doc_id % 2 = 0").select(
        F.col("doc_id").alias("bid"), F.col("rec").alias("r0")
    )
    odds = one.filter("doc_id % 2 = 1").select(
        (F.col("doc_id") - 1).alias("bid"), F.col("rec").alias("r1")
    )
    blobs = evens.join(odds, "bid", "left").select(
        F.col("bid").cast("string").alias("blob_id"),
        F.encode(
            F.concat(F.col("r0"), F.coalesce(F.col("r1"), F.lit(""))),
            "UTF-8",
        ).alias("blob"),
    )
    parsed = warcsrc.parse_warc(blobs)
    return parsed.select(
        "target_uri",
        "warc_date",
        F.col("content_length").alias("n_bytes"),
        F.decode("body", "UTF-8").alias("body"),
    )


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing (multimodal.sample_frames): fixed-grid
    chunking of the payload, every 4th 256-byte frame kept, one row
    per sampled frame with an md5-over-hex digest. The oracle slices
    the same re-synthesized blob with substring arithmetic."""
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "text")
    return multimodal.sample_frames(payloads, "doc_id", "payload")


def q_multimodal_features(spark, sf_dir):
    """Decode/featurize stage plumbing (mapInPandas, decode kernel
    stubbed with a deterministic byte-histogram). Gate projection is
    features_digest (scalar md5 over the integer counts) — the raw
    array<float> column is unhashable for a row canonicalizer; the
    oracle recomputes the histogram from the known payload structure
    (ASCII text bytes via unicode(), magic-byte bins hardcoded)."""
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "text")
    return multimodal.features_digest(
        multimodal.decode_features(payloads, "doc_id", "payload")
    )


def q_multimodal_decode(spark, sf_dir):
    """REAL decode path (multimodal.decode_png_py / decode_wav_py /
    decode_bmp_py / decode_aiff_py):
    conforming PNG/WAV/BMP/AIFF payloads synthesized closed-form in doc_id
    (attach_decodable_payload), decoded strict=True — no histogram
    fallback can hide a parse failure — and projected through
    features_digest. The oracle recomputes width/height/pixel and
    sample statistics from the same closed-form synthesis parameters
    with pure SQL (no decoder on the oracle side)."""
    docs = load(spark, sf_dir, "documents")
    payloads = multimodal.attach_decodable_payload(docs, "doc_id")
    return multimodal.features_digest(
        multimodal.decode_features(payloads, "doc_id", "payload", strict=True)
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_crawl_frontier_bfs(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "url_normalize_compat": q_url_normalize_compat,
        "url_canonicalize": q_url_canonicalize,
        "url_resolve": q_url_resolve,
        "format_bytes": q_format_bytes,
        "route_decision": q_route_decision,
        "extract_links_fast": q_extract_links_fast,
        "anchor_texts": q_anchor_texts,
        "extract_docs_slow": q_extract_docs_slow,
        "is_document_url": q_is_document_url,
        "crawl_frontier_bfs": q_crawl_frontier_bfs,
        "crawl_frontier_bucketed": q_crawl_frontier_bucketed,
        "crawl_frontier_redirects": q_crawl_frontier_redirects,
        "tier2_extract_text": q_tier2_extract_text,
        "download_state": q_download_state,
        "download_state_store": q_download_state_store,
        "link_density": q_link_density,
        "seen_anti_join": q_seen_anti_join,
        "seen_anti_join_bloom": q_seen_anti_join_bloom,
        "seen_anti_join_cuckoo": q_seen_anti_join_cuckoo,
        "seen_cuckoo_delete": q_seen_cuckoo_delete,
        "extract_filename": q_extract_filename,
        "robots_filter": q_robots_filter,
        "stream_host_rates": q_stream_host_rates,
        "stream_latency_percentiles": q_stream_latency_percentiles,
        "stream_host_budget": q_stream_host_budget,
        "stream_host_budget_multibatch": q_stream_host_budget_multibatch,
        "stream_seen_dedup": q_stream_seen_dedup,
        "stream_host_sessions": q_stream_host_sessions,
        "simhash_neardup": q_simhash_neardup,
        "politeness_budget": q_politeness_budget,
        "politeness_hostrank": q_politeness_hostrank,
        "politeness_crawl_delay": q_politeness_crawl_delay,
        "fetch_schedule": q_fetch_schedule,
        "politeness_quality": q_politeness_quality,
        "sitemap_seeds": q_sitemap_seeds,
        "robots_sitemap_urls": q_robots_sitemap_urls,
        "robots_agent_groups": q_robots_agent_groups,
        "clean_params": q_clean_params,
        "host_inlink_ranks": q_host_inlink_ranks,
        "host_pagerank": q_host_pagerank,
        "host_hits": q_host_hits,
        "host_reciprocity": q_host_reciprocity,
        "redirect_resolve": q_redirect_resolve,
        "soft404": q_soft404,
        "line_dedup_scrub": q_line_dedup_scrub,
        "bm25_topk": q_bm25_topk,
        "luhn_pan": q_luhn_pan,
        "compression_signal": q_compression_signal,
        "postings_delta": q_postings_delta,
        "hll_distinct": q_hll_distinct,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "hll_set_overlap": q_hll_set_overlap,
        "hyperball": q_hyperball,
        "phrase_match": q_phrase_match,
        "kwic_snippets": q_kwic_snippets,
        "canonical_clusters": q_canonical_clusters,
        "registered_domains": q_registered_domains,
        "politeness_domain": q_politeness_domain,
        "metrics_rollup": q_metrics_rollup,
        "dedup_exact": q_dedup_exact,
        "ngram_span_dedup": q_ngram_span_dedup,
        "benchmark_contamination": q_benchmark_contamination,
        "ngram_span_removal": q_ngram_span_removal,
        "minhash_signatures": q_minhash_signatures,
        "lsh_dup_pairs": q_lsh_dup_pairs,
        "dedup_clusters": q_dedup_clusters,
        "cluster_reps": q_cluster_reps,
        "simhash": q_simhash,
        "jaccard_pairs": q_jaccard_pairs,
        "lsh_recall": q_lsh_recall,
        "embedding_topk": q_embedding_topk,
        "embedding_quantize": q_embedding_quantize,
        "ann_topk_bucketed": q_ann_topk_bucketed,
        "ann_topk_multiprobe": q_ann_topk_multiprobe,
        "ivf_assign": q_ivf_assign,
        "ann_topk_ivf": q_ann_topk_ivf,
        "kmeans_train": q_kmeans_train,
        "semdedup": q_semdedup,
        "ann_recall": q_ann_recall,
        "latest_snapshot": q_latest_snapshot,
        "recrawl_change_rates": q_recrawl_change_rates,
        "recrawl_schedule": q_recrawl_schedule,
        "recrawl_diff": q_recrawl_diff,
        "warc_roundtrip": q_warc_roundtrip,
        "embedding_neardup": q_embedding_neardup,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "quality_score": q_quality_score,
        "quality_filter": q_quality_filter,
        "training_mix": q_training_mix,
        "lang_temperature": q_lang_temperature,
        "dsir_importance": q_dsir_importance,
        "dsir_resample": q_dsir_resample,
        "corpus_refine": q_corpus_refine,
        "corpus_pack": q_corpus_pack,
        "training_shards": q_training_shards,
        "source_quality_rollup": q_source_quality_rollup,
        "vocab_stats": q_vocab_stats,
        "bpe_train": q_bpe_train,
        "bpe_token_counts": q_bpe_token_counts,
        "sequence_pack": q_sequence_pack,
        "pack_stats": q_pack_stats,
        "unigram_commonness": q_unigram_commonness,
        "bigram_commonness": q_bigram_commonness,
        "vocab_growth": q_vocab_growth,
        "freq_spectrum": q_freq_spectrum,
        "anchor_profile": q_anchor_profile,
        "retrieval_pairs": q_retrieval_pairs,
        "repetition_stats": q_repetition_stats,
        "doc_keyterms": q_doc_keyterms,
        "redact_pii": q_redact_pii,
        "text_normalize": q_text_normalize,
        "fingerprint_normalized": q_fingerprint_normalized,
        "script_profile": q_script_profile,
        "host_boilerplate": q_host_boilerplate,
        "paragraph_dedup": q_paragraph_dedup,
        "cdx_index": q_cdx_index,
        "domain_cap_sample": q_domain_cap_sample,
        "url_features": q_url_features,
        "host_trap_stats": q_host_trap_stats,
        "host_mirrors": q_host_mirrors,
        "mirror_cap_audit": q_mirror_cap_audit,
        "dust_params": q_dust_params,
        "dust_canonicalize": q_dust_canonicalize,
        "fingerprint": q_fingerprint,
        "events_rollup": q_events_rollup,
        "latency_percentiles": q_latency_percentiles,
        "multimodal_probe": q_multimodal_probe,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_URL_PATH = r"'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)'"
_URL_QUERY = r"'\?([^#]*)'"


def _signbit_bucket_sql(col: str, lo: int, n_bits: int) -> str:
    """Sign-bit bucket over dims [lo, lo+n_bits) — SQL twin of
    similarity._signbit_bucket_col (1-indexed arrays in DuckDB)."""
    return " + ".join(
        f"(CASE WHEN {col}[{lo + i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(n_bits)
    )


def _multiband_buckets_sql(n_bands: int = 4, n_bits: int = 8) -> str:
    """(vec_id, band, bucket) rows — SQL twin of
    similarity.multiband_signbit_buckets."""
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {r} AS band, "
        f"{_signbit_bucket_sql('embedding', r * n_bits, n_bits)} AS bucket "
        "FROM embeddings"
        for r in range(n_bands)
    )


def _route_case(url: str, size: str) -> str:
    """The 7-rule coordinator CASE in ANSI/DuckDB SQL (order preserved)."""
    low = f"lower({url})"
    kw_slow = " OR ".join(f"{low} LIKE '%{k}%'" for k in
                          ("/document", "/paper", "/publication", "/research", "/library"))
    kw_fast = " OR ".join(f"{low} LIKE '%{k}%'" for k in
                          ("/sitemap", "/archive", "/category", "/tag", "/index", "/list"))
    path = f"regexp_extract({url}, {_URL_PATH}, 1)"
    return f"""CASE
      WHEN {size} > 512000 THEN 'slow'
      WHEN {kw_slow} THEN 'slow'
      WHEN regexp_extract({url}, {_URL_QUERY}, 1) <> '' THEN 'slow'
      WHEN {size} < 102400 THEN 'fast'
      WHEN {kw_fast} THEN 'fast'
      WHEN len(string_split({path}, '/')) <= 3 THEN 'fast'
      ELSE 'slow' END"""


def _minhash_select(k: int = 8) -> str:
    aggs = ",\n    ".join(
        f"min(md5(w || ':s{i}')) AS h{i}" for i in range(k)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents
)
SELECT id, {aggs} FROM toks WHERE w <> '' GROUP BY id
""".strip()


def _mix_rate_case(col: str) -> str:
    """Per-mille rate CASE from sampling.DEFAULT_MIX_PERMILLE — built
    from the SAME dict the Spark operator uses, so policy edits can't
    drift the oracle."""
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sampling.DEFAULT_MIX_PERMILLE.items()
    )
    return f"CASE {col} {whens} ELSE {sampling.DEFAULT_PERMILLE} END"


# shared between the lsh_dup_pairs gate, the dedup_clusters oracle
# (clusters = transitive closure over EXACTLY this pair set) and the
# lsh_recall configs
def _lsh_pairs_sql(
    k: int = 8, rows_per_band: int = 4, cap: int | str = 64, floor: int = 64
) -> str:
    n_bands = k // rows_per_band
    banded = "\n  UNION ALL\n  ".join(
        f"SELECT id, {b} AS band, "
        + " || '|' || ".join(
            f"h{b * rows_per_band + i}" for i in range(rows_per_band)
        )
        + " AS bkey FROM sig"
        for b in range(n_bands)
    )
    if cap == "auto":
        # dedup.lsh_auto_cap's integer rule, replayed exactly: cap =
        # greatest(floor, k-th smallest bucket size) with
        # k = ceil(99 * n_buckets / 100) = (99*n + 99) // 100
        cap_expr = f"""(
    SELECT greatest({floor}, (
      SELECT min(n) FROM (
        SELECT n, row_number() OVER (ORDER BY n) AS rnk
        FROM (SELECT count(*) AS n FROM banded GROUP BY band, bkey)
      ) WHERE rnk >= (
        SELECT (99 * count(*) + 99) // 100
        FROM (SELECT DISTINCT band, bkey FROM banded)
      )
    ))
  )"""
    else:
        cap_expr = str(cap)
    return f"""
WITH sig AS ({_minhash_select(k)}),
banded AS (
  {banded}
),
capped AS (
  SELECT id, band, bkey FROM (
    SELECT id, band, bkey,
           row_number() OVER (PARTITION BY band, bkey ORDER BY id) AS rn
    FROM banded
  ) WHERE rn <= {cap_expr}
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_bands
FROM capped a JOIN capped b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
GROUP BY a.id, b.id
""".strip()


_LSH_PAIRS_SQL = _lsh_pairs_sql(cap="auto")


def _hamming_bands_sql(src: str, bits: int = 60, max_hamming: int = 6) -> str:
    """Banded rows over a simhash relation ``src`` (id, simhash,
    source, lbucket) — SQL twin of dedup._hamming_banded: band r =
    fingerprint bits [bits*r//(d+1), bits*(r+1)//(d+1))."""
    n_bands = max_hamming + 1
    edges = [bits * r // n_bands for r in range(n_bands + 1)]
    return "\nUNION ALL\n".join(
        f"SELECT id, simhash, source, lbucket, {r} AS band, "
        f"(simhash >> {edges[r]}) & {(1 << (edges[r + 1] - edges[r])) - 1} AS bkey "
        f"FROM {src}"
        for r in range(n_bands)
    )


def _simhash_sql(bits: int = 60) -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b}::BIGINT ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id,
         unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents
),
hashed AS (
  SELECT id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM toks WHERE w <> ''
),
sums AS (SELECT id, {bit_sums} FROM hashed GROUP BY id)
SELECT id, {fp} AS simhash FROM sums
""".strip()


# closed-form outcome of the download-state fixture — shared by the
# in-memory gate (download_state) and the store-replay gate
# (download_state_store): a served URL closes 'done' on its discovery
# iteration with retry 0; a missing one accrues one retry per superstep
# and closes 'failed' when retry exceeds the cap; the last-iteration
# discovery drains as 'pending'. Re-discoveries (doc_id%2=0) and
# case-variant raw keys (doc_id%13=0) change nothing — the J2 raw-key
# anti-join and the normalized fetch probe absorb them.
_DL_STATE_ORACLE = f"""
SELECT {_DL_URL} AS url,
  CASE WHEN d.doc_id % 3 <> 0 THEN 'done' ELSE 'failed' END AS status,
  CAST(CASE WHEN d.doc_id % 3 <> 0 THEN 0 ELSE {DL_MAX_RETRIES + 1} END AS INT) AS retry,
  CAST(CASE WHEN d.doc_id % 3 <> 0 THEN d.doc_id % 4
       ELSE d.doc_id % 4 + {DL_MAX_RETRIES} END AS INT) AS iter
FROM documents d
UNION ALL
SELECT {_DL_LATE_URL} AS url, 'pending' AS status,
  CAST(1 AS INT) AS retry, CAST({DL_ITERS - 1} AS INT) AS iter
FROM documents d WHERE d.doc_id % 50 = 0
"""


def oracle_sql() -> dict[str, str]:
    lang_case = """CASE
      WHEN n_en > 0 AND n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
      WHEN n_de > 0 AND n_de >= n_fr AND n_de >= n_es THEN 'de'
      WHEN n_fr > 0 AND n_fr >= n_es THEN 'fr'
      WHEN n_es > 0 THEN 'es'
      ELSE 'und' END"""
    lang_counts = ",\n      ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS n_{lang}"
        for lang, pat in textstats.LANG_MARKERS.items()
    ).replace("\\b", "\\b")
    ws_count = (
        "CASE WHEN trim(text) = '' THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END"
    )
    # script-profile pieces built from the SAME literal char classes
    # the Spark operator uses (textstats.SCRIPT_CLASSES) — one
    # definition, both engines match identical characters
    script_names = [n for n, _ in textstats.SCRIPT_CLASSES]
    script_counts = ",\n    ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{n}"
        for n, pat in textstats.SCRIPT_CLASSES
    )
    # argmax cascade: first class (in order) >= 1 and >= every LATER
    # class — identical first-match semantics to the lang_id cascade
    script_dom = "CASE " + " ".join(
        "WHEN n_{0} >= 1{1} THEN '{0}'".format(
            n,
            "".join(
                f" AND n_{n} >= n_{m}" for m in script_names[i + 1 :]
            ),
        )
        for i, n in enumerate(script_names)
    ) + " ELSE 'none' END"
    # component SQL reused verbatim by the corpus_refine composition —
    # one definition per operator, so the composed oracle can't drift
    qf_sql = f"""
WITH c AS (
  SELECT doc_id,
    {ws_count} AS n_words,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(list_distinct(string_split_regex(trim(text), '\\s+'))) END AS n_distinct,
    length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
    len(regexp_extract_all(lower(text), '{textstats.LANG_MARKERS["en"]}')) AS stop
  FROM documents
),
m AS (
  SELECT doc_id, n_words, stop,
    CASE WHEN n_words > 0 THEN CAST(n_distinct AS DOUBLE) / n_words ELSE 0.0 END AS distinct_ratio,
    CASE WHEN n_words > 0 THEN CAST(n_nonspace AS DOUBLE) / n_words ELSE 0.0 END AS mean_wl
  FROM c
),
r AS (
  SELECT doc_id, n_words, distinct_ratio, mean_wl,
    n_words >= {textstats.QF_MIN_WORDS} AS r_min_words,
    stop >= {textstats.QF_MIN_STOP_HITS} AS r_stopwords,
    distinct_ratio >= CAST({textstats.QF_MIN_DISTINCT_RATIO} AS DOUBLE) AS r_repetition,
    mean_wl >= {textstats.QF_WORDLEN_RANGE[0]} AND mean_wl <= {textstats.QF_WORDLEN_RANGE[1]} AS r_word_length
  FROM m
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  round(distinct_ratio, 6) AS distinct_ratio,
  round(mean_wl, 6) AS mean_wl,
  r_min_words, r_stopwords, r_repetition, r_word_length,
  (r_min_words AND r_stopwords AND r_repetition AND r_word_length) AS keep,
  CASE WHEN NOT r_min_words THEN 'min_words'
       WHEN NOT r_stopwords THEN 'stopwords'
       WHEN NOT r_repetition THEN 'repetition'
       WHEN NOT r_word_length THEN 'word_length'
       ELSE 'ok' END AS reason
FROM r
""".strip()
    dsir_sql = r"""
WITH tgt_ids AS (SELECT doc_id FROM documents WHERE source IN ('src0', 'src1')),
base AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM base
),
grams AS (
  SELECT doc_id, w AS gram FROM toks
  UNION ALL
  SELECT doc_id, gram FROM (
    SELECT doc_id,
      w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
    FROM toks
  ) WHERE gram IS NOT NULL
),
gb AS (
  SELECT doc_id,
    (('0x' || substr(md5(gram), 1, 15))::BIGINT % 10000) AS bucket
  FROM grams
),
raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt FROM gb GROUP BY bucket),
tgtg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
  FROM gb JOIN tgt_ids USING (doc_id) GROUP BY bucket
),
tot AS (
  SELECT (SELECT CAST(sum(r_cnt) AS BIGINT) FROM raw) AS r_tot,
         (SELECT CAST(sum(t_cnt) AS BIGINT) FROM tgtg) AS t_tot
),
lr AS (
  SELECT raw.bucket,
    CAST(round(1000000.0 * (ln(coalesce(t_cnt, 0) + 1.0) - ln(t_tot + 10000.0)
                            - ln(r_cnt + 1.0) + ln(r_tot + 10000.0))) AS BIGINT)
      AS lr_micro
  FROM raw LEFT JOIN tgtg USING (bucket) CROSS JOIN tot
)
SELECT d.doc_id,
  CAST(coalesce(s.score_micro, 0) AS BIGINT) AS score_micro,
  CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams
FROM documents d LEFT JOIN (
  SELECT gb.doc_id, sum(lr.lr_micro) AS score_micro, count(*) AS n_grams
  FROM gb JOIN lr USING (bucket) GROUP BY gb.doc_id
) s USING (doc_id)
""".strip()
    mix_sql = f"""
WITH b AS (
  SELECT doc_id, lang AS stratum,
    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000) AS bucket,
    CAST({_mix_rate_case('lang')} AS INT) AS rate_permille
  FROM documents
)
SELECT doc_id, stratum, bucket, rate_permille,
  bucket < rate_permille AS keep,
  round(CAST(1000 AS DOUBLE) / rate_permille, 6) AS weight
FROM b
""".strip()
    clusters_sql = f"""
WITH RECURSIVE
pairs AS ({_LSH_PAIRS_SQL}),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b AS u, id_a AS v FROM pairs),
reach(u, v) AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
),
lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id,
  coalesce(l.cluster_id, d.doc_id) AS cluster_id,
  coalesce(l.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN lab l USING (doc_id)
""".strip()
    qscore_sql = f"""
WITH c AS (
  SELECT doc_id,
    length(text) AS n,
    {ws_count} AS words,
    len(regexp_extract_all(text, '[.,;:!?]')) AS punct,
    len(regexp_extract_all(lower(text), '{textstats.LANG_MARKERS["en"]}')) AS stop
  FROM documents
)
SELECT doc_id,
  round(0.4 * least(n / 500.0, 1.0)
      + 0.2 * least(punct * 10.0 / greatest(words, 1), 1.0)
      + 0.2 * least(stop * 5.0 / greatest(words, 1), 1.0)
      + 0.2 * (CASE WHEN n / greatest(words, 1) >= 3 AND n / greatest(words, 1) <= 12
               THEN 1.0 ELSE 0.0 END), 6) AS score
FROM c
""".strip()
    # quality-aware canonical selection: closure labels + micro-unit
    # quality, rank-1 per cluster (score DESC, doc_id ASC) — the SQL
    # twin of dedup.cluster_representatives' min(struct(-score, id))
    reps_sql = f"""
WITH cl AS (SELECT doc_id, cluster_id FROM ({clusters_sql})),
q AS ({qscore_sql}),
scored AS (
  SELECT cl.doc_id, cl.cluster_id,
    CAST(round(q.score * 1000000) AS BIGINT) AS score
  FROM cl JOIN q USING (doc_id)
),
reps AS (
  SELECT cluster_id, doc_id AS rep_id FROM (
    SELECT cluster_id, doc_id,
      row_number() OVER (
        PARTITION BY cluster_id ORDER BY score DESC, doc_id ASC
      ) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT s.doc_id, s.cluster_id, s.score, r.rep_id,
  s.doc_id = r.rep_id AS is_kept
FROM scored s JOIN reps r USING (cluster_id)
""".strip()
    refine_sql = f"""
WITH qf AS (SELECT doc_id FROM ({qf_sql}) WHERE keep),
cl AS (SELECT doc_id FROM ({clusters_sql}) WHERE is_canonical),
mix AS (SELECT doc_id, stratum, weight FROM ({mix_sql}) WHERE keep)
SELECT d.doc_id, mix.stratum,
  CAST({ws_count} AS BIGINT) AS n_tokens,
  mix.weight
FROM documents d
JOIN qf USING (doc_id) JOIN cl USING (doc_id) JOIN mix USING (doc_id)
""".strip()
    jacc_sql = """
WITH base AS (
  SELECT doc_id AS id, text, source, CAST(floor(n_chars / 64.0) AS INT) AS lbucket FROM documents
),
toks AS (
  SELECT DISTINCT id, source, lbucket,
         unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM base
),
toks2 AS (SELECT * FROM toks WHERE w <> ''),
sizes AS (SELECT id, count(*) AS sz FROM toks2 GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM toks2 a JOIN toks2 b
    ON a.w = b.w AND a.source = b.source AND a.lbucket = b.lbucket AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.5
""".strip()
    out = {
        "url_normalize_compat": f"""
WITH synth AS ({URL_SYNTH_SQL})
SELECT id, lower(regexp_replace(url, '[#?].*$', '')) AS url_norm FROM synth
""",
        "url_canonicalize": f"""
WITH synth AS ({URL_SYNTH_SQL})
SELECT id,
  lower(regexp_extract(url, '^([^:/]+://[^/?#]*)', 1))
  || regexp_extract(url, '^[^:/]+://[^/?#]*([^?#]*)', 1)
  || CASE WHEN regexp_extract(url, {_URL_QUERY}, 1) <> ''
       THEN '?' || array_to_string(list_sort(string_split(regexp_extract(url, {_URL_QUERY}, 1), '&')), '&')
       ELSE '' END AS url_canon
FROM synth
""",
        # closed-form resolution per reference shape (the base is always
        # scheme://host/page/<id>, so relative refs replace the last
        # path segment and query-only refs append to the base)
        "url_resolve": f"""
WITH synth AS ({RESOLVE_SYNTH_SQL})
SELECT id,
  CASE id % 4
    WHEN 0 THEN 'https://other.example/abs'
    WHEN 1 THEN regexp_extract(base, '^([^:/]+://[^/?#]*)', 1) || '/rooted/x'
    WHEN 2 THEN regexp_extract(base, '^(.*/)', 1) || 'sub.html'
    ELSE base || '?q=' || id END AS resolved
FROM synth
""",
        "format_bytes": f"""
WITH synth AS ({BYTES_SYNTH_SQL})
SELECT id,
  CASE WHEN n < 1024 THEN n || ' B'
       WHEN n < 1048576 THEN printf('%.1f', n / 1024.0) || ' KB'
       WHEN n < 1073741824 THEN printf('%.1f', n / 1048576.0) || ' MB'
       WHEN n < 1099511627776 THEN printf('%.1f', n / 1073741824.0) || ' GB'
       WHEN n < 1125899906842624 THEN printf('%.1f', n / 1099511627776.0) || ' TB'
       WHEN n < 1152921504606846976 THEN printf('%.1f', n / 1125899906842624.0) || ' PB'
       ELSE printf('%.1f', n / 1152921504606846976.0) || ' EB' END AS pretty
FROM synth
""",
        "route_decision": f"""
WITH synth AS ({ROUTE_SYNTH_SQL})
SELECT id, {_route_case('url', 'body_size')} AS path FROM synth
""",
        "extract_links_fast": f"""
WITH p AS ({pagesrc.clean_pages_sql()})
SELECT id, unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS link FROM p
""",
        # parallel unnest zips the two group extractions positionally,
        # matching the impl's arrays_zip + explode
        "anchor_texts": f"""
WITH p AS ({pagesrc.clean_pages_sql()})
SELECT id,
  unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>', 1)) AS href,
  unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>', 2)) AS anchor
FROM p
""",
        # per-target rollup over the same anchors CTE; the modal pick
        # replays the (count DESC, anchor ASC) row_number rule
        "anchor_profile": f"""
WITH p AS ({pagesrc.clean_pages_sql()}),
an AS (
  SELECT id,
    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>', 1)) AS href,
    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>', 2)) AS anchor
  FROM p
),
per AS (SELECT href, anchor, count(*) AS cnt FROM an GROUP BY href, anchor),
top AS (
  SELECT href, anchor AS top_anchor, CAST(cnt AS BIGINT) AS top_anchor_count
  FROM (
    SELECT href, anchor, cnt,
      row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor ASC) AS rn
    FROM per
  ) WHERE rn = 1
),
tot AS (
  SELECT href, CAST(sum(cnt) AS BIGINT) AS n_inlinks,
    CAST(count(*) AS BIGINT) AS n_anchors
  FROM per GROUP BY href
),
src AS (SELECT href, CAST(count(DISTINCT id) AS BIGINT) AS n_sources FROM an GROUP BY href)
SELECT href, n_inlinks, n_sources, n_anchors, top_anchor, top_anchor_count
FROM tot JOIN src USING (href) JOIN top USING (href)
""",
        # retrieval pairs: same anchors CTE; target text via textual
        # tag-strip (exact on the markup-free fixture — tier2's trick)
        "retrieval_pairs": f"""
WITH p AS ({pagesrc.clean_pages_sql()}),
an AS (
  SELECT id,
    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>', 1)) AS href,
    unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>', 2)) AS anchor
  FROM p
),
q AS (
  SELECT trim(anchor) AS query, href, id FROM an
  WHERE length(trim(anchor)) >= 3
),
pairs AS (
  SELECT query, href, CAST(count(DISTINCT id) AS BIGINT) AS n_sources
  FROM q GROUP BY query, href
),
t AS (
  SELECT url AS href, md5(regexp_replace(html, '<[^>]*>', '', 'g')) AS doc_md5
  FROM p
)
SELECT query, href AS url, doc_md5, n_sources FROM pairs JOIN t USING (href)
""",
        "extract_docs_slow": f"""
WITH synth AS ({DOCURL_SYNTH_SQL})
SELECT id, url,
  '.' || regexp_replace(list_extract(string_split(url, '.'), len(string_split(url, '.'))), '\\?.*$', '') AS ext
FROM synth WHERE lower(url) LIKE '%.pdf'
""",
        "is_document_url": f"""
WITH synth AS ({DOCURL_SYNTH_SQL})
SELECT id, url,
  (lower(url) LIKE '%.pdf' OR contains(lower(url), '.pdf?') OR contains(lower(url), '.pdf&')) AS is_doc
FROM synth
""",
        "crawl_frontier_bfs": f"""
WITH RECURSIVE
edges AS ({pagesrc.edges_sql()}),
bfs(id, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {pagesrc.SEED_MOD} = 0
  UNION
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.id
  WHERE b.depth < {MAX_DEPTH}
)
SELECT 'https://host' || (CASE WHEN id % {pagesrc.MEGA_HOST_MOD} = 0 THEN 0 ELSE id % {pagesrc.N_HOSTS} END)
       || '.example/page/' || id AS url_norm,
       min(depth) AS depth
FROM bfs GROUP BY id
""",
        "robots_agent_groups": f"""
WITH f AS ({AGENT_FRONTIER_SQL})
SELECT url_norm FROM f
WHERE NOT (h % 3 = 0 AND shape = 1)
  AND NOT (h % 3 = 1 AND shape = 3)
""",
        "crawl_frontier_redirects": f"""
WITH RECURSIVE
edges AS ({pagesrc.edges_sql()}),
rm AS (SELECT d.doc_id AS src,
         CASE WHEN d.doc_id % 97 = 10 THEN d.doc_id + 1
              WHEN d.doc_id % 97 = 11 THEN d.doc_id - 1
              WHEN d.doc_id % 23 = 1
                THEN (d.doc_id * 7 + 3) % (SELECT count(*) FROM documents)
              ELSE NULL END AS dst
       FROM documents d),
rr AS (SELECT src, dst FROM rm WHERE dst IS NOT NULL),
walk(src, cur, hops) AS (
  SELECT src, dst, 1 FROM rr
  UNION ALL
  SELECT w.src, r2.dst, w.hops + 1
  FROM walk w JOIN rr r2 ON r2.src = w.cur
  WHERE w.hops < 10
),
term AS (SELECT w.src, w.cur FROM walk w
         WHERE NOT EXISTS (SELECT 1 FROM rr WHERE rr.src = w.cur)),
e2 AS (SELECT e.src,
         CASE WHEN rs.src IS NULL THEN e.dst
              WHEN t.src IS NOT NULL THEN t.cur END AS dst
       FROM edges e
       LEFT JOIN (SELECT DISTINCT src FROM rr) rs ON e.dst = rs.src
       LEFT JOIN term t ON e.dst = t.src),
e3 AS (SELECT src, dst FROM e2 WHERE dst IS NOT NULL),
bfs(id, depth) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {pagesrc.SEED_MOD} = 0
  UNION
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e3 e ON e.src = b.id
  WHERE b.depth < {MAX_DEPTH}
)
SELECT 'https://host' || (CASE WHEN id % {pagesrc.MEGA_HOST_MOD} = 0 THEN 0 ELSE id % {pagesrc.N_HOSTS} END)
       || '.example/page/' || id AS url_norm,
       min(depth) AS depth
FROM bfs GROUP BY id
""",
        "seen_anti_join": f"""
WITH synth AS ({URL_SYNTH_SQL}),
norm AS (SELECT id, lower(regexp_replace(url, '[#?].*$', '')) AS url_norm FROM synth)
SELECT url_norm FROM norm WHERE id % 2 = 0
  AND url_norm NOT IN (SELECT url_norm FROM norm WHERE id % 3 = 0 OR id % 7 = 0)
""",
        "seen_anti_join_bloom": f"""
WITH synth AS ({URL_SYNTH_SQL}),
norm AS (SELECT id, lower(regexp_replace(url, '[#?].*$', '')) AS url_norm FROM synth)
SELECT url_norm FROM norm WHERE id % 2 = 0
  AND url_norm NOT IN (SELECT url_norm FROM norm WHERE id % 3 = 0 OR id % 7 = 0)
""",
        # cuckoo variants share the Bloom oracle shape: the filter is
        # an exactness-preserving prefilter, so the answer IS the
        # anti-join (resp. the anti-join against seen-minus-removed)
        "seen_anti_join_cuckoo": f"""
WITH synth AS ({URL_SYNTH_SQL}),
norm AS (SELECT id, lower(regexp_replace(url, '[#?].*$', '')) AS url_norm FROM synth)
SELECT url_norm FROM norm WHERE id % 2 = 0
  AND url_norm NOT IN (SELECT url_norm FROM norm WHERE id % 3 = 0 OR id % 7 = 0)
""",
        "seen_cuckoo_delete": f"""
WITH synth AS ({URL_SYNTH_SQL}),
norm AS (SELECT id, lower(regexp_replace(url, '[#?].*$', '')) AS url_norm FROM synth),
live AS (
  SELECT url_norm FROM norm WHERE (id % 3 = 0 OR id % 7 = 0)
    AND url_norm NOT IN (SELECT url_norm FROM norm WHERE id % 21 = 0)
)
SELECT url_norm FROM norm WHERE id % 2 = 0
  AND url_norm NOT IN (SELECT url_norm FROM live)
""",
        # tier-2 text: independent derivation — the engine DOM-parses;
        # the oracle strips tags textually (exact: fixture text has no
        # markup chars). Byte-identity checked via md5.
        # filename: P8 last-path-segment rule — every queue url here
        # ends in a dotless segment, so the deterministic
        # download_<md5(url)[:8]> fallback applies (the engine's
        # documented replacement for the reference's wall-clock nanos)
        "tier2_extract_text": f"""
WITH p AS ({pagesrc.clean_pages_sql()})
SELECT url, 200 AS status,
  md5(regexp_replace(html, '<[^>]*>', '', 'g')) AS text_md5,
  length(html)::BIGINT AS n_bytes,
  'download_' || substr(md5(url), 1, 8) AS filename
FROM p
UNION ALL
SELECT 'https://host0.example/missing/' || id AS url, 404 AS status,
  NULL AS text_md5, 0::BIGINT AS n_bytes,
  'download_' || substr(md5('https://host0.example/missing/' || id), 1, 8) AS filename
FROM p WHERE id % 100 = 0
""",
        "download_state": _DL_STATE_ORACLE,
        "download_state_store": _DL_STATE_ORACLE,
        "link_density": f"""
WITH p AS ({pagesrc.clean_pages_sql()})
SELECT id,
  round(len(regexp_extract_all(html, 'href="'))
        / (length(html) / 1024.0), 6) AS link_density
FROM p
""",
        "extract_filename": f"""
WITH synth AS ({DOCURL_SYNTH_SQL}),
seg AS (
  SELECT id, url,
    regexp_replace(list_extract(string_split(url, '/'), -1), '\\?.*$', '') AS last_seg
  FROM synth
)
SELECT id,
  CASE WHEN id % 7 = 0 THEN 'r pt_1.pdf'
       WHEN last_seg <> '' AND contains(last_seg, '.') THEN last_seg
       ELSE 'download_' || id END AS filename
FROM seg
""",
        # robots: oracle knows the synthesized rule structure (even
        # hosts: Disallow /private, Allow /private/ok) and re-derives
        # verdicts with prefix CASE logic — no robots parsing involved
        "robots_filter": f"""
WITH f AS ({ROBOTS_FRONTIER_SQL})
SELECT url_norm FROM f
WHERE h % 2 = 1 OR shape = 0 OR shape = 2
""",
        # Clean-param applied: sid strips on shop paths of h%2=0
        # hosts, utm strips host-wide on h%3=0 hosts, id survives;
        # survivors already sort (id < sid < utm)
        "clean_params": """
WITH d AS (
  SELECT doc_id, doc_id % 20 AS h,
    CAST((doc_id - doc_id % 20) / 20 AS BIGINT) AS p
  FROM documents
),
f AS (
  SELECT doc_id, h, p,
    'https://host' || h || '.example'
      || CASE WHEN p % 2 = 0 THEN '/shop/item' ELSE '/blog/post' END || p
      AS base
  FROM d
)
SELECT
  base || '?id=' || doc_id || '&sid=s' || (doc_id % 3) || '&utm=x' AS url,
  base || '?id=' || doc_id
    || CASE WHEN NOT (h % 2 = 0 AND p % 2 = 0)
         THEN '&sid=s' || (doc_id % 3) ELSE '' END
    || CASE WHEN NOT h % 3 = 0 THEN '&utm=x' ELSE '' END AS url_canon
FROM f
""",
        # robots Sitemap: directives — oracle states each branch's
        # known answer (independent of the engine's regexp walk)
        "robots_sitemap_urls": """
WITH hs AS (SELECT DISTINCT doc_id % 20 AS h FROM documents)
SELECT 'host' || h || '.example' AS host,
       'https://host' || h || '.example/sitemap.xml' AS sitemap_url
FROM hs WHERE h % 2 = 0
UNION ALL
SELECT 'host' || h || '.example' AS host,
       'https://host' || h || '.example/news.xml' AS sitemap_url
FROM hs WHERE h % 3 = 0
""",
        "stream_host_rates": """
SELECT CAST(floor(epoch(ts) / 10) * 10 AS BIGINT) AS win_start,
       event_type AS host,
       count(*) AS discovered,
       min(CAST(round(value * 1000) AS INT) % 14) AS min_depth
FROM events
GROUP BY 1, 2
""",
        # streaming histogram == batch windowed histogram; identical
        # nearest-rank integer extraction on both sides
        "stream_latency_percentiles": """
WITH c AS (
  SELECT CAST(floor(epoch(ts) / 10) * 10 AS BIGINT) AS win_start,
         event_type AS host,
         CAST(round(value * 1000) AS BIGINT) AS v, count(*) AS c
  FROM events GROUP BY 1, 2, 3
),
cum AS (
  SELECT win_start, host, v, c,
    sum(c) OVER (PARTITION BY win_start, host ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY win_start, host) AS n
  FROM c
)
SELECT win_start, host, CAST(max(n) AS BIGINT) AS n,
  CAST(min(v) AS BIGINT) AS min_milli, CAST(max(v) AS BIGINT) AS max_milli,
  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END) AS BIGINT)
    AS p50_milli,
  CAST(min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN v END) AS BIGINT)
    AS p95_milli
FROM cum GROUP BY win_start, host
""",
        # single-micro-batch replay of the stateful budget operator ==
        # the batch row_number window over the same (ts, url) total order
        "stream_host_budget": """
WITH feed AS (
  SELECT event_type || '/' || event_id AS url, event_type AS host, ts
  FROM events
),
numbered AS (
  SELECT host, url,
    CAST(row_number() OVER (PARTITION BY host ORDER BY ts, url) AS INT) AS seq
  FROM feed
)
SELECT host, url, seq, (seq <= 300) AS scheduled FROM numbered
""",
        # the 3-micro-batch replay must equal the SAME batch window:
        # ts-range chunks + per-batch (ts, url) sort + state carried
        # across batches compose to the global (ts, url) numbering
        "stream_host_budget_multibatch": """
WITH feed AS (
  SELECT event_type || '/' || event_id AS url, event_type AS host, ts
  FROM events
),
numbered AS (
  SELECT host, url,
    CAST(row_number() OVER (PARTITION BY host ORDER BY ts, url) AS INT) AS seq
  FROM feed
)
SELECT host, url, seq, (seq <= 300) AS scheduled FROM numbered
""",
        # streaming seen set: exactly one row per distinct normalized
        # URL (the compat normalizer's oracle twin, DISTINCT'ed)
        "stream_host_sessions": """
WITH e AS (SELECT event_type AS host, epoch_us(ts) AS us FROM events),
m AS (SELECT host, us,
        CASE WHEN lag(us) OVER (PARTITION BY host ORDER BY us) IS NULL
               OR us - lag(us) OVER (PARTITION BY host ORDER BY us)
                  > 7200000000
             THEN 1 ELSE 0 END AS brk
      FROM e),
s AS (SELECT host, us,
        sum(brk) OVER (PARTITION BY host ORDER BY us
                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT host,
  min(us) AS win_start_us,
  max(us) + 7200000000 AS win_end_us,
  CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY host, sid
""",
        "stream_seen_dedup": """
SELECT DISTINCT
  lower(regexp_replace(
    'http://' || event_type || '.example/u' || CAST(event_id % 200 AS VARCHAR),
    '[#?].*$', '')) AS url_norm
FROM events
""",
        # banded + capped twin of hamming_neardup_pairs: same 7 disjoint
        # bit bands, same deterministic 64-smallest-ids cut per
        # (block, band, bkey) bucket, pairs distinct over bands
        "simhash_neardup": f"""
WITH sig AS ({_simhash_sql(60)}),
meta AS (
  SELECT doc_id AS id, source, CAST(floor(n_chars / 64.0) AS INT) AS lbucket
  FROM documents
),
s AS (SELECT sig.id, simhash, source, lbucket FROM sig JOIN meta ON sig.id = meta.id),
banded AS ({_hamming_bands_sql('s', 60, 6)}),
capped AS (
  SELECT id, simhash, source, lbucket, band, bkey FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source, lbucket, band, bkey ORDER BY id) AS rn
    FROM banded
  ) WHERE rn <= 64
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b
  ON a.source = b.source AND a.lbucket = b.lbucket
  AND a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
""",
        "politeness_budget": f"""
WITH f AS ({FRONTIER_SYNTH_SQL}),
r AS (SELECT url_norm, host, depth,
        row_number() OVER (PARTITION BY host ORDER BY priority DESC, depth, url_norm) AS rn
      FROM f)
SELECT url_norm, host, depth FROM r WHERE rn <= 5
""",
        "sitemap_seeds": f"""
WITH d AS (SELECT DISTINCT {pagesrc._h('doc_id')} AS h FROM documents),
u AS (SELECT h, 0 AS k FROM d WHERE h % 4 = 0
      UNION ALL SELECT h, 1 FROM d WHERE h % 4 = 0
      UNION ALL SELECT h, 2 FROM d WHERE h % 4 = 0),
x AS (SELECT h, 0 AS k FROM d WHERE h % 4 = 2
      UNION ALL SELECT h, 1 FROM d WHERE h % 4 = 2)
SELECT 'host' || h || '.example' AS host,
       'https://host' || h || '.example/sm/' || k AS loc,
       CASE WHEN k = 0 THEN '2026-02-01'
            WHEN k = 1 THEN '2026-01-02' END AS lastmod
FROM u
UNION ALL
SELECT 'host' || h || '.example',
       'https://host' || h || '.example/smx/' || k,
       NULL
FROM x
""",
        "politeness_crawl_delay": f"""
WITH f AS ({FRONTIER_SYNTH_SQL}),
d AS (SELECT DISTINCT {pagesrc._h('doc_id')} AS h FROM documents),
b AS (SELECT 'host' || h || '.example' AS host,
        greatest(1, CAST(floor(10.0 / (h % 5 + 1)) AS INT)) AS budget
      FROM d WHERE h % 3 <> 2),
r AS (SELECT f.url_norm, f.host, f.depth,
        row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.depth, f.url_norm) AS rn,
        coalesce(b.budget, 7) AS budget
      FROM f LEFT JOIN b ON f.host = b.host)
SELECT url_norm, host, depth FROM r WHERE rn <= budget
""",
        "fetch_schedule": f"""
WITH f AS ({FRONTIER_SYNTH_SQL}),
d AS (SELECT DISTINCT {pagesrc._h('doc_id')} AS h FROM documents),
dl AS (SELECT 'host' || h || '.example' AS host,
         CAST((h % 5 + 1) * 1000 AS BIGINT) AS dms
       FROM d WHERE h % 3 <> 2),
b AS (SELECT 'host' || h || '.example' AS host,
        greatest(1, CAST(floor(10.0 / (h % 5 + 1)) AS INT)) AS budget
      FROM d WHERE h % 3 <> 2),
r AS (SELECT f.url_norm, f.host, f.depth, f.priority,
        row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.depth, f.url_norm) AS rn,
        coalesce(b.budget, 7) AS budget
      FROM f LEFT JOIN b ON f.host = b.host),
s AS (SELECT url_norm, host, depth, priority FROM r WHERE rn <= budget),
t AS (SELECT url_norm, host, depth,
        CAST(row_number() OVER (
          PARTITION BY host ORDER BY priority DESC, depth, url_norm
        ) - 1 AS BIGINT) AS slot
      FROM s)
SELECT t.url_norm, t.host, t.depth, t.slot,
  CAST(t.slot * coalesce(dl.dms, 1000) AS BIGINT) AS fetch_at_ms
FROM t LEFT JOIN dl ON t.host = dl.host
""",
        "politeness_hostrank": f"""
WITH f AS ({FRONTIER_SYNTH_SQL}),
rk AS ({HOSTRANK_SQL}),
r AS (SELECT f.url_norm, f.host, f.depth, f.priority,
        row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.depth, f.url_norm) AS rn,
        coalesce(rk.host_rank, 0) AS host_rank
      FROM f LEFT JOIN rk ON f.host = rk.host),
g AS (SELECT url_norm, host, depth,
        row_number() OVER (ORDER BY priority DESC, host_rank DESC, depth, url_norm) AS gn
      FROM r WHERE rn <= 5)
SELECT url_norm, host, depth FROM g WHERE gn <= 40
""",
        # quality-reputation scheduling: the quality-score SQL nests
        # verbatim, ranks are exact micro-int means, and the same
        # two-level (per-host 5, global 40) deterministic cut replays
        "politeness_quality": f"""
WITH q AS ({qscore_sql}),
rk AS (
  SELECT d.source AS host,
    sum(CAST(round(q.score * 1000000) AS BIGINT)) / CAST(count(*) AS DOUBLE)
      AS host_rank
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  GROUP BY 1
),
f AS (
  SELECT d.source AS host,
    'https://' || d.source || '.example/d/' || d.doc_id AS url_norm,
    CAST(d.doc_id % 13 AS INT) AS depth
  FROM documents d
),
r AS (SELECT f.url_norm, f.host, f.depth,
        row_number() OVER (PARTITION BY f.host ORDER BY f.depth, f.url_norm) AS rn,
        coalesce(rk.host_rank, 0) AS host_rank
      FROM f LEFT JOIN rk ON f.host = rk.host),
g AS (SELECT url_norm, host, depth,
        row_number() OVER (ORDER BY host_rank DESC, depth, url_norm) AS gn
      FROM r WHERE rn <= 5)
SELECT url_norm, host, depth FROM g WHERE gn <= 40
""",
        "host_inlink_ranks": f"""
WITH e AS ({pagesrc.edges_sql()})
SELECT 'host' || {pagesrc._h('e.dst')} || '.example' AS host,
  CAST(count(*) AS DOUBLE) AS host_rank
FROM e GROUP BY 1
""",
        # 3 PageRank iterations unrolled as chained CTEs; constants are
        # written as (1.0-0.85) etc. so DuckDB evaluates the SAME IEEE
        # doubles the Spark operator computes (ranks.host_pagerank).
        # registered domains: the oracle re-derives each fixture
        # branch's KNOWN pay-level domain instead of re-implementing
        # the suffix walk (independent-derivation discipline)
        "registered_domains": f"""
WITH s AS ({DOMAIN_SYNTH_SQL}),
d2 AS (
  SELECT host,
    CASE doc_id % 6
      WHEN 0 THEN 'example' || (doc_id % 4) || '.co.uk'
      WHEN 1 THEN 'example' || (doc_id % 4) || '.co.uk'
      WHEN 2 THEN 'example' || (doc_id % 4) || '.com'
      WHEN 3 THEN 'example' || (doc_id % 4) || '.com'
      WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 'localhost'
                       ELSE '10.0.' || (doc_id % 4) || '.1' END
      ELSE 'example' || (doc_id % 4) || '.com.au'
    END AS domain
  FROM s
)
SELECT domain, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
  CAST(count(*) AS BIGINT) AS n_rows
FROM d2 GROUP BY domain
""",
        # domain politeness: same closed-form domain + the scheduler's
        # exact (depth ASC, url_norm ASC) cut as a row_number replay
        "politeness_domain": f"""
WITH s AS ({DOMAIN_SYNTH_SQL}),
f AS (
  SELECT host,
    'https://' || host || '/p/' || doc_id AS url_norm,
    CAST(doc_id % 5 AS INT) AS depth,
    CASE doc_id % 6
      WHEN 0 THEN 'example' || (doc_id % 4) || '.co.uk'
      WHEN 1 THEN 'example' || (doc_id % 4) || '.co.uk'
      WHEN 2 THEN 'example' || (doc_id % 4) || '.com'
      WHEN 3 THEN 'example' || (doc_id % 4) || '.com'
      WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 'localhost'
                       ELSE '10.0.' || (doc_id % 4) || '.1' END
      ELSE 'example' || (doc_id % 4) || '.com.au'
    END AS domain
  FROM s
)
SELECT url_norm, host, depth FROM (
  SELECT url_norm, host, depth,
    row_number() OVER (PARTITION BY domain ORDER BY depth ASC, url_norm ASC) AS rn
  FROM f
) WHERE rn <= 3
""",
        # reciprocity: same host-pair derivation, EXISTS reverse-edge
        "host_reciprocity": f"""
WITH e0 AS ({pagesrc.edges_sql()}),
eh AS (SELECT 'host' || {pagesrc._h('e0.src')} || '.example' AS s,
              'host' || {pagesrc._h('e0.dst')} || '.example' AS t
       FROM e0),
e AS (SELECT DISTINCT s, t FROM eh WHERE s <> t),
r AS (SELECT e.s, e.t FROM e
      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.s = e.t AND e2.t = e.s)),
nr AS (SELECT s, CAST(count(*) AS BIGINT) AS n_reciprocal FROM r GROUP BY s),
no AS (SELECT s, CAST(count(*) AS BIGINT) AS n_out FROM e GROUP BY s)
SELECT no.s AS host, n_out,
  CAST(coalesce(nr.n_reciprocal, 0) AS BIGINT) AS n_reciprocal,
  (n_out >= 2 AND 100 * coalesce(nr.n_reciprocal, 0) >= 50 * n_out) AS link_farm
FROM no LEFT JOIN nr ON nr.s = no.s
""",
        "canonical_clusters": f"""
WITH RECURSIVE
pg AS ({CANON_SYNTH_SQL}),
ed AS (SELECT url AS src,
         regexp_extract(html, '<link rel="canonical" href="([^"]+)"', 1) AS dst
       FROM pg),
r AS (SELECT src, dst FROM ed WHERE dst <> '' AND dst <> src),
walk(url, cur, hops) AS (
  SELECT src, dst, 1 FROM r
  UNION ALL
  SELECT w.url, r2.dst, w.hops + 1
  FROM walk w JOIN r r2 ON r2.src = w.cur
  WHERE w.hops < 10
),
term AS (
  SELECT w.url, w.cur FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.src = w.cur)
),
mapping AS (
  SELECT pg.url,
    CASE WHEN rr.src IS NULL THEN pg.url
         WHEN t.url IS NOT NULL THEN t.cur
         ELSE pg.url END AS canonical_url
  FROM pg
  LEFT JOIN (SELECT DISTINCT src FROM r) rr ON pg.url = rr.src
  LEFT JOIN term t ON pg.url = t.url
),
cnt AS (SELECT canonical_url AS cu, CAST(count(*) AS BIGINT) AS n
        FROM mapping GROUP BY canonical_url)
SELECT m.url, m.canonical_url,
  m.url = m.canonical_url AS is_canonical,
  CAST(coalesce(c.n, 0) AS BIGINT) AS n_members
FROM mapping m LEFT JOIN cnt c ON m.url = c.cu
""",
        "hll_distinct": "\nUNION ALL\n".join(
            [
                _hll_oracle_sql(
                    "SELECT CAST(user_id AS VARCHAR) AS _v FROM events",
                    "user_id",
                ),
                _hll_oracle_sql(
                    "SELECT text AS _v FROM documents", "doc_text"
                ),
                _hll_oracle_sql(
                    "SELECT CAST(l_orderkey AS VARCHAR) || '-' ||"
                    " CAST(l_linenumber AS VARCHAR) AS _v FROM lineitem",
                    "lineitem_key",
                ),
            ]
        ),
        "hyperball": f"""
WITH e0 AS ({pagesrc.edges_sql()}),
e AS (SELECT DISTINCT 'host' || {pagesrc._h('e0.src')} || '.example' AS s,
                      'host' || {pagesrc._h('e0.dst')} || '.example' AS t
      FROM e0),
v AS (SELECT s AS host FROM e UNION SELECT t FROM e),
b1 AS (SELECT host AS g, host AS val FROM v
       UNION SELECT s AS g, t AS val FROM e),
b2 AS (SELECT DISTINCT a.g, bb.val FROM b1 a JOIN b1 bb ON bb.g = a.val),
e1 AS {_hll_grouped_est_sql("SELECT g, val FROM b1")},
e2 AS {_hll_grouped_est_sql("SELECT g, val FROM b2")}
SELECT v.host, e1.est AS est_ball_1, e2.est AS est_ball_2
FROM v JOIN e1 ON e1.g = v.host JOIN e2 ON e2.g = v.host
""",
        "hll_set_overlap": f"""
SELECT
  CAST((SELECT count(DISTINCT _v) FROM ({HLL_SET_A_SQL})) AS BIGINT) AS n_a,
  CAST((SELECT count(DISTINCT _v) FROM ({HLL_SET_B_SQL})) AS BIGINT) AS n_b,
  CAST((SELECT count(*) FROM (
     SELECT DISTINCT _v FROM ({HLL_SET_A_SQL})
     INTERSECT
     SELECT DISTINCT _v FROM ({HLL_SET_B_SQL}))) AS BIGINT) AS n_inter,
  {_hll_est_sql(HLL_SET_A_SQL)} AS est_a,
  {_hll_est_sql(HLL_SET_B_SQL)} AS est_b,
  {_hll_est_sql(HLL_SET_A_SQL + " UNION ALL " + HLL_SET_B_SQL)} AS est_union,
  round({_hll_est_sql(HLL_SET_A_SQL)} + {_hll_est_sql(HLL_SET_B_SQL)}
        - {_hll_est_sql(HLL_SET_A_SQL + " UNION ALL " + HLL_SET_B_SQL)}, 4)
    AS est_inter
""",
        "cms_heavy_hitters": f"""
WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS term FROM documents),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
       FROM tok GROUP BY term),
top AS (SELECT term, true_cnt FROM tc
        ORDER BY true_cnt DESC, term LIMIT 20),
fan AS (SELECT term, unnest(range(0, 4)) AS j FROM tok),
cnt AS (SELECT j,
          ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || term), 1, 15))::BIGINT
            % 1024 AS bucket,
          CAST(count(*) AS BIGINT) AS c
        FROM fan GROUP BY 1, 2),
probe AS (SELECT term, true_cnt, unnest(range(0, 4)) AS j FROM top),
pk AS (SELECT term, true_cnt, j,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || term), 1, 15))::BIGINT
           % 1024 AS bucket
       FROM probe),
e AS (SELECT pk.term, pk.true_cnt,
        CAST(min(coalesce(cnt.c, 0)) AS BIGINT) AS est
      FROM pk LEFT JOIN cnt USING (j, bucket)
      GROUP BY pk.term, pk.true_cnt)
SELECT term, true_cnt, est,
  CAST(est - true_cnt AS BIGINT) AS inflation
FROM e
""",
        "postings_delta": f"""
WITH v2 AS ({V2_DOCS_SQL}),
tok AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM v2)
SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
FROM tok GROUP BY doc_id, term
""",
        "kwic_snippets": f"""
WITH ph AS ({PHRASE_QUERY_SQL}),
pt AS (SELECT phrase_id,
         string_split_regex(lower(phrase), '\\s+') AS terms
       FROM ph),
tk AS (SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       FROM documents),
occ AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos
        FROM tk),
m AS (SELECT p.phrase_id, o.doc_id, o.pos, o.toks, len(p.terms) AS plen
      FROM occ o JOIN pt p ON o.toks[o.pos] = p.terms[1]
      WHERE list_slice(o.toks, o.pos, o.pos + len(p.terms) - 1) = p.terms)
SELECT phrase_id, doc_id, CAST(pos AS BIGINT) AS match_pos,
  array_to_string(
    list_slice(toks, greatest(pos - 5, 1),
               least(pos + plen - 1 + 5, len(toks))), ' ') AS snippet
FROM m
""",
        "phrase_match": f"""
WITH ph AS ({PHRASE_QUERY_SQL}),
pt AS (SELECT phrase_id,
         string_split_regex(lower(phrase), '\\s+') AS terms
       FROM ph),
tk AS (SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       FROM documents),
occ AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos
        FROM tk),
m AS (SELECT p.phrase_id, o.doc_id
      FROM occ o JOIN pt p ON o.toks[o.pos] = p.terms[1]
      WHERE list_slice(o.toks, o.pos, o.pos + len(p.terms) - 1) = p.terms)
SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches
FROM m GROUP BY phrase_id, doc_id
""",
        "luhn_pan": f"""
WITH s AS ({LUHN_SYNTH_SQL}),
c AS (SELECT doc_id,
        regexp_extract_all(text, '{textstats.LUHN_CANDIDATE_PATTERN}')
          AS cands
      FROM s),
v AS (SELECT doc_id, cands,
        list_filter(cands, cc ->
          (list_sum(list_transform(range(1, length(cc) + 1), p ->
             CASE WHEN p % 2 = 1
                    THEN CAST(cc[length(cc) - p + 1] AS INT)
                  WHEN CAST(cc[length(cc) - p + 1] AS INT) * 2 > 9
                    THEN CAST(cc[length(cc) - p + 1] AS INT) * 2 - 9
                  ELSE CAST(cc[length(cc) - p + 1] AS INT) * 2 END))
           % 10 = 0)) AS valid
      FROM c)
SELECT doc_id,
  CAST(len(cands) AS BIGINT) AS n_digit_runs,
  CAST(len(valid) AS BIGINT) AS n_luhn_valid,
  len(valid) > 0 AS has_pan
FROM v
""",
        "bm25_topk": f"""
WITH q AS ({BM25_QUERY_SQL}),
tok AS (SELECT doc_id,
          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
p AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY doc_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p
        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
sc AS (SELECT qq.query_id, p.doc_id,
  CAST(round(
    1000000.0
    * ln(1.0 + (CAST(t.n_docs - d.df AS DOUBLE) + 0.5)
               / (CAST(d.df AS DOUBLE) + 0.5))
    * (CAST(p.tf AS DOUBLE) * 2.2)
    / (CAST(p.tf AS DOUBLE)
       + 1.2 * (1.0 - 0.75
                + 0.75 * (CAST(l.dl AS DOUBLE) * t.n_docs) / t.total_len))
  ) AS BIGINT) AS s_u
  FROM p JOIN q qq USING (term) JOIN dfs d USING (term)
  JOIN dl l USING (doc_id) CROSS JOIN tot t),
agg AS (SELECT query_id, doc_id, CAST(sum(s_u) AS BIGINT) AS score_micro
        FROM sc GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, score_micro,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
        ) AS BIGINT) AS rnk
      FROM agg)
SELECT query_id, doc_id, rnk, score_micro FROM r WHERE rnk <= 10
""",
        "line_dedup_scrub": f"""
WITH s AS ({LINEDUP_SYNTH_SQL}),
sp AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM s),
e AS (SELECT doc_id, arr,
        unnest(arr) AS line,
        unnest(range(1, len(arr) + 1)) AS pos
      FROM sp),
k AS (SELECT doc_id, line, pos,
        row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
      FROM e),
r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        string_agg(line, chr(10) ORDER BY pos) AS clean_text
      FROM k WHERE rn = 1 GROUP BY doc_id)
SELECT sp.doc_id,
  CAST(len(sp.arr) AS BIGINT) AS n_lines,
  r.n_kept,
  CAST(len(sp.arr) - r.n_kept AS BIGINT) AS n_dropped,
  r.clean_text
FROM sp JOIN r USING (doc_id)
""",
        # only the zlib byte counts come from the fixture (an
        # INDEPENDENT plain-Python zlib pass over every distinct text,
        # tools/make_compression_fixture.py, keyed by md5(text) so this
        # one string is exact at any scale factor); ratio and flags are
        # derived here. ratio = comp/raw rounded to 6 places half-to-
        # even, in integers: ties such as 89/128 are exact in binary,
        # and DuckDB's round() takes them up where Python's takes them
        # to even. Path derived from this file's location so the gate
        # runs from any checkout path.
        "compression_signal": f"""
WITH e AS (
  SELECT d.doc_id, e.raw_bytes, e.comp_bytes,
    e.comp_bytes * 1000000 // nullif(e.raw_bytes, 0) AS q,
    2 * (e.comp_bytes * 1000000 % nullif(e.raw_bytes, 0)) AS r2
  FROM documents d
  JOIN read_parquet('{_COMPRESSION_FIXTURE}') e
    ON md5(coalesce(d.text, '')) = e.text_md5
),
r AS (
  SELECT doc_id, raw_bytes, comp_bytes,
    CASE WHEN raw_bytes = 0 THEN 0.0
         ELSE (q + CASE WHEN r2 > raw_bytes OR (r2 = raw_bytes AND q % 2 = 1)
                        THEN 1 ELSE 0 END) / 1000000.0 END AS ratio
  FROM e
)
SELECT doc_id, raw_bytes, comp_bytes, ratio,
  raw_bytes >= 512 AND ratio > 0 AND ratio < 0.25 AS repetitive,
  raw_bytes >= 512 AND ratio > 0.72 AS incompressible
FROM r
""",
        "soft404": f"""
WITH s AS ({SOFT404_SYNTH_SQL}),
c AS (
  SELECT id,
    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS n_words,
    regexp_matches(lower(coalesce(text, '')), '{_TRAP_SOFT404_PATTERN}') AS phrase_hit
  FROM s
)
SELECT id, CAST(n_words AS BIGINT) AS n_words, phrase_hit,
  phrase_hit AND n_words <= {_TRAP_SOFT404_MAX_WORDS} AS soft404
FROM c
""",
        "redirect_resolve": f"""
WITH RECURSIVE
m AS ({REDIRECT_SYNTH_SQL}),
r AS (SELECT src, dst FROM m WHERE dst IS NOT NULL),
walk(url, cur, hops) AS (
  SELECT src, dst, 1 FROM r
  UNION ALL
  SELECT w.url, r2.dst, w.hops + 1
  FROM walk w JOIN r r2 ON r2.src = w.cur
  WHERE w.hops < 10
),
term AS (
  SELECT w.url, w.cur, w.hops FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.src = w.cur)
)
SELECT q.src AS url,
  CASE WHEN rr.src IS NULL OR t.url IS NOT NULL THEN 'ok'
       ELSE 'stuck' END AS status,
  CASE WHEN rr.src IS NULL THEN q.src
       WHEN t.url IS NOT NULL THEN t.cur END AS final_url,
  CAST(CASE WHEN rr.src IS NULL THEN 0
            WHEN t.url IS NOT NULL THEN t.hops
            ELSE -1 END AS BIGINT) AS n_hops
FROM m q
LEFT JOIN (SELECT DISTINCT src FROM r) rr ON q.src = rr.src
LEFT JOIN term t ON q.src = t.url
""",
        "host_hits": f"""
WITH e0 AS ({pagesrc.edges_sql()}),
e AS (SELECT DISTINCT 'host' || {pagesrc._h('e0.src')} || '.example' AS s,
                      'host' || {pagesrc._h('e0.dst')} || '.example' AS t
      FROM e0),
v AS (SELECT s AS host FROM e UNION SELECT t FROM e),
h0 AS (SELECT host, 1.0 AS hub FROM v),
a1r AS (SELECT e.t AS host, sum(h0.hub) AS x
        FROM e JOIN h0 ON h0.host = e.s GROUP BY e.t),
a1c AS (SELECT v.host, coalesce(a1r.x, 0.0) AS auth
        FROM v LEFT JOIN a1r USING (host)),
a1 AS (SELECT host, auth / (SELECT sum(auth) FROM a1c) AS auth FROM a1c),
h1r AS (SELECT e.s AS host, sum(a1.auth) AS x
        FROM e JOIN a1 ON a1.host = e.t GROUP BY e.s),
h1c AS (SELECT v.host, coalesce(h1r.x, 0.0) AS hub
        FROM v LEFT JOIN h1r USING (host)),
h1 AS (SELECT host, hub / (SELECT sum(hub) FROM h1c) AS hub FROM h1c),
a2r AS (SELECT e.t AS host, sum(h1.hub) AS x
        FROM e JOIN h1 ON h1.host = e.s GROUP BY e.t),
a2c AS (SELECT v.host, coalesce(a2r.x, 0.0) AS auth
        FROM v LEFT JOIN a2r USING (host)),
a2 AS (SELECT host, auth / (SELECT sum(auth) FROM a2c) AS auth FROM a2c),
h2r AS (SELECT e.s AS host, sum(a2.auth) AS x
        FROM e JOIN a2 ON a2.host = e.t GROUP BY e.s),
h2c AS (SELECT v.host, coalesce(h2r.x, 0.0) AS hub
        FROM v LEFT JOIN h2r USING (host)),
h2 AS (SELECT host, hub / (SELECT sum(hub) FROM h2c) AS hub FROM h2c)
SELECT h2.host, round(h2.hub, 6) AS hub, round(a2.auth, 6) AS auth
FROM h2 JOIN a2 ON a2.host = h2.host
""",
        "host_pagerank": f"""
WITH e0 AS ({pagesrc.edges_sql()}),
e AS (SELECT DISTINCT 'host' || {pagesrc._h('e0.src')} || '.example' AS s,
                      'host' || {pagesrc._h('e0.dst')} || '.example' AS t
      FROM e0),
v AS (SELECT s AS host FROM e UNION SELECT t FROM e),
nn AS (SELECT count(*) AS n FROM v),
od AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
p0 AS (SELECT v.host, 1.0 / (SELECT n FROM nn) AS pr FROM v),
c1 AS (SELECT e.t AS host, sum(p0.pr / od.deg) AS m
       FROM e JOIN od ON od.s = e.s JOIN p0 ON p0.host = e.s GROUP BY e.t),
p1 AS (SELECT v.host,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c1.m, 0.0) AS pr
       FROM v LEFT JOIN c1 ON c1.host = v.host),
c2 AS (SELECT e.t AS host, sum(p1.pr / od.deg) AS m
       FROM e JOIN od ON od.s = e.s JOIN p1 ON p1.host = e.s GROUP BY e.t),
p2 AS (SELECT v.host,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c2.m, 0.0) AS pr
       FROM v LEFT JOIN c2 ON c2.host = v.host),
c3 AS (SELECT e.t AS host, sum(p2.pr / od.deg) AS m
       FROM e JOIN od ON od.s = e.s JOIN p2 ON p2.host = e.s GROUP BY e.t),
p3 AS (SELECT v.host,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c3.m, 0.0) AS pr
       FROM v LEFT JOIN c3 ON c3.host = v.host)
SELECT host, round(pr, 6) AS pagerank FROM p3
""",
        "metrics_rollup": f"""
WITH p AS ({pagesrc.clean_pages_sql()})
SELECT host, count(*) AS pages,
  CAST(sum(CASE WHEN {_route_case('url', 'strlen(html)')} = 'fast' THEN 1 ELSE 0 END) AS BIGINT) AS n_fast,
  CAST(sum(CASE WHEN {_route_case('url', 'strlen(html)')} = 'slow' THEN 1 ELSE 0 END) AS BIGINT) AS n_slow
FROM p GROUP BY host
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
        # grams compared as STRINGS here vs xxhash64 keys in the impl —
        # the oracle is collision-blind, the impl documents the risk
        # decontamination: bench grams derived from the same dg CTE
        # (the bench fixture is a slice of documents); gram STRINGS
        # here vs xxhash64 in the impl — collision-blind
        "benchmark_contamination": """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS s(i)
  WHERE len(t) >= 8
),
dg AS (SELECT DISTINCT doc_id, gram FROM g),
bset AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 17 = 0),
pd AS (
  SELECT dg.doc_id, count(*) AS n_grams,
    CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bench_grams
  FROM dg LEFT JOIN bset b ON dg.gram = b.gram
  GROUP BY dg.doc_id
),
sel AS (
  SELECT d.doc_id,
    CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
    CAST(coalesce(pd.bench_grams, 0) AS BIGINT) AS bench_grams,
    round(CASE WHEN coalesce(pd.n_grams, 0) > 0
               THEN CAST(pd.bench_grams AS DOUBLE) / pd.n_grams
               ELSE 0.0 END, 6) AS contamination
  FROM documents d LEFT JOIN pd USING (doc_id)
)
SELECT *, contamination > 0.05 AS contaminated FROM sel
""",
        "ngram_span_dedup": """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS s(i)
  WHERE len(t) >= 8
),
dg AS (SELECT DISTINCT doc_id, gram FROM g),
nd AS (SELECT gram, count(*) AS c FROM dg GROUP BY gram),
pd AS (
  SELECT dg.doc_id, count(*) AS n_grams,
         CAST(sum(CASE WHEN nd.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams
  FROM dg JOIN nd USING (gram) GROUP BY dg.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(pd.dup_grams, 0) AS BIGINT) AS dup_grams,
  round(CASE WHEN coalesce(pd.n_grams, 0) > 0
             THEN CAST(pd.dup_grams AS DOUBLE) / pd.n_grams
             ELSE 0.0 END, 6) AS dup_frac
FROM documents d LEFT JOIN pd USING (doc_id)
""",
        "ngram_span_removal": """
WITH toks AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM documents
),
tok AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, LATERAL unnest(generate_series(1, len(t))) AS s(i)
),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i : i + 7], ' ') AS gram
  FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS s(i)
  WHERE len(t) >= 8
),
dgr AS (
  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS c FROM g GROUP BY gram) WHERE c > 1
),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + u.o AS pos
  FROM g JOIN dgr USING (gram), LATERAL unnest(generate_series(0, 7)) AS u(o)
),
kept AS (
  SELECT tok.doc_id, tok.pos, tok.tok FROM tok ANTI JOIN cov USING (doc_id, pos)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept, string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.t) AS BIGINT) AS n_tokens,
  CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
  coalesce(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a USING (doc_id)
""",
        "minhash_signatures": _minhash_select(8),
        "lsh_dup_pairs": _LSH_PAIRS_SQL,
        # transitive closure via recursive CTE — exact but quadratic
        # per component; the small-scale twin of the impl's
        # large-star/small-star (which never materializes a closure)
        "dedup_clusters": clusters_sql,
        "cluster_reps": reps_sql,
        "simhash": _simhash_sql(60),
        "jaccard_pairs": jacc_sql,
        # recall of banded MinHash-LSH vs the exact-Jaccard truth set,
        # across the banding and bucket-cap dials — one l/h CTE pair
        # per LSH_RECALL_CONFIGS entry (same tuples drive the impl)
        "lsh_recall": f"""
WITH truth AS (SELECT id_a, id_b FROM ({jacc_sql})),
t AS (SELECT CAST(count(*) AS INT) AS total FROM truth),
"""
        + ",\n".join(
            f"l{i} AS (SELECT id_a, id_b FROM ({_lsh_pairs_sql(k, rpb, cap)})),\n"
            f"h{i} AS (SELECT CAST(count(*) AS INT) AS hits "
            f"FROM truth JOIN l{i} USING (id_a, id_b))"
            for i, (_, k, rpb, cap) in enumerate(LSH_RECALL_CONFIGS)
        )
        + "\n"
        + "\nUNION ALL\n".join(
            f"SELECT '{name}' AS config, h{i}.hits, t.total,\n"
            f"  round(CAST(h{i}.hits AS DOUBLE) / t.total, 6) AS recall "
            f"FROM h{i}, t"
            for i, (name, _, _, _) in enumerate(LSH_RECALL_CONFIGS)
        ),
        # int8 quantization digest: float32 inputs promote to double
        # exactly on both engines, so scale/round/codes agree bitwise;
        # DuckDB CAST(double AS INT) rounds, applied post-round = exact
        "embedding_quantize": """
WITH q AS (
  SELECT vec_id,
    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0
      AS scale,
    embedding
  FROM embeddings
),
c AS (
  SELECT vec_id, scale,
    list_transform(
      embedding,
      x -> CAST(round(x / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END)) AS INT)
    ) AS codes
  FROM q
)
SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims, scale,
  CAST(list_sum(codes) AS BIGINT) AS code_sum,
  CAST(list_min(codes) AS BIGINT) AS code_min,
  CAST(list_max(codes) AS BIGINT) AS code_max,
  md5(array_to_string(codes, ',')) AS codes_md5
FROM c
""",
        "embedding_topk": """
SELECT e.vec_id,
  round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                               list_transform(q.embedding, x -> x::DOUBLE)), 6) AS cosine
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY cosine DESC, e.vec_id LIMIT 10
""",
        "ann_topk_bucketed": """
WITH b AS (
  SELECT vec_id, embedding,
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
    + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
    + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
    AS bucket
  FROM embeddings
),
q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0)
SELECT e.vec_id,
  round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                               list_transform(q.embedding, x -> x::DOUBLE)), 6) AS cosine
FROM b e, q WHERE e.bucket = q.bucket
ORDER BY cosine DESC, e.vec_id LIMIT 10
""",
        # IVF: the oracle rebuilds the deterministic centroid list
        # (vec_id < 16) and replays the same rounded-cosine argmax
        # with the same lowest-cid tie-break
        "ivf_assign": """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
s AS (
  SELECT e.vec_id, c.cid,
    round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                 list_transform(c.cvec, x -> x::DOUBLE)), 6) AS s
  FROM embeddings e CROSS JOIN cents c
),
r AS (
  SELECT vec_id, cid, s,
    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
  FROM s
)
SELECT vec_id, CAST(cid AS INT) AS cid, s AS cid_cosine FROM r WHERE rn = 1
""",
        "ann_topk_ivf": """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cid FROM (
    SELECT c.cid,
      row_number() OVER (
        ORDER BY round(list_cosine_similarity(
                   list_transform(c.cvec, x -> x::DOUBLE),
                   list_transform(q.qvec, x -> x::DOUBLE)), 6) DESC, c.cid
      ) AS rn
    FROM cents c CROSS JOIN q
  ) WHERE rn <= 4
),
s AS (
  SELECT e.vec_id, c.cid,
    round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                 list_transform(c.cvec, x -> x::DOUBLE)), 6) AS s
  FROM embeddings e CROSS JOIN cents c
),
a AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM s
  ) WHERE rn = 1
)
SELECT e.vec_id,
  round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                               list_transform(q.qvec, x -> x::DOUBLE)), 6) AS cosine
FROM embeddings e JOIN a USING (vec_id) CROSS JOIN q
WHERE a.cid IN (SELECT cid FROM probes)
ORDER BY cosine DESC, e.vec_id LIMIT 10
""",
        # k-means: replay the full two-step deterministic chain —
        # init cells, assign, integer micro-mean update, re-assign,
        # emit count + 64 bigint micro sums per cell
        "kmeans_train": _kmeans_oracle_sql(),
        "bpe_train": _bpe_oracle_sql(n_merges=8),
        "bpe_token_counts": _bpe_oracle_sql(
            n_merges=8, min_freq=900, token_counts=True
        ),
        # SemDeDup: rebuild the vec_id<16 centroid list, replay the
        # argmax assignment, the (cid_cosine, vec_id) participation
        # cap, the within-cell eps-pair join, and the
        # keep-least-centroid-similar dominance rule
        "semdedup": """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
),
s AS (
  SELECT e.vec_id, c.cid,
    round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                 list_transform(c.cvec, x -> x::DOUBLE)), 6) AS s
  FROM embeddings e CROSS JOIN cents c
),
a0 AS (
  SELECT vec_id, cid, s AS cid_cosine FROM (
    SELECT vec_id, cid, s,
      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM s
  ) WHERE rn = 1
),
a AS (
  SELECT vec_id, cid, cid_cosine,
    row_number() OVER (PARTITION BY cid ORDER BY cid_cosine, vec_id) <= 24
      AS examined
  FROM a0
),
p0 AS (
  SELECT x.vec_id AS ia, y.vec_id AS ib,
    x.cid_cosine AS ca, y.cid_cosine AS cb,
    round(list_cosine_similarity(list_transform(ex.embedding, v -> v::DOUBLE),
                                 list_transform(ey.embedding, v -> v::DOUBLE)), 6) AS cos
  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
                   AND x.examined AND y.examined
  JOIN embeddings ex ON ex.vec_id = x.vec_id
  JOIN embeddings ey ON ey.vec_id = y.vec_id
),
p AS (SELECT * FROM p0 WHERE cos >= 0.25),
d AS (
  SELECT ia AS vec_id, (cb < ca OR (cb = ca AND ib < ia)) AS dom FROM p
  UNION ALL
  SELECT ib, (ca < cb OR (ca = cb AND ia < ib)) FROM p
),
g AS (SELECT vec_id, count(*) AS n, max(dom) AS anyd FROM d GROUP BY vec_id)
SELECT a.vec_id, CAST(a.cid AS INT) AS cid, a.cid_cosine, a.examined,
  CAST(coalesce(g.n, 0) AS BIGINT) AS n_sem_dups,
  NOT coalesce(g.anyd, FALSE) AS keep
FROM a LEFT JOIN g USING (vec_id)
""",
        "ann_topk_multiprobe": """
WITH b AS (
  SELECT vec_id, embedding,
    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
    + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
    + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
    + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
    AS bucket
  FROM embeddings
),
q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0)
SELECT e.vec_id,
  round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                               list_transform(q.embedding, x -> x::DOUBLE)), 6) AS cosine
FROM b e, q WHERE xor(e.bucket, q.bucket) IN (0, 1, 2, 4, 8, 16, 32, 64, 128)
ORDER BY cosine DESC, e.vec_id LIMIT 10
""",
        # recall@10 of both ANN paths vs the exact scan: same three
        # top-10s (same rounded-cosine + vec_id tiebreak order), hits
        # counted by join — the recall/cost dial as numbers
        "ann_recall": f"""
WITH b AS (
  SELECT vec_id, embedding,
    {_signbit_bucket_sql('embedding', 0, 8)} AS bucket
  FROM embeddings
),
q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0),
exact AS (
  SELECT e.vec_id
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
  ORDER BY round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                        list_transform(qq.embedding, x -> x::DOUBLE)), 6) DESC,
           e.vec_id
  LIMIT 10
),
buck AS (
  SELECT e.vec_id FROM b e, q WHERE e.bucket = q.bucket
  ORDER BY round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                        list_transform(q.embedding, x -> x::DOUBLE)), 6) DESC,
           e.vec_id
  LIMIT 10
),
multi AS (
  SELECT e.vec_id FROM b e, q
  WHERE xor(e.bucket, q.bucket) IN (0, 1, 2, 4, 8, 16, 32, 64, 128)
  ORDER BY round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                        list_transform(q.embedding, x -> x::DOUBLE)), 6) DESC,
           e.vec_id
  LIMIT 10
)
SELECT 'bucketed' AS method, CAST(count(*) AS INT) AS hits,
       round(count(*) / 10.0, 6) AS recall_at_10
FROM buck JOIN exact USING (vec_id)
UNION ALL
SELECT 'multiprobe' AS method, CAST(count(*) AS INT) AS hits,
       round(count(*) / 10.0, 6) AS recall_at_10
FROM multi JOIN exact USING (vec_id)
""",
        # identical lag window over the shared recrawl history
        "recrawl_change_rates": f"""
WITH s AS ({RECRAWL_SQL}),
lagged AS (
  SELECT url_norm, content_md5,
    lag(content_md5) OVER (PARTITION BY url_norm ORDER BY warc_ts) AS prev
  FROM s
),
agg AS (
  SELECT url_norm,
    CAST(count(*) AS INT) AS n_versions,
    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> content_md5 THEN 1 ELSE 0 END) AS INT) AS n_changes
  FROM lagged GROUP BY url_norm
)
SELECT url_norm, n_versions, n_changes,
  round(CASE WHEN n_versions > 1
        THEN n_changes / (n_versions - 1.0) ELSE 0.0 END, 6) AS change_rate
FROM agg
""",
        # revisit scheduler: same lag window + the batch clock (table
        # max ts) + a per-host budget row_number; age subtraction makes
        # any epoch/timezone convention cancel on both engines
        "recrawl_schedule": f"""
WITH s AS ({RECRAWL_SQL}),
lagged AS (
  SELECT url_norm, warc_ts, content_md5,
    lag(content_md5) OVER (PARTITION BY url_norm ORDER BY warc_ts) AS prev
  FROM s
),
agg AS (
  SELECT url_norm,
    CAST(count(*) AS INT) AS n_versions,
    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> content_md5 THEN 1 ELSE 0 END) AS INT) AS n_changes,
    max(warc_ts) AS last_ts
  FROM lagged GROUP BY url_norm
),
clk AS (SELECT max(warc_ts) AS now_ts FROM s),
sc AS (
  SELECT url_norm,
    regexp_extract(url_norm, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS host,
    n_versions, n_changes,
    round(CASE WHEN n_versions > 1
          THEN n_changes / (n_versions - 1.0) ELSE 0.0 END, 6) AS change_rate,
    CAST(epoch(now_ts) AS BIGINT) - CAST(epoch(last_ts) AS BIGINT) AS age_s
  FROM agg, clk
)
SELECT url_norm, host, n_versions, n_changes, change_rate, age_s,
  change_rate * age_s AS staleness, rank
FROM (
  SELECT sc.*, CAST(row_number() OVER (
      PARTITION BY host ORDER BY change_rate * age_s DESC, url_norm) AS INT) AS rank
  FROM sc
) WHERE rank <= 8
""",
        # same full-outer digest join over the two shared snapshot
        # versions; class logic duplicated verbatim
        "recrawl_diff": f"""
WITH p AS ({PRIOR_DIFF_SQL}),
c AS ({CURR_DIFF_SQL})
SELECT COALESCE(p.url_norm, c.url_norm) AS url_norm,
  CASE WHEN p.url_norm IS NULL THEN 'new'
       WHEN c.url_norm IS NULL THEN 'removed'
       WHEN p.content_md5 <> c.content_md5 THEN 'changed'
       ELSE 'unchanged' END AS change
FROM p FULL OUTER JOIN c ON p.url_norm = c.url_norm
""",
        # the parser must recover exactly what the synthesis put into
        # the blobs — predicted closed-form, no WARC code on this side
        # (documents text is ASCII, so length == octet_length)
        "warc_roundtrip": """
SELECT 'https://host' || (d.doc_id % 7) || '.example/page/' || d.doc_id AS target_uri,
  strftime(timestamp '2025-01-01 00:00:00' + (d.doc_id * interval '1' second),
           '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
  CAST(length(d.text) AS BIGINT) AS n_bytes,
  d.text AS body
FROM documents d
""",
        # newest version per page: row_number over the same synthetic
        # multi-version set; ts crosses the gate as epoch BIGINT
        "latest_snapshot": f"""
WITH s AS ({SNAP_SQL}),
r AS (SELECT url_norm, CAST(epoch(warc_ts) AS BIGINT) AS ts_epoch, content_md5,
        row_number() OVER (PARTITION BY url_norm ORDER BY warc_ts DESC) AS rn
      FROM s)
SELECT url_norm, ts_epoch, content_md5 FROM r WHERE rn = 1
""",
        "embedding_neardup": f"""
WITH bands AS ({_multiband_buckets_sql(4, 8)}),
capped AS (
  SELECT vec_id, band, bucket FROM (
    SELECT vec_id, band, bucket,
           row_number() OVER (PARTITION BY band, bucket ORDER BY vec_id) AS rn
    FROM bands
  ) WHERE rn <= 100
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
  round(list_cosine_similarity(list_transform(e1.embedding, x -> x::DOUBLE),
                               list_transform(e2.embedding, x -> x::DOUBLE)), 6) AS cosine
FROM cand
JOIN embeddings e1 ON e1.vec_id = cand.id_a
JOIN embeddings e2 ON e2.vec_id = cand.id_b
WHERE round(list_cosine_similarity(list_transform(e1.embedding, x -> x::DOUBLE),
                                   list_transform(e2.embedding, x -> x::DOUBLE)), 6) >= 0.30
""",
        "lang_id": f"""
WITH c AS (
  SELECT doc_id,
      {lang_counts}
  FROM documents
)
SELECT doc_id, {lang_case} AS lang_pred FROM c
""",
        "token_counts": f"""
SELECT doc_id,
  {ws_count} AS n_ws,
  len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN}')) AS n_bpe
FROM documents
""",
        "quality_score": qscore_sql,
        # tokenizer-prep vocabulary: LIMIT under the same deterministic
        # (count DESC, token ASC) tiebreak the impl's top-k uses
        # Gopher repetition: fractions are single double divisions of
        # integer sums, so the values are engine-bit-identical; the
        # output is driven off the line-stats side (LEFT JOIN bigrams)
        # exactly like the impl
        "repetition_stats": """
WITH base AS (
  SELECT doc_id AS id, text FROM documents WHERE trim(text) <> ''
),
rawlines AS (
  SELECT id, trim(unnest(string_split(text, chr(10)))) AS line FROM base
),
pl AS (
  SELECT id, line, count(*) AS c FROM rawlines WHERE line <> ''
  GROUP BY id, line
),
ls AS (
  SELECT id,
    CAST(sum(c) AS BIGINT) AS n_lines,
    CAST(count(*) AS BIGINT) AS d_lines,
    CAST(sum(c * length(line)) AS BIGINT) AS tot_chars,
    CAST(sum((c - 1) * length(line)) AS BIGINT) AS dup_chars
  FROM pl GROUP BY id
),
toks AS (
  SELECT id,
    string_split_regex(trim(lower(text)), '\\s+') AS ts
  FROM base
),
bigr AS (
  SELECT id,
    unnest(list_transform(generate_series(1, len(ts) - 1),
                          i -> ts[i] || ' ' || ts[i + 1])) AS bigram
  FROM toks WHERE len(ts) >= 2
),
bs AS (
  SELECT id,
    CAST(max(c) AS BIGINT) AS top_c,
    CAST(sum(c) AS BIGINT) AS n_bigrams
  FROM (SELECT id, bigram, count(*) AS c FROM bigr GROUP BY id, bigram)
  GROUP BY id
)
SELECT ls.id, n_lines,
  (n_lines - d_lines) / CAST(n_lines AS DOUBLE) AS dup_line_frac,
  dup_chars / CAST(tot_chars AS DOUBLE) AS dup_line_char_frac,
  COALESCE(n_bigrams, 0) AS n_bigrams,
  CASE WHEN n_bigrams > 0 THEN top_c / CAST(n_bigrams AS DOUBLE)
       ELSE 0.0 END AS top_bigram_frac
FROM ls LEFT JOIN bs ON ls.id = bs.id
""",
        "unigram_commonness": """
WITH toks AS (
  SELECT doc_id AS id,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY id, token),
cnt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnt),
pd AS (SELECT id,
         CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * cnt) AS BIGINT) AS sum_cnt,
         CAST(sum(CASE WHEN cnt <= 1 THEN tf ELSE 0 END) AS BIGINT) AS rare_occ
       FROM tf JOIN cnt USING (token) GROUP BY id)
SELECT id, n_tokens, sum_cnt,
  sum_cnt / (n_tokens * tot.total) AS mean_p,
  rare_occ / CAST(n_tokens AS DOUBLE) AS rare_rate
FROM pd, tot
""",
        # bigram LM: same shifted-pair construction (range is
        # end-exclusive, arrays 1-based — i pairs arr[i] with
        # arr[i+1]), same int64 micro-probability floor division
        "bigram_commonness": """
WITH base AS (
  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\\s+') AS arr
  FROM documents WHERE trim(text) <> ''
),
ex AS (
  SELECT id,
    unnest(list_transform(range(1, len(arr)), i -> arr[i] || ' ' || arr[i+1]))
      AS bigram
  FROM base
),
tf AS (SELECT id, bigram, count(*) AS tf FROM ex GROUP BY id, bigram),
cb AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS cb FROM tf GROUP BY bigram),
cpre AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS cp
  FROM cb GROUP BY 1
),
model AS (
  SELECT bigram, (1000000 * cb) // cp AS micro_p
  FROM cb JOIN cpre ON split_part(bigram, ' ', 1) = w1
),
pd AS (
  SELECT id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
    CAST(sum(tf * micro_p) AS BIGINT) AS sum_micro_p
  FROM tf JOIN model USING (bigram) GROUP BY id
)
SELECT id, n_bigrams, sum_micro_p,
  sum_micro_p / (n_bigrams * 1000000) AS mean_cond_p
FROM pd
""",
        # Heaps ladder: same tokenization, per-token min doc id, and
        # the same int64 ceil-division cutoffs
        "vocab_growth": """
WITH toks AS (
  SELECT doc_id AS id,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
first AS (SELECT token, min(id) AS first_id FROM toks GROUP BY token),
mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
ck AS (
  SELECT j AS checkpoint, (m * j + 9) // 10 AS n_docs
  FROM range(1, 11) t(j), mx
)
SELECT checkpoint, n_docs, CAST(count(*) AS BIGINT) AS vocab_size
FROM ck JOIN first ON first_id < n_docs
GROUP BY checkpoint, n_docs
""",
        "freq_spectrum": """
WITH toks AS (
  SELECT doc_id AS id,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
tf AS (SELECT id, token, count(*) AS tf FROM toks GROUP BY id, token),
cnt AS (SELECT token, sum(tf) AS cnt FROM tf GROUP BY token)
SELECT CAST(cnt AS BIGINT) AS occurrences,
  CAST(count(*) AS BIGINT) AS n_types,
  CAST(cnt * count(*) AS BIGINT) AS type_tokens
FROM cnt GROUP BY cnt
""",
        "vocab_stats": """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
td AS (SELECT token, doc_id, count(*) AS c FROM toks GROUP BY token, doc_id)
SELECT token,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(c) AS BIGINT) AS n_occurrences
FROM td GROUP BY token
ORDER BY n_occurrences DESC, token ASC LIMIT 100
""",
        # per-shard concat-and-chunk packing: same shard key (integer
        # div), same ordered window cumsum, same integer sequence
        # arithmetic — the window sum is cast back to BIGINT (DuckDB
        # widens to HUGEINT)
        "sequence_pack": f"""
WITH b AS (
  SELECT doc_id, doc_id // 64 AS shard,
    CAST({ws_count} AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         - n_tokens AS BIGINT) AS tok_start
  FROM b
),
s AS (
  SELECT doc_id, shard, n_tokens, tok_start,
    tok_start // 256 AS first_seq,
    CASE WHEN n_tokens = 0 THEN tok_start // 256
         ELSE (tok_start + n_tokens - 1) // 256 END AS last_seq
  FROM c
)
SELECT doc_id, shard, n_tokens, tok_start, first_seq, last_seq,
  last_seq > first_seq AS spans_boundary
FROM s
""",
        "pack_stats": f"""
WITH b AS (
  SELECT doc_id, doc_id // 64 AS shard,
    CAST({ws_count} AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         - n_tokens AS BIGINT) AS tok_start
  FROM b
),
s AS (
  SELECT shard, n_tokens,
    tok_start // 256 AS first_seq,
    CASE WHEN n_tokens = 0 THEN tok_start // 256
         ELSE (tok_start + n_tokens - 1) // 256 END AS last_seq
  FROM c
)
SELECT shard,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
  CAST(CASE WHEN sum(n_tokens) = 0 THEN 0
            ELSE max(last_seq) + 1 END AS BIGINT) AS n_seqs,
  CAST(sum(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END) AS BIGINT)
    AS n_spanning,
  CAST((CASE WHEN sum(n_tokens) = 0 THEN 0
             ELSE max(last_seq) + 1 END) * 256 - sum(n_tokens)
       AS BIGINT) AS pad_tokens
FROM s GROUP BY shard
""",
        # crawl-trap stats: same prefix regex, integer-count rates,
        # identical threshold booleans
        "host_trap_stats": f"""
WITH u AS ({TRAP_SYNTH_SQL}),
pp AS (
  SELECT host,
    regexp_extract(url_norm, '{_TRAP_PREFIX_PATTERN}', 1) AS prefix,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN contains(url_norm, '?') THEN 1 ELSE 0 END) AS BIGINT) AS nq
  FROM u GROUP BY host, prefix
),
ph AS (
  SELECT host,
    CAST(sum(n) AS BIGINT) AS n_urls,
    CAST(count(*) AS BIGINT) AS n_prefixes,
    CAST(max(n) AS BIGINT) AS max_prefix_urls,
    CAST(sum(nq) AS BIGINT) AS n_query
  FROM pp GROUP BY host
)
SELECT host, n_urls, n_prefixes, max_prefix_urls,
  max_prefix_urls / n_urls AS trap_share,
  n_query / n_urls AS query_frac,
  (n_urls >= 20 AND (max_prefix_urls / n_urls >= 0.5 OR n_query / n_urls >= 0.5)) AS suspect
FROM ph
""",
        # mirror detection: same fingerprint/cap/pair algebra in SQL;
        # the template fp (12 hosts > cap 8) must reach no pair
        "host_mirrors": f"""
WITH synth AS ({MIRROR_SYNTH_SQL}),
fps AS (SELECT DISTINCT host, md5(text) AS fp FROM synth),
fph AS (SELECT fp, count(*) AS nh FROM fps GROUP BY fp),
elig AS (SELECT f.host, f.fp FROM fps f JOIN fph USING (fp) WHERE nh <= 8),
sizes AS (SELECT host, CAST(count(*) AS BIGINT) AS n_fps FROM fps GROUP BY host),
sh AS (
  SELECT a.host AS host_a, b.host AS host_b, CAST(count(*) AS BIGINT) AS shared_fps
  FROM elig a JOIN elig b ON a.fp = b.fp AND a.host < b.host
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT host_a, host_b, shared_fps, sa.n_fps AS n_fps_a, sb.n_fps AS n_fps_b,
  shared_fps * 100 >= 50 * (sa.n_fps + sb.n_fps - shared_fps) AS is_mirror
FROM sh JOIN sizes sa ON sa.host = sh.host_a JOIN sizes sb ON sb.host = sh.host_b
""",
        "mirror_cap_audit": f"""
WITH synth AS ({MIRROR_SYNTH_SQL}),
fps AS (SELECT DISTINCT host, md5(text) AS fp FROM synth),
fph AS (SELECT fp, count(*) AS nh FROM fps GROUP BY fp)
SELECT CAST(count(*) AS BIGINT) AS n_fps,
  CAST(sum(CASE WHEN nh > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
  CAST(max(nh) AS BIGINT) AS max_fp_hosts
FROM fph
""",
        # DUST param mining: the oracle re-derives the bucket algebra
        # closed-form from the fixture residues — sessionid buckets
        # key on page alone (host/sort are page-determined), page
        # buckets key on (session, sort), sort buckets key on
        # (page, session) and so never vary
        "dust_params": """
WITH fu AS (SELECT DISTINCT d.doc_id % 20 AS p, d.doc_id % 3 AS s FROM documents d),
f2 AS (SELECT p % 5 AS h, p, s, p % 2 AS r FROM fu),
ses AS (
  SELECT h, 'sessionid' AS param, CAST(count(*) AS BIGINT) AS n_urls,
    CAST(count(DISTINCT p) AS BIGINT) AS n_groups,
    CAST(count(DISTINCT p) AS BIGINT) AS n_contents
  FROM f2 GROUP BY h
),
pag AS (
  SELECT h, 'page' AS param, CAST(count(*) AS BIGINT) AS n_urls,
    CAST(count(DISTINCT s * 2 + r) AS BIGINT) AS n_groups,
    CAST(count(DISTINCT p * 3 + s) AS BIGINT) AS n_contents
  FROM f2 GROUP BY h
),
srt AS (
  SELECT h, 'sort' AS param, CAST(count(*) AS BIGINT) AS n_urls,
    CAST(count(DISTINCT p * 3 + s) AS BIGINT) AS n_groups,
    CAST(count(DISTINCT p * 3 + s) AS BIGINT) AS n_contents
  FROM f2 GROUP BY h
),
u AS (
  SELECT * FROM ses UNION ALL SELECT * FROM pag UNION ALL SELECT * FROM srt
)
SELECT 'd' || h || '.example' AS host, param, n_urls, n_groups, n_contents,
  (n_urls > n_groups AND 100 * (n_urls - n_contents) >= 90 * (n_urls - n_groups))
    AS irrelevant
FROM u WHERE n_urls >= 6
""",
        # DUST applied: sessionid is the only learned-irrelevant param
        # at the fixture's structure, so canon = base + (page, sort)
        # sorted ('page' < 'sort' alphabetically)
        "dust_canonicalize": """
WITH fu AS (SELECT DISTINCT d.doc_id % 20 AS p, d.doc_id % 3 AS s FROM documents d),
f2 AS (SELECT p % 5 AS h, p, s, p % 2 AS r FROM fu)
SELECT
  'https://d' || h || '.example/item?page=' || p
    || '&sessionid=s' || s || '&sort=' || r AS url,
  'https://d' || h || '.example/item?page=' || p || '&sort=' || r AS url_canon
FROM f2
""",
        # PII redaction: identical rule sequence, each count taken on
        # the text state the previous rules produced
        "redact_pii": f"""
WITH p AS ({PII_SYNTH_SQL}),
s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '{textstats.PII_RULES[0][1]}')) AS BIGINT) AS n_email,
    regexp_replace(text, '{textstats.PII_RULES[0][1]}', '<EMAIL>', 'g') AS t1
  FROM p
),
s2 AS (
  SELECT doc_id, n_email,
    CAST(len(regexp_extract_all(t1, '{textstats.PII_RULES[1][1]}')) AS BIGINT) AS n_ipv4,
    regexp_replace(t1, '{textstats.PII_RULES[1][1]}', '<IP>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ipv4,
    CAST(len(regexp_extract_all(t2, '{textstats.PII_RULES[2][1]}')) AS BIGINT) AS n_phone,
    regexp_replace(t2, '{textstats.PII_RULES[2][1]}', '<PHONE>', 'g') AS t3
  FROM s2
)
SELECT doc_id, n_email, n_ipv4, n_phone, md5(t3) AS clean_md5 FROM s3
""",
        # text canonicalization: replay the exact step SEQUENCE (NFC →
        # NBSP→space → zero-width strip → control strip → ws collapse →
        # trim). RE2 \x{...} escapes inside single-quoted SQL reach the
        # regex engine verbatim (DuckDB strings don't process
        # backslashes), matching the Java-regex classes char-for-char
        "text_normalize": f"""
WITH p AS ({NORM_SYNTH_SQL}),
n AS (
  SELECT doc_id, text, {_NORM_CHAIN_SQL} AS norm_text
  FROM p
)
SELECT doc_id, md5(norm_text) AS norm_md5,
  CAST(length(text) AS BIGINT) AS n_before,
  CAST(length(norm_text) AS BIGINT) AS n_after,
  norm_text <> text AS changed
FROM n
""",
        # per-URL shape features: same regex steps with RE2 'g' flags
        # (Spark regexp_replace is global by default), integer //
        # division for the exact permille + score
        "url_features": f"""
WITH p AS ({TRAP_SYNTH_SQL}),
c AS (
  SELECT url_norm,
    CAST(length(regexp_replace(
      regexp_replace(regexp_replace(url_norm,
        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '', 'g'),
        '[?#].*$', '', 'g'),
      '[^/]', '', 'g')) AS BIGINT) AS path_depth,
    regexp_extract(url_norm, '\\?([^#]*)', 1) AS query,
    CAST(length(regexp_replace(url_norm, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
    CAST(length(url_norm) AS BIGINT) AS url_len
  FROM p
),
f AS (
  SELECT url_norm, path_depth,
    CAST(CASE WHEN query = '' THEN 0
         ELSE length(regexp_replace(query, '[^&]', '', 'g')) + 1 END
         AS BIGINT) AS n_params,
    (n_digits * 1000) // greatest(url_len, 1) AS digit_permille,
    url_len
  FROM c
)
SELECT url_norm, path_depth, n_params, digit_permille, url_len,
  CAST(100 - 10 * path_depth - 5 * n_params - digit_permille // 20
       AS BIGINT) AS shape_score
FROM f
""",
        # host-boilerplate strip: same explode (generate_subscripts +
        # unnest expand together in DuckDB), same two-level distinct
        # df count, same >= 3 threshold, string_agg skips the nulled
        # boilerplate lines exactly as concat_ws does
        "host_boilerplate": f"""
WITH p AS ({BOILER_SYNTH_SQL}),
l AS (
  SELECT doc_id, host,
    unnest(string_split(text, chr(10))) AS line,
    generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM p
),
dfh AS (
  SELECT host, line, count(DISTINCT doc_id) AS df
  FROM l GROUP BY host, line
),
j AS (SELECT l.doc_id, l.host, l.line, l.pos, dfh.df >= 3 AS is_b
      FROM l JOIN dfh USING (host, line))
SELECT doc_id, host,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
  md5(coalesce(
    string_agg(CASE WHEN NOT is_b THEN line END, chr(10) ORDER BY pos),
    '')) AS clean_md5
FROM j GROUP BY doc_id, host
""",
        # corpus-global paragraph dedup: winner = row_number 1 over
        # (para) ordered by (doc_id, pos) — same occurrence the
        # engine's min(struct(doc_id,pos)) picks; per-doc totals from
        # the original split so all-dropped docs still surface
        "paragraph_dedup": f"""
WITH p AS ({PARA_SYNTH_SQL}),
l AS (
  SELECT doc_id, para, pos FROM (
    SELECT doc_id,
      unnest(string_split(text, chr(10) || chr(10))) AS para,
      generate_subscripts(string_split(text, chr(10) || chr(10)), 1)
        AS pos
    FROM p)
  WHERE para <> ''
),
w AS (
  SELECT doc_id, para, pos,
    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1
      AS is_first
  FROM l
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
  FROM l GROUP BY doc_id
),
kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean
  FROM w WHERE is_first GROUP BY doc_id
)
SELECT p.doc_id,
  CAST(coalesce(tot.n_paras, 0) AS BIGINT) AS n_paras,
  CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
  CAST(coalesce(tot.n_paras, 0) - coalesce(kept.n_kept, 0) AS BIGINT)
    AS n_dropped,
  md5(coalesce(kept.clean, '')) AS clean_md5
FROM p LEFT JOIN tot ON p.doc_id = tot.doc_id
LEFT JOIN kept ON p.doc_id = kept.doc_id
""",
        # domain cap: rank over the full host partition — identical to
        # the engine's two-phase result by construction (phase-1 cuts
        # are provably outside the host's global top-K)
        "domain_cap_sample": f"""
WITH p AS ({DOMCAP_SYNTH_SQL}),
r AS (
  SELECT doc_id, host, quality,
    row_number() OVER (PARTITION BY host
                       ORDER BY quality DESC, doc_id) AS rn
  FROM p
)
SELECT doc_id, host, quality,
  CAST(CASE WHEN rn <= 10 THEN rn ELSE 0 END AS BIGINT) AS rank,
  rn <= 10 AS keep
FROM r
""",
        # CDX index: same SURT canonicalization (scheme/port/www
        # dropped, host reversed, query params sorted), revisit = a
        # later capture of the same (surt, digest)
        "cdx_index": f"""
WITH caps AS ({CDX_SYNTH_SQL}),
x AS (
  SELECT url, warc_ts,
    lower(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS rawhost,
    regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
    regexp_extract(url, '\\?([^#]*)', 1) AS q,
    md5(body) AS digest,
    CAST(strlen(body) AS BIGINT) AS n_bytes
  FROM caps
),
y AS (
  SELECT
    array_to_string(list_reverse(string_split(
      regexp_replace(regexp_replace(rawhost, ':[0-9]+$', ''),
                     '^www\\.', ''), '.')), ',')
    || ')' || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END
    || CASE WHEN q = '' THEN ''
            ELSE '?' || array_to_string(
                          list_sort(string_split(q, '&')), '&') END
      AS surt_key,
    url, warc_ts, digest, n_bytes
  FROM x
)
SELECT surt_key, url, warc_ts, digest, n_bytes,
  row_number() OVER (PARTITION BY surt_key, digest
                     ORDER BY warc_ts, url) > 1 AS is_revisit
FROM y
""",
        "script_profile": f"""
WITH p AS ({SCRIPT_SYNTH_SQL}),
c AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    {script_counts}
  FROM p
)
SELECT doc_id, n_chars, {", ".join("n_" + n for n in script_names)},
  {script_dom} AS dominant
FROM c
""",
        # raw-vs-normalized fingerprint pair: the norm chain is the
        # SAME string as text_normalize's (one definition, no drift).
        # fingerprint's Java \s includes \x0B; RE2's does not — and the
        # class-1 synth rows inject chr(11) — so the oracle spells out
        # Java's exact \s set instead of using RE2's '\s'
        "fingerprint_normalized": f"""
WITH p AS ({NORM_SYNTH_SQL}),
n AS (
  SELECT doc_id, text, {_NORM_CHAIN_SQL} AS norm_text
  FROM p
),
fp AS (
  SELECT doc_id,
    md5(lower(regexp_replace(text, '[ \\t\\n\\x0b\\x0c\\r]+', ' ', 'g'))) AS fp_raw,
    md5(lower(regexp_replace(norm_text, '[ \\t\\n\\x0b\\x0c\\r]+', ' ', 'g'))) AS fp_norm
  FROM n
)
SELECT doc_id, fp_raw, fp_norm, fp_raw <> fp_norm AS key_fixed FROM fp
""",
        # per-doc distinctive terms: same tf / df-over-tf / row_number
        # pipeline; score = tf/df is integer division, engine-identical
        "doc_keyterms": """
WITH toks AS (
  SELECT doc_id,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
SELECT doc_id, token, tf, df, score, rank FROM (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
    CAST(tf.tf AS DOUBLE) / df.df AS score,
    CAST(row_number() OVER (
      PARTITION BY tf.doc_id
      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.token ASC
    ) AS INT) AS rank
  FROM tf JOIN df USING (token)
) WHERE rank <= 3
""",
        # domain-level curation: the per-doc component oracles above
        # (score, keep, canonicality) rolled up per source with
        # float-free aggregation (micro-units + integer-count rates)
        "source_quality_rollup": f"""
WITH q AS ({qscore_sql}),
qf AS (SELECT doc_id, keep FROM ({qf_sql})),
cl AS (SELECT doc_id, is_canonical FROM ({clusters_sql})),
base AS (
  SELECT d.doc_id, d.source,
    CAST({ws_count} AS BIGINT) AS tok,
    CAST(round(q.score * 1000000) AS BIGINT) AS q_micro,
    qf.keep, cl.is_canonical
  FROM documents d
  JOIN q USING (doc_id) JOIN qf USING (doc_id) JOIN cl USING (doc_id)
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
    / CAST(count(*) AS BIGINT) AS keep_rate,
  CAST(sum(q_micro) AS BIGINT) / (count(*) * 1000000.0) AS mean_quality,
  CAST(sum(CASE WHEN is_canonical THEN 0 ELSE 1 END) AS BIGINT)
    / CAST(count(*) AS BIGINT) AS dup_rate
FROM base GROUP BY source
""",
        "fingerprint": """
SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
        "quality_filter": qf_sql,
        "training_mix": mix_sql,
        # temperature mix: same md5 buckets as mix_sql; the threshold
        # chain (/, sqrt, *, floor) is correctly rounded by IEEE in
        # both engines, so floor() lands on the same integer
        "lang_temperature": """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
  FROM documents GROUP BY lang
),
m AS (SELECT min(n_lang) AS n_min FROM counts),
t AS (
  SELECT lang, n_lang,
    greatest(CAST(floor(1000000.0 *
      sqrt(CAST(n_min AS DOUBLE) / CAST(n_lang AS DOUBLE))) AS BIGINT),
      CAST(1 AS BIGINT)) AS threshold
  FROM counts CROSS JOIN m
),
b AS (
  SELECT doc_id, lang,
    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 1000000) AS bucket
  FROM documents
)
SELECT b.doc_id, b.lang, t.n_lang, b.bucket, t.threshold,
  b.bucket < t.threshold AS keep,
  round(1000000.0 / t.threshold, 6) AS weight
FROM b JOIN t USING (lang)
""",
        # DSIR: same md5 gram buckets; the lr chain ln-ln-ln+ln keeps
        # the engine's exact association, micro-nat rounding makes the
        # per-doc sum an order-free integer
        "dsir_importance": dsir_sql,
        # DSIR selection step: Gumbel-top-k over the scored corpus —
        # the gumbel draw is the md5 uniform pushed through the same
        # fixed-association double chain, micro-nat rounded; the
        # oracle's global row_number equals the engine's threshold
        # comparison because (key, doc_id) is a total order
        "dsir_resample": f"""
WITH scored AS ({dsir_sql}),
g AS (
  SELECT doc_id, score_micro,
    CAST(round(1000000.0 * (-ln(-ln(
      (CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000) AS DOUBLE) + 0.5) / 1000000.0)))) AS BIGINT)
      AS g_micro
  FROM scored
),
kk AS (
  SELECT doc_id, score_micro, g_micro,
    score_micro + g_micro AS key_micro,
    row_number() OVER (ORDER BY score_micro + g_micro DESC, doc_id) AS rn
  FROM g
)
SELECT doc_id, score_micro, g_micro, key_micro, rn <= 100 AS keep FROM kk
""",
        # full-pipeline composition: each component subquery is the
        # SAME string as its standalone oracle above
        "corpus_refine": refine_sql,
        # refined corpus -> training sequences: the refine oracle
        # nested VERBATIM, its survivors packed with the same shard
        # key / window cumsum / integer sequence arithmetic as
        # sequence_pack's oracle
        "corpus_pack": f"""
WITH refined AS ({refine_sql}),
c AS (
  SELECT doc_id, doc_id // 64 AS shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY doc_id // 64 ORDER BY doc_id)
         - n_tokens AS BIGINT) AS tok_start
  FROM refined
),
s AS (
  SELECT doc_id, shard, n_tokens, tok_start,
    tok_start // 256 AS first_seq,
    CASE WHEN n_tokens = 0 THEN tok_start // 256
         ELSE (tok_start + n_tokens - 1) // 256 END AS last_seq
  FROM c
)
SELECT doc_id, shard, n_tokens, tok_start, first_seq, last_seq,
  last_seq > first_seq AS spans_boundary
FROM s
""",
        # the shard sink's manifest must equal the refined table's
        # per-stratum aggregates — i.e. writing, bounding, and
        # re-reading the files loses nothing
        "training_shards": f"""
WITH refined AS ({refine_sql})
SELECT stratum,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
  CAST(sum(CAST(round(weight * 1000000) AS BIGINT) * n_tokens) AS BIGINT)
    / 1000000.0 AS weighted_tokens
FROM refined GROUP BY stratum
""",
        # exact percentiles: same histogram-reduction + nearest-rank
        # integer arithmetic (round parity pinned by events_rollup)
        "latency_percentiles": """
WITH c AS (
  SELECT event_type AS key, CAST(round(value * 1000) AS BIGINT) AS v,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT key, v, c,
    sum(c) OVER (PARTITION BY key ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY key) AS n
  FROM c
)
SELECT key AS event_type, CAST(max(n) AS BIGINT) AS n,
  CAST(min(v) AS BIGINT) AS min_milli, CAST(max(v) AS BIGINT) AS max_milli,
  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END) AS BIGINT)
    AS p50_milli,
  CAST(min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN v END) AS BIGINT)
    AS p95_milli
FROM cum GROUP BY key
""",
        "events_rollup": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
  count(*) AS n,
  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events GROUP BY 1, 2
""",
        # multimodal oracles: the payload is re-synthesized as a BLOB
        # (magic bytes by doc_id % 3 || utf8 text — attach_fake_payload's
        # structure, robots-oracle style) and every output column derived
        # independently. DuckDB digests are VARCHAR-only, so content
        # equality goes through md5(hex(payload)) — uppercase hex on both
        # engines, injective over bytes.
        "multimodal_probe": """
WITH pay AS (
  SELECT d.doc_id,
    (CASE WHEN d.doc_id % 3 = 0 THEN '\\x89\\x50\\x4E\\x47\\x0D\\x0A\\x1A\\x0A'::BLOB
          WHEN d.doc_id % 3 = 1 THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB
          ELSE 'RIFF'::BLOB END) || encode(d.text) AS payload
  FROM documents d
)
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'image/jpeg'
       ELSE 'audio/wav' END AS mime,
  CAST(octet_length(payload) AS BIGINT) AS n_bytes,
  md5(hex(payload)) AS hex_md5
FROM pay
""",
        # frame grid over the same re-synthesized blob: every 4th
        # 256-byte chunk; substring truncates the tail chunk on both
        # engines, and hex() is uppercase on both
        "multimodal_frames": """
WITH pay AS (
  SELECT d.doc_id,
    (CASE WHEN d.doc_id % 3 = 0 THEN '\\x89\\x50\\x4E\\x47\\x0D\\x0A\\x1A\\x0A'::BLOB
          WHEN d.doc_id % 3 = 1 THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB
          ELSE 'RIFF'::BLOB END) || encode(d.text) AS payload
  FROM documents d
),
f AS (
  SELECT doc_id, hex(payload) AS h,
    CAST(ceil(octet_length(payload) / 256.0) AS INT) AS n_frames
  FROM pay
),
idx AS (
  SELECT doc_id, h, n_frames, unnest(range(0, n_frames)) AS i FROM f
)
SELECT doc_id, CAST(i AS INT) AS frame_idx, n_frames,
  md5(substring(h, CAST(i * 512 + 1 AS INT), 512)) AS frame_md5
FROM idx WHERE i % 4 = 0
""",
        # features: 16-bin histogram of byte % 16 over the first 4096
        # payload bytes. documents.text is ASCII (1 byte per char), so
        # the text contribution is unicode(char) % 16; the magic-byte
        # bins are constants of the synthesis.
        "multimodal_features": """
WITH magic_bins AS (
  SELECT d.doc_id, unnest(
    CASE WHEN d.doc_id % 3 = 0 THEN [9, 0, 14, 7, 13, 10, 10, 10]
         WHEN d.doc_id % 3 = 1 THEN [15, 8, 15, 0]
         ELSE [2, 9, 6, 6] END) AS bin
  FROM documents d
),
text_bins AS (
  SELECT doc_id, unicode(c) % 16 AS bin
  FROM (
    SELECT d.doc_id,
      unnest(string_split(substr(d.text, 1,
        4096 - CASE WHEN d.doc_id % 3 = 0 THEN 8 ELSE 4 END), '')) AS c
    FROM documents d
  )
),
cnt AS (
  SELECT doc_id, bin, count(*) AS c
  FROM (SELECT * FROM magic_bins UNION ALL SELECT * FROM text_bins)
  GROUP BY doc_id, bin
),
grid AS (
  SELECT d.doc_id, g.bin
  FROM documents d CROSS JOIN (SELECT unnest(range(16)) AS bin) g
),
hist AS (
  SELECT grid.doc_id, grid.bin, coalesce(cnt.c, 0) AS c
  FROM grid LEFT JOIN cnt ON grid.doc_id = cnt.doc_id AND grid.bin = cnt.bin
),
vec AS (SELECT doc_id, list(c ORDER BY bin) AS l FROM hist GROUP BY doc_id)
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'image/jpeg'
       ELSE 'audio/wav' END AS mime,
  16 AS n_features,
  md5(array_to_string(l, ',')) AS features_md5
FROM vec
""",
        # real-decode oracle: no decoder on this side — the features are
        # recomputed from attach_decodable_payload's closed-form synthesis
        # (PNG: w=4+d%13, h=3+d%7, px=(d+31x+17y)%256; WAV: n=32+d%64,
        # s=((7d+13i)%2048)-1024; BMP: w=2+d%9, h=2+d%5, channel c value
        # ((d+13x+7y)*(c+1))%256), so a Spark-side decode bug cannot be
        # mirrored here
        "multimodal_decode": """
WITH png AS (
  SELECT d.doc_id, 4 + d.doc_id % 13 AS w, 3 + d.doc_id % 7 AS h
  FROM documents d WHERE d.doc_id % 4 = 0
),
pngpix AS (
  SELECT doc_id, w, h, (doc_id + 31 * (i % w) + 17 * (i // w)) % 256 AS v
  FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM png)
),
pngagg AS (
  SELECT doc_id, w, h, min(v) AS mn, max(v) AS mx, sum(v) AS sm
  FROM pngpix GROUP BY doc_id, w, h
),
pngfeat AS (
  SELECT doc_id, 'image/png' AS mime,
    [1, w, h, 8, 0, w * h, mn, mx, sm, 0, 0, 0, 0, 0, 0, 0] AS l
  FROM pngagg
),
wav AS (
  SELECT d.doc_id, 32 + d.doc_id % 64 AS n
  FROM documents d WHERE d.doc_id % 4 = 1
),
wavsmp AS (
  SELECT doc_id, n, ((doc_id * 7 + i * 13) % 2048) - 1024 AS s
  FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM wav)
),
wavagg AS (
  SELECT doc_id, n, min(s) AS mn, max(s) AS mx, sum(s) AS sm, sum(abs(s)) AS sa
  FROM wavsmp GROUP BY doc_id, n
),
wavfeat AS (
  SELECT doc_id, 'audio/wav' AS mime,
    [2, 1, 8000, 16, n, mn, mx, sm, sa, 0, 0, 0, 0, 0, 0, 0] AS l
  FROM wavagg
),
bmp AS (
  SELECT d.doc_id, 2 + d.doc_id % 9 AS w, 2 + d.doc_id % 5 AS h
  FROM documents d WHERE d.doc_id % 4 = 2
),
bmppix AS (
  SELECT doc_id, w, h,
    ((doc_id + 13 * (i % w) + 7 * (i // w)) * (c + 1)) % 256 AS v
  FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM bmp),
       (SELECT unnest(range(3)) AS c)
),
bmpagg AS (
  SELECT doc_id, w, h, min(v) AS mn, max(v) AS mx, sum(v) AS sm
  FROM bmppix GROUP BY doc_id, w, h
),
bmpfeat AS (
  SELECT doc_id, 'image/bmp' AS mime,
    [3, w, h, 24, w * h, mn, mx, sm, 0, 0, 0, 0, 0, 0, 0, 0] AS l
  FROM bmpagg
),
aiff AS (
  SELECT d.doc_id, 16 + d.doc_id % 48 AS n, 8000 + 1000 * (d.doc_id % 5) AS rate
  FROM documents d WHERE d.doc_id % 4 = 3
),
aiffsmp AS (
  SELECT doc_id, n, rate, ((doc_id * 11 + i * 17) % 4096) - 2048 AS s
  FROM (SELECT doc_id, n, rate, unnest(range(n)) AS i FROM aiff)
),
aiffagg AS (
  SELECT doc_id, n, rate, min(s) AS mn, max(s) AS mx, sum(s) AS sm,
         sum(abs(s)) AS sa
  FROM aiffsmp GROUP BY doc_id, n, rate
),
aifffeat AS (
  SELECT doc_id, 'audio/aiff' AS mime,
    [4, 1, rate, 16, n, mn, mx, sm, sa, 0, 0, 0, 0, 0, 0, 0] AS l
  FROM aiffagg
),
allf AS (
  SELECT * FROM pngfeat
  UNION ALL SELECT * FROM wavfeat
  UNION ALL SELECT * FROM bmpfeat
  UNION ALL SELECT * FROM aifffeat
)
SELECT doc_id, mime, 16 AS n_features,
       md5(array_to_string(l, ',')) AS features_md5
FROM allf
""",
    }
    # the bucketed-corpus crawl computes the same BFS: the variation
    # under test is physical (bucketed scan, zero corpus-side
    # exchange), which the independent logical oracle cannot and need
    # not see — identical SQL, separately executed gate
    out["crawl_frontier_bucketed"] = out["crawl_frontier_bfs"]
    return out
