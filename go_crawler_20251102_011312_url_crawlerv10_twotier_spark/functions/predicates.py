"""Row filters F1-F5 (SURVEY.md §2.3) as Catalyst expressions.

These are deliberately plain column predicates so they push down to
the parquet/Iceberg scan (partition pruning + row-group skipping at
100 TB) — check ``.explain("formatted")`` shows them under
``PushedFilters``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# config/config.go:7
MAX_DEPTH = 13
# crawler/crawler_twotier.go:57
MAX_BODY_SIZE = 5 * 1024 * 1024
# config/config.go:34
MAX_RETRIES = 3


def depth_ok(depth) -> Column:
    """F1: a page at depth d spawns children only if d < MaxDepth
    (crawler_twotier.go:194); children get depth d+1 (:199)."""
    depth = F.col(depth) if isinstance(depth, str) else depth
    return depth < F.lit(MAX_DEPTH)


def host_present(host) -> Column:
    """F2: drop unparseable / host-less URLs (crawler_twotier.go:187-190)."""
    host = F.col(host) if isinstance(host, str) else host
    return host.isNotNull() & (host != "")


def body_cap(html) -> Column:
    """F3: colly's MaxBodySize reads at most 5 MB of the body
    (crawler_twotier.go:57). ``html`` is a decoded string, so the cap
    counts its UTF-8 bytes, not characters: the body is cut at
    MAX_BODY_SIZE - k bytes for the smallest k in 0..3 that does not
    split a code point (``try_validate_utf8`` is NULL on a split one,
    where ``decode`` would raise). Pure Catalyst."""
    html = F.col(html) if isinstance(html, str) else html
    raw = F.encode(html, "UTF-8")
    cut = F.coalesce(
        *(
            F.try_validate_utf8(F.substring(raw, 1, MAX_BODY_SIZE - k).cast("string"))
            for k in range(4)
        )
    )
    return F.when(F.octet_length(html) > MAX_BODY_SIZE, cut).otherwise(html)


def status_200(status) -> Column:
    """F5: downloads succeed only on HTTP 200 (downloader.go:200-202)."""
    status = F.col(status) if isinstance(status, str) else status
    return status == F.lit(200)


def retry_ok(retry) -> Column:
    """C5: at most MaxRetries re-attempts (config.go:34,
    downloader.go:159-172); retries loop through iterations as data."""
    retry = F.col(retry) if isinstance(retry, str) else retry
    return retry <= F.lit(MAX_RETRIES)


# P4 href skip rules — scalar cores shared with the extract UDFs and the
# oracle. The fast and slow paths differ (SURVEY.md §2.2 P4): fast skips
# any '#'-prefixed href (fastpath.go:70-72); slow skips only the exact
# string '#' (slowpath.go:84-91) — '#section' IS extracted by the slow
# path (its fragment is later stripped by normalization).


def href_ok_fast_py(href: str) -> bool:
    return bool(href) and href[0] != "#" and not href.startswith(("javascript:", "mailto:"))


def href_ok_slow_py(href: str) -> bool:
    return bool(href) and href != "#" and not href.startswith(("javascript:", "mailto:"))
