"""Single-threaded reference-semantics oracle (SURVEY.md §5.2).

A straight-line Python re-implementation of the reference crawl loop
(crawler/crawler_twotier.go): level-synchronous BFS with the engine's
documented determinization (min-depth + min-raw-url tiebreak). It
shares the *scalar* cores (normalize/route/extract) with the engine —
those are pinned by their own golden unit tests — so a mismatch here
isolates a bug in the distributed *dataflow*.
"""

from __future__ import annotations

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.predicates import (
    MAX_BODY_SIZE,
    MAX_DEPTH,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.routing import (
    route_decide_py,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import (
    host_of_py,
    normalize_url_compat_py,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
    analyze_slow_py,
    extract_links_fast_py,
)


def reference_crawl(
    pages: dict[str, str],
    seed_urls: list[str],
    max_depth: int = MAX_DEPTH,
    budget_per_host: int | None = None,
):
    """Returns (seen: {url_norm: depth}, docs: [DocumentInfo dicts],
    download_urls: set of raw doc URLs attempted).

    pages: raw-url -> html (the synthetic web); lookup key is the
    normalized URL (sandbox stand-in for the HTTP fetch, SURVEY §2.1 S2).
    """
    corpus = {}
    for u, h in pages.items():
        corpus.setdefault(normalize_url_compat_py(u), h)

    seen: dict[str, int] = {}
    frontier: list[tuple[str, str, int]] = []  # (raw, norm, depth)
    for u in sorted(set(seed_urls)):
        norm = normalize_url_compat_py(u)
        if host_of_py(u) and norm not in seen:
            seen[norm] = 0
            frontier.append((u, norm, 0))

    all_docs: list[dict] = []
    download_urls: set[str] = set()

    while frontier:
        discovered: dict[str, tuple[int, str]] = {}  # norm -> (depth, raw)
        for raw, norm, depth in frontier:
            html = corpus.get(norm)
            if html is None:
                continue  # fetch miss (reference OnError path)
            # colly MaxBodySize truncation counts bytes: slice the UTF-8
            # bytes and drop a partial trailing code point
            body = (
                html.encode("utf-8")[:MAX_BODY_SIZE].decode("utf-8", "ignore")
                if isinstance(html, str)
                else html[:MAX_BODY_SIZE]
            )
            # Decide gets len(body) of a []byte: route on the byte size
            n_bytes = len(body.encode("utf-8") if isinstance(body, str) else body)
            path = route_decide_py(raw, n_bytes)
            if path == "fast":
                links = extract_links_fast_py(
                    body.encode() if isinstance(body, str) else body, raw
                )
            else:
                r = analyze_slow_py(
                    body.encode() if isinstance(body, str) else body, raw
                )
                links = r["urls"]
                for d in r["docs"]:
                    all_docs.append(d)
                    download_urls.add(d["url"])
            if depth >= max_depth:  # F1: only parents with depth < max spawn
                continue
            for href in links:
                h = host_of_py(href)
                if not h:
                    continue
                n = normalize_url_compat_py(href)
                if n in seen:
                    continue
                cur = discovered.get(n)
                cand = (depth + 1, href)
                if cur is None or cand < cur:
                    discovered[n] = cand
        frontier = []
        for n, (d, raw) in sorted(discovered.items()):
            seen[n] = d
            frontier.append((raw, n, d))
    return seen, all_docs, download_urls
