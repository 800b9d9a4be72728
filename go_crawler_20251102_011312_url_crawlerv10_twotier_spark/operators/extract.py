"""Link/document extraction — the two tokenizer tiers (E1, E2).

* Fast path (tokenizer/fastpath.go:33-96): a byte-level scan for
  case-insensitive ``href=`` ANYWHERE in the bytes (including inside
  scripts and text — that imprecision is part of the contract), with
  optional ``"``/``'`` quoting; unquoted values terminate at a space
  or ``>``; the scan loop stops 6 bytes before the end
  (fastpath.go:41). Reimplemented here over ``bytes`` with C-speed
  ``find`` calls — NOT an HTML parser — so the quirks (e.g. hrefs in
  the final 6 bytes are never seen) are preserved bit-for-bit.

* Slow path (tokenizer/slowpath.go:57-132): full DOM parse (goquery in
  the reference), page metadata (title / meta-description / nav), per
  ``a[href]`` RFC 3986 resolution, and DocumentInfo rows for ``.pdf``
  links. Implemented over a small deterministic DOM built with
  ``html.parser`` — the fixture HTML (sources/pages.py) stays within
  the subset where Go's x/net/html and this parser agree, which is the
  per-row byte-identical-text contract's domain (SURVEY.md §7 risk 1).

Both are exposed as Arrow-batched pandas UDFs (never row-at-a-time
Python UDFs). The scalar cores are shared with the test oracle.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.predicates import href_ok_fast_py, href_ok_slow_py
from ..functions.urlnorm import (
    get_extension_py,
    host_of_py,
    is_document_slow_py,
    make_absolute_fast_py,
    resolve_rfc3986_py,
)

# ---------------------------------------------------------------------------
# E1 fast path — byte scan (tokenizer/fastpath.go:33-96)
# ---------------------------------------------------------------------------

_QUOTES = (0x22, 0x27)  # '"' and "'"


def extract_links_fast_py(html: bytes, base_url: str) -> list[str]:
    """Verbatim reimplementation of ExtractLinks (fastpath.go:33-96).

    Pointer semantics preserved exactly:
    - outer loop condition ``i < len-6`` (fastpath.go:41): matches in
      the final 6 bytes are never attempted;
    - after a value is consumed the scan resumes at terminator+1, so
      ``href=`` occurrences inside a consumed value are skipped;
    - unquoted values end at '' ''/'>' only (not tabs/newlines)
      (fastpath.go:60);
    - skip rules: leading '#', ``javascript:``, ``mailto:``
      (fastpath.go:70-72);
    - resolution via the non-RFC makeAbsolute (urlnorm.make_absolute_fast_py).
    """
    return _resolve_fast(_fast_hrefs(html), base_url)


def _resolve_fast(hrefs: list[str], base_url: str) -> list[str]:
    base_scheme = base_url.split("://", 1)[0] if "://" in base_url else ""
    base_host = host_of_py(base_url) or ""
    urls = (make_absolute_fast_py(raw, base_url, base_scheme, base_host) for raw in hrefs)
    return [u for u in urls if u]


def _fast_hrefs(html: bytes) -> list[str]:
    """The raw hrefs the fast scan keeps, in page order, before
    resolution (extract_links_fast_py)."""
    if not html:
        return []
    b = html.encode("utf-8") if isinstance(html, str) else html
    low = b.lower()  # one C pass; positions align with b
    n = len(b)
    hrefs: list[str] = []
    i = 0
    limit = n - 6
    while i < limit:
        j = low.find(b"href=", i)
        if j == -1 or j >= limit:
            break
        i = j + 5
        quote = 0
        if i < n and b[i] in _QUOTES:
            quote = b[i]
            i += 1
        url_start = i
        if quote:
            end = b.find(bytes([quote]), i)
            i = end if end != -1 else n
        else:
            e1 = b.find(b" ", i)
            e2 = b.find(b">", i)
            if e1 == -1:
                i = e2 if e2 != -1 else n
            elif e2 == -1:
                i = e1
            else:
                i = min(e1, e2)
        if i > url_start:
            raw = b[url_start:i].decode("utf-8", errors="replace")
            if href_ok_fast_py(raw):
                hrefs.append(raw)
        i += 1  # fastpath.go:82
    return hrefs


def _verbatim_fast(raw: str) -> bool:
    """makeAbsolute returns ``raw`` itself, reading no byte of the base
    (the 7-byte prefix branch, fastpath.go:110)."""
    return len(raw) > 7 and raw[:7] in ("http://", "https:/")


# ---------------------------------------------------------------------------
# E2 slow path — mini-DOM (tokenizer/slowpath.go:57-132)
# ---------------------------------------------------------------------------

_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class _Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs, parent):
        self.tag = tag
        self.attrs = dict(attrs) if attrs else {}
        self.children: list = []  # _Node or str
        self.parent = parent

    def text(self) -> str:
        """goquery Selection.Text(): concatenated descendant text nodes
        in document order, no normalization."""
        out: list[str] = []

        def walk(node: "_Node") -> None:
            for ch in node.children:
                if isinstance(ch, str):
                    out.append(ch)
                else:
                    walk(ch)

        walk(self)
        return "".join(out)

    def iter_nodes(self):
        yield self
        for ch in self.children:
            if not isinstance(ch, str):
                yield from ch.iter_nodes()


class _DomBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", None, None)
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, attrs, self.stack[-1])
        self.stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_Node(tag, attrs, self.stack[-1]))

    def handle_endtag(self, tag):
        # tag-soup tolerance: pop to the nearest matching open tag
        for k in range(len(self.stack) - 1, 0, -1):
            if self.stack[k].tag == tag:
                del self.stack[k:]
                break

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


def _parse_dom(html: bytes | str) -> _Node | None:
    try:
        p = _DomBuilder()
        p.feed(html if isinstance(html, str) else html.decode("utf-8", errors="replace"))
        p.close()
        return p.root
    except Exception:
        return None


def _get_context(anchor: _Node) -> str:
    """getContext (slowpath.go:160-171): parent element's text,
    byte-truncated at 200 + '...', then whitespace-trimmed."""
    parent = anchor.parent
    if parent is None:
        return ""
    text = parent.text()
    raw = text.encode("utf-8")
    if len(raw) > 200:
        text = raw[:200].decode("utf-8", errors="ignore") + "..."
    return text.strip()


def analyze_slow_py(
    html: bytes, base_url: str, doc_extensions: tuple[str, ...] = (".pdf",)
) -> dict:
    """AnalyzeDocument (slowpath.go:57-132) scalar core.

    Returns dict(urls, docs, title, description, has_nav, link_count,
    base_free) where docs is a list of {url, ext, title, context} dicts
    — DocumentInfo at slowpath.go:35-40. ``base_free``: every kept href
    has a scheme and a netloc, so resolution read no more of
    ``base_url`` than its (lowercased) scheme.
    """
    empty = {
        "urls": [],
        "docs": [],
        "title": "",
        "description": "",
        "has_nav": False,
        "link_count": 0,
        "base_free": True,
    }
    root = _parse_dom(html) if html else None
    if root is None:
        return empty  # parse-error fallback, slowpath.go:68-74

    title = ""
    description = ""
    has_nav = False
    urls: list[str] = []
    docs: list[dict] = []
    seen_title = False
    seen_desc = False
    base_free = True

    for node in root.iter_nodes():
        if node.tag == "title" and not seen_title:
            title = node.text()  # doc.Find("title").First().Text(), :77
            seen_title = True
        elif node.tag == "meta" and not seen_desc and node.attrs.get("name") == "description":
            description = node.attrs.get("content", "")  # :78
            seen_desc = True
        elif node.tag == "nav":
            has_nav = True  # :79
        elif node.tag == "a" and "href" in node.attrs:
            href = node.attrs["href"] or ""
            if not href_ok_slow_py(href):  # :84-91
                continue
            abs_url = resolve_rfc3986_py(href, base_url)  # :94-97
            if abs_url is None:
                continue
            urls.append(abs_url)
            # urljoin already parsed href, so this split cannot raise
            parts = urlsplit(href)
            base_free = base_free and bool(parts.scheme and parts.netloc)
            if is_document_slow_py(abs_url, doc_extensions):  # :104
                docs.append(
                    {
                        "url": abs_url,
                        "ext": get_extension_py(abs_url),
                        "title": node.text(),  # link text, :108
                        "context": _get_context(node),  # :109
                    }
                )
    return {
        "urls": urls,
        "docs": docs,
        "title": title,
        "description": description,
        "has_nav": has_nav,
        "link_count": len(urls),
        "base_free": base_free,
    }


# ---------------------------------------------------------------------------
# pandas UDFs + DataFrame-level operators
# ---------------------------------------------------------------------------

@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_links_fast(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_links_fast_py(h, u) if h is not None and u is not None else []
            for h, u in zip(html, base_url)
        ],
        dtype=object,
    )


# a row without html or url: no href, so no byte of any base is read
_EMPTY_SLOW = {
    "urls": None,
    "docs": None,
    "title": None,
    "description": None,
    "has_nav": None,
    "link_count": None,
    "base_free": True,
}


def extract_routed_py(html, base_url: str, path: str) -> dict:
    """Per-row dispatch of the two tokenizer tiers (coordinator.go:29-33
    routes, then crawler_twotier.go:121-167 calls the chosen tier).
    Fast rows fill only ``urls``/``link_count``/``base_free``; slow rows
    fill all.

    ``base_free``: the output reads no more of ``base_url`` than its
    lowercased scheme, so it is the same for any base URL with the same
    compat-normalized form. Fast tier: every kept href took
    makeAbsolute's verbatim branch. Slow tier: see analyze_slow_py."""
    if path == "slow":
        return analyze_slow_py(html, base_url)
    out = dict(_EMPTY_SLOW)
    hrefs = _fast_hrefs(html)
    urls = _resolve_fast(hrefs, base_url)
    out["urls"] = urls
    out["link_count"] = len(urls)
    out["base_free"] = all(_verbatim_fast(h) for h in hrefs)
    return out


def link_density_col(link_count, html):
    """P10 (slowpath.go:117-120): links per KB of HTML."""
    link_count = F.col(link_count) if isinstance(link_count, str) else link_count
    html = F.col(html) if isinstance(html, str) else html
    kb = F.length(html) / F.lit(1024.0)
    return F.when(kb > 0, link_count / kb).otherwise(F.lit(0.0))


def extract_stage(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """One pass of the two-tier extract stage over routed pages.

    Input must carry a ``path`` column ('fast'|'slow') from
    routing.route_decision_col. Output: one row per page with the
    input's other columns, ``links array<string>``, ``docs
    array<string>`` (the DocumentInfo urls) and ``base_free`` (see
    extract_routed_py) — and WITHOUT ``html_col``: never emitting it is
    the point, see below. The crawl loop runs it once per crawl over
    the whole corpus (its link index) and again only on pages reached
    by a URL the index cannot serve; no caller reads the page metadata
    (analyze_slow_py still computes it).

    SINGLE source pass: one Arrow hop receives the whole routed row
    and dispatches per row. The earlier design — two filtered branches
    unioned back — planned every upstream operator (the fetch join and
    the corpus scan with its multi-MB html bodies) TWICE per
    iteration; at 10^10 pages the duplicated scan dwarfs the benefit
    of per-tier Arrow batch homogeneity. Row-level dispatch inside one
    pass costs one string compare per row.

    mapInPandas, NOT a scalar pandas UDF: html is a WIDE column (KB
    typical, 5 MB cap tail) and ArrowEvalPython's join-back row queue
    holds every ORIGINAL routed row — html included — on the JVM heap
    up to the full execution pool before spilling; each superstep of
    the 1 M-page crawl rode the 8 g heap at 99 % old gen through
    exactly this queue. MapInPandas streams batch-in/batch-out
    (byte-bounded by spark.sql.execution.arrow.maxBytesPerBatch), so
    html bytes cross to python once and never enter a JVM-side queue.
    Per-row dispatch is extract_routed_py.
    """
    keep_fields = [f for f in pages.schema.fields if f.name != html_col]
    keep_names = [f.name for f in keep_fields]
    out_schema = T.StructType(
        list(keep_fields)
        + [
            T.StructField("links", T.ArrayType(T.StringType())),
            T.StructField("docs", T.ArrayType(T.StringType())),
            T.StructField("base_free", T.BooleanType()),
        ]
    )

    def _extract_batches(batches):
        for pdf in batches:
            rows = [
                extract_routed_py(h, u, p)
                if h is not None and u is not None
                else dict(_EMPTY_SLOW)
                for h, u, p in zip(pdf[html_col], pdf[url_col], pdf["path"])
            ]
            out = pdf[keep_names].copy()
            for col, vals in (
                ("links", [r["urls"] for r in rows]),
                ("docs", [r["docs"] and [d["url"] for d in r["docs"]] for r in rows]),
                ("base_free", [r["base_free"] for r in rows]),
            ):
                out[col] = pd.Series(vals, index=out.index, dtype=object)
            yield out

    return pages.mapInPandas(_extract_batches, out_schema)


ANCHOR_PATTERN = r'<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>'


def retrieval_pairs(
    pages: DataFrame,
    id_col: str = "id",
    url_col: str = "url",
    html_col: str = "html",
    min_query_chars: int = 3,
) -> DataFrame:
    """(query, positive-document) pairs for retrieval training, mined
    from the link graph: the anchor text one page writes to link
    another is a human-authored query for the TARGET's content — the
    classic anchor-text supervision signal (DPR-style pair mining with
    no click log needed). One row per distinct (query, target); the
    positive document is the target's tier-2 extracted text (the SAME
    DOM text contract the reference's tokenize stage ships, md5'd for
    compact transport) and ``n_sources`` counts independent
    endorsements — distinct linking pages — for pair weighting.

    Trivial anchors (trimmed length < ``min_query_chars``) are
    dropped; targets outside the corpus (dangling hrefs) drop in the
    inner join.

    Scale shape: anchors collapse map-side to distinct (query, href)
    BEFORE the target join (10^6 "click here -> x" duplicates arrive
    as one row), the join is href-keyed, and html crosses the Arrow
    boundary exactly once (the target-side text UDF) — never on the
    pair side.

    Output: ``(query, url, doc_md5, n_sources)``.
    """

    @F.pandas_udf(T.StringType())
    def dom_text(html: pd.Series) -> pd.Series:
        return html.map(
            lambda h: (lambda r: r.text() if r is not None else None)(_parse_dom(h))
        )

    an = anchor_texts(pages, id_col, html_col)
    q = an.select(
        F.trim(F.col("anchor")).alias("query"), "href", "id"
    ).filter(F.length("query") >= F.lit(min_query_chars))
    pairs = q.groupBy("query", "href").agg(
        F.countDistinct("id").cast("bigint").alias("n_sources")
    )
    targets = pages.select(
        F.col(url_col).alias("href"),
        F.md5(dom_text(F.col(html_col))).alias("doc_md5"),
    )
    return pairs.join(targets, "href").select(
        "query", F.col("href").alias("url"), "doc_md5", "n_sources"
    )


def target_anchor_profile(anchors: DataFrame) -> DataFrame:
    """Per-TARGET anchor rollup over an anchor_texts table — the
    classic off-page relevance signal (what other pages call a url is
    better evidence of its content than its own title), used to
    prioritize the frontier and to label retrieval training pairs.

    Output, one row per href:
    ``(href, n_inlinks, n_sources, n_anchors, top_anchor,
    top_anchor_count)`` with the modal anchor chosen deterministically
    (count DESC, anchor ASC — the vocab_stats cutoff rule, so the row
    is engine- and partition-order-independent).

    Scale shape: one (href, anchor) map-side-partial agg collapses the
    anchor stream, the modal pick is a window over that REDUCED table
    (state = one target's distinct anchors, not its raw inlinks — a
    mega-target with 10^8 identical "click here" inlinks arrives at
    the window as one row), and the per-target totals aggregate the
    same reduced table. No raw-row shuffle happens twice.
    """
    per = anchors.groupBy("href", "anchor").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("id").alias("src"),
    )
    w = Window.partitionBy("href").orderBy(F.desc("cnt"), F.asc("anchor"))
    top = (
        per.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "href",
            F.col("anchor").alias("top_anchor"),
            F.col("cnt").cast("bigint").alias("top_anchor_count"),
        )
    )
    totals = per.groupBy("href").agg(
        F.sum("cnt").cast("bigint").alias("n_inlinks"),
        F.sum("src").cast("bigint").alias("_src_sum"),
        F.count("*").cast("bigint").alias("n_anchors"),
    )
    # n_sources needs distinct ids per href ACROSS anchors — a source
    # linking the same target under two anchors must count once, so it
    # cannot be summed from the (href, anchor) partials
    sources = anchors.groupBy("href").agg(
        F.countDistinct("id").cast("bigint").alias("n_sources")
    )
    return (
        totals.join(sources, "href")
        .join(top, "href")
        .select(
            "href", "n_inlinks", "n_sources", "n_anchors", "top_anchor", "top_anchor_count"
        )
    )


def anchor_texts(
    pages: DataFrame, id_col: str = "id", html_col: str = "html"
) -> DataFrame:
    """Anchor-text table ``(id, href, anchor)`` — one row per
    well-formed ``<a href="...">text</a>`` element. Anchor text is the
    classic target-side relevance/quality feature (what OTHER pages
    call a url); the reference's E1/E2 extract hrefs only, so this is
    a beyond-reference operator with its own deliberate contract: the
    well-formed subset (double-quoted href, no tags nested inside the
    anchor), NOT the quirk-exact E1 byte scanner.

    Entirely JVM-side: two regexp_extract_all group passes zipped
    positionally, one explode — no UDF, and the multi-MB html column
    never leaves the scan stage (only hrefs and anchor strings do).
    The gate oracle runs the identical pattern in DuckDB.
    """
    html = F.col(html_col)
    hs = F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(1))
    ts = F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(2))
    return pages.select(
        F.col(id_col).alias("id"),
        F.explode(F.arrays_zip(hs.alias("href"), ts.alias("anchor"))).alias("a"),
    ).select("id", F.col("a.href").alias("href"), F.col("a.anchor").alias("anchor"))
