"""Property-based tests (hypothesis) for the scalar semantic cores.

No Spark session needed — these pin the pure-python functions that the
Arrow UDFs and the reference-semantics oracle share, so invariants here
hold for the whole dataflow.
"""

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.files import (
    format_bytes_py,
    sanitize_filename_py,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.functions.urlnorm import (
    canonicalize_rfc3986_py,
    normalize_url_compat_py,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.extract import (
    extract_routed_py,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.robots import (
    parse_robots_py,
    robots_allowed_py,
)

_host = st.from_regex(r"[a-z](?:[a-z0-9-]{0,10}[a-z0-9])?(?:\.[a-z]{2,5}){1,2}", fullmatch=True)
_path = st.from_regex(r"(?:/[A-Za-z0-9._~%-]{0,12}){0,5}/?", fullmatch=True)
_query = st.from_regex(r"(?:[a-z]{1,4}=[A-Za-z0-9]{0,6}&?){0,4}", fullmatch=True)
_frag = st.from_regex(r"[A-Za-z0-9]{0,8}", fullmatch=True)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "HtTpS"]))
    host = draw(_host)
    if draw(st.booleans()):
        host = host.upper()
    path = draw(_path)
    q = draw(_query)
    f = draw(_frag)
    u = f"{scheme}://{host}{path}"
    if q:
        u += "?" + q
    if f:
        u += "#" + f
    return u


@given(urls())
@settings(max_examples=300, deadline=None)
def test_compat_normalizer_idempotent_and_clean(u):
    n = normalize_url_compat_py(u)
    assert n is not None
    assert n == n.lower()
    assert "#" not in n and "?" not in n
    # idempotent: normalizing a normalized URL is a no-op
    assert normalize_url_compat_py(n) == n


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonicalizer_idempotent(u):
    c = canonicalize_rfc3986_py(u)
    assert c is not None
    assert canonicalize_rfc3986_py(c) == c
    assert "#" not in c
    # scheme and host are lowercase
    scheme, rest = c.split("://", 1)
    assert scheme == scheme.lower()
    assert rest.split("/", 1)[0] == rest.split("/", 1)[0].lower()


@given(urls(), urls())
@settings(max_examples=200, deadline=None)
def test_canonical_equal_implies_compat_related(a, b):
    """Canonicalization never merges URLs the compat rule separates by
    host/path (it only strips query where compat also strips it)."""
    ca, cb = canonicalize_rfc3986_py(a), canonicalize_rfc3986_py(b)
    if ca == cb:
        na, nb = normalize_url_compat_py(a), normalize_url_compat_py(b)
        # compat may differ in trailing-slash/dot-segments only
        assert na.split("://", 1)[0] == nb.split("://", 1)[0]


@given(st.text(alphabet=string.printable, max_size=300))
@settings(max_examples=300, deadline=None)
def test_sanitize_filename_safe_and_idempotent(name):
    s = sanitize_filename_py(name)
    assert len(s) <= max(len(name), 0) or len(s) <= 200
    for ch in '\\/:*?"<>|\x00':
        assert ch not in s
    assert sanitize_filename_py(s) == s


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=300, deadline=None)
def test_format_bytes_total_function(n):
    out = format_bytes_py(n)
    assert out.endswith("B")
    if n < 1024:
        assert out == f"{n} B"


_robots_text = st.lists(
    st.one_of(
        st.just("User-agent: *"),
        st.just("User-agent: somebot"),
        st.from_regex(r"Disallow: (/[a-z*$]{0,8}){0,3}", fullmatch=True),
        st.from_regex(r"Allow: (/[a-z*$]{0,8}){0,3}", fullmatch=True),
        st.just("Crawl-delay: 5"),
        st.just("# comment"),
        st.just(""),
    ),
    max_size=12,
).map("\n".join)


@given(_robots_text, st.from_regex(r"(/[a-z]{0,6}){0,4}", fullmatch=True))
@settings(max_examples=300, deadline=None)
def test_robots_total_and_empty_allows(txt, path):
    rules = parse_robots_py(txt)
    # verdict is total (never raises) and boolean
    assert robots_allowed_py(path or "/", rules) in (True, False)
    assert robots_allowed_py(path or "/", []) is True


# --- link-index exactness ------------------------------------------------
#
# The crawl loop extracts each page once, with its own URL as the base,
# and serves that row to a frontier URL with the same url_norm when the
# extract is base_free. That is exact iff a base_free extract is the
# same for every base that normalizes alike (lower, cut at '#'/'?').

_abs_href = st.one_of(
    st.builds(
        lambda scheme, host, path: f"{scheme}://{host}{path}",
        st.sampled_from(["http", "https", "HTTP", "Https", "hTtP", "ftp"]),
        _host,
        _path,
    ),
    st.from_regex(r"https:/[a-z]{1,8}", fullmatch=True),
)
_rel_href = st.one_of(
    st.from_regex(r"//[a-z]{1,6}\.[a-z]{2,3}(/[A-Za-z0-9]{0,5}){0,2}", fullmatch=True),
    st.from_regex(r"/[A-Za-z0-9._-]{0,8}(/[A-Za-z0-9]{0,5}){0,2}", fullmatch=True),
    st.from_regex(r"[A-Za-z0-9][A-Za-z0-9._-]{0,8}(/[A-Za-z0-9]{0,5}){0,2}", fullmatch=True),
    st.from_regex(r"[#?][A-Za-z0-9=]{1,6}", fullmatch=True),
)
_tier = st.sampled_from(["fast", "slow"])


def _compat_norm(u: str) -> str:
    """The crawl loop's url_norm (urlnorm.normalize_url_compat_col)."""
    return re.sub(r"[#?].*$", "", u).lower()


def _page(hrefs) -> bytes:
    links = "".join(f'<p><a href="{h}">x</a></p> ' for h in hrefs)
    return f"<html><body>{links}</body></html>".encode()


@st.composite
def _base_pair(draw):
    """Two bases with equal url_norm that differ in the case of their
    scheme, host or path, and in query or fragment."""
    a = draw(urls())
    head = _compat_norm(a)
    flips = draw(st.lists(st.booleans(), min_size=len(head), max_size=len(head)))
    head_b = "".join(c.swapcase() if f else c for c, f in zip(a[: len(head)], flips))
    b = head_b + draw(st.sampled_from(["", "?", "#", "?x=1", "#top", "?q=A#f"]))
    assert _compat_norm(a) == _compat_norm(b)
    return a, b


@given(
    st.one_of(
        st.lists(_abs_href, min_size=1, max_size=4),
        st.lists(st.one_of(_abs_href, _rel_href), max_size=6),
    ),
    _base_pair(),
    _tier,
)
@settings(max_examples=400, deadline=None)
def test_base_free_extract_ignores_base(hrefs, bases, tier):
    a, b = (extract_routed_py(_page(hrefs), base, tier) for base in bases)
    assert a["base_free"] == b["base_free"]
    if a["base_free"]:
        assert a == b


@given(_rel_href, urls(), _tier)
@settings(max_examples=300, deadline=None)
def test_relative_href_is_never_base_free(href, base, tier):
    out = extract_routed_py(_page([href]), base, tier)
    # the fast scan drops a leading '#' (fastpath.go:70); every other
    # relative shape is kept and resolved against the base
    assert bool(out["urls"]) != (tier == "fast" and href.startswith("#"))
    assert not out["urls"] or out["base_free"] is False


# --- cuckoo filter vs Bloom twin fuzz (VERDICT r04 next-round #8) ---------
#
# The in-place-delete path (cuckoo._delete_one / _insert_one over a
# table built by _insert_all) is the newest load-bearing state machine;
# hand cases live in test_cuckoo.py. This drives random batched
# insert/delete/probe interleavings — mirroring update_cuckoo_shards'
# apply_ops order (removals first, sorted-hash, then additions) —
# against a Counter model, and checks the SAME contract the Bloom twin
# gives on the surviving key stream: zero false negatives, FPP within
# bound. Seeded + derandomized: byte-identical runs in CI.

import numpy as np

from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators import (
    cuckoo as _ck,
)
from go_crawler_20251102_011312_url_crawlerv10_twotier_spark.operators.dedup import (
    _bit_test,
    _bloom_positions,
)

_M64 = (1 << 64) - 1


def _mix64(x: int) -> int:
    """splitmix64 finalizer — the test's deterministic stand-in for
    xxhash64 (any u64 injection exercises the same field layout)."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return (x ^ (x >> 31)) & _M64


@given(st.data())
@settings(max_examples=40, deadline=None, derandomize=True)
def test_cuckoo_fuzz_interleaved_vs_bloom_twin(data):
    from collections import Counter

    n0 = data.draw(st.integers(min_value=8, max_value=300), label="n0")
    model = Counter(range(n0))  # id -> live occurrence count
    next_id = n0
    init = np.array(sorted(_mix64(i) for i in model), dtype=np.uint64)
    table, st_i, st_fp = _ck._insert_all(init)
    nb = len(table) // _ck.SLOTS

    n_batches = data.draw(st.integers(min_value=1, max_value=6), label="nb")
    for _ in range(n_batches):
        live_ids = sorted(k for k, c in model.items() if c > 0)
        rem = (
            data.draw(
                st.sets(st.sampled_from(live_ids), max_size=min(40, len(live_ids)))
            )
            if live_ids
            else set()
        )
        n_new = data.draw(st.integers(min_value=0, max_value=30))
        # some additions are RE-inserts of live keys (multiset path)
        re_ins = (
            data.draw(
                st.sets(st.sampled_from(live_ids), max_size=min(5, len(live_ids)))
            )
            if live_ids and data.draw(st.booleans())
            else set()
        )
        add = set(range(next_id, next_id + n_new)) | (re_ins - rem)
        next_id += n_new

        # classic cuckoo delete contract: only delete present keys —
        # every such delete MUST find an occurrence (no-false-negative
        # balance: inserts add one fp occurrence, deletes remove one)
        for uv in sorted(_mix64(i) for i in rem):
            st_i, st_fp, found = _ck._delete_one(int(uv), table, st_i, st_fp, nb)
            assert found
        model.subtract(rem)
        for uv in sorted(_mix64(i) for i in add):
            st_i, st_fp = _ck._insert_one(int(uv), table, st_i, st_fp, nb)
        model.update(add)

        live = np.array(
            sorted(_mix64(k) for k, c in model.items() if c > 0), dtype=np.uint64
        )
        if len(live):
            ok = _ck._probe_arrays(live, table, st_i, st_fp, nb)
            assert ok.all(), "cuckoo false negative after interleaving"

    # FPP over keys never inserted (disjoint id range)
    absent = np.array(
        [_mix64((1 << 40) + j) for j in range(4000)], dtype=np.uint64
    )
    fpr_cuckoo = float(_ck._probe_arrays(absent, table, st_i, st_fp, nb).mean())
    assert fpr_cuckoo <= 0.03, fpr_cuckoo

    # Bloom twin on the same surviving key stream: same contract
    live = np.array(
        sorted(_mix64(k) for k, c in model.items() if c > 0), dtype=np.uint64
    )
    m_bits, k_hashes = 1 << 14, 5
    bits = np.zeros(m_bits, dtype=bool)
    if len(live):
        for pos in _bloom_positions(live, m_bits, k_hashes):
            bits[pos] = True
    packed = np.packbits(bits)
    if len(live):
        hit = np.ones(len(live), dtype=bool)
        for pos in _bloom_positions(live, m_bits, k_hashes):
            hit &= _bit_test(packed, pos)
        assert hit.all(), "bloom false negative"
    miss = np.ones(len(absent), dtype=bool)
    for pos in _bloom_positions(absent, m_bits, k_hashes):
        miss &= _bit_test(packed, pos)
    assert float(miss.mean()) <= 0.03
