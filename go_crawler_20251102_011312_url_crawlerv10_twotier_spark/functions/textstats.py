"""Text analysis for a training-data pipeline: language ID, quality
scoring, token counting, fingerprinting, PII redaction, Unicode
normalization.

Pure Catalyst column expressions (regexp/length/CASE — whole-stage
codegen) everywhere except the one step that genuinely needs Python
(NFC composition in ``normalize_text`` — an Arrow-batched pandas UDF
that short-circuits ASCII rows at C speed), deliberately kept within
the SQL dialect subset the DuckDB oracle shares, so every one of these
is oracle-checked.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# marker stopwords per language (tiny n-gram-free heuristic; the point
# is the *operator shape* — a real model swaps in via the same column)
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}
LANG_PREFERENCE = ("en", "de", "fr", "es")  # deterministic tie-break order


def lang_id(text) -> Column:
    """argmax over marker counts; 'und' when all zero; ties resolved
    by LANG_PREFERENCE order via first-match CASE semantics:
    lang L wins if its count > 0 and >= every count checked after it."""
    text = F.col(text) if isinstance(text, str) else text
    low = F.lower(text)
    counts = {
        lang: F.regexp_count(low, F.lit(pat)) for lang, pat in LANG_MARKERS.items()
    }
    best = None
    prefs = list(LANG_PREFERENCE)
    for i, lang in enumerate(prefs):
        cond = counts[lang] > 0
        for other in prefs[i + 1 :]:
            cond = cond & (counts[lang] >= counts[other])
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def token_count_ws(text) -> Column:
    """Whitespace tokenization count (0 for empty/blank strings)."""
    text = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(text)
    return F.when(trimmed == "", 0).otherwise(F.size(F.split(trimmed, r"\s+")))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe(text) -> Column:
    """BPE-ish regex token count: letter runs, single digits, single
    punctuation marks — the pre-tokenization GPT-2-style splitters use."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def quality_score(text) -> Column:
    """Composite quality in [0,1]-ish: length signal, punctuation
    density, English-stopword density, mean word length sanity.
    Deterministic, rounded to 6 for oracle hashing."""
    text = F.col(text) if isinstance(text, str) else text
    n = F.length(text)
    words = token_count_ws(text)
    punct = F.regexp_count(text, F.lit(r"[.,;:!?]"))
    stop = F.regexp_count(F.lower(text), F.lit(LANG_MARKERS["en"]))
    len_sig = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_sig = F.least(punct * F.lit(10.0) / F.greatest(words, F.lit(1)), F.lit(1.0))
    stop_sig = F.least(stop * F.lit(5.0) / F.greatest(words, F.lit(1)), F.lit(1.0))
    mean_wl = n / F.greatest(words, F.lit(1))
    wl_sig = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(
        F.lit(0.4) * len_sig + F.lit(0.2) * punct_sig + F.lit(0.2) * stop_sig + F.lit(0.2) * wl_sig,
        6,
    )


def fingerprint(text) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed lowercased
    text — the exact-dedup key robust to spacing differences."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


# ---------------------------------------------------------------------------
# Composite document quality filter (C4 / Gopher-rule style)
# ---------------------------------------------------------------------------

# Thresholds chosen to discriminate on the synthetic fixture (words
# 10-99, distinct-ratio ~0.5 mean) while keeping the published shape:
# C4 keeps pages with enough words; Gopher drops pages with too few
# stopword hits, heavy word repetition, or degenerate word lengths.
QF_MIN_WORDS = 30
QF_MIN_STOP_HITS = 2
QF_MIN_DISTINCT_RATIO = 0.45
QF_WORDLEN_RANGE = (3.0, 12.0)
QF_RULES = ("min_words", "stopwords", "repetition", "word_length")


def quality_filter(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document keep/drop decision from composable C4/Gopher-style
    rules, with the measurements exposed so a pipeline can re-threshold
    without recomputing:

    - min_words: >= QF_MIN_WORDS whitespace tokens (C4 length floor)
    - stopwords: >= QF_MIN_STOP_HITS English-marker stopword hits
      (Gopher's "must contain 2 of the stop list")
    - repetition: distinct-word ratio >= QF_MIN_DISTINCT_RATIO
      (Gopher's repetition family, collapsed to the unigram form)
    - word_length: mean non-space word length in QF_WORDLEN_RANGE

    keep = all rules pass; reason = FIRST failing rule in QF_RULES
    order ('ok' when kept) — a single scan, all whole-stage-codegen
    column expressions (split/array_distinct/regexp_count), no UDF and
    no shuffle at all: at 100 TB this is a map-only pass whose cost is
    the parquet read itself.

    Output: (doc_id, n_words, distinct_ratio, mean_wl,
    r_min_words, r_stopwords, r_repetition, r_word_length, keep,
    reason).
    """
    text = F.col(text_col)
    trimmed = F.trim(text)
    toks = F.split(trimmed, r"\s+")
    n_words = F.when(trimmed == "", 0).otherwise(F.size(toks))
    n_distinct = F.when(trimmed == "", 0).otherwise(F.size(F.array_distinct(toks)))
    n_nonspace = F.length(F.regexp_replace(text, r"\s+", ""))
    distinct_ratio = F.when(
        n_words > 0, n_distinct.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    mean_wl = F.when(
        n_words > 0, n_nonspace.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    stop_hits = F.regexp_count(F.lower(text), F.lit(LANG_MARKERS["en"]))

    r_min_words = n_words >= F.lit(QF_MIN_WORDS)
    r_stopwords = stop_hits >= F.lit(QF_MIN_STOP_HITS)
    r_repetition = distinct_ratio >= F.lit(QF_MIN_DISTINCT_RATIO)
    r_word_length = (mean_wl >= F.lit(QF_WORDLEN_RANGE[0])) & (
        mean_wl <= F.lit(QF_WORDLEN_RANGE[1])
    )
    keep = r_min_words & r_stopwords & r_repetition & r_word_length
    reason = (
        F.when(~r_min_words, F.lit("min_words"))
        .when(~r_stopwords, F.lit("stopwords"))
        .when(~r_repetition, F.lit("repetition"))
        .when(~r_word_length, F.lit("word_length"))
        .otherwise(F.lit("ok"))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("bigint").alias("n_words"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(mean_wl, 6).alias("mean_wl"),
        r_min_words.alias("r_min_words"),
        r_stopwords.alias("r_stopwords"),
        r_repetition.alias("r_repetition"),
        r_word_length.alias("r_word_length"),
        keep.alias("keep"),
        reason.alias("reason"),
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene: scrub contact info before the
# corpus ships to a tokenizer)
# ---------------------------------------------------------------------------

# (name, pattern, replacement) applied IN ORDER — emails first so the
# ip/phone digit patterns never see an address's local part. Patterns
# deliberately avoid \s and \b subtleties that differ between Java
# regex (Spark) and RE2 (DuckDB): explicit classes only.
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", "<IP>"),
    ("phone", r"\+?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
)


def redact_pii(df, id_col: str = "doc_id", text_col: str = "text"):
    """Scrub emails, IPv4 addresses and phone-shaped digit runs from
    the text, replacing each with a typed placeholder token, and count
    what was removed. Rules apply sequentially (each counts against
    the text state the PREVIOUS rules produced — the oracle defines
    the identical sequence), so e.g. an already-redacted email can't
    double-count as a phone.

    Output: (doc_id, n_email, n_ipv4, n_phone, clean_text).

    Map-only Catalyst regexp_replace/regexp_count — no UDF, no
    shuffle; at 100 TB this rides the same scan as the quality pass.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_RULES:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("bigint").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(
        F.col(id_col).alias("doc_id"), *counts, cur.alias("clean_text")
    )


# ---------------------------------------------------------------------------
# Unicode / whitespace canonicalization (the pre-dedup normalization
# pass: fingerprints, n-gram dedup and MinHash all key on text bytes,
# so two renderings of the same content must normalize identically
# BEFORE any of them run)
# ---------------------------------------------------------------------------

# stripped entirely: zero-width space/joiners + BOM (invisible, but
# they split tokens and break exact-hash dedup)
ZERO_WIDTH_CLASS = "[\u200b\u200c\u200d\ufeff]"
# stripped entirely: C0 controls except \t \n \r, plus DEL — these
# never carry content in web text and upset downstream tokenizers
CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
# collapsed to one space: explicit class, NOT \s (Java regex and RE2
# disagree on \s membership — \x0B is stripped above instead)
WS_RUN = "[ \t\n\r]+"


def _nfc_one(x):
    """NFC for one value; ASCII rows (the overwhelming majority of web
    text) short-circuit via ``str.isascii`` — a C-level check — so the
    Python cost is paid only where composition can change bytes."""
    return (
        x if x is None or x.isascii() else unicodedata.normalize("NFC", x)
    )


@pandas_udf(T.StringType())  # DataType object: parses without a live session
def nfc_text(s: pd.Series) -> pd.Series:
    """NFC composition as a scalar column expression, Arrow-batched.

    ONLY for narrow columns (urls, hosts, titles). A scalar pandas UDF
    plans as ArrowEvalPython, which queues every ORIGINAL input row
    JVM-side (HybridRowQueue) to re-join the python results — the
    queue is entitled to the whole execution pool before it spills,
    which at document widths starves the heap: measured 6.6 GB live
    (2.5 GB queue pages + 4 GB row bytes) and a GC-overhead OOM on the
    1 M-page normalize at 32 slots / 8 g. Wide columns go through
    ``normalize_text``'s mapInPandas hop instead, which streams
    batch-in/batch-out with no join-back queue."""
    return s.map(_nfc_one)


def normalize_text(
    df, id_col: str = "doc_id", text_col: str = "text", keep: tuple = ()
):
    """Canonicalize document text: NFC composition, NBSP → space,
    zero-width chars stripped, non-whitespace C0 controls + DEL
    stripped, whitespace runs collapsed to single spaces, trimmed.

    Order matters and is part of the contract (the oracle replays the
    identical sequence): NFC first (so composed chars are what the
    later classes see), invisible/control strips BEFORE the collapse
    (a control char between spaces must yield ONE space, not two).

    Output: (doc_id, *keep, norm_text, n_before, n_after, changed) —
    ``keep`` passes extra columns through so compositions (e.g. a
    raw-vs-normalized fingerprint pair) stay map-only, no re-join.

    Map-only: one Arrow hop for NFC (self-gating on ASCII), then
    Catalyst regexp_replace/trim — no shuffle; at 100 TB this rides
    the same scan as the quality pass, and feeds every dedup operator
    (`fingerprint`, `ngram_span_stats`, `minhash_signatures`) a
    rendering-independent key space.

    The NFC hop is ``mapInPandas``, NOT the scalar ``nfc_text`` UDF:
    document text is a WIDE column (KB typical, 5 MB cap tail), and
    ArrowEvalPython's join-back row queue holds the original rows on
    the JVM heap up to the full execution pool before spilling \u2014
    measured 6.6 GB live and a GC-overhead OOM on the 1 M-page
    pipeline's normalize stage (32 slots, 8 g heap). MapInPandas
    streams batch-in/batch-out: JVM-side state is one in-flight Arrow
    batch (byte-bounded by spark.sql.execution.arrow.maxBytesPerBatch,
    session.py), independent of row width. Same values either way \u2014
    the NFC kernel is shared (_nfc_one).
    """
    proj = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(k) for k in keep],
        F.col(text_col),
    )
    out_schema = T.StructType(
        list(proj.schema.fields) + [T.StructField("__nfc", T.StringType())]
    )

    def _nfc_batches(batches):
        for pdf in batches:
            yield pdf.assign(__nfc=pdf[text_col].map(_nfc_one))

    base = proj.mapInPandas(_nfc_batches, out_schema)
    raw = F.col(text_col)
    c = F.col("__nfc")
    c = F.regexp_replace(c, "\u00a0", " ")
    c = F.regexp_replace(c, ZERO_WIDTH_CLASS, "")
    c = F.regexp_replace(c, CONTROL_CLASS, "")
    c = F.regexp_replace(c, WS_RUN, " ")
    c = F.trim(c)
    return base.select(
        F.col("doc_id"),
        *[F.col(k) for k in keep],
        c.alias("norm_text"),
        F.length(raw).cast("bigint").alias("n_before"),
        F.length(c).cast("bigint").alias("n_after"),
        (c != raw).alias("changed"),
    )


# ---------------------------------------------------------------------------
# Script profiling (curation signal for non-Latin web text: lang_id's
# stopword heuristic only sees Latin-script languages; script counts
# classify everything else and catch mixed-script spam)
# ---------------------------------------------------------------------------

# BMP base blocks as LITERAL character ranges. The same Python string
# is interpolated into both the Spark (Java regex) pattern and the
# DuckDB (RE2) oracle pattern, so the two engines match the exact same
# characters by construction — no \p{Script} (the engines' script
# tables differ by Unicode version).
SCRIPT_CLASSES = [
    ("latin", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("arabic", "[؀-ۿ]"),
    ("cjk", "[一-鿿]"),
]


def script_profile(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document script profile: character counts per script block,
    total char count, and the dominant script (most chars; ties break
    in SCRIPT_CLASSES order; 'none' when no block matches — e.g.
    digits/punctuation-only docs).

    Output: (doc_id, n_chars, n_latin, n_cyrillic, n_greek, n_arabic,
    n_cjk, dominant). Integer counts only — no float rates, so the
    result is bit-identical across engines.

    Map-only Catalyst regexp counts riding the curation scan — no
    shuffle, no UDF.
    """
    text = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast(
            "bigint"
        )
        for name, pat in SCRIPT_CLASSES
    }
    dominant = F.lit("none")
    best = F.lit(0).cast("bigint")
    # fold in reverse so EARLIER classes win ties (>= replaces later)
    for name, _ in reversed(SCRIPT_CLASSES):
        c = counts[name]
        dominant = F.when(c >= F.greatest(best, F.lit(1)), F.lit(name)).otherwise(dominant)
        best = F.greatest(best, c)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text).cast("bigint").alias("n_chars"),
        *[counts[name].alias(f"n_{name}") for name, _ in SCRIPT_CLASSES],
        dominant.alias("dominant"),
    )


def host_quality_ranks(
    df, host_col: str = "source", text_col: str = "text"
):
    """Quality-reputation prior per host: mean quality_score of the
    host's fetched documents, as the ``(host, host_rank)`` table
    ``politeness.schedule(host_ranks=...)`` expects — closing the
    production feedback loop crawl → quality → next crawl's priority
    (hosts that historically yield fluent text outrank template
    farms in the global per-iteration trim).

    Exactness discipline: per-doc scores commit to integer micro
    units (round ×10^6), the per-host aggregation is integer sums,
    and the mean is ONE final double division — order-free and
    engine-identical. One map-side-partialed groupBy; map-only above
    it (rides the corpus scan).
    """
    micro = F.round(quality_score(F.col(text_col)) * 1_000_000).cast("long")
    agg = (
        df.select(F.col(host_col).alias("host"), micro.alias("q"))
        .groupBy("host")
        .agg(F.sum("q").alias("s"), F.count("*").alias("c"))
    )
    return agg.select("host", (F.col("s") / F.col("c")).alias("host_rank"))


# --- Luhn-validated card-number detection ----------------------------------

# contiguous digit runs in the PAN length range; greedy leftmost on
# both regex engines, so a 20+-digit run yields one 19-digit candidate
LUHN_CANDIDATE_PATTERN = "[0-9]{13,19}"


def _luhn_valid(c):
    """Catalyst Luhn checksum over a digit-string column/lambda var:
    from the right, double every second digit (−9 past 9), sum % 10
    == 0. Pure integer higher-order aggregate — no UDF."""
    n = F.length(c)
    term = lambda p: (  # p = 1-based position from the RIGHT
        F.when(
            p % 2 == 1,
            F.substring(c, (n - p + 1).cast("int"), 1).cast("int"),
        ).otherwise(
            F.when(
                F.substring(c, (n - p + 1).cast("int"), 1).cast("int") * 2 > 9,
                F.substring(c, (n - p + 1).cast("int"), 1).cast("int") * 2 - 9,
            ).otherwise(
                F.substring(c, (n - p + 1).cast("int"), 1).cast("int") * 2
            )
        )
    )
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, p: acc + term(p),
    )
    return total % 10 == 0


def luhn_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc card-number (PAN) exposure: digit runs of 13-19 chars
    checked against the Luhn checksum — the redact_pii family's
    highest-stakes member, where a bare \\d{13,19} regex would flag
    order ids and timestamps ~10x over. Map-only nested higher-order
    functions (regexp_extract_all -> filter(aggregate)), zero shuffle,
    exact integer arithmetic on both engines.

    Output: (doc_id, n_digit_runs, n_luhn_valid, has_pan).
    """
    cands = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")),
        F.lit(LUHN_CANDIDATE_PATTERN),
        0,
    )
    valid = F.filter(cands, _luhn_valid)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(cands).cast("bigint").alias("n_digit_runs"),
        F.size(valid).cast("bigint").alias("n_luhn_valid"),
        (F.size(valid) > 0).alias("has_pan"),
    )
