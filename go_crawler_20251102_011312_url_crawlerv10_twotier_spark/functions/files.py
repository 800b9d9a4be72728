"""Filename / formatting scalar functions (P8, P9, P11 — SURVEY.md §2.2).

The engine sinks fetched documents to a table, not a filesystem
(SURVEY.md S4), so these exist for API parity with the reference's
file-sink path and for downstream naming needs.

One documented deviation: the reference's no-filename fallback is
``download_<time.Now().UnixNano()>`` (utils/utils.go:53) —
nondeterministic by construction. The engine takes an explicit
``fallback_suffix`` instead so results are reproducible data, not
wall-clock artifacts.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INVALID = ["\\", "/", ":", "*", "?", '"', "<", ">", "|", "\x00"]


def sanitize_filename_py(name: str) -> str:
    """SanitizeFilename (utils/utils.go:60-69): replace invalid chars
    with '_', truncate to 200 keeping the extension."""
    for ch in _INVALID:
        name = name.replace(ch, "_")
    if len(name) > 200:
        ext = os.path.splitext(name)[1]
        name = name[: 200 - len(ext)] + ext
    return name


def extract_filename_py(
    doc_url: str, content_disposition: str | None = None, fallback_suffix: str | int = 0
) -> str:
    """ExtractFilename (utils/utils.go:34-57): Content-Disposition
    ``attachment; filename=...`` wins; else last path segment with the
    query string stripped; else ``download_<fallback_suffix>``."""
    cd = content_disposition or ""
    if cd.startswith("attachment; filename="):
        filename = cd[len("attachment; filename=") :].strip('"')
        if filename:
            return sanitize_filename_py(filename)
    segments = doc_url.split("/")
    filename = segments[-1]
    if "?" in filename:
        filename = filename[: filename.index("?")]
    if not filename or "." not in filename:
        filename = f"download_{fallback_suffix}"
    return sanitize_filename_py(filename)


def format_bytes_py(n: int) -> str:
    """FormatBytes (utils/utils.go:72-84): '%d B' under 1024, else one
    decimal with K/M/G/T/P/E suffix (Go %.1f = round-half-even)."""
    unit = 1024
    if n < unit:
        return f"{n} B"
    div, exp = unit, 0
    m = n // unit
    while m >= unit:
        div *= unit
        exp += 1
        m //= unit
    return f"{n / div:.1f} {'KMGTPE'[exp]}B"


@F.pandas_udf(T.StringType())
def extract_filename(url: pd.Series, cd: pd.Series, suffix: pd.Series) -> pd.Series:
    return pd.Series(
        [
            extract_filename_py(u, c, s) if u is not None else None
            for u, c, s in zip(url, cd, suffix)
        ]
    )


@F.pandas_udf(T.StringType())
def format_bytes(n: pd.Series) -> pd.Series:
    return n.map(lambda v: format_bytes_py(int(v)) if v is not None else None)
