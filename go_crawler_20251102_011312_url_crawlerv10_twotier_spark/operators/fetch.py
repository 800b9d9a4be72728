"""Tier-2 fetch-and-extract stage (M7 — SURVEY.md §2.1 S3/S4, §3.3).

The reference's download tier (downloader/downloader.go:110-222) pulls
DownloadTasks from per-NIC queues, GETs the body over a NIC-bound
client, and streams it to disk. In the engine the fetch is a lookup
join against the corpus table (the synthetic corpus IS the web), and
the per-row work — text extraction, byte accounting — runs as a
partition-parallel Arrow-batched stage after an explicit salted
repartition by host (the per-NIC queue analogue, downloader.go:231;
salting breaks mega-domain skew per the north_rule).

Extracted text contract (input_hint: "byte-identical extracted text
per url"): ``extract_text_py`` is the engine's tokenize-stage text
function — the concatenation of DOM text nodes in document order
(goquery ``Selection.Text()`` semantics, the same traversal as
extract.analyze_slow_py). Over the fixture corpus this is verified
byte-for-byte against an independent derivation in the DuckDB oracle
(tag-strip — exact because fixture text contains no markup chars) and
against the single-threaded reference-semantics oracle in pytest.

Scale notes: the stage is one shuffle (repartition on salted host) +
one mapInPandas pass; metrics come back per physical partition
(north_rule lineage) without a second scan via observe()-style
aggregation on the same output.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.files import extract_filename_py
from .extract import _parse_dom

FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("filename", T.StringType()),
        T.StructField("body", T.BinaryType()),
        T.StructField("partition_id", T.IntegerType()),
    ]
)


def extract_text_py(html: bytes | str | None) -> str | None:
    """DOM text-node concatenation in document order (goquery
    doc.Text() — x/net/html walks text nodes depth-first; our
    _DomBuilder reproduces that traversal). None on parse failure."""
    if html is None:
        return None
    root = _parse_dom(html)
    if root is None:
        return None
    return root.text()


def salted_host_repartition(
    df: DataFrame, host_col: str = "host", salts: int = 16, partitions: int | None = None
) -> DataFrame:
    """Per-NIC queue analogue: co-locate rows by host for politeness
    accounting while splitting mega-hosts across ``salts`` partitions
    (explicit skew handling; AQE covers residual imbalance)."""
    salt = F.pmod(F.xxhash64("url"), F.lit(salts))
    key = F.concat_ws("#", F.col(host_col), salt.cast("string"))
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, key)


def fetch_and_extract(
    queue: DataFrame,
    corpus: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    salts: int = 16,
) -> DataFrame:
    """Tier-2 stage: fetch (corpus lookup join) + extract, partition-
    parallel, one row out per queued url.

    ``queue``  — (url, host, ...) download tasks (J2-deduped upstream).
    ``corpus`` — (url_norm, html) keyed by the normalized url; the
    caller supplies the same normalizer used to key the corpus.

    status: 200 on corpus hit, 404 on miss (downloader.go:200-202's
    non-200 error path); text NULL on miss. n_bytes = body size
    (downloader stats, downloader.go:322-329). S4 parity columns,
    the table-shaped twin of the reference's file sink
    (downloader.go:204-215: ExtractFilename -> SanitizeFilename ->
    io.Copy to disk): ``filename`` via the P8/P9 chain (deterministic
    ``download_<md5(url)[:8]>`` fallback in place of the reference's
    wall-clock nanos — documented deviation), ``body`` = the fetched
    bytes (NULL on miss).
    """
    fetched = salted_host_repartition(
        queue.join(corpus, queue[url_col] == corpus["url_norm"], "left").drop("url_norm"),
        host_col=host_col,
        salts=salts,
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            hit = pdf["html"].notna()
            yield pd.DataFrame(
                {
                    "url": pdf[url_col],
                    "status": hit.map({True: 200, False: 404}).astype("int32"),
                    "text": pdf["html"].map(
                        lambda h: extract_text_py(h) if h is not None else None
                    ),
                    "n_bytes": pdf["html"].map(
                        lambda h: len(h) if h is not None else 0
                    ).astype("int64"),
                    "filename": pdf[url_col].map(
                        lambda u: extract_filename_py(
                            u, None, hashlib.md5(u.encode()).hexdigest()[:8]
                        )
                        if u is not None
                        else None
                    ),
                    "body": pdf["html"].map(
                        lambda h: h.encode("utf-8") if h is not None else None
                    ),
                    "partition_id": pid,
                }
            )

    cols = [c for c in fetched.columns if c in (url_col, "html")]
    return fetched.select(*cols).mapInPandas(op, FETCH_SCHEMA)


def fetch_metrics(fetched: DataFrame) -> DataFrame:
    """Per-partition download stats (A3/A5, downloader.go:322-347):
    attempts / success / failed / bytes, keyed by physical partition."""
    return fetched.groupBy("partition_id").agg(
        F.count("*").alias("attempts"),
        F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("success"),
        F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("failed"),
        F.sum("n_bytes").alias("bytes"),
    )
