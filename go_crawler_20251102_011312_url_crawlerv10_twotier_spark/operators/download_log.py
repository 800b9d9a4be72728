"""Download-state machine — S6 download log, J2 raw-key dedup, J3/C5
retry accounting (SURVEY.md §2).

The reference's downloader keeps an in-memory ``map[string]*DownloadState``
keyed on the RAW document URL (downloader.go:280-286) guarded by a
mutex; a worker pops a URL, fetches it, and either records success or
bumps ``FailedCount`` and re-enqueues until the retry cap
(config/config.go:34). Here the same machine is a per-superstep
DataFrame transition driven by the frontier loop (plans/frontier.py),
with retries as DATA (a ``retry`` column) instead of re-enqueues.

The state is ONE frame in ``LOG_SCHEMA``, the reference's one
``IsDownloadedOrPending`` table: closed rows carry ``done``/``failed``
and the iteration that closed them, queued rows carry ``status`` NULL.

    input     = new_docs(it), corpus keys
    attempts  = queued ∪ (new_docs \\ state)            [J2, raw key]
    hit       = attempts ⋉ corpus on normalize(url)    [S2 lookup fetch]
    state'    = closed
              ∪ hit                        (status=done,   iter=it)
              ∪ missed, retry+1 > cap      (status=failed, iter=it) [J3/C5]
              ∪ missed, retry+1 ≤ cap      (status=NULL,   iter=it)

A caller cuts ``state'`` once per superstep; the store's ``downloads``
delta and ``pending`` queue are filters of that cut (``to_tables``).

Determinism: the reference's outcome depends on goroutine scheduling
only in WHEN a retry happens, never in the final (url → status) map;
the superstep transition reproduces exactly that final map, with
``iter`` as the deterministic replacement for wall-clock ordering.

Scale: every step is a key shuffle on ``url`` (or a broadcast when the
per-iteration doc batch is small, which politeness budgets guarantee);
no state ever reaches the driver. Closed rows are append-only and
snapshotted per iteration (plans/checkpoint.py) — the 10^10-scale
variant keeps them as an Iceberg table and MERGEs the delta.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urlnorm import normalize_url_compat_col

LOG_SCHEMA = "url string, status string, retry int, iter int"
PENDING_SCHEMA = "url string, retry int"


def queued() -> Column:
    """True on the state's retry-queue rows (``status`` NULL)."""
    return F.col("status").isNull()


def advance_download_state(
    new_docs: DataFrame,
    state: DataFrame,
    corpus_keys: DataFrame,
    it: int,
    max_retries: int,
    norm: "Column | None" = None,
) -> DataFrame:
    """One superstep of the download state; returns the lazy next state.

    Args:
        new_docs: raw doc URLs discovered this iteration — column ``url``
            (duplicates allowed; deduped here on the RAW key, J2).
        state: ``LOG_SCHEMA`` rows; ``status`` NULL marks the retry queue.
        corpus_keys: one column ``dl_norm`` — the normalized URL keys the
            fetch tier can serve (keys-only projection; never the bytes).
        it: current iteration number (recorded on every attempted row).
        max_retries: C5 cap — a URL missing on attempt ``retry`` with
            ``retry > max_retries`` closes as ``failed``.
        norm: optional normalization expression applied to ``url`` for
            the fetch probe (default: the P1 compat normalizer).
    """
    if norm is None:
        norm = normalize_url_compat_col(F.col("url"))

    fresh = (
        new_docs.select("url")
        .dropDuplicates(["url"])  # raw-URL key (downloader.go:280-286)
        .join(state.select("url"), "url", "left_anti")
        .withColumn("retry", F.lit(0))
    )
    attempts = state.filter(queued()).select("url", "retry").unionByName(fresh)

    # fetch-success test needs only key existence — probe a keys-only
    # projection of the corpus, never the html bytes
    probed = attempts.join(
        corpus_keys.select("dl_norm", F.lit(True).alias("dl_hit")),
        norm == F.col("dl_norm"),
        "left",
    )
    hit = F.col("dl_hit").isNotNull()
    retry = F.when(hit, F.col("retry")).otherwise(F.col("retry") + 1)
    attempted = probed.select(
        "url",
        F.when(hit, F.lit("done"))
        .when(retry > max_retries, F.lit("failed"))
        .alias("status"),
        retry.alias("retry"),
        F.lit(it).alias("iter"),
    )
    return state.filter(~queued()).unionByName(attempted)


def to_tables(state: DataFrame, it: int) -> tuple[DataFrame, DataFrame]:
    """The store's two tables of superstep ``it``: the rows it closed
    (``downloads`` delta, ``LOG_SCHEMA``) and the retry queue
    (``pending``, ``PENDING_SCHEMA``)."""
    delta = state.filter(~queued() & (F.col("iter") == it))
    return delta, state.filter(queued()).select("url", "retry")


def from_tables(
    log: DataFrame | None, pending: DataFrame | None, it: int
) -> DataFrame | None:
    """The state at ``it`` from the store's merged ``downloads`` and its
    ``pending`` queue (either may be absent)."""
    if pending is not None:
        pending = pending.select(
            "url", F.lit(None).cast("string").alias("status"), "retry",
            F.lit(it).alias("iter"),
        )
        return pending if log is None else log.unionByName(pending)
    return log


def finalize_download_log(state: DataFrame, it: int) -> DataFrame:
    """Drain-time view (C6): still-queued rows are marked ``pending`` at
    the final iteration."""
    return state.select(
        "url",
        F.coalesce("status", F.lit("pending")).alias("status"),
        "retry",
        F.when(queued(), F.lit(it)).otherwise(F.col("iter")).alias("iter"),
    )
