"""Per-host politeness scheduling (C1/O8 + O-1 priority ordering).

The reference throttles with a 30 ms per-domain delay over 20 workers
(crawler_twotier.go:64-69, config.go:13,15) and gives retried tasks a
2-level priority queue (downloader.go:33,123-145). In a batch frontier
engine both become *data*: each iteration schedules at most
``budget_per_host`` URLs per host, ordered by
``(priority DESC, depth ASC, url_norm ASC)`` — crawl-depth + host-rank
ordering per the north_rule; unscheduled rows stay in the frontier
backlog (no drops — unlike the reference's 50-attempt
PersistentEnqueue fallback, downloader.go:253-277).

``tag_schedule`` tags each row scheduled or deferred, so the batch and
the backlog are two filters of one frame (``schedule`` returns them).

Skew: mega-domains (~1/3 of all URLs on one host in the fixture) make
a naive ``row_number() OVER (PARTITION BY host)`` a single-task
hotspot at 10^10 scale. ``tag_schedule`` therefore runs a salted two-phase
top-K: phase 1 ranks within ``(host, salt)`` — parallel across salts —
and keeps at most ``budget`` rows per salted group; phase 2 re-ranks
the survivors (≤ budget × n_salts rows per host, tiny) to pick the
exact global top-``budget`` per host; phase-1 losers are tagged
deferred without a second rank. Result is identical to the naive
window, but the heavy sort never sees a whole mega-host in one
partition, and both branches read one phase-1 exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def _order_cols(df: DataFrame) -> list:
    """(priority DESC,) depth ASC, url_norm ASC — the priority term when
    ``df`` carries the column."""
    cols = [F.col("depth").asc(), F.col("url_norm").asc()]
    return [F.col("priority").desc(), *cols] if "priority" in df.columns else cols


def tag_schedule(
    frontier: DataFrame,
    budget_per_host: int | None,
    n_salts: int = DEFAULT_SALTS,
    host_ranks: DataFrame | None = None,
    global_budget: int | None = None,
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """``frontier`` plus a boolean ``scheduled``: True on the rows this
    iteration's budgets admit, False on the deferred rest; each input
    row once, in the input's column order. ``frontier`` needs host,
    url_norm, depth and optionally priority (boolean). No budget at all
    => every row is scheduled.

    ``host_budgets`` (host, budget), one small row per host, broadcast:
    overrides ``budget_per_host`` for its hosts (e.g. robots Crawl-delay
    via robots.delay_budgets); None = unbounded for the rest.

    ``global_budget`` caps the WHOLE iteration: the per-host batch is
    trimmed to its global top-N by ``(priority DESC, host_rank DESC,
    depth ASC, url_norm ASC)`` — the north_rule's crawl-depth + host-rank
    priority queue. ``host_ranks``: optional (host, host_rank double),
    one row per host, broadcast; unranked hosts rank 0. The top-N keys
    compile to ``TakeOrderedAndProject`` (never a global sort) and come
    back as one broadcast membership join. url_norm is unique within a
    frontier, so the cut is deterministic.
    """
    cols = frontier.columns
    if budget_per_host is None and host_budgets is None:
        tagged = frontier.withColumn("scheduled", F.lit(True))
    else:
        if host_budgets is not None:
            frontier = frontier.join(
                F.broadcast(host_budgets.select("host", F.col("budget").alias("_hb"))),
                "host",
                "left",
            ).withColumn(
                "_budget", F.coalesce("_hb", F.lit(budget_per_host).cast("int"))
            )
            keep = lambda rn: F.col("_budget").isNull() | (rn <= F.col("_budget"))  # noqa: E731
        else:
            # not rank <= budget: a rank compared with a literal lets the
            # optimizer push a WindowGroupLimit under the survivors' window
            # only, which gives that branch its own phase-1 exchange
            keep = lambda rn: rn - 1 < F.lit(int(budget_per_host))  # noqa: E731
        order = _order_cols(frontier)
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        phase1 = frontier.withColumn(
            "_salt", F.pmod(F.xxhash64("url_norm"), F.lit(n_salts))
        ).withColumn("_r1", F.row_number().over(w1))
        # phase-1 losers are deferred; survivors are tagged by their
        # per-host rank. Both branches read the one phase-1 exchange.
        w2 = Window.partitionBy("host").orderBy(*order)
        tagged = phase1.filter(keep(F.col("_r1"))).withColumn(
            "scheduled", keep(F.row_number().over(w2))
        ).unionByName(
            phase1.filter(~keep(F.col("_r1"))).withColumn("scheduled", F.lit(False))
        )
    if global_budget is not None:
        tagged = _global_trim(tagged, host_ranks, global_budget)
    return tagged.select(*cols, "scheduled")


def schedule(
    frontier: DataFrame,
    budget_per_host: int | None,
    n_salts: int = DEFAULT_SALTS,
    host_ranks: DataFrame | None = None,
    global_budget: int | None = None,
    host_budgets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(scheduled, deferred): the two filters of :func:`tag_schedule`'s
    frame, so they partition ``frontier`` and keep its column order."""
    tagged = tag_schedule(
        frontier, budget_per_host, n_salts, host_ranks, global_budget, host_budgets
    )
    scheduled = F.col("scheduled")
    return (
        tagged.filter(scheduled).drop("scheduled"),
        tagged.filter(~scheduled).drop("scheduled"),
    )


def _global_trim(
    tagged: DataFrame, host_ranks: DataFrame | None, global_budget: int
) -> DataFrame:
    """Keep ``scheduled`` on the global top-``global_budget`` of the
    scheduled rows by (priority DESC, host_rank DESC, depth, url_norm)."""
    batch = tagged.filter(F.col("scheduled"))
    order = _order_cols(batch)
    if host_ranks is not None:
        batch = batch.join(
            F.broadcast(host_ranks.select("host", "host_rank")), "host", "left"
        )
        order.insert(-2, F.coalesce("host_rank", F.lit(0.0)).desc())
    top = batch.orderBy(*order).limit(global_budget).select(
        "url_norm", F.lit(True).alias("_top")
    )
    return (
        tagged.drop("scheduled")
        .join(F.broadcast(top), "url_norm", "left")
        .withColumn("scheduled", F.col("_top").isNotNull())
    )


def priority_order(frontier: DataFrame) -> DataFrame:
    """O-1 global scheduling order (downloader.go:123-145 two-level
    priority, FIFO ≈ deterministic tiebreak): priority DESC, depth,
    url_norm. Sorted *within partitions* after repartitioning by host —
    a total sort is never needed for scheduling, so no global shuffle."""
    return frontier.repartition("host").sortWithinPartitions(*_order_cols(frontier))


def schedule_by_domain(
    frontier: DataFrame,
    budget_per_domain: int | None,
    **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """:func:`schedule` at the PAY-LEVEL-domain granularity
    (functions/urlnorm.registered_domain_col, PSL-lite): a subdomain
    fan-out — a.shop.x.co.uk … z.shop.x.co.uk — shares ONE budget
    instead of minting a fresh per-host budget per vanity subdomain,
    which is exactly the bypass wildcard-DNS traps and link farms use
    against per-host politeness (the reference's granularity,
    crawler_twotier.go's per-host maps). Same split contract and
    deterministic (depth ASC, url_norm ASC) cut; the original host
    column survives untouched on both outputs. The domain derivation
    is pure Catalyst riding the same scan — no extra shuffle beyond
    schedule's own."""
    from ..functions.urlnorm import registered_domain_col

    f2 = frontier.withColumnRenamed("host", "_orig_host").withColumn(
        "host", registered_domain_col(F.col("_orig_host"))
    )
    scheduled, deferred = schedule(f2, budget_per_domain, **kwargs)

    def _restore(df: DataFrame) -> DataFrame:
        return df.drop("host").withColumnRenamed("_orig_host", "host")

    return _restore(scheduled), _restore(deferred)


def dispatch_timeline(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    default_delay_ms: int = 1000,
) -> DataFrame:
    """Assign each scheduled URL a concrete dispatch time honoring its
    host's crawl-delay: slot k of host H fires at ``k * delay_ms(H)``
    (ms since window start). ``delay_budgets`` answers *how many* URLs
    a window admits; this answers *when* each one goes — the table a
    partition-parallel fetch stage replays without any runtime rate
    limiter (the batch engine's substitute for the reference's
    token-bucket waits).

    ``delays``: (host, crawl_delay double seconds) from
    ``robots.host_crawl_delays`` — broadcast (≤1 row/host); hosts
    without a row use ``default_delay_ms``. Slot order is the engine's
    deterministic cut rule — (priority DESC,) depth ASC, url_norm ASC,
    the priority term applying when the frontier carries the column.

    Scale shape: one window partitioned BY HOST — per-host sequential
    by definition (a timeline is a total order per host). Feed it the
    politeness-budgeted batch, never the raw frontier: the budget caps
    each host's rows per window, which is exactly what bounds the
    window task. Output: (url_norm, host, depth, slot, fetch_at_ms).
    """
    if delays is not None:
        dm = delays.select(
            "host",
            F.round(F.col("crawl_delay") * 1000).cast("bigint").alias("_dms"),
        )
        fr = frontier.join(F.broadcast(dm), "host", "left")
    else:
        fr = frontier.withColumn("_dms", F.lit(None).cast("bigint"))
    w = Window.partitionBy("host").orderBy(*_order_cols(frontier))
    slot = (F.row_number().over(w) - 1).cast("bigint")
    return fr.select(
        "url_norm",
        "host",
        "depth",
        slot.alias("slot"),
        (slot * F.coalesce(F.col("_dms"), F.lit(int(default_delay_ms))))
        .cast("bigint")
        .alias("fetch_at_ms"),
    )
