"""The batch frontier-scheduler loop (SURVEY.md §3.2 — the engine core).

One iteration = one superstep of the crawl BFS; this replaces the
reference's entire goroutine topology (colly async queue + per-NIC
channels + worker pools, crawler_twotier.go / downloader.go) with a
declarative plan per iteration:

    pages --route (O1)--> fast|slow --extract (E1/E2)--> link index
                                            (once per crawl() call)
    frontier --politeness tag--> scheduled | deferred
    scheduled --join link index--> links + docs
      --normalize (P1)--> candidates --dedup + anti-join seen (J1)-->
      new; next frontier = deferred ∪ new
    docs --anti-join downloads (J2) + retry (C5)--> download state
      (one frame: closed rows + status-NULL retry queue)

Semantics vs the reference (SURVEY.md §5.2, §7):
* seen is keyed on the COMPAT-normalized URL (utils/utils.go:14-18)
  while fetch/routing use the RAW discovered URL — the reference's
  deliberate asymmetry (crawler_twotier.go:192-200).
* the reference's discovery order is racy (async goroutines); the
  engine's contract is per-depth set equality with min-depth
  semantics and a deterministic raw-URL tiebreak
  (min(depth, url, host) per url_norm, for seeds and candidates
  alike) — "first writer wins" made deterministic. A frontier row is
  (url_norm, url, host, depth).
* a page at depth d spawns children iff d < MAX_DEPTH (F1,
  crawler_twotier.go:194); children get depth d+1.
* the body cap truncates (colly MaxBodySize reads at most 5 MB —
  crawler_twotier.go:57); extraction sees the truncated bytes.
* seeds are recorded in seen at depth 0 (the reference tracks the
  seed only inside colly's internal dedup — documented deviation,
  strict superset).

Scale notes (100 TB / 10^10 frontier):
* each page is extracted once per crawl()/resume() call, before the
  loop: routed on its own URL (its ``base``) and run through the
  python extract over the cached corpus, into a narrow link index
  (url_norm, base, size, path, links, doc urls, base_free); the corpus
  and the index are both cached MEMORY_AND_DISK. A superstep pays the
  python hand-off (~0.3 s a job on a 4-vCPU box, whatever the row
  count) only when the index cannot serve a row.
* the extract depends on the raw URL that reached the page: it is the
  resolution base, and O1 routes on it. An index row therefore serves
  a frontier row iff the URL is the page's own, or the extract is
  ``base_free`` (no kept href read more of the base than its scheme,
  and equal url_norm means an equal lowercased scheme) and the URL
  routes the page the same way. The index cut counts the other rows;
  only when there are some does the superstep fetch them from the
  corpus and extract them live (relative links reached by a
  different spelling of the page's URL).
* the per-iteration fetch join follows the scheduled batch's MEASURED
  bytes (url_norm + url, observed on the first frontier, schedule and
  new cuts): while they fit ``spark.sql.autoBroadcastJoinThreshold``
  the batch is the explicitly broadcast build side (BuildLeft) and the
  cached index and corpus are only streamed; past it (or at -1) the
  planner picks the join, a sort-merge join that exchanges the
  frontier side only. The live join follows the same decision. The
  corpus is persisted once (the reference's
  response cache, O11); a pre-keyed corpus (no raw URL column, e.g. a
  table bucketed by url_norm) keeps its scan partitioning.
  Inside the loop only the live join reads the corpus; the fetch join
  and the download probe read the index.
* seen grows monotonically and never reaches the driver: candidate
  dedup is a shuffle on url_norm, the seen probe is a left-anti join.
  Its strategy follows seen's MEASURED key bytes (observed on each
  cut, no job of their own), never Catalyst's estimate, which
  compounds across checkpoints (1e11 B for 52 rows): while they fit
  ``spark.sql.autoBroadcastJoinThreshold`` the probe broadcasts seen's
  keys and shuffles nothing. Past it, ``use_bloom`` puts the per-shard
  Bloom prefilter (operators/dedup.py) in front of the exact join,
  built from the current seen set in the collect that broadcasts it;
  no Bloom state crosses supersteps. Otherwise the planner picks the
  join (Spark's runtime Bloom-filter join pruning is on in
  session.py).
* a budgeted superstep cuts its frontier once, tagged by
  politeness.tag_schedule (the windows run only there); the scheduled
  batch and the deferred rows are filters of the cut, which carries
  the batch's count and bytes. The next frontier, deferred ∪ new, is
  never cut; its figures follow by arithmetic.
* lineage is truncated every iteration (localCheckpoint) or committed
  durably through plans/checkpoint.SnapshotStore for resume: each
  commit writes new data dirs and atomically replaces one manifest
  that every read follows.
* each superstep's index join is materialized once, as a narrow
  checkpoint (depth, path, links, doc urls, partition id; plus the
  live rows' own checkpoint); candidates, the download branch and the
  superstep totals all read it. With a snapshot store, its
  per-partition aggregates (north_rule lineage) are committed as
  superstep K's ``metrics`` (``read_metrics``).
* the download state is one frame, cut once per superstep that runs
  its transition (docs found or retries queued); the store's
  ``downloads`` delta and ``pending`` queue are filters of that cut
  and are committed only on those supersteps.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.predicates import MAX_DEPTH, MAX_RETRIES, body_cap, host_present
from ..functions.routing import route_decision_col
from ..functions.urlnorm import host_of_col, normalize_url_compat_col
from ..operators import dedup as dedup_ops
from ..operators import download_log
from ..operators.extract import extract_stage
from ..operators.politeness import tag_schedule
from .checkpoint import SnapshotStore

# P1 normalization and host extraction in the loop are pure Catalyst
# expressions (whole-stage codegen, zero Python): for absolute http(s)
# URLs — which is all a resolver can emit — they are byte-equivalent to
# the urllib-based pandas UDFs (asserted in tests/test_urlnorm.py on
# every URL shape both corpora produce). The pandas UDFs remain the
# API for arbitrary external URL tables.
_norm = normalize_url_compat_col
_host = host_of_col

@dataclass
class CrawlConfig:
    max_depth: int = MAX_DEPTH  # config/config.go:7
    max_iterations: int = 100
    budget_per_host: int | None = None  # politeness (None = unbounded)
    # global per-iteration cap on top of the per-host budget: trims the
    # scheduled batch to the top-N by (priority DESC, host_rank DESC,
    # depth, url_norm) — pass a (host, host_rank) table to crawl()'s
    # host_ranks to activate rank-aware ordering (north_rule priority
    # queue: crawl-depth + host-rank)
    global_budget: int | None = None
    max_retries: int = MAX_RETRIES  # config/config.go:34
    checkpoint_dir: str | None = None
    # override the O1 coordinator: 'fast' | 'slow' routes every page
    # through one tier (the reference exposes the same knob via its
    # configurable thresholds, coordinator.go:135-142). None = O1 rules.
    force_path: str | None = None
    # observability hook for the plans the LOOP actually builds: called
    # as plan_hook(iteration, stage, physical_plan_str) for each
    # superstep's schedule, fetch-join (the link-index join), fetch-live
    # (the corpus join of rows the index cannot serve, when there are
    # any) and seen-probe frames before they execute.
    # tests/test_plans.py drives the in-loop plan contracts through it
    # (no-BNLJ / no-SinglePartition / broadcast-frontier at iteration
    # k, where the scale-critical plans live — a static composition
    # check can't see what the k-th superstep's carriers look like).
    # None (default) costs nothing.
    plan_hook: "object | None" = None
    # enforce robots.txt rules found in the corpus (operators/robots).
    # Default False: the REFERENCE ignores robots (IgnoreRobotsTxt,
    # crawler_twotier.go:56), so equivalence runs must too; the
    # north_rule requires the capability, so production runs set True.
    respect_robots: bool = False
    # merge every URL the corpus' sitemap documents enumerate into the
    # seed frontier at depth 0 (operators/sitemaps.sitemap_seeds, one
    # index level resolved). Off by default: the reference discovers by
    # link-walking only, and BFS-depth equivalence runs must too.
    discover_sitemaps: bool = False
    # robots Crawl-delay → per-host budgets (only with respect_robots):
    # one frontier iteration models a window of this many seconds, so a
    # host with Crawl-delay d gets max(1, floor(window/d)) slots per
    # iteration (operators/robots.delay_budgets). None = ignore delays.
    crawl_delay_window_s: float | None = None
    # allow the sharded-Bloom prefilter (north_rule O4) in front of
    # the J1 seen probe once seen no longer fits a broadcast: a
    # superstep whose seen key bytes fit
    # spark.sql.autoBroadcastJoinThreshold broadcasts them into the
    # exact anti-join instead, with or without this flag (the filter
    # would cost more than the probe it saves). Past the limit (or at
    # -1), definitely-new candidates skip the anti-join shuffle
    # entirely; maybes (incl. false positives) fall through to the
    # exact anti-join, so the result is identical (tested). Each such
    # superstep builds the shard table from the current seen set,
    # sized from its row count, inside the collect that broadcasts it,
    # and destroys the broadcast once the probe's output is cut: the
    # loop carries no filter state. At 10^10 seen keys the
    # candidate-side shuffle the probe removes is the dominant J1 cost.
    use_bloom: bool = False
    # retain only the last K committed snapshots (None = retain all):
    # after each commit the loop runs the store's expire_snapshots —
    # the Iceberg table-maintenance analogue, a manifest edit that
    # drops the full-frontier + retry-queue references below the
    # horizon and deletes their dirs — so the checkpoint footprint
    # stays O(K + deltas) instead of growing per superstep. Time travel
    # below the moving horizon becomes unavailable (exactly Iceberg's
    # expire contract); delta compaction (rewrite_data_files) stays an
    # explicit offline op, like Iceberg's procedures.
    snapshot_keep: int | None = None


@dataclass
class CrawlResult:
    seen: DataFrame  # url_norm, url, host, depth, iter
    downloads: DataFrame  # url, status, retry, iter
    metrics: list[dict] = field(default_factory=list)
    iterations: int = 0


def _prepare_pages(pages: DataFrame, url_col: str, html_col: str) -> DataFrame:
    """Key the corpus by the compat-normalized URL and pre-truncate
    bodies to the 5 MB cap (a scan-side projection, done once). Each
    page keeps its own URL as ``base``, the URL its link-index row is
    extracted with (``url_norm`` for a pre-keyed corpus, which has no
    raw URL).

    The dedup shuffle hash-partitions the corpus on url_norm, and the
    cached frame keeps that outputPartitioning — so every
    per-iteration fetch join reuses it and only exchanges the (small)
    frontier side; the heavy html bytes are shuffled exactly once per
    crawl, not once per iteration.

    A pages table without ``url_col`` is pre-keyed: ``(url_norm,
    html)``, normalized, body-capped and unique, as
    sources.bucketed.write_bucketed_corpus writes it. It is never
    shuffled: the stored url_norm is selected unwrapped (re-normalizing,
    a semantic no-op, would wrap the bucket column in an expression and
    drop the scan's hash partitioning, which the fetch join reuses).
    """
    if url_col not in pages.columns:
        return pages.select("url_norm", F.col("url_norm").alias("base"), "html")
    proj = pages.select(
        _norm(F.col(url_col)).alias("url_norm"),
        F.col(url_col).alias("base"),
        body_cap(html_col).alias("html"),
    )
    # Partition count sized by DATA, not cores (the thing that carries
    # to 100 TB): ~64 MB target per partition from Catalyst's stats
    # estimate (free — no job), floored at the core count so big
    # corpora use every slot, capped at 4x cores so a mis-estimate
    # can't produce a task blizzard (measured: 128 partitions for a
    # 25 MB fixture corpus cost ~20% wall vs 32 — per-task +
    # python-worker overhead, no compute to amortize it).
    #
    # 64 MB, not the 128 MB cluster norm: every concurrent task
    # materializes its partition as JVM strings (2x UTF-16) on ONE
    # shared local-mode heap — at 32 slots on the tuned 8 g heap the
    # per-slot materialization budget is ~128 MB, and Catalyst
    # UNDER-estimates generated columns (measured 6.1 GB est vs
    # ~12 GB real on the padded 1M-page corpus — the 2x absorbed by
    # the halved target; a 46x128MB-partition run of it OOMed, the
    # 95x64MB one completes). On a real cluster each executor brings
    # its own heap; files.maxPartitionBytes plays this role at the
    # scan and bucketing at the join.
    par = pages.sparkSession.sparkContext.defaultParallelism
    try:
        est_bytes = int(
            proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable (e.g. local relation edge) — cores rule
        est_bytes = 0
    n = min(max(par, est_bytes // (64 << 20) + 1), 4 * par)
    return proj.repartition(n, "url_norm").dropDuplicates(["url_norm"])


def _stat_aggs() -> list:
    """The five per-superstep extract figures over the narrow extract
    frame: totals through ``observe`` and, per partition, the store's
    ``metrics`` rows. A page counts once it has a ``path``: the index
    cut leaves path, links and docs NULL on the rows it cannot serve,
    and the live extract counts those."""
    return [
        F.count("path").alias("pages"),
        F.sum(F.size(F.coalesce("links", F.array()))).alias("links"),
        F.sum(F.size(F.coalesce("docs", F.array()))).alias("docs"),
        F.sum(F.when(F.col("path") == "fast", 1).otherwise(0)).alias("fast_cnt"),
        F.sum(F.when(F.col("path") == "slow", 1).otherwise(0)).alias("slow_cnt"),
    ]


def _cut(
    df: DataFrame, name: str, n_parts: int | None, *aggs
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once as a local checkpoint, coalesced to
    ``n_parts`` when given. The aliased ``aggs`` ride that action as an
    observation, so the figures of a cut cost no job of their own."""
    obs = Observation(name)
    df = df.observe(obs, *aggs)
    if n_parts:
        df = df.coalesce(n_parts)
    df = df.localCheckpoint(eager=True)
    return df, {k: int(v or 0) for k, v in obs.get.items()}


def _physical_str(df: DataFrame) -> str:
    """The physical plan Spark would run for ``df``, as text (the
    pre-AQE planned form — join strategies, exchanges and build sides
    are all decided here; AQE may only coalesce/convert further)."""
    return (
        df._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]
    )


def fetch_join(
    scheduled: DataFrame, corpus: DataFrame, broadcast_frontier: bool = True
) -> DataFrame:
    """The S2 fetch as an inner lookup join of the scheduled frontier
    against the prepared corpus (or the crawl's link index built from
    it) on ``url_norm``.

    With ``broadcast_frontier`` the frontier side is broadcast
    explicitly: a planner-chosen build side can flip onto the corpus
    (its ExistingRDD stats are unknown), which would rebuild a hashed
    relation of every page body each iteration. With the hint, the
    corpus cache is only ever streamed — the html bytes NEVER cross an
    exchange (tests/test_plans.py pins this). Without it the planner
    picks the join: against the cached (or bucketed) corpus
    partitioning that is a frontier-side-only exchange sort-merge join.
    The crawl loop broadcasts iff the scheduled batch's measured bytes
    fit ``spark.sql.autoBroadcastJoinThreshold``.
    """
    sched_side = F.broadcast(scheduled) if broadcast_frontier else scheduled
    return sched_side.join(corpus, "url_norm", "inner")


def _first_writer(rows: DataFrame) -> DataFrame:
    """One frontier row ``(url_norm, url, host, depth)`` per url_norm of
    ``rows``: the min ``(depth, url, host)``, the engine's deterministic
    first writer."""
    return (
        rows.groupBy("url_norm")
        .agg(F.min(F.struct("depth", "url", "host")).alias("m"))
        .select("url_norm", "m.url", "m.host", "m.depth")
    )


def _seed_frontier(seeds: DataFrame) -> DataFrame:
    """seeds(url, depth) -> frontier rows with norm/host, deduped."""
    return _first_writer(
        seeds.select(
            F.col("url"),
            _norm(F.col("url")).alias("url_norm"),
            _host(F.col("url")).alias("host"),
            F.col("depth").cast("int").alias("depth"),
        ).filter(host_present(F.col("host")))
    )


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    cfg: CrawlConfig | None = None,
    url_col: str = "url",
    html_col: str = "html",
    initial_seen: DataFrame | None = None,
    start_iter: int = 0,
    host_ranks: DataFrame | None = None,
    initial_downloads: DataFrame | None = None,
    redirects: DataFrame | None = None,
) -> CrawlResult:
    cfg = cfg or CrawlConfig()
    store = SnapshotStore(cfg.checkpoint_dir) if cfg.checkpoint_dir else None

    def path_of(url, size):
        """O1: route on the body's BYTE length (the reference's Decide
        gets len(body) of a []byte), or force_path."""
        return F.lit(cfg.force_path) if cfg.force_path else route_decision_col(url, size)

    corpus = _prepare_pages(pages, url_col, html_col)
    index = None
    # the caches are released however the crawl ends
    try:
        corpus = corpus.persist(StorageLevel.MEMORY_AND_DISK)
        # E1/E2 once per crawl: every page is extracted with its own URL
        # as the base into a narrow link index (no html). extract_stage
        # consumes html inside its mapInPandas hop and never emits it,
        # so html bytes cross to python once per crawl, not once per
        # superstep.
        index = extract_stage(
            corpus.select(
                "url_norm", "base", F.octet_length("html").alias("size"), "html"
            ).withColumn("path", path_of(F.col("base"), F.col("size"))),
            url_col="base",
            html_col="html",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # materialize both caches NOW, in one deterministic job —
        # otherwise the first iteration's join (or worse, an AQE
        # broadcast-stage building a plan below the cache node) re-runs
        # the corpus prep per branch
        index.count()

        robots_df = None
        host_budgets = None
        if cfg.respect_robots:
            from ..operators.robots import (
                delay_budgets,
                filter_allowed,
                host_crawl_delays,
                robots_rules,
            )

            robots_df = robots_rules(corpus).localCheckpoint(eager=True)
            if cfg.crawl_delay_window_s is not None:
                # robots Crawl-delay → per-host politeness budget for each
                # scheduling window (operators/robots.delay_budgets); hosts
                # without a delay keep cfg.budget_per_host
                host_budgets = delay_budgets(
                    host_crawl_delays(corpus), cfg.crawl_delay_window_s
                ).localCheckpoint(eager=True)

        # S2 redirect transparency (colly/net/http follow 3xx silently; the
        # engine's corpus-lookup fetch must too): pre-resolve the ENTIRE
        # redirect map ONCE via pointer doubling — O(log max_hops) shuffles
        # of the (small) redirect table, off the per-superstep path — then
        # each superstep rewrites candidate links through the resolved map
        # with one broadcast join. Loops / >10-hop chains ("stuck", the
        # class net/http aborts) drop the candidate, like OnError does.
        # Seeds are taken as given (they name entry points, not responses).
        redirect_map = None
        if redirects is not None:
            from ..operators.redirects import resolve_redirects

            # cut the input's lineage first: the resolver's doubling tree
            # references the edge table O(2^rounds) times, and each leaf
            # would otherwise replay the caller's full upstream plan
            redirects = redirects.select("src", "dst").localCheckpoint(eager=True)
            _r = resolve_redirects(
                redirects.select(F.col("src").alias("url")), redirects, "url"
            )
            redirect_map = (
                _r.select(
                    _norm(F.col("url")).alias("src_norm"),
                    (F.col("status") == "ok").alias("r_ok"),
                    F.col("final_url").alias("r_final"),
                )
                .withColumn("r_final_norm", _norm(F.col("r_final")))
                .withColumn("r_final_host", _host(F.col("r_final")))
                # defensive determinism if two raw sources normalize alike
                .groupBy("src_norm")
                .agg(
                    F.min(
                        F.struct("r_ok", "r_final", "r_final_norm", "r_final_host")
                    ).alias("m")
                )
                .select(
                    "src_norm",
                    F.col("m.r_ok").alias("r_ok"),
                    F.col("m.r_final").alias("r_final"),
                    F.col("m.r_final_norm").alias("r_final_norm"),
                    F.col("m.r_final_host").alias("r_final_host"),
                )
                .localCheckpoint(eager=True)
            )

        if cfg.discover_sitemaps:
            from ..operators.sitemaps import sitemap_seeds as _sm_seeds

            seeds = seeds.select("url", "depth").unionByName(
                _sm_seeds(corpus).select(
                    F.col("loc").alias("url"), F.lit(0).alias("depth")
                )
            )
        frontier = _seed_frontier(seeds)
        if robots_df is not None:
            frontier = filter_allowed(frontier, robots_df)
        n_rows = F.count(F.lit(1)).alias("n")
        key_bytes = F.sum(F.octet_length("url_norm")).alias("bytes")
        # a frontier row's url_norm + url bytes size the scheduled batch
        # that the fetch joins may broadcast; they ride the first
        # frontier and new cuts (the schedule cut sums its batch's)
        url_bytes = F.sum(F.octet_length("url")).alias("url_bytes")
        frontier, got = _cut(frontier, "frontier0", None, n_rows, key_bytes, url_bytes)
        n_frontier, frontier_bytes = got["n"], got["bytes"] + got["url_bytes"]
        # seen's row count and key bytes ride its first cut; each superstep
        # adds those of its new rows (new is anti-joined against seen, so
        # the union adds no duplicate)
        seen, got = _cut(
            (
                initial_seen
                if initial_seen is not None
                else frontier.withColumn("iter", F.lit(0))
            ).select("url_norm", "url", "host", "depth", "iter"),
            "seen0", None, n_rows, key_bytes,
        )
        n_seen, seen_bytes = got["n"], got["bytes"]
        # the session's broadcast limit in bytes (-1 = never broadcast)
        bc_limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        ncoal = max(4, spark.sparkContext.defaultParallelism)

        def cut_downloads(state: DataFrame, name: str) -> tuple[DataFrame, int]:
            """The download state's one cut; the queue length rides it."""
            state, got = _cut(
                state.select("url", "status", "retry", "iter"), name, ncoal,
                F.count(F.when(download_log.queued(), 1)).alias("n"),
            )
            return state, got["n"]

        if initial_downloads is not None:
            dl, n_pending_dl = cut_downloads(initial_downloads, "dl0")
        else:
            dl, n_pending_dl = spark.createDataFrame([], download_log.LOG_SCHEMA), 0
        metrics: list[dict] = []

        if store and initial_seen is None:
            # a fresh crawl commits its seeds as superstep 0; a resume
            # re-enters from a committed snapshot and writes nothing before
            # its first superstep
            store.write_iter(0, seen, frontier)

        budgeted = (
            cfg.budget_per_host is not None
            or cfg.global_budget is not None
            or host_budgets is not None
        )
        it = start_iter
        # frontier = deferred ∪ new, so an empty frontier is exhaustion with
        # or without a budget
        while it < cfg.max_iterations and n_frontier > 0:
            t0 = time.time()
            if not budgeted:
                # everything schedules, nothing defers: no window, no cut
                tagged = frontier.withColumn("scheduled", F.lit(True))
                n_sched, sched_bytes = n_frontier, frontier_bytes
            else:
                tagged = tag_schedule(
                    frontier,
                    cfg.budget_per_host,
                    host_ranks=host_ranks,
                    global_budget=cfg.global_budget,
                    host_budgets=host_budgets,
                )
                if cfg.plan_hook is not None:
                    cfg.plan_hook(it, "schedule", _physical_str(tagged))
                # cut the tagged frontier once: the salted windows run only
                # here, the scheduled batch and the deferred rows are
                # filters of the cut, and the batch's figures ride it
                batch_bytes = F.octet_length("url_norm") + F.octet_length("url")
                tagged, got = _cut(
                    tagged, f"iter{it + 1}_sched", ncoal,
                    F.count(F.when(F.col("scheduled"), 1)).alias("n"),
                    F.sum(F.when(F.col("scheduled"), batch_bytes)).alias("bytes"),
                )
                n_sched, sched_bytes = got["n"], got["bytes"]
                if n_sched == 0:
                    break  # a zero budget schedules nothing
            scheduled = tagged.filter(F.col("scheduled")).drop("scheduled")
            # the seen probe's rule, applied to the scheduled batch: it is
            # broadcast into the fetch join and the live join iff its
            # measured bytes fit the limit
            bc_sched = sched_bytes <= bc_limit
            it += 1
            t_sched = time.time()

            # S2 + E1/E2: the fetch is a lookup join against the link
            # index (misses are counted as n_sched - fetched, never
            # materialized). No python runs here: an index row serves a
            # frontier row reached by the page's own URL, or by any URL
            # when its extract read no more of the base than the scheme
            # (base_free; equal url_norm means an equal lowercased
            # scheme) and that URL routes the page the same way.
            hits = fetch_join(scheduled, index, bc_sched)
            if cfg.plan_hook is not None:
                cfg.plan_hook(it, "fetch_join", _physical_str(hits))
            served = (F.col("url") == F.col("base")) | (
                F.col("base_free") & (path_of(F.col("url"), F.col("size")) == F.col("path"))
            )
            # one narrow cut, read by the candidates, the download branch
            # and the store's metrics rows; a row the index does not serve
            # keeps NULL path/links/docs, and the totals and the count of
            # those rows ride the checkpoint action as an observation
            idx, tot = _cut(
                hits.select(
                    "url_norm",
                    "url",
                    "depth",
                    *(F.when(served, F.col(c)).alias(c) for c in ("path", "links", "docs")),
                    F.spark_partition_id().alias("partition_id"),
                ),
                f"iter{it}", None, *_stat_aggs(),
                F.count(F.when(F.col("path").isNull(), 1)).alias("live"),
            )
            ext_cols = ["depth", "path", "links", "docs"]
            ext = idx.filter(F.col("path").isNotNull()).select(*ext_cols, "partition_id")
            if tot["live"]:
                # extract those rows live, with the URL that reached them
                # as the base. Gated on the count: even an empty python
                # branch in the plan costs a python stage per superstep.
                live = fetch_join(
                    idx.filter(F.col("path").isNull()).select("url_norm", "url", "depth"),
                    corpus,
                    bc_sched,
                )
                if cfg.plan_hook is not None:
                    cfg.plan_hook(it, "fetch_live", _physical_str(live))
                live, live_tot = _cut(
                    extract_stage(
                        live.withColumn("path", path_of(F.col("url"), F.octet_length("html"))),
                        url_col="url",
                        html_col="html",
                    ).select(*ext_cols, F.spark_partition_id().alias("partition_id")),
                    f"iter{it}_live", None, *_stat_aggs(),
                )
                ext = ext.unionByName(live)
                tot.update({k: tot[k] + v for k, v in live_tot.items()})

            # F1 (parent depth) -> explode -> P1 normalize -> F2 -> batch dedup
            cand = (
                ext.filter(F.col("depth") < cfg.max_depth)
                .select(
                    F.explode("links").alias("url"),
                    (F.col("depth") + 1).alias("depth"),
                )
                .withColumn("url_norm", _norm(F.col("url")))
                .withColumn("host", _host(F.col("url")))
            )
            if redirect_map is not None:
                cand = (
                    cand.join(
                        F.broadcast(redirect_map),
                        cand.url_norm == redirect_map.src_norm,
                        "left",
                    )
                    .filter(F.col("src_norm").isNull() | F.col("r_ok"))
                    .select(
                        F.coalesce("r_final", "url").alias("url"),
                        F.coalesce("r_final_norm", "url_norm").alias("url_norm"),
                        F.coalesce("r_final_host", "host").alias("host"),
                        "depth",
                    )
                )
            deduped = _first_writer(cand.filter(host_present(F.col("host"))))
            # J1: the crawl-seen anti-join (crawler_twotier.go:195,224-245).
            # While seen's measured key bytes fit the broadcast limit, seen's
            # keys are broadcast into the exact join: the planner alone
            # would sort-merge it, as its estimate of seen compounds across
            # checkpoints. Past the limit, use_bloom puts the sharded-Bloom
            # prefilter (O4) in front: probe-False rows skip the shuffle,
            # probe-True rows get the exact join. Build and probe must share
            # one resolved sizing pair, or the probe can miss a seen key
            # (dedup.resolve_bloom_sizing).
            seen_keys = seen.select("url_norm")
            bloom_bc = None
            if seen_bytes <= bc_limit:
                new = deduped.join(F.broadcast(seen_keys), "url_norm", "left_anti")
            elif cfg.use_bloom:
                bloom_ns, bloom_bits = dedup_ops.resolve_bloom_sizing(n_seen)
                bloom_bc = dedup_ops.broadcast_bloom_shards(
                    dedup_ops.build_bloom_shards(seen, "url_norm", bloom_ns, bloom_bits)
                )
                def_new, maybe = dedup_ops.bloom_probe_broadcast(
                    deduped, bloom_bc, "url_norm", bloom_ns, bloom_bits,
                )
                new = def_new.unionByName(maybe.join(seen_keys, "url_norm", "left_anti"))
            else:
                new = deduped.join(seen_keys, "url_norm", "left_anti")
            if robots_df is not None:
                from ..operators.robots import filter_allowed

                new = filter_allowed(new, robots_df)
            if cfg.plan_hook is not None:
                cfg.plan_hook(it, "seen_probe", _physical_str(new))
            # the row count and bytes ride the checkpoint action as an
            # observation — a separate count() job per superstep is pure
            # floor at scale
            new, got = _cut(new, f"iter{it}_new", ncoal, n_rows, key_bytes, url_bytes)
            n_new, new_bytes = got["n"], got["bytes"] + got["url_bytes"]
            seen_bytes += got["bytes"]
            if bloom_bc is not None:
                # new is checkpointed, so no later job reads the probe: free
                # the shard copy on the driver, the executors and the
                # python workers now instead of at some future GC
                bloom_bc.destroy()
            t_extract = time.time()

            # J2 + C5: download-state machine, retries as data.
            # Skipped entirely when this iteration produced no docs and no
            # retries are pending — the common case on link-only strata;
            # the store then carries the unchanged queue forward.
            dl_delta = dl_queue = None
            if tot["docs"] > 0 or n_pending_dl > 0:
                dl, n_pending_dl = cut_downloads(
                    download_log.advance_download_state(
                        ext.select(F.explode("docs").alias("url")),
                        dl,
                        index.select(F.col("url_norm").alias("dl_norm")),
                        it,
                        cfg.max_retries,
                    ),
                    f"iter{it}_dl",
                )
                dl_delta, dl_queue = download_log.to_tables(dl, it)

            seen_delta = new.select("url_norm", "url", "host", "depth", F.lit(it).alias("iter"))
            # cut every superstep: an every-4th-cadence variant was measured
            # SLOWER (10.4-11.3 s vs 9.7-10.3 s at sf0.1) — the uncut union
            # plan re-executes per consumer and costs more than the cut
            seen = seen.unionByName(seen_delta).coalesce(ncoal).localCheckpoint(eager=True)
            n_seen += n_new
            # the next frontier, the deferred rows ∪ new, reads existing cuts
            # and is never cut itself; its figures follow by arithmetic.
            # With nothing deferred it is new alone, so an unbudgeted
            # frontier's plan does not chain across supersteps.
            n_frontier += n_new - n_sched
            frontier_bytes += new_bytes - sched_bytes
            frontier = new
            if n_frontier > n_new:
                frontier = tagged.filter(~F.col("scheduled")).drop("scheduled").unionByName(new)

            metrics.append(
                {
                    "iter": it,
                    "scheduled": n_sched,
                    "fetched": tot["pages"],
                    "fetch_miss": n_sched - tot["pages"],
                    "fast_cnt": tot["fast_cnt"],
                    "slow_cnt": tot["slow_cnt"],
                    "links": tot["links"],
                    "docs": tot["docs"],
                    "new_urls": n_new,
                    "live_extract": tot["live"],
                    "wall_s": round(time.time() - t0, 3),
                    "t_sched": round(t_sched - t0, 3),
                    "t_extract": round(t_extract - t_sched, 3),
                    # the totals ride the extract checkpoint: no stats phase
                    "t_stats": 0.0,
                    "t_state": round(time.time() - t_extract, 3),
                }
            )
            if store:
                met_df = ext.groupBy("partition_id").agg(*_stat_aggs()).select(
                    F.lit(it).alias("iter"), "partition_id", "pages", "links",
                    "docs", "fast_cnt", "slow_cnt",
                )
                store.write_iter(
                    it, seen_delta, frontier, dl_delta, met_df,
                    downloads_pending=dl_queue,
                )
                if cfg.snapshot_keep is not None:
                    store.expire_snapshots(cfg.snapshot_keep)

            # superseded localCheckpoint blocks (old seen/frontier/dl
            # states) are only reaped by ContextCleaner after a JVM GC
            # decides the RDD objects are dead — which a low-pressure loop
            # may never trigger (measured: 89 cached RDDs after 32
            # budget=1 iterations, 19 after one forced GC). Nudge every 8
            # supersteps: a ParallelGC full collection on the tuned 8g
            # heap is ~100 ms against a ~2 s superstep floor, and bounds
            # cached state to the last few iterations at any loop length.
            if it % 8 == 0:
                import gc as _gc

                _gc.collect()
                spark.sparkContext._jvm.System.gc()

        # mark still-pending downloads (queue drain state, C6)
        downloads = download_log.finalize_download_log(dl, it)
        return CrawlResult(seen=seen, downloads=downloads, metrics=metrics, iterations=it)
    finally:
        if index is not None:
            index.unpersist()
        corpus.unpersist()


def resume(
    spark: SparkSession,
    pages: DataFrame,
    cfg: CrawlConfig,
    url_col: str = "url",
    html_col: str = "html",
    as_of: int | None = None,
    redirects: DataFrame | None = None,
    host_ranks: DataFrame | None = None,
) -> CrawlResult:
    """Resume a checkpointed crawl from its latest committed snapshot,
    or — Iceberg-style time travel — from ANY earlier retained
    iteration via ``as_of``. Every committed snapshot is immutable and
    self-consistent: its data dirs are written under new names before
    the manifest that lists them replaces the old one, and reads follow
    only that manifest. A continuation from iter K replays iterations
    K+1.. deterministically and lands on the same final state as the
    uninterrupted run (tested both ways in tests/test_frontier.py); its
    first commit drops the manifest entries above K and deletes the
    abandoned timeline's dirs."""
    if not cfg.checkpoint_dir:
        raise ValueError("resume requires cfg.checkpoint_dir")
    store = SnapshotStore(cfg.checkpoint_dir)
    last = store.latest_iter()
    if last is None:
        raise FileNotFoundError(f"no snapshot in {cfg.checkpoint_dir}")
    if as_of is not None:
        if not 0 <= as_of <= last:
            raise ValueError(f"as_of={as_of} outside committed range 0..{last}")
        h = store.horizon()
        if as_of < h:
            raise ValueError(
                f"as_of={as_of} expired: snapshots below horizon {h} "
                "were removed by expire_snapshots()"
            )
        last = as_of

    seen0 = store.read_seen(spark, last)
    frontier0 = store.read_frontier(spark, last)
    dl0 = download_log.from_tables(
        store.merged_downloads(spark, last), store.read_pending(spark, last), last
    )

    # re-enter the loop with the snapshot's FULL state injected — seen
    # set, frontier and the download state (merged closed rows AND the
    # retry queue): the continuation anti-joins against everything
    # already visited/closed and keeps retrying what was in flight, so
    # the final state (including downloads) is identical to an
    # uninterrupted run (tested in tests/test_frontier.py::
    # test_resume_identical).
    return crawl(
        spark,
        pages,
        frontier0.select("url", "depth"),
        cfg,
        url_col=url_col,
        html_col=html_col,
        initial_seen=seen0,
        start_iter=last,
        initial_downloads=dl0,
        redirects=redirects,
        host_ranks=host_ranks,
    )
