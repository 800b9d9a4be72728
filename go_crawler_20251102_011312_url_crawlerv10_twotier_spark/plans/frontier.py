"""The batch frontier-scheduler loop (SURVEY.md §3.2 — the engine core).

One iteration = one superstep of the crawl BFS; this replaces the
reference's entire goroutine topology (colly async queue + per-NIC
channels + worker pools, crawler_twotier.go / downloader.go) with a
declarative plan per iteration:

    frontier --politeness--> scheduled --join pages--> fetched
      --route (O1)--> fast|slow --extract (E1/E2)--> links + docs
      --normalize (P1)--> candidates --dedup + anti-join seen (J1)-->
      new frontier; docs --anti-join downloads (J2) + retry (C5)-->
      download state (one frame: closed rows + status-NULL retry queue)

Semantics vs the reference (SURVEY.md §5.2, §7):
* seen is keyed on the COMPAT-normalized URL (utils/utils.go:14-18)
  while fetch/routing use the RAW discovered URL — the reference's
  deliberate asymmetry (crawler_twotier.go:192-200).
* the reference's discovery order is racy (async goroutines); the
  engine's contract is per-depth set equality with min-depth
  semantics and a deterministic raw-URL tiebreak
  (min(child_depth, url) per url_norm) — "first writer wins" made
  deterministic.
* a page at depth d spawns children iff d < MAX_DEPTH (F1,
  crawler_twotier.go:194); children get depth d+1.
* the body cap truncates (colly MaxBodySize reads at most 5 MB —
  crawler_twotier.go:57); extraction sees the truncated bytes.
* seeds are recorded in seen at depth 0 (the reference tracks the
  seed only inside colly's internal dedup — documented deviation,
  strict superset).

Scale notes (100 TB / 10^10 frontier):
* the per-iteration fetch join keeps the frontier on the probe side;
  AQE broadcasts it while it fits, and flips to shuffled-hash with
  skew splitting otherwise. On a real cluster the pages table is
  bucketed by url_norm so the join prunes buckets instead of
  rescanning; in the sandbox the synthesized corpus is persisted once
  (the reference's response cache, O11) and rescanned per iteration.
* seen grows monotonically and never reaches the driver: candidate
  dedup is a shuffle on url_norm, the seen probe is a left-anti join
  (Spark's runtime Bloom-filter join pruning is enabled in
  session.py; explicit per-shard blooms live in operators/dedup.py).
* lineage is truncated every iteration (localCheckpoint) or committed
  durably through plans/checkpoint.SnapshotStore for resume: each
  commit writes new data dirs and atomically replaces one manifest
  that every read follows.
* each superstep's extract output is materialized once, as a narrow
  checkpoint (depth, path, links, doc urls, partition id); candidates,
  the download branch and the superstep totals all read it. With a
  snapshot store, its per-partition aggregates (north_rule lineage)
  are committed as superstep K's ``metrics`` (``read_metrics``).
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
from ..operators.politeness import schedule
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
    politeness_salts: int = 16
    # broadcast the per-iteration frontier into the fetch join. True is
    # right whenever one iteration's scheduled batch fits in memory
    # (politeness-budgeted crawls always do); set False at 10^10-URL
    # iteration sizes and let AQE pick SMJ against the bucketed corpus.
    broadcast_frontier: bool = True
    # override the O1 coordinator: 'fast' | 'slow' routes every page
    # through one tier (the reference exposes the same knob via its
    # configurable thresholds, coordinator.go:135-142). None = O1 rules.
    force_path: str | None = None
    # observability hook for the plans the LOOP actually builds: called
    # as plan_hook(iteration, stage, physical_plan_str) for each
    # superstep's schedule and fetch-join frames before they execute.
    # tests/test_plans.py drives the in-loop plan contracts through it
    # (no-BNLJ / no-SinglePartition / broadcast-frontier at iteration
    # k, where the scale-critical plans live — a static composition
    # check can't see what the k-th superstep's carriers look like).
    # None (default) costs nothing.
    plan_hook: "object | None" = None
    # StorageLevel NAME for the corpus cache (the corpus is always
    # cached across iterations — the reference's response cache, O11).
    # MEMORY_AND_DISK (default) is right while aggregate executor
    # memory is a useful fraction of the corpus; DISK_ONLY is the
    # honest level once the corpus dwarfs the heap — html bytes then
    # never sit deserialized in executor memory,
    # and the cache becomes exactly the reference's on-disk response
    # cache (crawler_twotier.go cacheDir, O11): built once, re-read per
    # superstep at sequential-scan cost. (The 1 M-page rehearsal's
    # cache-build OOM that first motivated this knob turned out to be
    # the serializer handle-table bug fixed session-wide — see
    # session.py objectStreamReset; both levels now build 1 M pages in
    # ~35-45 s on the 8 g heap. The knob stays: it is the right dial
    # whenever corpus >> storage pool, where MEMORY_AND_DISK would
    # evict-thrash through the serializer per superstep.)
    cache_storage_level: str = "MEMORY_AND_DISK"
    # rows per cached columnar batch during the corpus cache BUILD
    # (spark.sql.inMemoryColumnarStorage.batchSize; None = keep the
    # session default). Spark's 10000-row default assumes narrow rows:
    # at multi-KB html bodies one in-flight batch is rows x body_size
    # of transient heap PER BUILD TASK (10000 x 20 KB = ~200 MB; x32
    # concurrent tasks = ~6 GB of pure build churn on an 8 g heap).
    # 1024 keeps build transients ~20 MB/task at web-page row widths
    # without hurting scan amortization (measured on the 1 M-page
    # build: 34 s at 1024 vs 42 s default — smaller transients also
    # GC cheaper). Set alongside DISK_ONLY for huge-body corpora.
    cache_batch_rows: int | None = None
    # the pages table is already keyed (url_norm, html) — normalized,
    # body-capped, unique — e.g. a bucketed corpus table written by
    # sources.bucketed.write_bucketed_corpus. The crawl then joins on
    # the STORED url_norm column as-is: re-normalizing (a semantic
    # no-op — idempotence is property-pinned) would wrap the bucket
    # column in an expression and destroy the scan's hash
    # outputPartitioning, forcing the corpus exchange the bucketing
    # exists to eliminate. Without it the corpus is hash-repartitioned
    # and deduplicated on url_norm during prep.
    corpus_pre_keyed: bool = False
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
    # route the J1 seen probe through the sharded-Bloom prefilter
    # (north_rule O4): definitely-new candidates skip the anti-join
    # shuffle entirely; maybes (incl. false positives) fall through to
    # the exact anti-join, so the result is identical (tested). The
    # shard table is maintained INCREMENTALLY — built once over the
    # initial seen set, then each iteration's delta is OR-merged in —
    # so the per-iteration cost is one pass over the (small) delta
    # plus an ~n_shards-row broadcast, never a rebuild over the full
    # seen table. The win grows with the seen set: at 10^10 seen keys
    # the candidate-side shuffle the probe removes is the dominant J1
    # cost. Default False at fixture scale (probe overhead > savings
    # when seen fits in a broadcast anyway).
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


def _prepare_pages(
    pages: DataFrame,
    url_col: str,
    html_col: str,
    pre_keyed: bool = False,
) -> DataFrame:
    """Key the corpus by the compat-normalized URL and pre-truncate
    bodies to the 5 MB cap (a scan-side projection, done once).

    The dedup shuffle hash-partitions the corpus on url_norm, and the
    cached frame keeps that outputPartitioning — so every
    per-iteration fetch join reuses it and only exchanges the (small)
    frontier side; the heavy html bytes are shuffled exactly once per
    crawl, not once per iteration. A ``pre_keyed`` (bucketed, unique)
    corpus is never shuffled at all — its scan already carries the
    partitioning the join needs.
    """
    if pre_keyed:
        # bucketed/pre-keyed corpus: url_norm is the stored bucket
        # column — select it UNWRAPPED so the scan's hash partitioning
        # survives to the fetch join (see CrawlConfig.corpus_pre_keyed)
        return pages.select("url_norm", "html")
    proj = pages.select(
        _norm(F.col(url_col)).alias("url_norm"),
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
    ``metrics`` rows."""
    return [
        F.count(F.lit(1)).alias("pages"),
        F.sum(F.size(F.coalesce("links", F.array()))).alias("links"),
        F.sum(F.size(F.coalesce("docs", F.array()))).alias("docs"),
        F.sum(F.when(F.col("path") == "fast", 1).otherwise(0)).alias("fast_cnt"),
        F.sum(F.when(F.col("path") == "slow", 1).otherwise(0)).alias("slow_cnt"),
    ]


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
    against the prepared corpus on ``url_norm``.

    The frontier side is broadcast explicitly: a planner-chosen build
    side can flip onto the corpus (its ExistingRDD stats are unknown),
    which would rebuild a hashed relation of every page body each
    iteration. With the hint, the corpus cache is only ever streamed —
    the html bytes NEVER cross an exchange (tests/test_plans.py pins
    this). At 10^10 frontier sizes set ``broadcast_frontier=False``:
    the cached/bucketed corpus partitioning then makes it a
    frontier-side-only exchange SMJ.
    """
    sched_side = F.broadcast(scheduled) if broadcast_frontier else scheduled
    return sched_side.join(corpus, "url_norm", "inner")


def _seed_frontier(seeds: DataFrame) -> DataFrame:
    """seeds(url, depth) -> frontier rows with norm/host, deduped."""
    s = seeds.select(
        F.col("url"),
        _norm(F.col("url")).alias("url_norm"),
        _host(F.col("url")).alias("host"),
        F.col("depth").cast("int").alias("depth"),
        F.lit(False).alias("priority"),
        F.lit(0).alias("retry"),
    ).filter(host_present(F.col("host")))
    return (
        s.groupBy("url_norm")
        .agg(F.min(F.struct("depth", "url", "host", "priority", "retry")).alias("m"))
        .select("url_norm", "m.url", "m.host", "m.depth", "m.priority", "m.retry")
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

    corpus = _prepare_pages(pages, url_col, html_col, pre_keyed=cfg.corpus_pre_keyed)
    batch_conf = "spark.sql.inMemoryColumnarStorage.batchSize"
    saved_batch = (
        spark.conf.get(batch_conf, None)
        if cfg.cache_batch_rows is not None
        else None
    )
    if cfg.cache_batch_rows is not None:
        # batchSize is read when the InMemoryRelation is planned
        # (persist below), so set-before/restore-after scopes it to
        # this cache only
        spark.conf.set(batch_conf, str(cfg.cache_batch_rows))
    try:
        corpus = corpus.persist(getattr(StorageLevel, cfg.cache_storage_level))
        # materialize the cache NOW, in one deterministic job —
        # otherwise the first iteration's join (or worse, an AQE
        # broadcast-stage building a plan below the cache node)
        # re-runs the corpus prep per branch
        corpus.count()
    finally:
        if cfg.cache_batch_rows is not None:
            if saved_batch is None:
                spark.conf.unset(batch_conf)
            else:
                spark.conf.set(batch_conf, saved_batch)

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
    frontier = frontier.localCheckpoint(eager=True)
    if initial_seen is not None:
        seen = initial_seen.select(
            "url_norm", "url", "host", "depth", "iter"
        ).localCheckpoint(eager=True)
    else:
        seen = frontier.select(
            "url_norm", "url", "host", "depth", F.lit(0).alias("iter")
        ).localCheckpoint(eager=True)
    ncoal = max(4, spark.sparkContext.defaultParallelism)

    def cut_downloads(state: DataFrame, name: str) -> tuple[DataFrame, int]:
        """The download state's one cut; the queue length rides it."""
        obs = Observation(name)
        state = (
            state.select("url", "status", "retry", "iter")
            .observe(obs, F.count(F.when(download_log.queued(), 1)).alias("n"))
            .coalesce(ncoal)
            .localCheckpoint(eager=True)
        )
        return state, int(obs.get["n"])

    if initial_downloads is not None:
        dl, n_pending_dl = cut_downloads(initial_downloads, "dl0")
    else:
        dl, n_pending_dl = spark.createDataFrame([], download_log.LOG_SCHEMA), 0
    metrics: list[dict] = []

    bloom_shards = None
    # sized once from the initial seen count, then held fixed so the
    # incremental OR-merges stay structure-compatible
    bloom_ns = bloom_bits = 0
    if cfg.use_bloom:
        bloom_ns, bloom_bits = dedup_ops.resolve_bloom_sizing(seen.count())
        bloom_shards = dedup_ops.build_bloom_shards(
            seen, "url_norm", bloom_ns, bloom_bits
        ).localCheckpoint(eager=True)

    if store and start_iter == 0:
        closed = None
        if initial_downloads is not None:
            closed = dl.filter(~download_log.queued())
        store.write_iter(0, seen, frontier, closed)

    it = start_iter
    n_frontier = frontier.count()
    while it < cfg.max_iterations:
        t0 = time.time()
        if (
            cfg.budget_per_host is None
            and cfg.global_budget is None
            and host_budgets is None
        ):
            # no politeness budget: everything schedules, nothing defers —
            # skip the window entirely (and its count action)
            scheduled, deferred = frontier, None
            n_sched = n_frontier
        else:
            scheduled, deferred = schedule(
                frontier,
                cfg.budget_per_host,
                cfg.politeness_salts,
                host_ranks=host_ranks,
                global_budget=cfg.global_budget,
                host_budgets=host_budgets,
            )
            if cfg.plan_hook is not None:
                cfg.plan_hook(it, "schedule", _physical_str(scheduled))
            n_sched = scheduled.count()
        if n_sched == 0:
            break
        it += 1
        t_sched = time.time()

        # S2: the fetch is a lookup join against the corpus (misses are
        # counted as n_sched - fetched, never materialized).
        hits = fetch_join(scheduled, corpus, cfg.broadcast_frontier)
        if cfg.plan_hook is not None:
            cfg.plan_hook(it, "fetch_join", _physical_str(hits))

        # O1 route on the body's BYTE length (the reference's Decide
        # gets len(body) of a []byte) + E1/E2 extract in one pass
        path_col = (
            F.lit(cfg.force_path)
            if cfg.force_path
            else route_decision_col(F.col("url"), F.octet_length("html"))
        )
        routed = hits.withColumn("path", path_col)
        # extract_stage consumes html inside its mapInPandas hop and
        # never emits it — html bytes cross to python once and exist in
        # no downstream plan node or JVM-side UDF queue. Its output is
        # materialized once, narrowed to what the candidates, the
        # download branch and the stats read, so the fetch join and the
        # python extract run exactly once per superstep; the totals ride
        # the checkpoint action as an observation.
        obs = Observation(f"iter{it}")
        ext = (
            extract_stage(routed, url_col="url", html_col="html")
            .select(
                "depth",
                "path",
                "links",
                F.col("docs.url").alias("docs"),
                F.spark_partition_id().alias("partition_id"),
            )
            .observe(obs, *_stat_aggs())
            .localCheckpoint(eager=True)
        )
        tot = {k: int(v or 0) for k, v in obs.get.items()}

        # F1 (parent depth) -> explode -> P1 normalize -> F2 -> batch dedup
        cand = (
            ext.filter(F.col("depth") < cfg.max_depth)
            .select(
                F.explode("links").alias("href"),
                (F.col("depth") + 1).alias("cdepth"),
            )
            .withColumn("c_norm", _norm(F.col("href")))
            .withColumn("c_host", _host(F.col("href")))
        )
        if redirect_map is not None:
            cand = (
                cand.join(
                    F.broadcast(redirect_map),
                    cand.c_norm == redirect_map.src_norm,
                    "left",
                )
                .filter(F.col("src_norm").isNull() | F.col("r_ok"))
                .select(
                    F.coalesce("r_final", "href").alias("href"),
                    (F.coalesce("r_final_norm", "c_norm")).alias("c_norm"),
                    (F.coalesce("r_final_host", "c_host")).alias("c_host"),
                    "cdepth",
                )
            )
        cand = cand.filter(host_present(F.col("c_host")))
        deduped = (
            cand.groupBy("c_norm")
            .agg(F.min(F.struct("cdepth", "href", "c_host")).alias("m"))
            .select(
                F.col("c_norm").alias("url_norm"),
                F.col("m.href").alias("url"),
                F.col("m.c_host").alias("host"),
                F.col("m.cdepth").alias("depth"),
            )
        )
        # J1: the crawl-seen anti-join (crawler_twotier.go:195,224-245),
        # optionally behind the sharded-Bloom prefilter (O4): probe-False
        # rows skip the shuffle, probe-True rows get the exact join.
        bloom_bc = None
        if bloom_shards is not None:
            bloom_bc = dedup_ops.broadcast_bloom_shards(bloom_shards)
            def_new, maybe = dedup_ops.bloom_probe_broadcast(
                deduped, bloom_bc, "url_norm", bloom_ns, bloom_bits,
            )
            new = def_new.unionByName(
                maybe.join(seen.select("url_norm"), "url_norm", "left_anti")
            )
        else:
            new = deduped.join(seen.select("url_norm"), "url_norm", "left_anti")
        if robots_df is not None:
            from ..operators.robots import filter_allowed

            new = filter_allowed(new, robots_df)
        # the row count rides the checkpoint action as an observation —
        # a separate count() job per superstep is pure floor at scale
        new_obs = Observation(f"iter{it}_new")
        new = (
            new.withColumn("priority", F.lit(False))
            .withColumn("retry", F.lit(0))
            .observe(new_obs, F.count(F.lit(1)).alias("n"))
            .coalesce(ncoal)
            .localCheckpoint(eager=True)
        )
        n_new = int(new_obs.get["n"])
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
                    corpus.select(F.col("url_norm").alias("dl_norm")),
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
        if bloom_shards is not None:
            # incremental maintenance: OR the delta's shards into the
            # standing state (never a rebuild over the full seen set)
            bloom_shards = dedup_ops.merge_bloom_shards(
                bloom_shards,
                dedup_ops.build_bloom_shards(
                    seen_delta, "url_norm", bloom_ns, bloom_bits
                ),
            ).localCheckpoint(eager=True)
        if deferred is None:
            frontier = new
            n_frontier = n_new
        else:
            f_obs = Observation(f"iter{it}_frontier")
            frontier = (
                deferred.unionByName(new)
                .observe(f_obs, F.count(F.lit(1)).alias("n"))
                .coalesce(ncoal)
                .localCheckpoint(eager=True)
            )
            n_frontier = int(f_obs.get["n"])

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

        # superseded localCheckpoint blocks (old seen/frontier/dl/bloom
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

        if (
            n_new == 0
            and cfg.budget_per_host is None
            and cfg.global_budget is None
            and host_budgets is None
        ):
            break  # frontier exhausted (deferred is empty without budgets)

    # mark still-pending downloads (queue drain state, C6)
    downloads = download_log.finalize_download_log(dl, it)

    corpus.unpersist()
    return CrawlResult(seen=seen, downloads=downloads, metrics=metrics, iterations=it)


def resume(
    spark: SparkSession,
    pages: DataFrame,
    cfg: CrawlConfig,
    url_col: str = "url",
    html_col: str = "html",
    as_of: int | None = None,
    redirects: DataFrame | None = None,
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
    assert cfg.checkpoint_dir, "resume requires cfg.checkpoint_dir"
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
    )
