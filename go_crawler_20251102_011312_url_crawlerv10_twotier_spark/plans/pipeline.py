"""End-to-end training-data pipeline: the composed system, driven.

Every correctness gate checks a STAGE; this module runs the whole
story as ONE driven job — crawl → tier-2 extract → normalize →
quality filter → exact dedup → near-dup clustering → corpus refine →
sequence pack → training shards — the path a web corpus actually takes from seed
list to tokenizer input (the reference covers the first two stages,
crawler_twotier.go + downloader.go; the rest is the LLM-pipeline
surface built on top).

Design, driven by the two failure modes only a composed run can show:

* **Stage-checkpointed**: each stage materializes its output as
  parquet under ``work_dir`` with an atomically-renamed commit marker
  (JSON: wall, rows, peak heap). The next stage reads the PARQUET, not
  the previous stage's live lineage — so per-stage plans stay bounded
  (no 8-stage mega-lineage for Catalyst to chew), cache pressure
  between the crawl's corpus persist and the refine shuffles is
  bounded by construction (the corpus cache is unpersisted when its
  stage ends), and a killed pipeline resumes from the last committed
  stage with byte-identical results (every stage is deterministic:
  hash-keyed dedup/sampling, no wall clocks, no RNG).

* **Instrumented**: per stage — wall seconds, rows in/out, and the
  JVM heap PEAK during the stage (MemoryPoolMXBeans reset/read, which
  in local mode is the one JVM that matters). BENCH.md §9 publishes
  the table, measured at the padded 1 M-page scale.

Resume contract (pinned by tests/test_pipeline.py): running with
``stop_after=k`` and re-running to completion yields the exact same
shard manifest as one uninterrupted run — the mid-pipeline-death
drill for a 100 TB run where stage walls are hours, not seconds.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import (
    lang_id,
    normalize_text,
    quality_filter,
)
from ..functions.urlnorm import normalize_url_compat_col
from ..operators import curation, dedup, fetch, sampling
from ..operators.traps import soft404_flags
from ..sources import shards
from .frontier import CrawlConfig, crawl

_MARKER = "_PIPELINE_COMMIT.json"


@dataclass
class StageStats:
    name: str
    wall_s: float
    rows_in: int
    rows_out: int
    peak_heap_mb: int
    resumed: bool = False
    extra: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        d = {
            "name": self.name,
            "wall_s": round(self.wall_s, 3),
            "rows_in": self.rows_in,
            "rows_out": self.rows_out,
            "peak_heap_mb": self.peak_heap_mb,
            "resumed": self.resumed,
        }
        d.update(self.extra)
        return d


@dataclass
class PipelineResult:
    stages: list[StageStats]
    manifest: DataFrame
    shards_dir: str

    def stats(self) -> list[dict]:
        return [s.as_dict() for s in self.stages]


class _HeapWatch:
    """Per-stage JVM heap peak via MemoryPoolMXBeans: reset the heap
    pools' peak counters at stage start, read the max at stage end.
    In local mode the driver JVM is every executor, so this IS the
    job's heap peak; on a cluster the same numbers come from the
    executor metrics endpoint instead."""

    def __init__(self, spark: SparkSession):
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        pools = mgmt.getMemoryPoolMXBeans()
        self._pools = [
            pools.get(i)
            for i in range(pools.size())
            # MemoryType.HEAP stringifies as "Heap memory" on this JVM
            if pools.get(i).getType().toString().startswith("Heap")
        ]

    def reset(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def peak_mb(self) -> int:
        return int(
            sum(p.getPeakUsage().getUsed() for p in self._pools) // (1 << 20)
        )


class _StageRunner:
    def __init__(self, spark: SparkSession, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.heap = _HeapWatch(spark)
        self.stages: list[StageStats] = []
        self._idx = 0
        os.makedirs(work_dir, exist_ok=True)

    def _paths(self, name: str) -> tuple[str, str]:
        d = os.path.join(self.work_dir, f"{self._idx:02d}_{name}")
        return d, os.path.join(d, _MARKER)

    def run(self, name: str, rows_in: int, compute, extra_fn=None):
        """Run stage ``compute() -> DataFrame`` (or resume it): write
        the output as parquet + commit marker, return (df, rows_out).
        ``extra_fn(df)`` may add small JSON-able audit facts (e.g.
        crawl metrics, pack stats) to the marker."""
        self._idx += 1
        out_dir, marker = self._paths(name)
        if os.path.exists(marker):
            with open(marker) as fh:
                saved = json.load(fh)
            st = StageStats(
                name=name,
                wall_s=saved["wall_s"],
                rows_in=saved["rows_in"],
                rows_out=saved["rows_out"],
                peak_heap_mb=saved["peak_heap_mb"],
                resumed=True,
                extra=saved.get("extra", {}),
            )
            self.stages.append(st)
            return self.spark.read.parquet(out_dir), st.rows_out
        self.heap.reset()
        t0 = time.time()
        df = compute()
        df.write.mode("overwrite").parquet(out_dir)
        # re-read: the stage's consumers (and the row count we certify)
        # come from what landed on disk, mirroring shards.py's manifest
        # discipline. Schema passed explicitly: a stage whose filter
        # kept zero rows writes no part files, and an inference-based
        # read would crash the pipeline instead of flowing the empty
        # (but well-typed) frame onward.
        out = self.spark.read.schema(df.schema).parquet(out_dir)
        rows_out = out.count()
        wall = time.time() - t0
        extra = extra_fn(out) if extra_fn is not None else {}
        st = StageStats(
            name=name,
            wall_s=wall,
            rows_in=rows_in,
            rows_out=rows_out,
            peak_heap_mb=self.heap.peak_mb(),
            extra=extra,
        )
        self.stages.append(st)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "wall_s": round(wall, 3),
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "peak_heap_mb": st.peak_heap_mb,
                    "extra": extra,
                },
                fh,
            )
        os.replace(tmp, marker)  # atomic commit: marker exists => stage done
        return out, rows_out


def run_training_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    work_dir: str,
    crawl_cfg: CrawlConfig | None = None,
    seq_len: int = 256,
    shard_docs: int = 64,
    max_records_per_file: int = 1_000_000,
    stop_after: int | None = None,
    url_col: str = "url",
    html_col: str = "html",
    para_dedup: bool = False,
    mix_alpha: float | None = None,
    drop_soft404: bool = False,
    line_scrub: bool = False,
) -> PipelineResult:
    """Drive the nine-stage pipeline over a pages corpus. See module
    docstring for the stage list and checkpoint/resume semantics.

    ``para_dedup=True`` inserts an optional tenth stage between tier-2
    extract and normalize: corpus-global paragraph dedup
    (curation.paragraph_dedup) over the extracted line-structured text
    — it must run BEFORE normalize, whose whitespace collapse erases
    the line boundaries the paragraphs split on. Off by default so the
    nine-stage manifests (and the resume fixtures) stay byte-stable.

    ``mix_alpha`` switches the refine stage's sampler from the POLICY
    rate table (sampling.training_mix_sample) to the corpus-derived
    temperature mix (sampling.lang_temperature_sample at that alpha):
    the output language shares become proportional to n_lang**alpha —
    the XLM/mT5 rebalance — with no rate table to maintain. None (the
    default) keeps the policy sampler and byte-stable manifests.

    ``drop_soft404=True`` inserts a filter stage right after tier-2
    extract (before any text rewriting): pages whose CONTENT is an
    error page behind a 200 status (traps.soft404_flags) leave the
    funnel entirely — the earliest point the signal exists, and every
    later stage gets a smaller corpus. ``line_scrub=True`` inserts
    within-doc duplicate-line removal (curation.line_dedup_scrub)
    after the optional paragraph dedup and before normalize, whose
    whitespace collapse would erase the line boundaries. Both default
    off so the nine-stage manifests stay byte-stable.

    ``stop_after=k`` commits the first k stages then raises
    ``PipelineStopped`` — the controlled mid-pipeline-death used by
    the resume test; a re-run with the same ``work_dir`` resumes after
    stage k and must produce the identical shard manifest.

    Returns a PipelineResult whose ``manifest`` is the re-read shard
    manifest and ``stages`` the per-stage instrumentation.
    """
    r = _StageRunner(spark, work_dir)
    n_pages = pages.count()

    def _gate():
        if stop_after is not None and r._idx >= stop_after:
            raise PipelineStopped(r._idx, r.stages)

    # -- 1. crawl: frontier BFS; output = the seen table ------------
    crawl_extra: dict = {}

    # default crawl config for THIS path is the corpus-dwarfs-memory
    # shape (the pipeline exists for the 1 M-page / 100 TB story):
    # DISK_ONLY response cache + small columnar build batches — html
    # bytes never sit deserialized in the heap, so the crawl stage's
    # footprint is independent of corpus size (the reference's on-disk
    # response cache, crawler_twotier.go cacheDir). See
    # CrawlConfig.cache_storage_level / cache_batch_rows for the
    # measured numbers. Callers that pass crawl_cfg keep full control.
    if crawl_cfg is None:
        crawl_cfg = CrawlConfig(
            cache_storage_level="DISK_ONLY", cache_batch_rows=1024
        )

    def do_crawl() -> DataFrame:
        res = crawl(spark, pages, seeds, crawl_cfg)
        sched = sum(m["scheduled"] for m in res.metrics)
        fetched = sum(m["fetched"] for m in res.metrics)
        crawl_extra.update(
            iterations=res.iterations,
            urls_scheduled=sched,
            urls_fetched=fetched,
        )
        return res.seen

    seen, n_seen = r.run(
        "crawl", n_pages, do_crawl, extra_fn=lambda _df: crawl_extra
    )
    _gate()

    # -- 2. tier-2 fetch + extract: page text per seen url ----------
    def do_tier2() -> DataFrame:
        keyed = pages.select(
            normalize_url_compat_col(F.col(url_col)).alias("url_norm"),
            F.col(html_col).alias("html"),
        )
        # the queue's url IS the normalized key (seen is norm-keyed;
        # the corpus side is keyed with the same normalizer above)
        queue = seen.select(F.col("url_norm").alias("url"), "host")
        out = fetch.fetch_and_extract(queue, keyed)
        # body_xxh: digest of the fetched bytes (fetch's `body` IS the
        # utf-8 html). Stored so a later INCREMENTAL run can classify
        # each url as changed/unchanged against this run without
        # re-extracting (run_incremental_pipeline's diff joins on it).
        return out.filter(F.col("status") == 200).select(
            F.xxhash64("url").alias("doc_id"),
            F.col("url"),
            F.col("text"),
            F.col("n_bytes"),
            F.xxhash64("body").alias("body_xxh"),
        )

    docs, n_docs = r.run("tier2_extract", n_seen, do_tier2)
    _gate()

    # -- 2a (optional). soft-404 content filter ------------------------
    if drop_soft404:

        def do_soft404() -> DataFrame:
            flags = soft404_flags(docs, id_col="doc_id", text_col="text")
            bad = flags.filter(F.col("soft404")).select(
                F.col("id").alias("doc_id")
            )
            return docs.join(bad, "doc_id", "left_anti")

        docs, n_docs = r.run("soft404_filter", n_docs, do_soft404)
        _gate()

    # -- 2b (optional). corpus-global paragraph dedup ------------------
    if para_dedup:

        def do_para() -> DataFrame:
            pd_ = curation.paragraph_dedup(
                docs, sep="\n", keep=("url", "n_bytes", "body_xxh")
            )
            return pd_.select(
                "doc_id",
                "url",
                F.col("clean_text").alias("text"),
                "n_bytes",
                "body_xxh",
            )

        docs, n_docs = r.run("paragraph_dedup", n_docs, do_para)
        _gate()

    # -- 2c (optional). within-doc duplicate-line scrub ----------------
    if line_scrub:

        def do_scrub() -> DataFrame:
            sc = curation.line_dedup_scrub(
                docs, keep=("url", "n_bytes", "body_xxh")
            )
            return sc.select(
                "doc_id",
                "url",
                F.col("clean_text").alias("text"),
                "n_bytes",
                "body_xxh",
            )

        docs, n_docs = r.run("line_scrub", n_docs, do_scrub)
        _gate()

    # -- 3. normalize: rendering-independent text ---------------------
    def do_norm() -> DataFrame:
        host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
        return normalize_text(
            docs.withColumn("host", host), keep=("url", "host")
        ).select("doc_id", "url", "host", F.col("norm_text").alias("text"))

    norm, n_norm = r.run("normalize", n_docs, do_norm)
    _gate()

    # -- 4. quality filter -------------------------------------------
    def do_quality() -> DataFrame:
        keep = quality_filter(norm).filter("keep").select("doc_id")
        return norm.join(keep, "doc_id")

    clean, n_clean = r.run("quality_filter", n_norm, do_quality)
    _gate()

    return _funnel_tail(
        r,
        _gate,
        clean,
        n_clean,
        work_dir,
        seq_len=seq_len,
        shard_docs=shard_docs,
        max_records_per_file=max_records_per_file,
        mix_alpha=mix_alpha,
    )


def _funnel_tail(
    r: _StageRunner,
    _gate,
    clean: DataFrame,
    n_clean: int,
    work_dir: str,
    seq_len: int,
    shard_docs: int,
    max_records_per_file: int,
    mix_alpha: float | None = None,
) -> PipelineResult:
    """Stages 5-9 of the funnel — exact dedup → near-dup clustering →
    refine → pack → shards — shared verbatim by the full and the
    incremental pipelines: these stages are GLOBAL by nature (dedup
    keys and pack windows span the whole corpus, old and new alike),
    so an incremental run re-executes them over the merged corpus.
    They run AFTER the quality funnel's ~5x collapse, so re-running
    them is the cheap part of the pipeline at any scale."""

    # -- 5. exact dedup: collapse byte-identical texts FIRST ----------
    # production ordering: the cheap hash-groupBy removes the mass
    # duplication (mirrors, replicas, boilerplate-only pages) before
    # the near-dup machinery, so LSH buckets hold near-dups, not
    # 10^4-copy exact clusters whose pair emission is quadratic
    def do_exact() -> DataFrame:
        keep = dedup.exact_dedup(clean, "doc_id", "text").select(
            F.col("keep_id").alias("doc_id")
        )
        return clean.join(keep, "doc_id")

    uniq, n_uniq = r.run("exact_dedup", n_clean, do_exact)
    _gate()

    # -- 6. near-dup clustering: keep canonical docs ------------------
    def do_dedup() -> DataFrame:
        sig = dedup.minhash_signatures(uniq, "doc_id", "text", k=8)
        pairs = dedup.lsh_dup_pairs(
            sig, k=8, rows_per_band=4, max_bucket_size="auto"
        )
        canon = (
            dedup.dup_clusters(uniq, pairs)
            .filter("is_canonical")
            .select("doc_id")
        )
        return uniq.join(canon, "doc_id")

    canonical, n_canon = r.run("dedup_clusters", n_uniq, do_dedup)
    _gate()

    # -- 7. refine: language strata + mix sample + token counts -------
    def do_refine() -> DataFrame:
        with_lang = canonical.withColumn("lang", lang_id(F.col("text")))
        if mix_alpha is None:
            mix = (
                sampling.training_mix_sample(with_lang)
                .filter("keep")
                .select("doc_id", "stratum", "weight")
            )
        else:
            mix = (
                sampling.lang_temperature_sample(with_lang, alpha=mix_alpha)
                .filter("keep")
                .select(
                    "doc_id", F.col("lang").alias("stratum"), "weight"
                )
            )
        from ..functions.textstats import token_count_ws

        return (
            with_lang.join(mix, "doc_id")
            .select(
                "doc_id",
                "stratum",
                token_count_ws("text").cast("long").alias("n_tokens"),
                "weight",
            )
        )

    refined, n_refined = r.run("corpus_refine", n_canon, do_refine)
    _gate()

    # -- 8. sequence pack (audited) ------------------------------------
    def do_pack() -> DataFrame:
        return curation.sequence_pack(
            refined,
            seq_len=seq_len,
            shard_docs=shard_docs,
            tokens_col="n_tokens",
        )

    def pack_extra(packed_df: DataFrame) -> dict:
        stats = curation.pack_stats(packed_df, seq_len=seq_len)
        agg = stats.agg(
            F.sum("n_seqs").alias("s"),
            F.sum("pad_tokens").alias("p"),
            F.sum("n_tokens").alias("t"),
        ).collect()[0]
        return {
            "n_sequences": int(agg.s or 0),
            "pad_tokens": int(agg.p or 0),
            "n_tokens": int(agg.t or 0),
        }

    packed, n_packed = r.run(
        "sequence_pack", n_refined, do_pack, extra_fn=pack_extra
    )
    _gate()

    # -- 9. shard sink: stratum-partitioned parquet + manifest --------
    shards_dir = os.path.join(work_dir, "shards")

    def do_shards() -> DataFrame:
        return shards.write_training_shards(
            refined, shards_dir, max_records_per_file=max_records_per_file
        )

    manifest, _ = r.run("training_shards", n_refined, do_shards)
    return PipelineResult(stages=r.stages, manifest=manifest, shards_dir=shards_dir)


# stage-dir names an incremental run reads from the PRIOR work_dir
_PRIOR_TIER2 = "02_tier2_extract"
_PRIOR_CLEAN = "04_quality_filter"


def run_incremental_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    prior_dir: str,
    work_dir: str,
    crawl_cfg: CrawlConfig | None = None,
    seq_len: int = 256,
    shard_docs: int = 64,
    max_records_per_file: int = 1_000_000,
    stop_after: int | None = None,
    url_col: str = "url",
    html_col: str = "html",
    mix_alpha: float | None = None,
) -> PipelineResult:
    """Incremental RECRAWL pipeline: reprocess only what changed.

    ``prior_dir`` is a completed :func:`run_training_pipeline` (or
    incremental) work_dir over the previous corpus version;
    ``pages`` is the recrawled corpus. The crawl stage re-runs in
    full (the frontier is a global property of the new link graph),
    but every PER-DOCUMENT stage — tier-2 html→text extraction, NFC
    normalization, quality filtering — runs only over urls whose
    fetched bytes differ from the prior run's stored ``body_xxh``
    (operators.ranks.recrawl_diff semantics, inlined here against the
    stage parquet). Unchanged urls reuse the prior run's extracted /
    normalized / quality-filtered rows verbatim; urls that vanished
    from the corpus drop out of the merge. The global tail (exact
    dedup → clusters → refine → pack → shards) re-runs over the
    merged corpus via the shared :func:`_funnel_tail` — dedup and
    packing are corpus-wide by nature, and they sit after the ~5x
    quality collapse.

    Contract (pinned by tests/test_pipeline.py): the final shard
    manifest is IDENTICAL to a full run over the new corpus — the
    incremental path changes cost, never results. At 100 TB with a
    few-percent recrawl delta this turns the two dominant per-byte
    stages into delta-sized work; the diff itself is one narrow
    full-outer join on the url key (digests only, no text moves).

    Stage list (``NN_name`` dirs under ``work_dir``): crawl,
    tier2_diff, normalize_delta, quality_delta, merge_clean, then the
    shared tail. ``tier2_diff``'s marker records the class counts
    (n_new / n_changed / n_unchanged / n_removed) — the reuse audit.
    """
    r = _StageRunner(spark, work_dir)
    n_pages = pages.count()

    def _gate():
        if stop_after is not None and r._idx >= stop_after:
            raise PipelineStopped(r._idx, r.stages)

    if crawl_cfg is None:
        crawl_cfg = CrawlConfig(
            cache_storage_level="DISK_ONLY", cache_batch_rows=1024
        )

    # -- 1. crawl: full — frontier/link graph is global ---------------
    crawl_extra: dict = {}

    def do_crawl() -> DataFrame:
        res = crawl(spark, pages, seeds, crawl_cfg)
        crawl_extra.update(
            iterations=res.iterations,
            urls_scheduled=sum(m["scheduled"] for m in res.metrics),
            urls_fetched=sum(m["fetched"] for m in res.metrics),
        )
        return res.seen

    seen, n_seen = r.run(
        "crawl", n_pages, do_crawl, extra_fn=lambda _df: crawl_extra
    )
    _gate()

    # -- 2. tier-2 diff: extract ONLY new/changed bytes ----------------
    prior_docs = spark.read.parquet(os.path.join(prior_dir, _PRIOR_TIER2))

    def do_tier2_diff() -> DataFrame:
        keyed = pages.select(
            normalize_url_compat_col(F.col(url_col)).alias("url_norm"),
            F.col(html_col).alias("html"),
            # same bytes fetch hashes: body == encode(html, utf-8)
            F.xxhash64(F.encode(F.col(html_col), "UTF-8")).alias(
                "body_xxh"
            ),
        )
        queue = seen.select(F.col("url_norm").alias("url"), "host")
        # classify against the prior run: narrow columns only (url,
        # digest) cross the join; html stays put until we know a row
        # needs extraction
        cur = queue.join(
            keyed, queue["url"] == keyed["url_norm"], "left"
        ).drop("url_norm")
        cls = cur.join(
            prior_docs.select(
                F.col("url").alias("p_url"),
                F.col("body_xxh").alias("p_xxh"),
                F.col("text").alias("p_text"),
                F.col("n_bytes").alias("p_n_bytes"),
            ),
            cur["url"] == F.col("p_url"),
            "left",
        )
        unchanged = cls.filter(
            F.col("p_xxh").isNotNull() & (F.col("p_xxh") == F.col("body_xxh"))
        ).select(
            F.xxhash64("url").alias("doc_id"),
            "url",
            F.col("p_text").alias("text"),
            F.col("p_n_bytes").alias("n_bytes"),
            F.col("p_xxh").alias("body_xxh"),
        )
        delta_q = cls.filter(
            F.col("p_xxh").isNull() | (F.col("p_xxh") != F.col("body_xxh"))
        ).select("url", "host")
        fetched = fetch.fetch_and_extract(delta_q, keyed)
        delta = fetched.filter(F.col("status") == 200).select(
            F.xxhash64("url").alias("doc_id"),
            "url",
            "text",
            "n_bytes",
            F.xxhash64("body").alias("body_xxh"),
        )
        return unchanged.withColumn(
            "is_reused", F.lit(True)
        ).unionByName(delta.withColumn("is_reused", F.lit(False)))

    def tier2_extra(out: DataFrame) -> dict:
        agg = out.agg(
            F.sum(F.when(F.col("is_reused"), 1).otherwise(0)).alias("u"),
            F.count("*").alias("n"),
        ).collect()[0]
        n_unchanged = int(agg.u or 0)
        n_delta = int(agg.n) - n_unchanged
        # changed = delta urls the prior run had (same url, new bytes);
        # the rest of the delta is genuinely new. removed = prior docs
        # in NEITHER class (gone from the corpus or unreachable now).
        n_changed = (
            out.filter(~F.col("is_reused"))
            .join(prior_docs.select("url"), "url")
            .count()
        )
        n_prior = prior_docs.count()
        return {
            "n_unchanged": n_unchanged,
            "n_new_or_changed": n_delta,
            "n_changed": n_changed,
            "n_new": n_delta - n_changed,
            "n_removed": n_prior - n_unchanged - n_changed,
            "reuse_fraction": round(n_unchanged / max(int(agg.n), 1), 6),
        }

    docs_r, n_docs = r.run(
        "tier2_diff", n_seen, do_tier2_diff, extra_fn=tier2_extra
    )
    _gate()

    # -- 3. normalize: delta only --------------------------------------
    delta_docs = docs_r.filter(~F.col("is_reused")).drop("is_reused")
    # from the stage marker, not diff_extra: correct on resume too
    n_delta = int(r.stages[-1].extra.get("n_new_or_changed", 0))

    def do_norm_delta() -> DataFrame:
        host = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
        return normalize_text(
            delta_docs.withColumn("host", host), keep=("url", "host")
        ).select("doc_id", "url", "host", F.col("norm_text").alias("text"))

    norm_d, n_norm_d = r.run("normalize_delta", n_delta, do_norm_delta)
    _gate()

    # -- 4. quality filter: delta only ----------------------------------
    def do_quality_delta() -> DataFrame:
        keep = quality_filter(norm_d).filter("keep").select("doc_id")
        return norm_d.join(keep, "doc_id")

    clean_d, n_clean_d = r.run("quality_delta", n_norm_d, do_quality_delta)
    _gate()

    # -- 5. merge: prior clean rows for unchanged urls + delta kept -----
    prior_clean = spark.read.parquet(os.path.join(prior_dir, _PRIOR_CLEAN))

    def do_merge() -> DataFrame:
        unchanged_urls = docs_r.filter(F.col("is_reused")).select("url")
        reused = prior_clean.join(unchanged_urls, "url").select(
            "doc_id", "url", "host", "text"
        )
        return reused.unionByName(
            clean_d.select("doc_id", "url", "host", "text")
        )

    clean, n_clean = r.run("merge_clean", n_clean_d, do_merge)
    _gate()

    return _funnel_tail(
        r,
        _gate,
        clean,
        n_clean,
        work_dir,
        seq_len=seq_len,
        shard_docs=shard_docs,
        max_records_per_file=max_records_per_file,
        mix_alpha=mix_alpha,
    )


class PipelineStopped(RuntimeError):
    """Raised by ``stop_after`` — the controlled mid-pipeline kill.
    Carries the stage stats committed so far."""

    def __init__(self, after_stage: int, stages: list[StageStats]):
        super().__init__(f"pipeline stopped after stage {after_stage}")
        self.after_stage = after_stage
        self.stages = stages
