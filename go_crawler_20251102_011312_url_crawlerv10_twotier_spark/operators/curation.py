"""Domain-level corpus curation: per-source aggregate signals.

Web-scale training pipelines don't only filter documents — they drop
whole DOMAINS whose aggregate quality is bad (C4's blocklists,
FineWeb's URL/domain filtering, Gopher's per-source mix decisions all
consume a table of this shape). This module rolls the engine's
per-document signals (quality filter, quality score, near-dup
canonicality, token counts) up to one row per source so a curator can
threshold on keep-rate / duplication-rate / mean quality before any
per-document work runs at full scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textstats import quality_filter, quality_score, token_count_ws
from .dedup import dup_clusters


def vocab_growth(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary growth curve — the tokenizer-planning
    question ("how big is the vocab at 10× this corpus?") answered
    exactly instead of eyeballed: distinct-token count of the corpus
    prefix ``doc_id < cutoff`` at ``n_checkpoints`` evenly spaced
    cutoffs. The prefix order is the stable doc_id order, so the curve
    is deterministic and engine-exact (no sampling).

    One corpus pass, join-free: per-token FIRST doc id (map-side-
    partial min agg over the already-reduced token table), then each
    token's earliest checkpoint is pure arithmetic —
    ``j_min = (n·first_id) div m + 1`` (the smallest j whose cutoff
    ``ceil(m·j/n)`` exceeds first_id) — and the token explodes into
    its ≤ ``n_checkpoints`` memberships. No theta join, so the plan
    never falls into a BroadcastNestedLoopJoin (the contract
    test_plans enforces); the only cross join is the exempt 1-row
    scalar attach of the corpus size.

    Output: ``(checkpoint, n_docs, vocab_size)``.
    """
    n = n_checkpoints
    toks = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("token"),
    )
    first = toks.groupBy("token").agg(F.min("id").alias("first_id"))
    m = docs.agg((F.max(id_col) + 1).alias("m"))
    ex = (
        first.crossJoin(F.broadcast(m))
        .select(
            F.explode(
                F.sequence(
                    F.expr(f"(CAST({n} AS BIGINT) * first_id) DIV m + 1"),
                    F.lit(n).cast("bigint"),
                )
            ).alias("checkpoint")
        )
    )
    return (
        ex.groupBy("checkpoint")
        .agg(F.count("*").cast("bigint").alias("vocab_size"))
        .crossJoin(F.broadcast(m))
        .select(
            "checkpoint",
            F.expr(f"(m * checkpoint + {n - 1}) DIV {n}").alias("n_docs"),
            "vocab_size",
        )
    )


def freq_spectrum(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Frequency-of-frequencies table (Good-Turing's N_f): how many
    token types occur exactly f times corpus-wide. The smoothing /
    unseen-mass planning input (N_1/N estimates the probability the
    NEXT crawl batch brings an unseen token), and the long-tail audit
    for vocab truncation (how much type mass a min-frequency cutoff
    discards). Two map-side-partial aggregations over already-reduced
    tables; output is at most as many rows as distinct frequencies.

    Output: ``(occurrences, n_types, type_tokens)`` with
    ``type_tokens = occurrences * n_types`` (the token mass at that
    frequency, so cutoff cost is a running sum away).
    """
    toks = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    return cnt.groupBy("cnt").agg(F.count("*").cast("bigint").alias("n_types")).select(
        F.col("cnt").cast("bigint").alias("occurrences"),
        "n_types",
        (F.col("cnt") * F.col("n_types")).cast("bigint").alias("type_tokens"),
    )


def vocab_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Corpus vocabulary statistics — the frequency table a tokenizer
    trainer (BPE/unigram) starts from: the ``top_k`` lowercase
    whitespace tokens by total occurrences, with document frequency.

    Output: ``(token, n_docs, n_occurrences)``, the top_k rows by
    (n_occurrences DESC, token ASC) — the tiebreak makes the cutoff
    set deterministic under any partitioning.

    Scale shape: explode → two hash aggregations, both with map-side
    partials — (token, doc) collapses each doc's repeats locally
    before anything shuffles, then (token) sums — and the global
    top-k is TakeOrderedAndProject (per-partition heaps merged on the
    driver), never a global sort. Nothing here is proportional to the
    corpus except the first map-side pass.
    """
    toks = (
        docs.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("token"),
        )
    )
    td = toks.groupBy("token", "id").agg(F.count("*").alias("c"))
    agg = td.groupBy("token").agg(
        F.count("*").alias("n_docs"),
        F.sum("c").alias("n_occurrences"),
    )
    return agg.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(top_k)


def doc_keyterms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document distinctive terms: the top ``k`` tokens by
    ``tf / df`` (term frequency over corpus document frequency — the
    rank-equivalent of tf·idf for a fixed corpus size, chosen as a
    RATIONAL score: integer÷integer is bit-identical on any engine,
    where a log-based idf could drift by an ulp across libms and flip
    a rank at the rounding boundary). The table feeds corpus
    exploration, clustering labels, and topic-mix audits.

    Output: ``(id, token, tf, df, score, rank)``, rank ≤ k per doc,
    ties broken by token ASC so the cutoff is deterministic.

    Scale shape: tf is a map-side-partial (id, token) agg; df
    aggregates the ALREADY-reduced tf table (never the raw token
    stream); the attach join and the per-doc row_number window are
    token- and id-keyed respectively — window state is one doc's
    vocabulary, never global.
    """
    toks = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "token"
        ),
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(df_tbl, "token").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def unigram_commonness(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max: int = 1,
) -> DataFrame:
    """Per-document language-model commonness score — the exact-
    arithmetic stand-in for CCNet-style LM-perplexity filtering: score
    each doc by how common its tokens are in the corpus' own unigram
    distribution. Junk (boilerplate hashes, base64, mojibake) scores
    near zero; fluent text scores high.

    Output per doc: ``(id, n_tokens, sum_cnt, mean_p, rare_rate)`` —
    ``mean_p`` is the mean unigram probability of the doc's token
    occurrences, ``sum_cnt = Σ_t tf_t · corpuscount_t`` its exact
    integer numerator, ``rare_rate`` the fraction of occurrences whose
    token appears ≤ ``rare_max`` times corpus-wide (hapax rate at the
    default). The arithmetic-mean-of-probabilities form is chosen over
    mean log-prob deliberately: every step is integer sums + ONE final
    double division (bit-identical on any engine), where ln() drifts
    by an ulp across libms — the same rational-twin discipline as
    :func:`doc_keyterms`.

    Scale shape: explode → map-side-partial (id, token) tf agg; the
    corpus count table aggregates the ALREADY-reduced tf table; the
    attach join is token-keyed (common tokens fan out across
    partitions but each (id, token) row joins once); the corpus total
    is a broadcast scalar attach. Nothing is proportional to the raw
    token stream after the first map-side pass.
    """
    toks = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "token"
        ),
    )
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = cnt.agg(F.sum("cnt").alias("total"))
    per_doc = (
        tf.join(cnt, "token")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("cnt")).alias("sum_cnt"),
            F.sum(
                F.when(F.col("cnt") <= rare_max, F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("_rare_occ"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "id",
        "n_tokens",
        "sum_cnt",
        (F.col("sum_cnt") / (F.col("n_tokens") * F.col("total"))).alias(
            "mean_p"
        ),
        (F.col("_rare_occ") / F.col("n_tokens")).alias("rare_rate"),
    )


def bigram_commonness(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
) -> DataFrame:
    """Per-document CONDITIONAL bigram commonness — the next rung of
    the CCNet-perplexity ladder above :func:`unigram_commonness`:
    score each doc by the mean MLE conditional probability
    P(w_i | w_{i-1}) of its bigram occurrences under the corpus' own
    bigram distribution. This separates what the unigram score cannot:
    word-salad built from common words ("the of and the is") carries
    common unigrams but improbable transitions, scoring low here.

    Exactness discipline (same rational-twin rule as the rest of this
    module): each bigram's conditional probability materializes ONCE
    in the model table as an integer micro-probability
    ``(micro * c(w1 w2)) div c(w1 ·)`` — int64 floor division, never a
    per-row float — so the per-doc aggregation is pure integer sums
    (order-free) with one final double division. int64 headroom:
    ``micro * c`` stays below 2^63 up to ~9·10^12 occurrences of a
    single bigram; raise nothing at 100 TB text (a bigram at 10^12
    occurrences would be pathological boilerplate your dedup already
    removed, and the audit is a one-line max-count query).

    Scale shape mirrors unigram_commonness: bigrams form map-side via
    a shifted-slice zip (NO window — the dsir_importance trick), the
    (id, bigram) tf agg reduces the stream before anything wide, the
    model table aggregates the already-reduced tf table twice (bigram
    count, then prefix count on the count table — vocabulary-sized,
    not corpus-sized), and the attach join is bigram-keyed.

    Docs with fewer than two tokens have no bigram evidence and are
    absent from the output (callers LEFT-join and treat null as
    no-signal, same convention as the packer's empty shards).

    Output: ``(id, n_bigrams, sum_micro_p, mean_cond_p)``.
    """
    arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    bg = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    ex = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"), F.explode(bg).alias("bigram")
    )
    tf = ex.groupBy("id", "bigram").agg(F.count("*").alias("tf"))
    cb = tf.groupBy("bigram").agg(F.sum("tf").alias("cb"))
    w1 = cb.withColumn("w1", F.split("bigram", " ").getItem(0))
    cp = w1.groupBy("w1").agg(F.sum("cb").alias("cp"))
    model = (
        w1.join(cp, "w1")
        .withColumn(
            "micro_p",
            F.expr(f"(CAST({micro} AS BIGINT) * cb) DIV cp"),
        )
        .select("bigram", "micro_p")
    )
    return (
        tf.join(model, "bigram")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("micro_p")).cast("bigint").alias("sum_micro_p"),
        )
        .select(
            "id",
            "n_bigrams",
            "sum_micro_p",
            (
                F.col("sum_micro_p") / (F.col("n_bigrams") * F.lit(micro))
            ).alias("mean_cond_p"),
        )
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style intra-document repetition signals — the two
    repetition families `textstats.quality_filter`'s collapsed
    unigram rule approximates: duplicate LINES (boilerplate menus,
    scraped table rows) and a dominating top BIGRAM (keyword-stuffed
    spam). Rahimi et al.'s Gopher rules threshold exactly these;
    this emits the measurements so the thresholds stay a curator
    decision.

    Output per non-blank doc: ``(id, n_lines, dup_line_frac,
    dup_line_char_frac, n_bigrams, top_bigram_frac)`` —
    ``dup_line_frac`` = fraction of non-empty line occurrences that
    repeat an identical earlier line, ``dup_line_char_frac`` the same
    weighted by characters, ``top_bigram_frac`` = occurrences of the
    most frequent lowercase whitespace bigram over all bigram
    occurrences (0.0 for single-token docs). Every fraction is ONE
    double division of exact integer sums — bit-identical across
    engines, same rational-twin discipline as
    :func:`unigram_commonness`.

    Scale shape: both signals reduce map-side on (id, line) /
    (id, bigram) before anything shuffles; the bigram window is
    id-partitioned (state = one document's token stream, bounded by
    the F3 body cap upstream). Nothing is all-pairs and nothing is
    proportional to the corpus after the first partial aggregation.
    """
    base = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    lines = (
        base.select(
            "id", F.explode(F.split("text", "\n")).alias("raw")
        )
        .select("id", F.trim(F.col("raw")).alias("line"))
        .filter(F.col("line") != "")
    )
    per_line = lines.groupBy("id", "line").agg(F.count("*").alias("c"))
    line_stats = per_line.groupBy("id").agg(
        F.sum("c").alias("n_lines"),
        F.count("*").alias("_distinct"),
        F.sum(F.col("c") * F.length("line")).alias("_tot_chars"),
        F.sum((F.col("c") - 1) * F.length("line")).alias("_dup_chars"),
    )
    toks = base.select(
        "id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("pos", "token"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("token").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "id", F.concat_ws(" ", "token", "nxt").alias("bigram")
        )
    )
    bstats = (
        bigrams.groupBy("id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("_top_c"), F.sum("c").alias("_n_bigrams"))
    )
    return line_stats.join(bstats, "id", "left").select(
        "id",
        "n_lines",
        (
            (F.col("n_lines") - F.col("_distinct")) / F.col("n_lines")
        ).alias("dup_line_frac"),
        (F.col("_dup_chars") / F.col("_tot_chars")).alias(
            "dup_line_char_frac"
        ),
        F.coalesce(F.col("_n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.when(
            F.col("_n_bigrams") > 0, F.col("_top_c") / F.col("_n_bigrams")
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def source_quality_rollup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """One curation row per source: ``(source, n_docs, n_tokens,
    keep_rate, mean_quality, dup_rate)``.

    * ``keep_rate`` — fraction of the source's docs passing the
      C4/Gopher-style :func:`quality_filter`
    * ``mean_quality`` — mean composite :func:`quality_score`
    * ``dup_rate`` — fraction of docs that are NOT their near-dup
      cluster's canonical representative (``pairs`` = any (id_a,
      id_b) pair set, e.g. ``dedup.lsh_dup_pairs`` output)

    Scale shape: the quality signals are map-only column expressions
    folded into the scan; the two attach joins are id-keyed; the
    rollup itself is ONE map-side-partial groupBy on source. The
    aggregation is float-free — quality scores sum as integer
    micro-units and the rates divide exact integer counts at the end
    — so the result is partition-order-independent (the property the
    gate oracle hashes).
    """
    qf = quality_filter(docs, id_col, text_col).select(id_col, "keep")
    canon = dup_clusters(docs, pairs, id_col=id_col).select(
        F.col("doc_id").alias(id_col), "is_canonical"
    )
    base = docs.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        token_count_ws(F.col(text_col)).cast("long").alias("_tok"),
        F.round(quality_score(F.col(text_col)) * 1000000)
        .cast("long")
        .alias("_q_micro"),
    )
    j = base.join(qf, id_col).join(canon, id_col)
    agg = j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
        F.sum(F.col("keep").cast("long")).alias("_keeps"),
        F.sum("_q_micro").alias("_q_sum"),
        F.sum((~F.col("is_canonical")).cast("long")).alias("_dups"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("_keeps") / F.col("n_docs")).alias("keep_rate"),
        (F.col("_q_sum") / (F.col("n_docs") * F.lit(1000000.0))).alias(
            "mean_quality"
        ),
        (F.col("_dups") / F.col("n_docs")).alias("dup_rate"),
    )


def sequence_pack(
    docs: DataFrame,
    seq_len: int = 256,
    shard_docs: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing, sharded.

    Documents are concatenated in ``id`` order and cut into
    fixed-``seq_len`` training sequences — but PER SHARD (a fixed
    ``id div shard_docs`` bucket), not globally. That is deliberate:
    a single global token stream needs a global prefix sum whose last
    shard depends on every earlier one — an all-to-one step this
    engine bans (BENCH.md §5) — and no real pipeline wants it anyway:
    packing is always done per output shard/worker so shards stay
    independently writable and re-packable. The cost is one partial
    tail sequence per shard (the usual padding waste, measured by
    ``pack_stats``); the win is that every shard packs in parallel
    with bounded state and the layout is stable under any partitioning
    and under re-runs over a subset of shards.

    One shuffle (the shard-keyed window); window state = one shard's
    docs. Output, one row per document:
    ``(doc_id, shard, n_tokens, tok_start, first_seq, last_seq,
    spans_boundary)`` — ``tok_start`` is the doc's offset in its
    shard's token stream, ``first_seq``/``last_seq`` the shard-local
    sequence indices it lands in, ``spans_boundary`` whether it
    crosses a sequence cut (loss-masking cares).
    """
    # base renames id_col -> doc_id, so the window orders by the alias
    w = Window.partitionBy("shard").orderBy("doc_id")
    # ``tokens_col`` reuses an upstream count (e.g. corpus_refine's
    # n_tokens) instead of re-tokenizing — at 100 TB the recount is a
    # full second text scan
    toks = (
        F.col(tokens_col)
        if tokens_col is not None
        else token_count_ws(text_col)
    )
    # `div` = exact 64-bit integer division (a double-based floor
    # rounds above 2^53 — real corpus ids get there)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"{id_col} div {shard_docs}").alias("shard"),
        toks.cast("bigint").alias("n_tokens"),
    )
    c = base.withColumn(
        "tok_start",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint"),
    )
    first_seq = F.expr(f"tok_start div {seq_len}")
    # an empty doc occupies no tokens: pin it to the sequence at its
    # offset rather than computing floor((tok_start-1)/L)
    last_seq = F.when(F.col("n_tokens") == 0, first_seq).otherwise(
        F.expr(f"(tok_start + n_tokens - 1) div {seq_len}")
    )
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        "tok_start",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq > first_seq).alias("spans_boundary"),
    )


def pack_stats(packed: DataFrame, seq_len: int = 256) -> DataFrame:
    """Per-shard packing audit for ``sequence_pack`` output: sequence
    count, tail padding waste, boundary-crossing docs. The no-silent-
    caps companion — per-shard packing trades one partial tail
    sequence per shard for parallelism; this measures that trade.

    One map-side-partial agg over the packed table (reuses its shard
    key — no extra wide shuffle).

    Edge: a shard whose docs are ALL zero-token produces no sequence at
    all, so ``n_seqs`` is 0 (and ``pad_tokens`` 0) — not the
    ``max(last_seq)+1 = 1`` a naive max would report. This keeps the
    "tail waste < one sequence per shard" audit invariant exact.
    """
    agg = packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.when(F.sum("n_tokens") == F.lit(0), F.lit(0))
        .otherwise(F.max(F.col("last_seq")) + 1)
        .alias("n_seqs"),
        F.sum(F.col("spans_boundary").cast("long")).alias("n_spanning"),
    )
    return agg.select(
        "shard",
        "n_docs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_seqs").cast("bigint").alias("n_seqs"),
        F.col("n_spanning").cast("bigint").alias("n_spanning"),
        (F.col("n_seqs") * seq_len - F.col("n_tokens"))
        .cast("bigint")
        .alias("pad_tokens"),
    )


def host_boiler_sets(
    docs: DataFrame,
    min_df: int = 3,
    host_col: str = "host",
    text_col: str = "text",
    max_lines: int | None = None,
) -> DataFrame:
    """Per-host boilerplate vocabulary: every line that appears on >=
    ``min_df`` distinct pages of that host, as ONE array row per host
    (df-descending; ties break line-descending, so the row is
    deterministic).

    This is the skew-proof half of boilerplate removal: within-page
    repeats collapse map-side via ``array_distinct`` (no distinct
    shuffle at all), and the cross-page document-frequency count is a
    ``groupBy(host, line)`` whose map-side partials absorb hot keys —
    a cookie banner on 10^8 pages of one host arrives at its reducer
    as at most one partial row per map task, never 10^8 rows. The one
    wide shuffle here is the df count; everything downstream sees only
    the (tiny) df >= min_df survivors.

    ``max_lines`` caps a pathological host's vocabulary (a spam farm
    where every line clears min_df would otherwise make one giant
    array row) keeping the highest-df lines; ``n_boiler_lines`` always
    reports the PRE-cap count, so a capped host is visible
    (no-silent-caps: audit rides the result).

    Output: ``(host, boiler_lines array<string>, n_boiler_lines)``.
    """
    per_doc = docs.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), "\n"))
        ).alias("line"),
    )
    dfh = per_doc.groupBy("host", "line").agg(F.count("*").alias("df"))
    boiler = dfh.filter(F.col("df") >= F.lit(min_df))
    sets = boiler.groupBy("host").agg(
        F.collect_list(F.struct("df", "line")).alias("_s"),
        F.count("*").cast("bigint").alias("n_boiler_lines"),
    )
    arr = F.reverse(F.array_sort("_s"))  # df desc, then line desc
    if max_lines is not None:
        arr = F.slice(arr, 1, max_lines)
    return sets.select(
        "host",
        F.transform(arr, lambda st: st["line"]).alias("boiler_lines"),
        "n_boiler_lines",
    )


def strip_host_boilerplate(
    docs: DataFrame,
    min_df: int = 3,
    id_col: str = "doc_id",
    host_col: str = "host",
    text_col: str = "text",
    salt_partitions: int = 64,
    max_boiler_lines: int | None = None,
) -> DataFrame:
    """Host-level boilerplate removal: a line that appears on >=
    ``min_df`` distinct pages of the SAME host is chrome (nav, footer,
    cookie banner), not content — strip it, keep everything else in
    original order. The host scoping is what separates boilerplate
    from legitimate cross-host repetition (licenses, quotes).

    Scale shape (the VERDICT-r03 skew rework): the naive formulation —
    explode lines, join per-(host, line) df back, regroup per doc —
    puts a mega-host's banner (ONE key, 10^8 rows) through a single
    hash-join task. This version never joins on (host, line) at all:

    * ``host_boiler_sets`` reduces the corpus to one boiler-vocabulary
      array per host (aggregation absorbs the hot key map-side — see
      its docstring);
    * each doc then picks up its host's vocabulary in a LEFT join on
      ``host`` that is 1-row-per-host on the build side — normally a
      broadcast; when the boiler table outgrows broadcast, the join is
      salted ``salt_partitions`` ways (vocab rows replicated, docs
      hashed by id — fetch.salted_host_repartition's move,
      fetch.py:69-78) so even the mega-host's doc rows spread across
      ``salt_partitions`` tasks (64 salts measure a 0.12 max-task row
      share on a 90%-one-host corpus vs 0.90 unsalted — BENCH.md
      §7a; AQE's skew-join does NOT catch this case below
      its 256 MB partition threshold, so the salt is load-bearing);
    * stripping is a map-side array ``filter`` on the already-split
      text — original order preserved for free, no posexplode, no
      per-doc rebuild shuffle.

    Two wide shuffles total (df count + docs-side of the salted join,
    the latter skipped entirely when AQE broadcasts), versus four in
    the naive plan. Results are identical; ``salt_partitions<=1``
    gives the unsalted join (BENCH.md §7a A/Bs the two).

    Output, one row per input doc (docs with ONLY boilerplate keep an
    empty clean_text rather than vanishing):
    ``(doc_id, host, n_lines, n_boiler, clean_text)``.
    """
    sets = host_boiler_sets(
        docs,
        min_df=min_df,
        host_col=host_col,
        text_col=text_col,
        max_lines=max_boiler_lines,
    ).drop("n_boiler_lines")
    left = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.col(text_col).alias("_text"),
    )
    if salt_partitions and salt_partitions > 1:
        sets = sets.select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.lit(salt_partitions - 1))
            ).alias("salt"),
        ).withColumn("salt", F.col("salt").cast("int"))
        left = left.withColumn(
            "salt",
            F.pmod(
                F.xxhash64("doc_id"), F.lit(salt_partitions)
            ).cast("int"),
        )
        j = left.join(sets, ["host", "salt"], "left")
    else:
        j = left.join(sets, ["host"], "left")
    arr = F.split(F.col("_text"), "\n")
    kept = F.when(F.col("boiler_lines").isNull(), arr).otherwise(
        F.filter(
            arr, lambda x: ~F.array_contains(F.col("boiler_lines"), x)
        )
    )
    return j.select(
        "doc_id",
        "host",
        F.size(arr).cast("bigint").alias("n_lines"),
        (F.size(arr) - F.size(kept)).cast("bigint").alias("n_boiler"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-GLOBAL paragraph dedup, CCNet-style: every paragraph
    keeps exactly its first occurrence (ordered by ``(doc_id, pos)``)
    and later occurrences anywhere in the corpus are dropped; each doc
    is reassembled from its surviving paragraphs in original order.
    Complements ``strip_host_boilerplate`` (host-scoped chrome, drops
    ALL occurrences) — this is the cross-host half: licenses, quote
    chains, syndicated articles, SEO spam collapse to one copy.

    Scale shape — the key move is that kept paragraphs are REASSEMBLED
    FROM THE WINNER SET, never joined back onto occurrences:

    * ``groupBy(para)`` with ``min(struct(doc_id, pos))`` picks each
      paragraph's first occurrence; map-side partials absorb hot
      paragraphs (a license on 10^8 docs reaches its reducer as one
      partial per map task, never 10^8 rows);
    * the winner rows themselves ARE the surviving occurrences, so the
      doc rebuild is just ``groupBy(winner.doc_id)`` — uniformly keyed
      by construction. The classic skew trap (joining per-paragraph
      df/rank back on the paragraph key, which funnels every copy of a
      hot paragraph through one join task) never exists in this plan;
    * per-doc totals (``n_paras``) come map-only from the original
      text, so docs whose every paragraph lost (or that had no
      non-empty paragraph) still surface with ``clean_text = ''``.

    Two wide shuffles total (winner agg + doc rebuild), both skew-free;
    the final doc join is keyed by ``doc_id`` (unique, uniform).

    Output, one row per input doc:
    ``(doc_id, *keep, n_paras, n_kept, n_dropped, clean_text)`` —
    ``keep`` columns ride the map-only counts side (the
    normalize_text ``keep=`` composition pattern, no re-join).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep],
        F.col(text_col).alias("_text"),
    )
    arr = F.filter(F.split("_text", sep), lambda x: x != F.lit(""))
    counts = base.select(
        "doc_id", *keep, F.size(arr).cast("bigint").alias("n_paras")
    )
    paras = base.select(
        "doc_id", F.posexplode(arr).alias("pos", "para")
    )
    winners = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    rebuilt = (
        winners.select(
            F.col("w.doc_id").alias("doc_id"),
            F.struct("w.pos", "para").alias("_p"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list("_p")),
                    lambda st: st["para"],
                ),
            ).alias("clean_text"),
        )
    )
    j = counts.join(rebuilt, "doc_id", "left")
    return j.select(
        "doc_id",
        *keep,
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("n_paras") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_dropped"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def line_dedup_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """WITHIN-doc exact duplicate-line removal (the Gopher repetition
    *repair*, where ``repetition_stats`` only measures): every line
    keeps its first occurrence inside the document, later copies are
    dropped, and the doc is reassembled in original order. Complements
    the two cross-doc passes (``strip_host_boilerplate`` host-scoped,
    ``paragraph_dedup`` corpus-global): share buttons, repeated CTAs
    and template fragments that recur *inside one page* collapse here
    without any cross-doc state.

    Scale shape: pure Catalyst higher-order functions — the keep-first
    scan is ``filter(arr, (x, i) -> array_position(arr, x) == i+1)``
    per row, so the whole operator is map-only with ZERO shuffles and
    rides the corpus scan. Per-line cost is quadratic in the line
    count of one document (bounded by the 5 MB body cap), never in
    corpus size.

    Output: (doc_id, *keep, n_lines, n_kept, n_dropped, clean_text).
    """
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    kept = F.filter(arr, lambda x, i: F.array_position(arr, x) == i + 1)
    n_lines = F.size(arr).cast("bigint")
    n_kept = F.size(kept).cast("bigint")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep],
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept"),
        (n_lines - n_kept).cast("bigint").alias("n_dropped"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )


def compression_signal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    repetitive_below: float = 0.25,
    incompressible_above: float = 0.72,
    min_flag_bytes: int = 512,
) -> DataFrame:
    """zlib compression ratio per doc — the codings-based quality
    signal the n-gram repetition stats approximate: templated/spammy
    text compresses far below prose (flag ``repetitive``), while
    base64 blobs / minified noise barely compress at all (flag
    ``incompressible``). Both tails are filter candidates a 100 TB
    curation pass wants cheap.

    One Arrow-batched ``mapInPandas`` hop (zlib is not expressible in
    either SQL engine — the gate's oracle therefore takes precomputed
    independent-zlib byte counts from tools/make_compression_fixture.py
    and derives ratio and flags in SQL); map-only, no shuffle, and only
    (id, text) crosses to Python. Ratio is deterministic for a fixed
    zlib level within one environment.

    The ratio is LENGTH-CONFOUNDED below a few hundred bytes (zlib
    header + dictionary warm-up: 114 B of clean prose measures 0.82,
    worse than a base64 blob's 0.76), so flags only apply at
    ``raw_bytes >= min_flag_bytes``; the thresholds themselves come
    from measured classes (templated spam 0.014, varied prose
    0.19-0.63, base64 0.765).

    Output: (doc_id, raw_bytes, comp_bytes, ratio, repetitive,
    incompressible); empty docs get ratio 0.0 and no flags.
    """
    import pandas as pd  # noqa: F401 (mapInPandas batch type)

    out_schema = (
        "doc_id long, raw_bytes long, comp_bytes long, ratio double,"
        " repetitive boolean, incompressible boolean"
    )

    def batches(it):
        import zlib

        for pdf in it:
            raw = [t.encode("utf-8") for t in pdf["_t"].fillna("")]
            rb = [len(b) for b in raw]
            cb = [len(zlib.compress(b, level)) if b else 0 for b in raw]
            ratio = [
                round(c / r, 6) if r else 0.0 for c, r in zip(cb, rb)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["_id"],
                    "raw_bytes": rb,
                    "comp_bytes": cb,
                    "ratio": ratio,
                    "repetitive": [
                        r >= min_flag_bytes and 0 < x < repetitive_below
                        for x, r in zip(ratio, rb)
                    ],
                    "incompressible": [
                        r >= min_flag_bytes and x > incompressible_above
                        for x, r in zip(ratio, rb)
                    ],
                }
            )

    return docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).mapInPandas(batches, out_schema)
