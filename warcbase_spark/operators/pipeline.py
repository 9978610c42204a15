"""Training-data pipeline operators: repetition quality, decontamination,
sequence packing, weighted source mixing.

These extend the engine past the reference's archive-analytics surface into
the operations a 100 TB LLM training-data pipeline runs between "crawl" and
"tokenizer" (the reference stops at extraction; cf. warcbase's
ExtractLinks/DetectLanguage pipelines). Design rules, per north rule:

- Everything is a Catalyst Column expression or a keyed shuffle — no Python
  in the hot path, no driver-side loops over data.
- Per-document statistics (repetition) are computed with higher-order
  functions over the document's own token array: a narrow, map-only plan
  with ZERO shuffle. At 100 TB this is the difference between a pure scan
  and an explode that multiplies the shuffle volume by tokens-per-doc.
- Corpus-wide coordinates (sequence packing, the global shuffle) use
  ``scheduler.add_global_seq``: per-bucket windows over sampled bucket
  bounds plus driver-collected bucket offsets, instead of a global
  Window.orderBy, which would funnel every row through one task.
- Cross-corpus membership (decontamination) is a semi-join on shingle
  keys with the small side broadcast, falling back to a shuffled join
  past a row gate — same shape as the URL-seen operator (seen.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warcbase_spark.operators.scheduler import add_global_seq

# ---------------------------------------------------------------------------
# Repetition / quality statistics (Gopher-style rules, token-gram variant)
# ---------------------------------------------------------------------------


def _tokens(text: Column) -> Column:
    # the one whitespace-normalization (functions/text.normalize_ws) —
    # _TOKS_SQL in queries.py mirrors this exact expression
    from warcbase_spark.functions.text import normalize_ws

    return F.split(normalize_ws(text), " ")


def _ngrams(toks: Column, n: int) -> Column:
    """Token n-grams as space-joined strings; empty array when too short.

    Built with ``zip_with`` over shifted ``slice``s — each input array is
    evaluated ONCE per row. The obvious alternative
    (``transform(sequence(...), i -> concat(element_at(toks, i+k)...))``)
    re-evaluates the whole ``toks`` expression per ELEMENT per reference
    (Catalyst HOF lambdas have no let-binding), which measured ~30×
    slower on 100-token documents (57s → 2s for quality_repetition at
    sf0.1)."""
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, F.lit(1), length)
    for k in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, F.lit(k + 1), length), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def _max_run(sorted_arr: Column) -> Column:
    """Length of the longest run of equal adjacent elements (= count of the
    most frequent element when the array is sorted). Single fold, single
    scalar out — referencing a multi-field aggregate result N times would
    re-evaluate the whole fold N times (CodegenFallback has no let-binding).
    """
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"), F.lit(0).cast("long").alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, acc0, step, lambda a: a["best"])


def _dup_occurrences(sorted_arr: Column) -> Column:
    """Number of elements belonging to a value that occurs >= 2 times.
    On a sorted array a run reaching length 2 contributes both members (+2),
    each further member +1."""
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"), F.lit(0).cast("long").alias("dup")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        add = F.when(run == F.lit(2), F.lit(2)).when(run > 2, F.lit(1)).otherwise(F.lit(0)).cast("long")
        return F.struct(x.alias("prev"), run.alias("run"), (acc["dup"] + add).alias("dup"))

    return F.aggregate(sorted_arr, acc0, step, lambda a: a["dup"])


def _with_min_partitions(df: DataFrame, min_partitions: int | None) -> DataFrame:
    """Round-robin widen a too-narrow input (e.g. one small parquet file →
    one task) so per-row CPU work parallelizes. At real scale the scan has
    thousands of splits and this is a no-op — the repartition only fires
    when the input has FEWER partitions than requested."""
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_partitions: int | None = None,
) -> DataFrame:
    """Per-document repetition metrics in the spirit of the Gopher quality
    rules (Rae et al. 2021 §A1.1), adapted to token n-grams (the corpus is
    line-less token text): fraction of tokens covered by the most frequent
    bigram, fraction of trigram occurrences that are duplicates, distinct-
    token fraction — all integer milli fixed-point so a DuckDB oracle
    matches bit-for-bit.

    Scale shape: one narrow map-only projection (sort + fold over each
    row's own gram array), no explode, no shuffle. Documents are bounded
    (chunk giant docs upstream); cost is O(tokens log tokens) per row,
    all inside whole-stage codegen's ArrayAggregate.
    """

    def idiv(a: Column, b: Column) -> Column:
        return F.floor(a / b).cast("long")

    df = _with_min_partitions(df, min_partitions)
    # NULL text would make ntok NULL (size(split(NULL)) is NULL) while the
    # milli columns fall to their otherwise(0) branch — an asymmetric
    # NULL/0 row. Coalesce to '' so NULL documents behave exactly like
    # empty ones on both engines.
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    toks = _tokens(F.col(text_col))
    # stage 1: one fold per metric, each referenced exactly once below —
    # keeping the expensive ArrayAggregate expressions single-reference
    # bounds re-evaluation if CollapseProject inlines the projection
    raw = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("ntok"),
        F.size(F.array_distinct(toks)).cast("long").alias("nd"),
        _max_run(F.array_sort(_ngrams(toks, 2))).alias("top_raw"),
        _dup_occurrences(F.array_sort(_ngrams(toks, 3))).alias("dup_tri"),
    )
    ntok = F.col("ntok")
    # coverage of the most frequent REPEATED bigram — a bigram seen once is
    # not repetition (a unique bigram in a 10-token doc would already cover
    # 200 milli and false-flag every short clean document)
    top_bigram = F.when(F.col("top_raw") >= 2, F.col("top_raw")).otherwise(F.lit(0).cast("long"))
    n_tri = F.greatest(ntok - 2, F.lit(0).cast("long"))
    milli = raw.select(
        F.col(id_col),
        ntok,
        F.when(ntok > 0, idiv(F.col("nd") * 1000, ntok)).otherwise(F.lit(0).cast("long")).alias(
            "distinct_milli"
        ),
        F.when(ntok > 0, idiv(top_bigram * 2 * 1000, ntok)).otherwise(F.lit(0).cast("long")).alias(
            "top_bigram_milli"
        ),
        F.when(n_tri > 0, idiv(F.col("dup_tri") * 1000, n_tri)).otherwise(
            F.lit(0).cast("long")
        ).alias("dup_trigram_milli"),
    )
    flagged = (
        (F.col("top_bigram_milli") > 180)
        | (F.col("dup_trigram_milli") > 600)
        | ((ntok >= 10) & (F.col("distinct_milli") < 300))
    )
    return milli.withColumn("flag_repetitive", flagged.cast("int"))


# ---------------------------------------------------------------------------
# N-gram decontamination (train corpus vs held-out eval set)
# ---------------------------------------------------------------------------

DECONTAM_BROADCAST_ROW_LIMIT = 2_000_000


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_row_limit: int = DECONTAM_BROADCAST_ROW_LIMIT,
    eval_gram_count: int | None = None,
    min_partitions: int | None = None,
    cache_registry: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Benchmark-decontamination: for every train document, count distinct
    token ``n``-grams shared with the eval corpus and flag docs whose gram
    coverage exceeds 10%. The standard pre-training hygiene step (e.g.
    GPT-3 appendix C / PaLM §8): drop or down-weight training docs that
    leak eval content.

    Scale shape: ONE distinct-gram evaluation per train row (a single
    explode — the per-doc gram total is recovered as count(*) in the final
    aggregate, so no second gram build, no doc-keyed re-join), then a LEFT
    join on the gram string marking eval membership, then one
    map-side-combinable groupBy(doc). Eval sets are benchmark-sized
    (1e4-1e7 grams), so the join is BROADCAST below ``broadcast_row_limit``
    distinct grams and falls back to a shuffled hash join above it (pass
    ``eval_gram_count`` when known to skip the gate's count job) — the
    identical crossover regime as the URL-seen operator (seen.py). Only
    contaminated docs (>= 1 shared gram) are emitted.
    """
    train = _with_min_partitions(train, min_partitions)
    exploded = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(_ngrams(_tokens(F.col(text_col)), n))).alias("g"),
    )
    eval_grams = (
        eval_df.select(
            F.explode(F.array_distinct(_ngrams(_tokens(F.col(text_col)), n))).alias("g")
        )
        .distinct()
        .withColumn("_hit", F.lit(1).cast("long"))
    )

    if eval_gram_count is not None:
        n_eval = eval_gram_count
    else:
        # the gate needs a count and the join needs the same rows — persist
        # so the eval-side explode+distinct runs ONCE, not once per use
        # cache, not localCheckpoint (r06, closes the ADVICE-r5 leak):
        # the gram build is a deterministic transform (no sampled
        # boundaries), so eviction-recompute is harmless — and cache
        # blocks are released by unpersist/clearCache, while checkpoint
        # blocks outlive the call and accumulate across bench repeats
        eval_grams = eval_grams.cache()
        if cache_registry is not None:
            cache_registry.append(eval_grams)
        n_eval = eval_grams.count()
    if n_eval <= broadcast_row_limit:
        marked = exploded.join(F.broadcast(eval_grams), "g", "left")
    else:
        marked = exploded.join(eval_grams.hint("shuffle_hash"), "g", "left")

    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_shared"),
        )
        .where(F.col("n_shared") >= 1)
        .withColumn("coverage_milli", F.floor(F.col("n_shared") * 1000 / F.col("n_grams")).cast("long"))
        .withColumn("flag_contaminated", (F.col("coverage_milli") >= 100).cast("int"))
        .select(id_col, "n_grams", "n_shared", "coverage_milli", "flag_contaminated")
    )


# ---------------------------------------------------------------------------
# Concatenate-and-chunk sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    ctx_len: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_registry: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing (the GPT-style pretraining
    layout): documents are concatenated in ``id_col`` order into one token
    stream and cut into fixed ``ctx_len`` windows; each document lands at
    token offset ``tok_start`` spanning packs ``pack_first..pack_last``.

    The output is the pack manifest a tokenizer/loader shards on: every
    row knows its global coordinates, so downstream can
    ``partitionBy(pack_first)`` and materialize training sequences without
    any further global coordination. ``tok_end`` is the running token sum
    of ``scheduler.add_global_seq`` over ``id_col`` (no single-task global
    window; two small driver collects, the bucket bounds and totals). Its
    cache of the (id, ntok) rows goes to ``cache_registry`` when given.
    """
    ntok = F.size(_tokens(F.col(text_col))).cast("long")
    d = df.select(F.col(id_col), ntok.alias("ntok")).where(F.col("ntok") > 0)
    c = add_global_seq(
        d, [id_col], "tok_end", weight=F.col("ntok"), cache_registry=cache_registry
    )
    return c.select(
        id_col,
        "ntok",
        (F.col("tok_end") - F.col("ntok")).alias("tok_start"),
        F.floor((F.col("tok_end") - F.col("ntok")) / ctx_len).cast("long").alias("pack_first"),
        F.floor((F.col("tok_end") - 1) / ctx_len).cast("long").alias("pack_last"),
    ).withColumn(
        "crosses_boundary", (F.col("pack_last") > F.col("pack_first")).cast("int")
    )


# ---------------------------------------------------------------------------
# Weighted source mixing (deterministic hash sampling)
# ---------------------------------------------------------------------------


def source_rate_milli(source: Column) -> Column:
    """Per-source target sampling rate in milli (src0 -> 1000 ... srcN ->
    1000 - 45*N, floored at 100): a deterministic stand-in for the
    data-mixing weights a training run assigns to its sources."""
    n = F.regexp_extract(source, r"(\d+)$", 1).cast("long")
    return F.greatest(F.lit(1000).cast("long") - n * 45, F.lit(100).cast("long"))


def weighted_keep(source: Column, doc_id: Column) -> Column:
    """The per-row keep decision behind :func:`weighted_sample` as a
    boolean Column: keep iff the first 3 hex digits of md5('mix:'||doc_id)
    (uniform on 0..4095) fall under the source's rate threshold. Pure
    function of (source, id) — no shuffle, no RNG state, reproducible
    across retries/cluster sizes."""
    h = F.md5(F.concat(F.lit("mix:"), doc_id.cast("string")))
    hexval = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    thr = F.floor(source_rate_milli(source) * 4096 / 1000).cast("long")
    return hexval < thr


def weighted_sample(
    df: DataFrame, source_col: str = "source", id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic weighted down-sampling for source mixing: keep a doc
    iff the first 3 hex digits of md5('mix:'||doc_id) (uniform on 0..4095)
    fall under the source's rate threshold. Reports per-source achieved
    rates and surviving token mass.

    Scale shape: the keep decision is a pure per-row Column (no shuffle,
    no RNG state — reproducible across retries/cluster sizes, unlike
    ``df.sample`` whose seed interacts with partitioning); the report is
    one map-side-combinable groupBy over ~#sources keys.
    """
    keep = weighted_keep(F.col(source_col), F.col(id_col)).cast("int")
    ntok = F.size(_tokens(F.col(text_col))).cast("long")
    return (
        df.select(F.col(source_col), keep.alias("_keep"), ntok.alias("_ntok"))
        .groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum("_keep").cast("long").alias("n_kept"),
            F.sum(F.col("_keep") * F.col("_ntok")).cast("long").alias("kept_tokens"),
        )
        .withColumn("rate_milli", F.floor(F.col("n_kept") * 1000 / F.col("n_total")).cast("long"))
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle (training-order permutation)
# ---------------------------------------------------------------------------


def global_shuffle(
    df: DataFrame,
    seed: str = "shuf0",
    id_col: str = "doc_id",
    cache_registry: "list[DataFrame] | None" = None,
) -> DataFrame:
    """(``id_col``, ``shuffle_pos``): every row's position in a
    deterministic pseudo-random permutation (the training-order shuffle),
    ordered by ``md5(seed || ':' || id)`` with the id as tie-break,
    positions 1..N.

    Same reproducibility argument as :func:`weighted_sample` — the
    permutation is a pure function of (seed, id), identical across
    retries, partitionings, and cluster sizes, unlike ``orderBy(rand())``.

    Scale shape: the rank of ``scheduler.add_global_seq`` over (hash, id) —
    a per-bucket window rank plus driver-collected bucket offsets, with
    bucket bounds sampled from the data, so no single-task global window
    and no bucket-size knob. Its cache of the (id, hash) rows goes to
    ``cache_registry`` when given. Changing ``seed`` reshuffles every
    epoch.
    """
    h = F.md5(F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string")))
    return add_global_seq(
        df.select(id_col), [h, id_col], "shuffle_pos", cache_registry=cache_registry
    )


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline composition
# ---------------------------------------------------------------------------


def training_pipeline(
    docs: DataFrame,
    eval_mod: int = 37,
    ctx_len: int = 128,
    cc_iters: int = 8,
    minhash_hash_mode: str = "fast",
    cache_registry: "list[DataFrame] | None" = None,
) -> DataFrame:
    """The full pretraining-data pipeline as ONE composed plan — the way a
    real run chains the individually-verified operators:

        weighted source mixing → benchmark decontamination → exact dedup
        (keep min doc per md5(text)) → MinHash-LSH near-dup components
        (keep min doc per component) → sequence packing → deterministic
        global shuffle → per-source report.

    Emits one row per source: surviving docs, token mass, pack-span rows,
    and the shuffle-position checksum (sum of the survivors' permutation
    positions — any divergence in ANY upstream stage changes it).

    ``minhash_hash_mode`` defaults to ``'fast'`` (the xxhash64 kernel), not
    ``'md5'`` — the engine/production mode (r5-measured 2.6× over md5 at
    1M docs; bit-identical pipeline output on the stress corpus). The two
    kernels hash shingles differently, so on another corpus the MinHash
    near-dup components, and with them this function's output, may differ
    from the md5 DuckDB oracle twin. Oracle-checked callers (the
    pipeline_e2e query) pass ``'md5'`` explicitly so the twin hashes
    identically.

    Composition is the surface this function exists to test: every stage
    is green in isolation; chaining them exercises column contracts,
    re-used shingle normalization, and that no stage forces a driver
    round-trip beyond the documented small ones (decontaminate's
    broadcast gate count, the components loop counter, and the bucket
    bounds and totals of packing and shuffling). Scale shape is inherited
    stage-by-stage: per-row keep Column, gated gram join, bucketed LSH with
    hot-bucket guard, fixed-iteration label propagation, bucketed global
    running sums — no single-task window.
    """
    from warcbase_spark.functions.layout import spread_scan
    from warcbase_spark.operators.components import connected_components
    from warcbase_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
        verified_jaccard,
    )

    # spread the corpus scan once at pipeline entry: decontaminate's
    # n-gram explode otherwise runs on the raw scan's partitioning — ONE
    # task for a single-rowgroup parquet input (guide §2.5; decontaminate
    # alone measured 7.8s of the 6.5s query at sf1.0). Everything
    # downstream derives the widened partitioning.
    docs = spread_scan(docs)
    is_eval = (F.col("doc_id") % eval_mod) == 0
    kept = docs.where(weighted_keep(F.col("source"), F.col("doc_id")) & ~is_eval)
    eval_df = docs.where(is_eval)

    contaminated = (
        decontaminate(kept, eval_df, n=3, cache_registry=cache_registry)
        .where(F.col("flag_contaminated") == 1)
        .select("doc_id")
    )
    s1 = kept.join(contaminated, "doc_id", "left_anti")

    keep_exact = (
        s1.groupBy(F.md5("text").alias("_fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # cache, not localCheckpoint (same ADVICE-r5 leak rationale as
    # eval_grams above): mix→decontam→exact-dedup is deterministic and the
    # lineage is shallow, so the truncation was only buying block
    # persistence — which cache provides releasably
    s2 = s1.join(keep_exact, "doc_id", "left_semi").cache()

    sh = doc_shingles(s2).cache()  # read twice: signatures + jaccard verify
    if cache_registry is not None:
        # release hook (same pattern as the crawl loop's to_unpersist): the
        # checkpointed survivors and the shingle cache pin executor storage
        # until the caller is done with the returned plan — unpersist them
        # between repeated invocations or they accumulate until eviction
        cache_registry.extend([s2, sh])
    sigs = minhash_signatures(sh, 8, hash_mode=minhash_hash_mode)
    pairs = lsh_candidate_pairs(sigs, 8, bucket_cap=200, cache_registry=cache_registry)
    vp = verified_jaccard(pairs, sh, min_inter=3, cache_registry=cache_registry).select("a", "b")
    labels = connected_components(vp, iters=cc_iters)
    near_dups = labels.where(F.col("label") < F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    s3 = s2.join(near_dups, "doc_id", "left_anti")

    packed = pack_sequences(s3, ctx_len=ctx_len, cache_registry=cache_registry)
    shuf = global_shuffle(packed.select("doc_id"), seed="shuf0", cache_registry=cache_registry)

    return (
        s3.select("doc_id", "source")
        .join(packed, "doc_id")
        .join(shuf, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("tokens"),
            F.sum(F.col("pack_last") - F.col("pack_first") + 1).cast("long").alias("pack_rows"),
            F.sum("shuffle_pos").cast("long").alias("shuffle_checksum"),
        )
    )
