"""URL-seen gate: one primitive, exact.

Replaces the reference's memory-mapped FST URL dictionary shipped to every
node via DistributedCache (UrlMapping.java:43-105; cached at
ExtractLinksWac.java:443, probed ``fst.getID(url) != -1`` at :159,177).
Semantics are *exact-set membership*, through one primitive
(``anti_join_seen``)::

    fresh = small ▷ (seen ⋉ might_contain(B, xxhash64(url_key)))

``B`` is Spark's ``BloomFilterAggregate`` over the small side's keys,
evaluated inside the same query as a scalar subquery — the shape Spark's
own runtime filter injects. It prunes the single scan of the seen set, so
only the true matches plus about fpp·|seen| rows reach the exact anti-join,
and a false positive can never drop a URL (SURVEY §7.1.2). Nothing sorts or
shuffles the unpruned seen set (the robust predicate transfer of *Debunking
the Myth of Join Ordering*, SIGMOD 2025: a Bloom built on the small side
prunes the large side before the join). No filter bytes cross py4j or sit
in a plan string; the built filter reaches the tasks that probe it inside
their task binary, as Spark's own runtime filter does, and it is sized by
the small side, not by the seen set.

The crawl's small side is the round's deduplicated candidates. A caller
that brings its own Bloom bytes (``build_bloom_jvm``) to
``dedup_against_seen`` is verified in one of two forms, picked by the size
rule Spark's planner applies to a broadcast join side: while the seen keys'
size estimate is at most ``spark.sql.autoBroadcastJoinThreshold``, one pass
anti-joins the candidates with the broadcast seen keys, and the Bloom only
counts its positives (nothing is cached); above it, the candidates are
probed and cached, and the positives are verified through the primitive.

Nothing deletes from a filter: un-seeing a URL is a tombstone in the seen
set (the reference deletes its HBase row), applied to the seen rows the
primitive scans, and the Bloom is built over the candidates every round.
"""

from __future__ import annotations

import math
import struct
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Spark's BloomFilterAggregate (behind DataFrameStatFunctions.bloomFilter
# too) clamps every filter to these two session confs (4M items, 64 Mbit by
# default): asked for 16M keys at 1% it returned 8,388,624 bytes, not the
# 19,170,136 the sizing needs. The optimizer's join-side runtime filters
# read the same caps, so ``bloom_caps`` raises them only around one action,
# never session-wide. They are read when the aggregate runs, not when its
# DataFrame is built.
BLOOM_CAP_CONFS = (
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
)
# the Bloom item count Spark's own runtime filter uses when it knows none
_DEFAULT_ITEMS_CONF = "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems"


@contextmanager
def bloom_caps(spark: SparkSession, n_items: int, n_bits: int):
    """Spark's runtime-filter caps at least ``n_items`` and ``n_bits``
    inside the block; each conf raised here reads as before once it ends
    (an unset one unset again)."""
    prev = {k: spark.conf.get(k, None) for k in BLOOM_CAP_CONFS}
    raised = {
        k: v for k, v in zip(BLOOM_CAP_CONFS, (n_items, n_bits))
        if int(spark.conf.get(k)) < v
    }
    for k, v in raised.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k in raised:
            if prev[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev[k])


def bloom_size(n_small: int, n_seen: int) -> tuple[int, int]:
    """(items, bits) of the Bloom over ``n_small`` keys that prunes an
    ``n_seen``-row seen scan: fpp = min(1%, n_small / n_seen), so the seen
    rows that pass it falsely stay near the small side's own size. Bits are
    ``BloomFilter.optimalNumOfBits``. A misestimate changes how many seen
    rows reach the join, never the result."""
    n = max(int(n_small), 1)
    fpp = min(0.01, n / n_seen) if n_seen > 0 else 0.01
    return n, int(-n * math.log(fpp) / (math.log(2) ** 2))


def _bloom_capacity(bloom_bytes: bytes) -> int:
    """The key count a serialized Spark Bloom was sized for, from its
    header: version (1 or 2, the second adding a seed), hash count, word
    count; k = round(m/n · ln 2) gives n ≈ m · ln 2 / k."""
    version, k = struct.unpack_from(">ii", bloom_bytes)
    (words,) = struct.unpack_from(">i", bloom_bytes, 8 if version == 1 else 12)
    return max(1, round(words * 64 * math.log(2) / k))


def _bridge(spark: SparkSession):
    """``org.apache.spark.sql.classic.ExpressionUtils``: Catalyst expression
    ↔ Column. Version-locked internals of classic (non-Connect) PySpark
    4.x; a bridge failure raises, since on a supported deployment it is a
    bug."""
    return spark._jvm.org.apache.spark.sql.classic.ExpressionUtils


def _might_contain(spark: SparkSession, bloom: Column, key_col: str) -> Column:
    """BloomFilterMightContain(bloom, xxhash64(key)): the expression Spark's
    runtime-filter rewrite uses (public Spark source, sql/catalyst); its
    bloom is a binary literal or a scalar subquery."""
    eu = _bridge(spark)
    mc = spark._jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        eu.expression(bloom._jc), eu.expression(F.xxhash64(F.col(key_col))._jc)
    )
    return Column(eu.column(mc))


def _bloom_agg(spark: SparkSession, key_col: str, n_items: int, n_bits: int) -> Column:
    """BloomFilterAggregate(xxhash64(key), n_items, n_bits): the serialized
    filter ``build_bloom_jvm`` writes for the same keys and size."""
    eu = _bridge(spark)
    agg = spark._jvm.org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        eu.expression(F.xxhash64(F.col(key_col))._jc),
        eu.expression(F.lit(n_items).cast("long")._jc),
        eu.expression(F.lit(n_bits).cast("long")._jc),
    )
    return Column(eu.column(agg.toAggregateExpression()))


def anti_join_seen(small: DataFrame, seen: DataFrame, n_small: int, n_seen: int,
                   key_col: str = "url_key", observation=None) -> DataFrame:
    """``small``'s rows whose key is not in ``seen``, exactly: the one
    URL-seen primitive (module docstring). The Bloom is sized by
    ``bloom_size(n_small, n_seen)``; its build reads ``small`` once more
    (a scalar subquery job before the query's own), so a small side that
    is costly to compute should be cached. Raise the runtime-filter caps
    (``bloom_caps``) around the action when the sizes pass them, or the
    Bloom is clamped (and prunes less).

    ``observation``, when given, records ``bloom_hits``: the seen rows that
    pass the Bloom (true matches plus false positives). It rides the seen
    side, which AQE skips once it finds the small side empty, and then the
    metric never arrives: observe with AQE off, as a crawl round runs."""
    spark = small.sparkSession
    bloom = small.select(_bloom_agg(spark, key_col, *bloom_size(n_small, n_seen))).scalar()
    pruned = seen.select(key_col).filter(_might_contain(spark, bloom, key_col))
    if observation is not None:
        pruned = pruned.observe(observation, F.count(F.lit(1)).alias("bloom_hits"))
    return small.join(pruned, key_col, "left_anti")


def build_bloom_jvm(df: DataFrame, n_expected: int, fpp: float = 0.01,
                    key_col: str = "url_key") -> bytes:
    """Distributed JVM build over xxhash64(key): ``DataFrameStatFunctions.
    bloomFilter`` aggregates per-partition sketches and merges them,
    serialized to bytes for ``probe_bloom_jvm``. The filter is sized for
    ``n_expected`` keys at ``fpp`` whatever the session's runtime-filter
    caps; those confs read as before once the build returns."""
    spark = df.sparkSession
    jvm = spark._jvm
    n = max(int(n_expected), 1)
    bits = jvm.org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, float(fpp))
    hashed = df.select(F.xxhash64(F.col(key_col)).alias("h"))
    with bloom_caps(spark, n, bits):
        jbf = hashed._jdf.stat().bloomFilter("h", n, fpp)
    bos = jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    return bytes(bos.toByteArray())


def probe_bloom_jvm(df: DataFrame, bloom_bytes: bytes, key_col: str = "url_key",
                    out_col: str = "maybe_seen") -> DataFrame:
    """Membership test fully inside the JVM against a Bloom carried as a
    binary literal: no Python worker in the probe. The literal rides the
    plan, its string and every task binary, so the crawl does not use it;
    it serves callers that bring their own filter bytes."""
    bloom = F.lit(bytearray(bloom_bytes))
    return df.withColumn(out_col, _might_contain(df.sparkSession, bloom, key_col))


def dedup_against_seen(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "bytes | None",
    key_col: str = "url_key",
    observation=None,
    cache_registry: "list[DataFrame] | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact URL-seen dedup — the reference's ``fst.getID(url) != -1`` gate
    (ExtractLinksWac.java:159,177).

    Returns (fresh, maybe). ``fresh`` = candidates whose key is NOT in seen.

    ``bloom`` None: the candidates are the small side of ``anti_join_seen``,
    sized at Spark's runtime-filter item default (no count is in hand);
    ``maybe`` is empty and ``bloom_hits`` is 0 (no candidate probes a
    caller's filter).

    ``bloom`` bytes (``build_bloom_jvm`` over seen) is verified in one of
    two forms, by the size rule Spark's planner applies to the same join:

    - the seen keys' plan size estimate is at or below
      ``spark.sql.autoBroadcastJoinThreshold``: ``fresh`` is one pass,
      the candidates anti-joined with the broadcast seen keys. The Bloom
      only feeds ``bloom_hits`` (observed on that pass) and the lazy
      ``maybe``; nothing is cached. Probing first would prune nothing the
      broadcast does not already skip.
    - above it: the candidates are probed with the Bloom and cached (so
      the caller's lineage, UDFs included, runs once); negatives are
      fresh, and the positives (``maybe``) are verified through
      ``anti_join_seen``, sized from the caller Bloom's capacity. The
      cache is appended to ``cache_registry`` when given, so the caller
      can unpersist exactly this call's intermediates.

    ``bloom_hits`` counts the positive candidates. The no-Bloom path caches
    its candidates as the second form does. ``observation``, when given,
    gets its ``bloom_hits`` on the caller's next action, with no job of its
    own. ``spark`` is unused; it stays so positional callers keep working."""
    if bloom is None:
        small = candidates.cache()
        n = int(small.sparkSession.conf.get(_DEFAULT_ITEMS_CONF))
        fresh = anti_join_seen(small, seen, n, n, key_col)
        if observation is not None:
            # on the output, which AQE keeps when it drops an empty join's
            # inputs; coalesce: max() over zero rows is NULL
            fresh = fresh.observe(
                observation, F.coalesce(F.max(F.lit(0)), F.lit(0)).alias("bloom_hits")
            )
        maybe = candidates.limit(0)
    else:
        probed = probe_bloom_jvm(candidates, bloom, key_col)
        observed = probed if observation is None else probed.observe(
            observation,
            F.coalesce(F.sum(F.col("maybe_seen").cast("long")), F.lit(0)).alias("bloom_hits"),
        )
        seen_keys = seen.select(key_col)
        if _fits_broadcast(seen_keys):
            src = candidates if observation is None else observed
            fresh = src.join(F.broadcast(seen_keys), key_col, "left_anti")
            maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            return fresh.select(*candidates.columns), maybe
        small = observed.cache()
        maybe = small.filter(F.col("maybe_seen")).drop("maybe_seen")
        n = _bloom_capacity(bloom)
        fresh = small.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(
            anti_join_seen(maybe, seen, n, n, key_col)
        )
    if cache_registry is not None:
        cache_registry.append(small)
    return fresh, maybe


def _fits_broadcast(df: DataFrame) -> bool:
    """Spark's planner test for a broadcast join side: the optimized plan's
    size estimate is at most ``spark.sql.autoBroadcastJoinThreshold`` (a
    negative threshold broadcasts nothing)."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
