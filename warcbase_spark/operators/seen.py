"""URL-seen structures: one prefilter per scale regime.

Replaces the reference's memory-mapped FST URL dictionary shipped to every
node via DistributedCache (UrlMapping.java:43-105; cached at
ExtractLinksWac.java:443, probed ``fst.getID(url) != -1`` at :159,177).
Semantics are *exact-set membership*: the Bloom filter is only a prefilter —
every positive is verified with an exact anti-join against the seen table
(SURVEY §7.1.2), so false positives can never drop a URL.

Two filters, one per scale regime, each built fresh from the seen set every
round (``build_seen_filter`` picks one by the seen set's size):

- JVM Bloom (``build_bloom_jvm``/``probe_bloom_jvm``, up to
  ``SEEN_BLOOM_MAX_KEYS`` keys): Spark's own bloom_filter_agg and
  might_contain, zero Python; the filter rides the plan to every task.
- Cogrouped sharded cuckoo (``build_cuckoo_shards``/``probe_cuckoo_cogrouped``,
  past that): the filter is SHARDED by ``h1 mod n_shards`` (about 2^20
  keys a shard), each task builds the few shards hashed to its partition
  (one bucket table per shard via applyInPandas), and candidate rows are
  routed to their shard's table by the same hash — a shuffle on an evenly-distributed hash; the whole filter
  is never materialized in one place, held by the driver, or broadcast.

Neither filter deletes. Un-seeing a URL is a tombstone in the seen set
(the reference deletes its HBase row); the next round's filter is rebuilt
from the tombstone-filtered set, so an un-seen key never leaves a stale bit.

Hashing: h1 = xxhash64(url_key), h2 = xxhash64(url_key, salt) — both
computed JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_bloom_hashes(df: DataFrame, key_col: str = "url_key") -> DataFrame:
    """Attach the two 64-bit hashes (JVM-side xxhash64, codegen'd)."""
    return df.withColumn("h1", F.xxhash64(F.col(key_col))).withColumn(
        "h2", F.xxhash64(F.col(key_col), F.lit("\x01"))
    )


# ---------------------------------------------------------------------------
# Cuckoo filter (the north rule's named alternative to Bloom).
#
# Fan et al., "Cuckoo Filter: Practically Better Than Bloom" (CoNEXT 2014):
# b-slot buckets of f-bit fingerprints, two candidate buckets per item
# (i2 = i1 XOR hash(fp)). The paper's delete is not used: un-seeing is
# tombstones, and every round rebuilds the filter from the live seen set.
#
# Engineering variant: displacement ("kicking") is an inherently sequential
# pointer chase, so the build here is fully VECTORIZED 2-choice placement
# with a bucket-saturation fallback — items that fit neither bucket set a
# saturation bit on their secondary bucket, and lookups in a saturated
# bucket always answer "maybe" — so false negatives remain impossible (the
# exact anti-join verifies positives, same contract as the JVM Bloom).
# ``CuckooParams.size`` builds a load factor (keys per slot) of 0.175-0.35
# (2-4x the buckets a 0.7 load needs: 5.7-11.4 bytes a key), where
# saturation is rare, so fpp stays near the theoretical 2b/2^f ≈ 1.2e-4 for
# b=4, f=16. A higher load raises saturation in this kick-free build.
# ---------------------------------------------------------------------------

@dataclass
class CuckooParams:
    n_shards: int
    buckets_per_shard: int  # power of two (i2 = i1 XOR h(fp) needs it)
    slots: int = 4
    fp_bits: int = 16

    def __post_init__(self) -> None:
        # Both must be powers of two: buckets for the XOR partner index,
        # n_shards so the JVM route pmod(raw_h1, n_shards) agrees with the
        # numpy route mod(pmod(raw_h1, 2^62), n_shards) — they coincide
        # exactly when n_shards divides 2^62. size() guarantees this; a
        # hand-built CuckooParams must too, else probe lookups silently
        # miss shards (false "fresh" answers).
        for f in ("n_shards", "buckets_per_shard"):
            v = getattr(self, f)
            if v <= 0 or (v & (v - 1)) != 0:
                raise ValueError(f"CuckooParams.{f} must be a power of two, got {v}")

    @classmethod
    def size(cls, n_expected: int, n_shards: int = 32) -> "CuckooParams":
        """Buckets a shard: twice the power of two at or above the count a
        0.7 load would need, so the built load is 0.175-0.35 (e.g.
        ``size(980000, 32)``: 32,768 buckets a shard, load 0.234)."""
        n_shards = 1 << max(0, (n_shards - 1).bit_length())
        per_shard = max(1, n_expected // n_shards)
        m = 1 << max(3, (int(per_shard / (4 * 0.7)) - 1).bit_length() + 1)
        return cls(n_shards=n_shards, buckets_per_shard=m)


def _cuckoo_parts(h1: np.ndarray, h2: np.ndarray, p: CuckooParams):
    """(shard, fp, i1, i2) from the two 64-bit hashes. fp is nonzero
    (0 marks an empty slot); i2 is i1's partner bucket, i1 XOR h(fp)."""
    shard = np.mod(h1, p.n_shards).astype(np.int64)
    fp = (np.mod(h2, (1 << p.fp_bits) - 1) + 1).astype(np.uint16)
    m = p.buckets_per_shard
    i1 = np.mod(h1 // p.n_shards, m).astype(np.int64)
    i2 = np.bitwise_xor(i1, np.mod(fp.astype(np.int64) * 0x5BD1E995, m))
    return shard, fp, i1, i2


def _place(table: np.ndarray, sat: np.ndarray, fp: np.ndarray, idx: np.ndarray,
           spill_mask: np.ndarray) -> np.ndarray:
    """Vectorized bucket fill: for items (fp, idx) place into free slots of
    their bucket in one pass (lexsort → per-bucket rank → fancy index).
    Returns the mask of items that did NOT fit. ``spill_mask`` marks items
    already known to be in their LAST candidate bucket — those saturate."""
    order = np.lexsort((fp, idx))
    sidx, sfp = idx[order], fp[order]
    # rank of each item within its bucket group
    first = np.ones(len(sidx), dtype=bool)
    first[1:] = sidx[1:] != sidx[:-1]
    group_start = np.maximum.accumulate(np.where(first, np.arange(len(sidx)), 0))
    rank = np.arange(len(sidx)) - group_start
    occ = (table[sidx] != 0).sum(axis=1)  # pre-pass occupancy
    slot = occ + rank
    fits = slot < table.shape[1]
    table[sidx[fits], slot[fits]] = sfp[fits]
    overflow = np.zeros(len(fp), dtype=bool)
    overflow[order[~fits]] = True
    if spill_mask is not None:
        sat[idx[overflow & spill_mask]] = True
    return overflow


@dataclass
class ShardedCuckoo:
    params: CuckooParams
    # shard id → (bucket table [m, slots] uint16, saturation bits [m] bool)
    shards: dict[int, tuple[np.ndarray, np.ndarray]]

    @classmethod
    def build(cls, h1: np.ndarray, h2: np.ndarray, params: CuckooParams) -> "ShardedCuckoo":
        p = params
        shard, fp, i1, i2 = _cuckoo_parts(h1, h2, p)
        shards: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for sid in np.unique(shard):
            mask = shard == sid
            table = np.zeros((p.buckets_per_shard, p.slots), dtype=np.uint16)
            sat = np.zeros(p.buckets_per_shard, dtype=bool)
            f, a, b = fp[mask], i1[mask], i2[mask]
            over = _place(table, sat, f, a, spill_mask=None)   # primary pass
            if over.any():                                      # secondary pass
                _place(table, sat, f[over], b[over],
                       spill_mask=np.ones(int(over.sum()), dtype=bool))
            shards[int(sid)] = (table, sat)
        return cls(p, shards)

    def contains_vec(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        p = self.params
        shard, fp, i1, i2 = _cuckoo_parts(h1, h2, p)
        out = np.zeros(len(h1), dtype=bool)
        for sid in np.unique(shard):
            entry = self.shards.get(int(sid))
            mask = shard == sid
            if entry is None:
                continue
            table, sat = entry
            f, a, b = fp[mask], i1[mask], i2[mask]
            hit = (
                (table[a] == f[:, None]).any(axis=1)
                | (table[b] == f[:, None]).any(axis=1)
                | sat[a] | sat[b]
            )
            out[mask] = hit
        return out


def _cuckoo_routed(df: DataFrame, params: CuckooParams, key_col: str, *keep: str) -> DataFrame:
    """``keep`` columns passed through, plus (h1, h2, shard), all JVM-side
    and non-negative so python % semantics match; shard routing key =
    h1 mod n_shards (power of two, commutes with the pmod)."""
    return with_bloom_hashes(df, key_col).select(
        *keep,
        F.pmod(F.col("h1"), F.lit(1 << 62)).alias("h1"),
        F.pmod(F.col("h2"), F.lit(1 << 62)).alias("h2"),
        F.pmod(F.col("h1"), F.lit(params.n_shards)).cast("int").alias("shard"),
    )


def _cuckoo_shard_to_row(sid: int, table: np.ndarray, sat: np.ndarray) -> dict:
    return {"shard": sid, "table": table.tobytes(), "sat": np.packbits(sat).tobytes()}


def _cuckoo_row_to_shard(p: CuckooParams, table_bytes: bytes, sat_bytes: bytes):
    table = (
        np.frombuffer(table_bytes, dtype=np.uint16)
        .reshape(p.buckets_per_shard, p.slots)
        .copy()
    )
    sat = np.unpackbits(np.frombuffer(sat_bytes, dtype=np.uint8)).astype(bool)[
        : p.buckets_per_shard
    ]
    return table, sat


def _one_shard(p: CuckooParams, shard_rows: pd.DataFrame) -> ShardedCuckoo:
    """The cogrouped side's single (shard, table, sat) row as a filter."""
    sid = int(shard_rows["shard"].iloc[0])
    table, sat = _cuckoo_row_to_shard(p, shard_rows["table"].iloc[0], shard_rows["sat"].iloc[0])
    return ShardedCuckoo(p, {sid: (table, sat)})


_CUCKOO_SHARD_SCHEMA = "shard int, table binary, sat binary"


def build_cuckoo_shards(df: DataFrame, params: CuckooParams, key_col: str = "url_key") -> DataFrame:
    """Fully distributed build: rows are routed to their shard by
    ``h1 mod n_shards`` into ``n_shards`` partitions, not the session's
    shuffle partitions, so a task sorts a few shards' rows rather than
    ``n_shards / spark.sql.shuffle.partitions`` of them (8 of 32 at local[4]
    ran out of execution memory at 32M keys); each shard's bucket table +
    saturation bits are built in ONE Arrow-batched group. Returns the
    (shard, table, sat) DataFrame WITHOUT collecting — the filter never
    transits the driver; write it as parquet or probe it cogrouped.
    Shuffle volume = 16 bytes/key. The vectorized 2-choice placement is a
    pure function of each shard's key SET (lexsort order), so the result is
    bit-identical to the collected build."""
    p = params

    def per_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        built = ShardedCuckoo.build(
            pdf["h1"].to_numpy(np.int64), pdf["h2"].to_numpy(np.int64), p
        )
        table, sat = built.shards[key[0]]
        return pd.DataFrame([_cuckoo_shard_to_row(key[0], table, sat)])

    return (
        _cuckoo_routed(df, p, key_col)
        .repartition(p.n_shards, "shard")
        .groupBy("shard")
        .applyInPandas(per_shard, schema=_CUCKOO_SHARD_SCHEMA)
    )


def probe_cuckoo_cogrouped(
    df: DataFrame,
    shards: DataFrame,
    params: CuckooParams,
    key_col: str = "url_key",
    out_col: str = "maybe_seen",
) -> DataFrame:
    """The 10^10-key probe: candidates are routed to their shard by
    ``h1 mod n_shards`` (an evenly-distributed hash — no skew) and
    cogrouped with that shard's (table, sat) row, so each task holds
    exactly ONE shard table and nothing is broadcast. Candidate columns
    pass through; a shard with no table row probes definitely-fresh. Same
    lookup kernel as ``contains_vec``."""
    p = params
    hashed = _cuckoo_routed(df, p, key_col, *df.columns)
    out_schema = hashed.drop("h1", "h2").schema.add(out_col, "boolean")

    def probe(cands: pd.DataFrame, shard_rows: pd.DataFrame) -> pd.DataFrame:
        if cands.empty or shard_rows.empty:
            hit = np.zeros(len(cands), dtype=bool)  # shard absent → definitely fresh
        else:
            hit = _one_shard(p, shard_rows).contains_vec(
                cands["h1"].to_numpy(np.int64), cands["h2"].to_numpy(np.int64)
            )
        return cands.drop(columns=["h1", "h2"]).assign(**{out_col: hit})

    return (
        hashed.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(probe, out_schema)
        .drop("shard")
    )


@dataclass
class CogroupedCuckoo:
    """The partitioned-regime seen filter kept as a DataFrame — never
    driver-held, never broadcast. ``shards`` is the (shard, table, sat)
    table from ``build_cuckoo_shards``, built over the tombstone-filtered
    seen set; it is rebuilt, never updated in place."""
    params: CuckooParams
    shards: DataFrame


# ---------------------------------------------------------------------------
# JVM bloom path (the regime up to SEEN_BLOOM_MAX_KEYS).
#
# Spark's bloom_filter_agg is a declarative aggregate: every task builds a
# partial filter over its partition and the partials OR-merge up the agg
# tree, so the build is as distributed as the sharded cuckoo build. The
# probe (might_contain over a binary literal) is pure JVM — measured: a
# pandas-UDF probe chained after the canonicalize UDF doubled the Python
# worker pool (2 ArrowEvalPython nodes/stage → 2×cores processes) and
# oversubscribed the box, INVERTING 8→32-core scaling. The cogrouped cuckoo
# remains the 10^10-key path where one filter exceeds a single buffer (its
# probe runs in the cogroup's own stage, not chained after canonicalize).
# ---------------------------------------------------------------------------

# DataFrameStatFunctions.bloomFilter runs the runtime-filter aggregate, which
# clamps every filter to these two session confs (4M items, 64 Mbit by
# default): asked for 16M keys at 1% it returned 8,388,624 bytes, not the
# 19,170,136 the sizing needs, and let ~49% of fresh keys through. The
# optimizer's join-side runtime filters read the same caps, so they are
# raised only around the build's own action, never session-wide.
BLOOM_CAP_CONFS = (
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
)


def build_bloom_jvm(df: DataFrame, n_expected: int, fpp: float = 0.01,
                    key_col: str = "url_key") -> bytes:
    """Distributed JVM build over xxhash64(key): ``DataFrameStatFunctions.
    bloomFilter`` aggregates per-partition sketches and merges them (same
    build topology as ``build_cuckoo_shards``), serialized to bytes so it
    rides the physical plan to every task. The filter is sized for
    ``n_expected`` keys at ``fpp`` whatever the session's runtime-filter
    caps; those confs read as before once the build returns."""
    spark = df.sparkSession
    jvm = spark._jvm
    n = max(int(n_expected), 1)
    bits = jvm.org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, float(fpp))
    hashed = df.select(F.xxhash64(F.col(key_col)).alias("h"))
    prev = {k: spark.conf.get(k, None) for k in BLOOM_CAP_CONFS}
    for k, v in zip(BLOOM_CAP_CONFS, (n, bits)):
        spark.conf.set(k, str(v))
    try:
        jbf = hashed._jdf.stat().bloomFilter("h", n, fpp)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    bos = jvm.java.io.ByteArrayOutputStream()
    jbf.writeTo(bos)
    return bytes(bos.toByteArray())


def probe_bloom_jvm(df: DataFrame, bloom_bytes: bytes, key_col: str = "url_key",
                    out_col: str = "maybe_seen") -> DataFrame:
    """Membership test fully inside the JVM (BloomFilterMightContain — the
    expression Spark's own runtime-filter rewrite uses; public Spark source,
    sql/catalyst). No Python worker in the probe.

    Requires classic (non-Connect) PySpark 4.x: bridges through
    ``org.apache.spark.sql.classic.ExpressionUtils``, which is version-locked
    internals. A bridge failure raises: ``dedup_against_seen`` does not
    fall back, since on a supported deployment it is a bug."""
    from pyspark.sql.column import Column as PyCol

    jvm = df.sparkSession._jvm
    eu = jvm.org.apache.spark.sql.classic.ExpressionUtils
    lit_expr = eu.expression(F.lit(bytearray(bloom_bytes))._jc)
    key_expr = eu.expression(F.xxhash64(F.col(key_col))._jc)
    mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        lit_expr, key_expr
    )
    return df.withColumn(out_col, PyCol(eu.column(mc)))


# The seen-set filter's regime follows the seen set's size: the JVM Bloom,
# carried as a plan literal, up to SEEN_BLOOM_MAX_KEYS; the cogrouped cuckoo,
# whose shard tables stay executor-side, past it. At BLOOM_FPP the largest
# Bloom is ~38.3 MB. BENCH.md "Seen-filter regime sweep": the Bloom's build +
# probe CPU was below the cuckoo's at every point from 1M to 32M seen keys
# (233 vs 297 CPU-s at 32M on local[4]), so the constant is the largest size
# measured; past it the crossover is unmeasured.
SEEN_BLOOM_MAX_KEYS = 32_000_000
BLOOM_FPP = 0.01
# The cuckoo keeps a shard near 2^20 keys (at least FILTER_SHARDS shards),
# so a build task's sort stays a few million rows however large the seen set.
FILTER_SHARDS = 32
CUCKOO_SHARD_KEYS = 1 << 20


def seen_cuckoo_params(n_expected: int) -> CuckooParams:
    """The seen filter's cuckoo shape for ``n_expected`` keys."""
    return CuckooParams.size(n_expected, max(FILTER_SHARDS, -(-n_expected // CUCKOO_SHARD_KEYS)))


def build_seen_filter(seen: DataFrame, n_expected: int,
                      key_col: str = "url_key") -> "bytes | CogroupedCuckoo":
    """The filter over ``seen`` for ``n_expected`` keys, in the form
    ``dedup_against_seen`` probes: the JVM Bloom up to
    ``SEEN_BLOOM_MAX_KEYS`` keys, the cogrouped cuckoo above."""
    if n_expected <= SEEN_BLOOM_MAX_KEYS:
        return build_bloom_jvm(seen, n_expected, BLOOM_FPP, key_col)
    params = seen_cuckoo_params(n_expected)
    return CogroupedCuckoo(params, build_cuckoo_shards(seen, params, key_col))


def dedup_against_seen(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    bloom: "CogroupedCuckoo | bytes | None",
    key_col: str = "url_key",
    observation=None,
    cache_registry: "list[DataFrame] | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact URL-seen dedup with Bloom prefilter.

    Returns (fresh, maybe). ``fresh`` = candidates whose key is NOT in seen;
    ``maybe`` = the filter-positive candidates (empty without a filter). Bloom negatives skip the join entirely (the common case in a
    growing crawl); Bloom positives are verified with a left_anti join so
    false positives cannot drop URLs — exact semantics of the reference's
    ``fst.getID(url) != -1`` gate (ExtractLinksWac.java:159,177).

    ``bloom``: JVM Bloom bytes (``build_bloom_jvm``), a ``CogroupedCuckoo``,
    or None for the plain anti-join — ``build_seen_filter`` makes either
    filter. ``spark`` is unused; it stays so positional callers keep working.
    A JVM-bridge failure in ``probe_bloom_jvm`` propagates.

    ``observation``: optional pyspark.sql.Observation; when given, a
    ``bloom_hits`` metric (count of Bloom-positive rows) is attached to the
    probe pass so callers get the counter for free on their next action
    instead of paying a separate ``.count()`` job. Attached on EVERY path
    (0 when there is no bloom) so ``observation.get`` never blocks.
    ``cache_registry``: optional list the probe-pass cache is appended to,
    so the caller can unpersist exactly this round's intermediates (never
    ``spark.catalog.clearCache()``, which would drop caller-owned caches).
    """

    if bloom is None:
        observed = candidates
        if observation is not None:
            # null-safe: max() over ZERO rows is NULL, and a late-crawl round
            # can legitimately produce zero candidates — coalesce so
            # Observation.get yields 0, not None (callers int() the value)
            observed = candidates.observe(
                observation, F.coalesce(F.max(F.lit(0)), F.lit(0)).alias("bloom_hits")
            )
        return (
            observed.join(seen.select(key_col), key_col, "left_anti"),
            candidates.limit(0),
        )

    if isinstance(bloom, CogroupedCuckoo):
        probed = probe_cuckoo_cogrouped(candidates, bloom.shards, bloom.params, key_col)
    else:
        probed = probe_bloom_jvm(candidates, bloom, key_col)

    # Materialize the probe ONCE: both output branches consume it, and an
    # uncached plan would re-run the whole canonicalize+probe lineage (all
    # Arrow UDF passes) per branch.
    if observation is not None:
        probed = probed.observe(
            observation,
            F.coalesce(
                F.sum(F.col("maybe_seen").cast("long")), F.lit(0)
            ).alias("bloom_hits"),
        )
    probed = probed.cache()
    if cache_registry is not None:
        cache_registry.append(probed)
    definitely_fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified_fresh = maybe.join(seen.select(key_col), key_col, "left_anti")
    return definitely_fresh.unionByName(verified_fresh), maybe
