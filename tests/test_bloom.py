"""URL-seen filters: exactness guarantees.

Membership truth-table style mirrors UrlMappingTest.java:57-137
(present→hit, absent→usually miss; never a false negative)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from warcbase_spark.operators import seen as seen_mod
from warcbase_spark.operators.seen import (
    BLOOM_CAP_CONFS,
    CogroupedCuckoo,
    CuckooParams,
    ShardedCuckoo,
    _cuckoo_routed,
    build_bloom_jvm,
    build_cuckoo_shards,
    build_seen_filter,
    dedup_against_seen,
    probe_cuckoo_cogrouped,
    seen_cuckoo_params,
)


def build_cuckoo_collected(df, params: CuckooParams) -> ShardedCuckoo:
    """Single-process reference build: collects every (h1, h2) pair to the
    driver. ``build_cuckoo_shards`` must produce bit-identical shard
    tables."""
    pdf = _cuckoo_routed(df, params, "url_key").toPandas()
    return ShardedCuckoo.build(
        pdf["h1"].to_numpy(np.int64), pdf["h2"].to_numpy(np.int64), params
    )


def _jvm(seen):
    return build_bloom_jvm(seen, 400)


def _cuckoo(seen):
    params = CuckooParams.size(400, n_shards=8)
    return CogroupedCuckoo(params, build_cuckoo_shards(seen, params))


@pytest.mark.parametrize("build", [_jvm, _cuckoo], ids=["jvm", "cuckoo"])
def test_dedup_exact_semantics(spark, build):
    """Every filter is a prefilter only: the result equals the plain
    anti-join exactly (the reference's fst.getID != -1 gate,
    ExtractLinksWac.java:159,177)."""
    cand = spark.range(1000).select(F.concat(F.lit("com.test/c/"), "id").alias("url_key"))
    seen = spark.range(0, 1000, 3).select(
        F.concat(F.lit("com.test/c/"), "id").alias("url_key"),
        F.xxhash64(F.concat(F.lit("com.test/c/"), "id")).alias("url_hash"),
        F.lit(0).alias("first_round"),
    )
    reg = []
    fresh, _ = dedup_against_seen(spark, cand, seen, build(seen), cache_registry=reg)
    expected = cand.join(seen.select("url_key"), "url_key", "left_anti")
    got = sorted(r["url_key"] for r in fresh.collect())
    exp = sorted(r["url_key"] for r in expected.collect())
    for df in reg:
        df.unpersist()
    assert got == exp


def test_cogrouped_probe_missing_shard_and_passthrough(spark):
    """probe_cuckoo_cogrouped (the 10^10-key path: shard tables cogrouped by
    hash route, nothing broadcast): a shard with no table row probes
    definitely-fresh, every other present key probes positive, and extra
    candidate columns pass through unchanged."""
    n = 4000
    present = spark.range(n).select(F.concat(F.lit("org.example/k/"), "id").alias("url_key"))
    params = CuckooParams.size(n, n_shards=8)
    shards = build_cuckoo_shards(present, params).cache()
    try:
        dropped = sorted(r["shard"] for r in shards.select("shard").collect())[0]
        partial = shards.filter(F.col("shard") != dropped)
        # "extra" (the key's id) and "s" (its shard route) must pass through
        cand = spark.range(2 * n).select(
            F.concat(F.lit("org.example/k/"), "id").alias("url_key"),
            F.col("id").alias("extra"),
        ).withColumn("s", F.pmod(F.xxhash64("url_key"), F.lit(params.n_shards)))
        rows = probe_cuckoo_cogrouped(cand, partial, params).collect()
    finally:
        shards.unpersist()
    assert sorted(r["extra"] for r in rows) == list(range(2 * n))
    assert all(r["url_key"] == f"org.example/k/{r['extra']}" for r in rows)
    in_dropped = [r for r in rows if r["s"] == dropped]
    assert in_dropped and not any(r["maybe_seen"] for r in in_dropped)
    kept_present = [r for r in rows if r["s"] != dropped and r["extra"] < n]
    assert kept_present and all(r["maybe_seen"] for r in kept_present)


def test_observation_null_safe_on_empty_candidates(spark):
    """A late-crawl round can produce ZERO candidate links; every
    dedup_against_seen path must still deliver a non-None bloom_hits metric
    (max()/sum() over zero rows is NULL without coalesce — ADVICE r2)."""
    from pyspark.sql import Observation

    empty = spark.createDataFrame([], "url_key string, url string")
    seen = spark.range(10).select(
        F.concat(F.lit("com.test/s/"), "id").alias("url_key"),
        F.lit(0).alias("url_hash"),
        F.lit(0).alias("first_round"),
    )
    for bloom in (None, _jvm(seen), _cuckoo(seen)):
        obs = Observation()
        fresh, _ = dedup_against_seen(spark, empty, seen, bloom, observation=obs)
        assert fresh.count() == 0
        assert int(obs.get["bloom_hits"] or 0) == 0


# ---------------------------------------------------------------------------
# Cuckoo filter (north rule's named Bloom alternative)
# ---------------------------------------------------------------------------

def test_cuckoo_no_false_negatives_and_low_fpp(spark):
    n = 5000
    present = spark.range(n).select(F.concat(F.lit("org.example/k/"), "id").alias("url_key"))
    absent = spark.range(n, 2 * n).select(F.concat(F.lit("org.example/k/"), "id").alias("url_key"))
    p = CuckooParams.size(n, n_shards=8)
    shards = build_cuckoo_shards(present, p).cache()
    try:
        probed_in = probe_cuckoo_cogrouped(present, shards, p)
        assert probed_in.filter(~F.col("maybe_seen")).count() == 0  # zero false negatives

        fp = probe_cuckoo_cogrouped(absent, shards, p).filter(F.col("maybe_seen")).count()
    finally:
        shards.unpersist()
    # 16-bit fingerprints, 2×4 slots → theoretical ~1.2e-4 plus rare
    # saturation; 1% is a very generous bound
    assert fp / n < 0.01, fp


def test_cuckoo_saturation_stays_safe():
    """Overfilled filter: items that fit neither bucket saturate it —
    membership stays 'maybe' (never a false negative)."""
    rng = np.random.RandomState(3)
    n = 4000
    h1 = rng.randint(0, 1 << 60, n).astype(np.int64)
    h2 = rng.randint(0, 1 << 60, n).astype(np.int64)
    # tiny table: 1 shard × 64 buckets × 4 slots = 256 capacity for 4000 keys
    p = CuckooParams(n_shards=1, buckets_per_shard=64)
    c = ShardedCuckoo.build(h1, h2, p)
    assert c.contains_vec(h1, h2).all()  # saturation → still all positive
    sat = c.shards[0][1]
    assert sat.any()


def test_cuckoo_distributed_build_parity(spark):
    """`build_cuckoo_shards` (distributed per-shard applyInPandas) must
    produce BIT-IDENTICAL (table, sat) rows to the single-process reference
    build that collects every (h1, h2) pair — the vectorized placement is a
    pure function of each shard's key set."""
    from warcbase_spark.operators.seen import _cuckoo_row_to_shard

    n = 4000
    keys = spark.range(n).select(F.concat(F.lit("net.par/t/"), "id").alias("url_key"))
    p = CuckooParams.size(n, n_shards=8)
    dist = {
        int(r["shard"]): _cuckoo_row_to_shard(p, r["table"], r["sat"])
        for r in build_cuckoo_shards(keys, p).collect()
    }
    ref = build_cuckoo_collected(keys, p)
    assert set(dist) == set(ref.shards)
    for sid in ref.shards:
        dt, ds = dist[sid]
        rt, rs = ref.shards[sid]
        assert np.array_equal(dt, rt), f"shard {sid} table mismatch"
        assert np.array_equal(ds, rs), f"shard {sid} sat mismatch"


def test_cuckoo_cogrouped_probe_parity(spark):
    """The 10^10-key cuckoo form: DataFrame-resident shard tables probed
    cogrouped, with parity vs the reference's contains_vec — the key set
    and the filter never transit the driver in this path except for the
    final assert collects."""
    from warcbase_spark.operators.seen import with_bloom_hashes

    def hashes(df):
        pdf = with_bloom_hashes(df).select(
            "url_key",
            F.pmod(F.col("h1"), F.lit(1 << 62)).alias("h1"),
            F.pmod(F.col("h2"), F.lit(1 << 62)).alias("h2"),
        ).toPandas()
        return pdf["url_key"], pdf["h1"].to_numpy(np.int64), pdf["h2"].to_numpy(np.int64)

    n = 3000
    keys = spark.range(n).select(F.concat(F.lit("org.cg/d/"), "id").alias("url_key"))
    absent = spark.range(n, 2 * n).select(F.concat(F.lit("org.cg/d/"), "id").alias("url_key"))
    p = CuckooParams.size(n, n_shards=8)
    shards_df = build_cuckoo_shards(keys, p).cache()
    mem = build_cuckoo_collected(keys, p)

    # probe parity (present + absent) vs the in-memory reference lookup
    try:
        for probe_set in (keys, absent):
            cg = {
                r["url_key"]: r["maybe_seen"]
                for r in probe_cuckoo_cogrouped(probe_set, shards_df, p).collect()
            }
            url_keys, h1, h2 = hashes(probe_set)
            assert cg == dict(zip(url_keys, mem.contains_vec(h1, h2).tolist()))
    finally:
        shards_df.unpersist()


def test_jvm_bridge_failure_raises(spark, monkeypatch):
    """A failing JVM Bloom probe is a bug on a supported (classic PySpark
    >= 4.1) deployment: dedup_against_seen must raise, not silently fall
    back to the unfiltered anti-join."""
    def broken(*args, **kwargs):
        raise RuntimeError("JVM bridge unavailable")

    monkeypatch.setattr(seen_mod, "probe_bloom_jvm", broken)
    seen = spark.range(10).select(F.concat(F.lit("com.test/b/"), "id").alias("url_key"))
    with pytest.raises(RuntimeError, match="JVM bridge"):
        dedup_against_seen(spark, seen, seen, _jvm(seen))


def test_cuckoo_params_power_of_two_validation():
    """Hand-built CuckooParams must reject non-power-of-two shapes: the JVM
    shard route pmod(raw_h1, n_shards) only agrees with the numpy route
    mod(pmod(raw_h1, 2^62), n_shards) when n_shards divides 2^62."""
    with pytest.raises(ValueError):
        CuckooParams(n_shards=10, buckets_per_shard=64)
    with pytest.raises(ValueError):
        CuckooParams(n_shards=8, buckets_per_shard=48)
    p = CuckooParams.size(10_000, n_shards=10)  # size() rounds up to 16
    assert p.n_shards == 16


def test_bloom_built_at_requested_size(spark):
    """A 16M-key Bloom at 1% is the size the sizing asks for (optimum
    153,360,934 bits, 19.17 MB), not clamped to the session's runtime-filter
    caps (8,388,624 bytes), and the build leaves those confs as it found
    them: unset ones unset, set ones at their value."""
    keys = spark.range(10).select(F.concat(F.lit("com.test/z/"), "id").alias("url_key"))
    before = {k: spark.conf.get(k, None) for k in BLOOM_CAP_CONFS}
    assert len(build_bloom_jvm(keys, 16_000_000, 0.01)) >= 18_000_000
    assert {k: spark.conf.get(k, None) for k in BLOOM_CAP_CONFS} == before

    item_cap = BLOOM_CAP_CONFS[0]
    spark.conf.set(item_cap, "5000000")
    try:
        build_bloom_jvm(keys, 16_000_000, 0.01)
        assert spark.conf.get(item_cap, None) == "5000000"
    finally:
        spark.conf.unset(item_cap)


def test_seen_filter_regime_follows_size(spark, monkeypatch):
    """``build_seen_filter`` builds the JVM Bloom up to and at
    SEEN_BLOOM_MAX_KEYS expected keys, and the cogrouped cuckoo one key
    above it."""
    monkeypatch.setattr(seen_mod, "SEEN_BLOOM_MAX_KEYS", 100)
    seen = spark.range(50).select(F.concat(F.lit("com.test/r/"), "id").alias("url_key"))
    assert isinstance(build_seen_filter(seen, 100), bytes)
    assert isinstance(build_seen_filter(seen, 101), CogroupedCuckoo)


def test_cuckoo_build_runs_a_partition_per_shard(spark):
    """The sharded build shuffles into n_shards partitions, not the
    session's 8, so a build task sorts the rows of the few shards hashed to
    it rather than n_shards / 8 of them (8 of 32 per task at local[4] ran
    out of execution memory at 32M keys)."""
    p = CuckooParams.size(1000, n_shards=16)
    keys = spark.range(1000).select(F.concat(F.lit("com.test/p/"), "id").alias("url_key"))
    assert build_cuckoo_shards(keys, p).rdd.getNumPartitions() == 16


def test_seen_cuckoo_shards_grow_with_size():
    """The seen filter's cuckoo keeps at least 32 shards and about 2^20
    keys a shard, so its per-task build stays bounded as the seen set
    grows."""
    assert seen_cuckoo_params(33_000_000).n_shards == 32
    assert seen_cuckoo_params(40_000_000).n_shards == 64
    p = seen_cuckoo_params(10**10)
    assert p.n_shards == 16384 and 10**10 / p.n_shards <= 1 << 20
