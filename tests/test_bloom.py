"""URL-seen gate: exactness guarantees.

Membership truth-table style mirrors UrlMappingTest.java:57-137
(present→hit, absent→usually miss; never a false negative)."""

import math
import re
from contextlib import contextmanager

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from warcbase_spark.operators import seen as seen_mod
from warcbase_spark.operators.seen import (
    BLOOM_CAP_CONFS,
    _bloom_agg,
    _bloom_capacity,
    anti_join_seen,
    bloom_caps,
    bloom_size,
    build_bloom_jvm,
    dedup_against_seen,
    probe_bloom_jvm,
)


def _jvm(seen):
    return build_bloom_jvm(seen, 400)


def _keys(spark, prefix, *range_args):
    return spark.range(*range_args).select(F.concat(F.lit(prefix), "id").alias("url_key"))


@contextmanager
def _broadcast_threshold(spark, value):
    """``spark.sql.autoBroadcastJoinThreshold`` at ``value`` inside the
    block (unchanged for None), as before once it ends."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


# "cuckoo" names the case without a caller filter: the round's in-plan
# Bloom, the path that took over the seen sets the cogrouped cuckoo served.
# "jvm" runs a caller's Bloom under the session's broadcast threshold (the
# one-pass broadcast anti-join), "jvm_over_threshold" with broadcasts off
# (the probe, its cache and the positives' verify).
@pytest.mark.parametrize(
    "build,threshold",
    [(_jvm, None), (_jvm, "-1"), (lambda seen: None, None)],
    ids=["jvm", "jvm_over_threshold", "cuckoo"],
)
def test_dedup_exact_semantics(spark, build, threshold):
    """Every path is exact: the result equals the plain anti-join (the
    reference's fst.getID != -1 gate, ExtractLinksWac.java:159,177), and
    every candidate column passes through unchanged."""
    cand = spark.range(1000).select(
        F.concat(F.lit("com.test/c/"), "id").alias("url_key"), F.col("id").alias("extra")
    )
    seen = spark.range(0, 1000, 3).select(
        F.concat(F.lit("com.test/c/"), "id").alias("url_key"),
        F.xxhash64(F.concat(F.lit("com.test/c/"), "id")).alias("url_hash"),
        F.lit(0).alias("first_round"),
    )
    reg = []
    expected = cand.join(seen.select("url_key"), "url_key", "left_anti")
    with _broadcast_threshold(spark, threshold):
        fresh, _ = dedup_against_seen(spark, cand, seen, build(seen), cache_registry=reg)
        got = sorted((r["url_key"], r["extra"]) for r in fresh.collect())
    exp = sorted((r["url_key"], r["extra"]) for r in expected.collect())
    for df in reg:
        df.unpersist()
    assert got == exp
    assert fresh.columns == cand.columns


def test_caller_bloom_form_follows_broadcast_threshold(spark):
    """A caller's Bloom is verified by the size rule Spark's planner uses
    for a broadcast side. Under the threshold ``fresh`` is one broadcast
    left-anti pass: no probe cache, no in-plan Bloom subquery, nothing in
    the registry, with ``bloom_hits`` (the candidates the caller's Bloom
    probes positive) observed on that pass. Over it (broadcasts off) the
    probe is cached and the positives go through the in-plan Bloom."""
    cand = _keys(spark, "com.form/f/", 2_000)
    seen = _keys(spark, "com.form/f/", 0, 4_000, 4)
    bloom = build_bloom_jvm(seen, 1_000)
    positives = probe_bloom_jvm(cand, bloom).filter("maybe_seen").count()
    obs, reg = Observation(), []
    fresh, maybe = dedup_against_seen(spark, cand, seen, bloom, observation=obs, cache_registry=reg)
    assert fresh.count() == 1_500
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[url_key#\d+\], \[url_key#\d+\], LeftAnti", plan), plan
    assert "InMemory" not in plan and "Subquery" not in plan, plan
    assert reg == []
    assert obs.get["bloom_hits"] == positives == maybe.count()

    with _broadcast_threshold(spark, "-1"):
        fresh, _ = dedup_against_seen(spark, cand, seen, bloom, cache_registry=reg)
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in plan and "Subquery subquery" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert fresh.count() == 1_500
    assert len(reg) == 1
    for df in reg:
        df.unpersist()


def test_observation_null_safe_on_empty_candidates(spark):
    """A late-crawl round can produce ZERO candidate links; every
    dedup_against_seen path must still deliver a non-None bloom_hits metric
    (max()/sum() over zero rows is NULL without coalesce — ADVICE r2), and
    the empty side's NULL Bloom lets no seen row through."""
    empty = spark.createDataFrame([], "url_key string, url string")
    seen = spark.range(10).select(
        F.concat(F.lit("com.test/s/"), "id").alias("url_key"),
        F.lit(0).alias("url_hash"),
        F.lit(0).alias("first_round"),
    )
    for bloom in (None, _jvm(seen)):
        obs = Observation()
        reg = []
        fresh, _ = dedup_against_seen(spark, empty, seen, bloom, observation=obs, cache_registry=reg)
        assert fresh.count() == 0
        assert obs.get["bloom_hits"] == 0
        for df in reg:
            df.unpersist()


def test_in_plan_bloom_no_false_negatives_and_low_fpp(spark):
    """Every seen row that matches a candidate passes the candidates'
    Bloom (no false negative), and about fpp of the others do: with 5,000
    candidates over 50,000 seen keys the sizing picks fpp = 1%."""
    cand = _keys(spark, "org.example/k/", 0, 10_000, 2)
    seen = _keys(spark, "org.example/k/", 0, 50_000)
    obs = Observation()
    fresh = anti_join_seen(cand, seen, 5_000, 50_000, observation=obs)
    assert fresh.count() == 0
    hits = obs.get["bloom_hits"]
    assert hits >= 5_000  # every match
    assert (hits - 5_000) / 45_000 < 0.02, hits


def test_overfilled_bloom_stays_exact(spark):
    """A Bloom sized for one key over 5,000 (a misestimate, or a clamp by
    the runtime-filter caps) lets almost every seen row through, never
    drops a match: the anti-join stays exact."""
    cand = _keys(spark, "net.over/p/", 5_000)
    seen = _keys(spark, "net.over/p/", 0, 20_000, 3)
    obs = Observation()
    got = {r["url_key"] for r in anti_join_seen(cand, seen, 1, 1, observation=obs).collect()}
    exp = {r["url_key"] for r in cand.join(seen, "url_key", "left_anti").collect()}
    assert got == exp
    assert obs.get["bloom_hits"] > 5_000  # the overfull filter passes non-matches


def test_cogrouped_probe_missing_shard_and_passthrough(spark):
    """Candidates in a part of the key space the seen side does not cover
    (once a cuckoo shard with no table row; here an empty seen side, whose
    Bloom probe scans nothing) all come back, with every column unchanged."""
    cand = spark.range(200).select(
        F.concat(F.lit("com.pass/p/"), "id").alias("url_key"),
        F.col("id").alias("extra"),
        F.lit("x").alias("tag"),
    )
    empty = spark.createDataFrame([], "url_key string")
    got = sorted(tuple(r) for r in anti_join_seen(cand, empty, 200, 0).collect())
    assert got == sorted(tuple(r) for r in cand.collect())
    seen = _keys(spark, "com.pass/p/", 100, 1_000)
    got = sorted(tuple(r) for r in anti_join_seen(cand, seen, 200, 900).collect())
    assert got == sorted(tuple(r) for r in cand.filter("extra < 100").collect())


def test_cuckoo_distributed_build_parity(spark):
    """The distributed build that replaced the cuckoo shard build, the
    subquery's aggregate, writes byte for byte the filter
    ``build_bloom_jvm`` serializes over the same keys at the same size."""
    cand = _keys(spark, "org.cg/d/", 0, 6_000, 2)
    n_items, n_bits = bloom_size(3_000, 30_000)
    assert n_bits == spark._jvm.org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n_items, 0.01)
    in_plan = bytes(cand.select(_bloom_agg(spark, "url_key", n_items, n_bits)).first()[0])
    assert in_plan == build_bloom_jvm(cand, n_items, 0.01)


def test_cuckoo_cogrouped_probe_parity(spark):
    """Probe parity for the filter that replaced the cogrouped cuckoo: the
    seen rows the subquery's Bloom passes are exactly the seen rows the
    serialized filter from ``build_bloom_jvm`` probes positive."""
    cand = _keys(spark, "org.cg/d/", 0, 6_000, 2)
    seen = _keys(spark, "org.cg/d/", 0, 30_000)
    n_items, _ = bloom_size(3_000, 30_000)
    obs = Observation()
    anti_join_seen(cand, seen, 3_000, 30_000, observation=obs).count()
    bytes_bloom = build_bloom_jvm(cand, n_items, 0.01)
    positives = probe_bloom_jvm(seen, bytes_bloom).filter("maybe_seen").count()
    assert obs.get["bloom_hits"] == positives


def test_seen_cuckoo_shards_grow_with_size():
    """The seen filter stays bounded as the seen set grows (the cuckoo did
    it with more shards; the Bloom by following the candidates): over 2M
    candidates the Bloom stays the candidates' size as the seen set grows
    from 1M to 40M keys (the seen-layer sweep's range); past 100× the
    candidates it grows by 1/ln 2 bits a key per doubling of seen, never
    with the seen set's own size."""
    sizes = {bloom_size(2_000_000, s * 1_000_000) for s in (1, 2, 4, 8, 16, 32, 40)}
    assert len(sizes) == 1
    ((n, bits),) = sizes
    assert n == 2_000_000 and bits / n < 9.6
    n, more = bloom_size(2_000_000, 400_000_000)
    n, most = bloom_size(2_000_000, 800_000_000)
    assert abs((most - more) / n - 1 / math.log(2)) < 0.01


def test_seen_filter_regime_follows_size(spark):
    """One regime at every size, the Bloom following the small side, not
    the seen set: fpp is 1% until the seen set passes 100× the candidates,
    then falls so the false positives stay near the candidates' count; a
    caller's serialized Bloom reports the key count it was sized for."""
    assert bloom_size(2_000_000, 8_000_000) == bloom_size(2_000_000, 40_000_000)
    n, bits = bloom_size(2_000_000, 40_000_000)
    assert n == 2_000_000 and 9.5 < bits / n < 9.6  # 1%: 9.585 bits a key
    n, bits = bloom_size(1_000, 10**10)  # fpp 1e-7: ~33.5 bits a key
    assert n == 1_000 and 33 < bits / n < 34
    assert bloom_size(0, 0) == bloom_size(1, 1)
    keys = _keys(spark, "com.test/z/", 10)
    for n in (4_096, 102_000):
        assert abs(_bloom_capacity(build_bloom_jvm(keys, n)) - n) / n < 0.1


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
        with bloom_caps(spark, 100, 1000):  # a cap above the request stays
            assert spark.conf.get(item_cap, None) == "5000000"
    finally:
        spark.conf.unset(item_cap)
