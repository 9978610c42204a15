"""Politeness scheduler: budget enforcement, determinism, salt invariance."""

import pytest
from pyspark.sql import functions as F

from warcbase_spark.operators.scheduler import schedule_round, schedule_round_combined


def _mk_candidates(spark, n=500, hosts=5):
    return spark.range(n).select(
        F.concat(F.lit("org.h"), (F.col("id") % hosts), F.lit("/p/"), "id").alias("url_key"),
        F.concat(F.lit("http://h"), (F.col("id") % hosts), F.lit(".org/p/"), "id").alias("url"),
        F.concat(F.lit("h"), (F.col("id") % hosts), F.lit(".org")).alias("host"),
        F.xxhash64(F.concat(F.lit("k"), "id")).alias("url_hash"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.lit(0).alias("discovered_round"),
    )


def _mk_politeness(spark):
    return spark.createDataFrame(
        [("h0.org", 7), ("*", 3)], "host string, budget int"
    )


def test_budget_respected(spark):
    cand = _mk_candidates(spark)
    sched, spilled = schedule_round(cand, _mk_politeness(spark))
    per_host = {r["host"]: r["n"] for r in sched.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert per_host["h0.org"] <= 7
    for h, n in per_host.items():
        if h != "h0.org":
            assert n <= 3
    assert sched.count() + spilled.count() == cand.count()
    # spilled priorities aged by +1
    assert spilled.filter(F.col("priority") < 1).count() == 0


def test_deterministic_and_salt_invariant(spark):
    """Two-stage salted ranking must give the identical schedule as any
    other salt factor (the SURVEY §7.3 correctness trap)."""
    cand = _mk_candidates(spark, n=700, hosts=3)  # hot hosts
    pol = _mk_politeness(spark)
    a = [(r["seq"], r["url_key"]) for r in schedule_round(cand, pol, salt_k=1)[0].collect()]
    b = [(r["seq"], r["url_key"]) for r in schedule_round(cand, pol, salt_k=16)[0].collect()]
    c = [(r["seq"], r["url_key"]) for r in schedule_round(cand, pol, salt_k=64)[0].collect()]
    assert sorted(a) == sorted(b) == sorted(c)


def test_ordering_semantics(spark):
    """Within a host: (priority desc, url_key asc); seq follows the same
    global order (UrlMappingBuilder.java:72 sort parity)."""
    cand = _mk_candidates(spark, n=100, hosts=2)
    sched, _ = schedule_round(cand, _mk_politeness(spark))
    rows = sorted((r["seq"], r["priority"], r["url_key"]) for r in sched.collect())
    for (s1, p1, k1), (s2, p2, k2) in zip(rows, rows[1:]):
        assert (-p1, k1) < (-p2, k2)


def test_broadcast_gate_fallback_parity(spark):
    """Past broadcast_row_limit the winner join must degrade to a shuffle
    join (an unconditional Σ-budgets broadcast OOMs at 10^10-frontier
    rounds) with IDENTICAL output, and the physical plan must actually lose
    its broadcast exchange on the candidate⋈winners join."""
    cand = _mk_candidates(spark, 400, hosts=4)
    pol = spark.createDataFrame([("*", 50)], "host string, budget int")

    sched_b, spill_b = schedule_round(cand, pol)  # default: broadcast
    # Σ budgets = 200 winners > limit of 10 → shuffle-join fallback
    sched_s, spill_s = schedule_round(cand, pol, broadcast_row_limit=10)

    key = lambda rows: sorted((r["seq"], r["url_key"]) for r in rows)  # noqa: E731
    assert key(sched_b.collect()) == key(sched_s.collect())
    assert sorted(r["url_key"] for r in spill_b.collect()) == sorted(
        r["url_key"] for r in spill_s.collect()
    )

    plan_s = sched_s._jdf.queryExecution().executedPlan().toString()
    # the politeness-budget broadcast remains; the WINNER join must not be
    # broadcast — with a left join from a 6-col candidate side onto the
    # (url_key, seq) winner set, a surviving BroadcastHashJoin on url_key
    # would show seq on the broadcast side
    import re

    for m in re.finditer(r"BroadcastHashJoin \[url_key\S*", plan_s):
        raise AssertionError(f"winner join still broadcast: {m.group(0)}")


def test_broadcast_gate_shape_aware_high_ratio(spark):
    """r06 shape-aware gate: past broadcast_row_limit, a HIGH winner/
    candidate ratio (≥ BROADCAST_WINNER_RATIO) over CACHED candidates flips
    the winner join back to broadcast (the shuffle path re-shuffles nearly
    everything anyway — measured 2.3s vs 3.0-8.0s at 508k/700k), while a
    low ratio or an un-cached input keeps the shuffle fallback. Outputs
    must be identical either way (parity is pinned by
    test_broadcast_gate_fallback_parity)."""
    import re

    pol_all = spark.createDataFrame([("*", 50)], "host string, budget int")

    # cached + ratio 200/400 = 0.5 ≥ gate → broadcast despite limit=10
    cand = _mk_candidates(spark, 400, hosts=4).cache()
    cand.count()
    sched_hi, _ = schedule_round(cand, pol_all, broadcast_row_limit=10)
    plan_hi = sched_hi._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[url_key", plan_hi), "high-ratio winner join not broadcast"

    # cached + ratio 40/400 = 0.1 < gate → stays shuffle
    pol_low = spark.createDataFrame([("*", 10)], "host string, budget int")
    sched_lo, _ = schedule_round(cand, pol_low, broadcast_row_limit=10)
    plan_lo = sched_lo._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"BroadcastHashJoin \[url_key\S*", plan_lo):
        raise AssertionError(f"low-ratio winner join still broadcast: {m.group(0)}")
    cand.unpersist()


def test_ratio_gate_starts_no_job(spark):
    """The shape-aware gate reads its candidate count from an Observation
    that arrives with the winner cache's bounds sample: past the row limit
    over cached candidates, scheduling starts no more jobs than under it,
    and the winner join is still the broadcast the ratio picks."""
    import re

    pol = spark.createDataFrame([("*", 50)], "host string, budget int")
    cand = _mk_candidates(spark, 400, hosts=4).cache()
    cand.count()
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(limit):
        reg: list = []
        before = dag.nextJobId()
        out = schedule_round_combined(cand, pol, cache_registry=reg, broadcast_row_limit=limit)
        spent = dag.nextJobId() - before
        plan = out._jdf.queryExecution().executedPlan().toString()
        for df in reg:
            df.unpersist()
        return spent, plan

    under, _ = jobs(10_000)  # 200 winners: no gate
    past, plan = jobs(10)  # 200/400 ≥ ratio: the gate picks broadcast
    cand.unpersist()
    assert past == under, (past, under)
    assert re.search(r"BroadcastHashJoin \[url_key", plan), plan


def test_newline_urls_through_politeness_and_robots(spark):
    """'\\n'-bearing raw URLs (r2 canonicalizer fix) must keep flowing
    through the HOST-keyed joins: politeness budgets and robots rules match
    the cleaned host, and robots still drops the disallowed path/robots.txt
    even when the raw URL carried a trailing newline."""
    from warcbase_spark.frontier.crawl import canonicalize_candidates
    from warcbase_spark.frontier.robots import apply_robots

    raw = spark.createDataFrame(
        [
            ("http://h0.org/keep\n",),
            ("http://h0.org/private/x\n",),  # disallowed prefix
            ("http://h0.org/robots.txt\n",),
            ("http://h1.org/also\nkeep",),  # embedded newline
        ],
        "url string",
    )
    cand = canonicalize_candidates(raw).withColumn("priority", F.lit(0))
    robots = spark.createDataFrame(
        [("h0.org", "/private")], "host string, path_prefix string"
    )
    kept = apply_robots(cand, robots)
    keys = sorted(r["url_key"] for r in kept.collect())
    assert keys == ["org.h0/keep", "org.h1/alsokeep"]

    pol = spark.createDataFrame([("h0.org", 5), ("*", 1)], "host string, budget int")
    sched, _ = schedule_round(kept, pol)
    hosts = {r["host"] for r in sched.collect()}
    assert hosts == {"h0.org", "h1.org"}  # both hosts matched their budget row


def _budgets(spark, rows):
    from warcbase_spark.operators.scheduler import with_budgets

    cand = spark.createDataFrame([("h0.org",), ("h1.org",)], "host string")
    pol = spark.createDataFrame(rows, "host string, budget int")
    return {r["host"]: r["budget"] for r in with_budgets(cand, pol).collect()}


def test_with_budgets_default_rows(spark):
    """The '*' row is the default, 1 when there is none; null hosts never
    match a candidate (the same rows the `host != '*'` filter used to keep)."""
    assert _budgets(spark, [("*", 4)]) == {"h0.org": 4, "h1.org": 4}
    assert _budgets(spark, [("h0.org", 7)]) == {"h0.org": 7, "h1.org": 1}
    assert _budgets(spark, [("h0.org", 7), (None, 9), ("*", 2)]) == {"h0.org": 7, "h1.org": 2}
    assert _budgets(spark, []) == {"h0.org": 1, "h1.org": 1}
    assert _budgets(spark, [(None, 9), (None, 8), ("*", 2)]) == {"h0.org": 2, "h1.org": 2}
    # a duplicate row would rank a URL once per row, its budget left to
    # row order: rejected, naming the host
    with pytest.raises(ValueError, match="'h0.org'"):
        _budgets(spark, [("h0.org", 7), ("h1.org", 3), ("h0.org", 5)])
    with pytest.raises(ValueError, match=r"'\*'"):
        _budgets(spark, [("*", 2), ("h0.org", 7), ("*", 4)])


def test_winner_set_cached_once_and_released(spark):
    """The winner set is cached once, by add_global_seq, whose bounds
    sample, totals collect and stamp all read that copy; the registry
    releases it. Over uncached candidates the output plan holds that one
    cache, and unpersisting the registry leaves no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    reg: list = []
    out = schedule_round_combined(
        _mk_candidates(spark), _mk_politeness(spark), cache_registry=reg
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("InMemoryRelation") == 1, plan
    assert len(reg) == 1
    out.write.mode("overwrite").format("noop").save()
    for df in reg:
        df.unpersist()
    assert jsc.getPersistentRDDs().size() <= before


def _stamps(spark, case, reg):
    """One global-order stamp per caller of add_global_seq, over inputs
    that are not cached themselves."""
    from warcbase_spark.operators.pipeline import global_shuffle, pack_sequences

    if case == "schedule":
        out = schedule_round_combined(
            _mk_candidates(spark, 700, hosts=3), _mk_politeness(spark), cache_registry=reg
        )
        return out.select("url_key", "seq")
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("tok"), (F.col("id") % 9 + 1).cast("int")))
        .alias("text"),
    )
    if case == "pack":
        return pack_sequences(docs, ctx_len=16, cache_registry=reg)
    return global_shuffle(docs, cache_registry=reg)


@pytest.mark.parametrize("case", ["schedule", "pack", "shuffle"])
def test_stamps_survive_cache_eviction(spark, case):
    """The bucket bounds and offsets are plan literals, so a cached input
    evicted before the final action is recomputed into the same stamps:
    no checkpoint has to pin it."""
    reg: list = []
    ref = sorted(map(tuple, _stamps(spark, case, reg).collect()))
    for df in reg:
        df.unpersist()
    reg = []
    out = _stamps(spark, case, reg)  # bounds and totals collected from the cache
    assert reg
    for df in reg:
        df.unpersist(blocking=True)  # evicted before the stamp runs
    assert sorted(map(tuple, out.collect())) == ref


def test_politeness_read_once(spark, tmp_path):
    """A parquet politeness table is scanned by the budget collect alone:
    the broadcast side of the budget join is a local relation, so no other
    job of the round reads the path again. The candidates come from
    spark.range, so every parquet scan is politeness."""
    path = str(tmp_path / "politeness.parquet")
    _mk_politeness(spark).write.parquet(path)
    pol = spark.read.parquet(path)
    cand = _mk_candidates(spark)
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_plans():
        execs = store.executionsList()
        return {
            execs.apply(i).executionId(): execs.apply(i).physicalPlanDescription()
            for i in range(execs.size())
        }

    before = execution_plans()
    out = schedule_round_combined(cand, pol)
    out.write.mode("overwrite").format("noop").save()
    scans = [
        eid for eid, plan in execution_plans().items()
        if eid not in before and "Scan parquet" in plan
    ]
    assert len(scans) == 1, scans  # the budget collect, once per call
