"""Crawl-ordering + URL-seen parity vs the pure-Python reference simulator,
and exact resume-from-checkpoint (SURVEY §5 tiers 4-5)."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from warcbase_spark.frontier.crawl import FrontierCrawl
from warcbase_spark.frontier.simulator import simulate
from warcbase_spark.operators import seen as seen_mod

STATE = "/tmp/warcbase_spark_testfix/crawlstate"
STATE_RESUME = "/tmp/warcbase_spark_testfix/crawlstate_resume"


@pytest.fixture(scope="module")
def sim(corpus):
    return simulate(corpus, max_rounds=50)


@pytest.fixture(scope="module")
def crawl_run(spark, corpus_dir):
    """The full crawl and the RoundMetrics its run() returned."""
    shutil.rmtree(STATE, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, STATE, max_rounds=50)
    return fc, fc.run()


@pytest.fixture(scope="module")
def crawl(crawl_run):
    return crawl_run[0]


def test_schedule_parity(crawl, sim):
    got = sorted(
        (r["round"], r["seq"], r["url_key"], r["host"], r["priority"])
        for r in crawl.schedule().collect()
    )
    assert got == sorted(sim.schedule)


def test_url_seen_parity(crawl, sim):
    got = {r["url_key"]: r["first_round"] for r in crawl.url_seen().collect()}
    assert got == sim.seen


def test_metrics_parity(crawl, sim):
    keys = ["scheduled", "spilled", "records", "html_pages", "links",
            "dedup_hits", "robots_blocked", "invalid_urls"]
    got = {
        r["round"]: {k: r[k] for k in keys}
        for r in crawl.metrics().collect()
    }
    exp = {m["round"]: {k: m[k] for k in keys} for m in sim.metrics}
    assert got == exp


def test_metrics_file_matches_spark_write(spark, crawl_run):
    """The driver-side metrics write yields, for every round, exactly the
    rows and schema the Spark write of ``createDataFrame([vars(m)])``
    produced."""
    fc, metrics = crawl_run
    ref = spark.createDataFrame([vars(m) for m in metrics])
    got = fc.metrics()
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())


def test_uncommitted_metrics_hidden_and_replaced(spark, corpus_dir, crawl_run):
    """A crash after round 1's metrics write but before its manifest swap:
    the file is on disk, yet metrics() shows only committed rounds, and the
    resumed round replaces the directory whole — a stale file left in it
    does not survive."""
    _, ref = crawl_run
    state = "/tmp/warcbase_spark_testfix/crawlstate_metrics_crash"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run(max_rounds=1)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the manifest swap")

    fc._commit = crash
    with pytest.raises(RuntimeError, match="manifest swap"):
        fc.run_round(1)
    mdir = fc._p("metrics", 1)
    assert os.listdir(mdir)  # written, not committed
    assert [r["round"] for r in fc.metrics().collect()] == [0]
    stale = pa.table({k: pa.array([-1], pa.int64()) for k in sorted(vars(ref[1]))})
    pq.write_table(stale, f"{mdir}/part-stale.parquet")

    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run(max_rounds=2)
    got = sorted(fc.metrics().collect())
    assert got == sorted(spark.createDataFrame([vars(m) for m in ref[:2]]).collect())


def test_int64_seed_priority_parity(spark, corpus, corpus_dir):
    """The frontier's priority takes the seeds' type: a corpus whose seeds
    carry int64 priorities crawls (rounds after the first read the frontier
    with the schema held from the first) and matches the simulator."""
    src = corpus_dir
    dst = "/tmp/warcbase_spark_testfix/web500_int64_priority"
    state = "/tmp/warcbase_spark_testfix/crawlstate_int64_priority"
    for d in (dst, state):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(src, dst)
    seeds = pq.read_table(f"{src}/seeds.parquet")
    seeds = seeds.set_column(1, "priority", seeds.column("priority").cast(pa.int64()))
    pq.write_table(seeds, f"{dst}/seeds.parquet")

    rounds = 3
    fc = FrontierCrawl(spark, dst, state, max_rounds=rounds)
    fc.run()
    sim = simulate(corpus, max_rounds=rounds)
    sched = fc.schedule()
    assert dict(sched.dtypes)["priority"] == "bigint"
    got = sorted(
        (r["round"], r["seq"], r["url_key"], r["host"], r["priority"])
        for r in sched.collect()
    )
    assert got == sorted(sim.schedule)
    assert {r["url_key"]: r["first_round"] for r in fc.url_seen().collect()} == sim.seen
    keys = ["scheduled", "spilled", "records", "html_pages", "links",
            "dedup_hits", "robots_blocked", "invalid_urls"]
    assert [
        {k: r[k] for k in keys} for r in fc.metrics().orderBy("round").collect()
    ] == [{k: m[k] for k in keys} for m in sim.metrics]


def test_resume_exactness(spark, corpus_dir, crawl, sim):
    """Kill after round 2, resume, final state identical (byte-identical
    seen set + schedule) — north rule's checkpoint requirement."""
    shutil.rmtree(STATE_RESUME, ignore_errors=True)
    fc1 = FrontierCrawl(spark, corpus_dir, STATE_RESUME, max_rounds=50)
    fc1.bootstrap()
    for r in range(3):
        fc1.run_round(r)  # simulated crash after round 2
    # fresh object = fresh process; the round's Bloom is built from committed state
    fc2 = FrontierCrawl(spark, corpus_dir, STATE_RESUME, max_rounds=50)
    fc2.run()
    got_sched = sorted(
        (r["round"], r["seq"], r["url_key"]) for r in fc2.schedule().collect()
    )
    ref_sched = sorted(
        (r["round"], r["seq"], r["url_key"]) for r in crawl.schedule().collect()
    )
    assert got_sched == ref_sched
    got_seen = {r["url_key"]: r["first_round"] for r in fc2.url_seen().collect()}
    assert got_seen == sim.seen


def test_undersized_bloom_crawl_parity(spark, corpus_dir, crawl, monkeypatch):
    """The round's Bloom only prunes the seen scan — the exact anti-join
    decides — so a crawl whose Bloom is sized for one key (nearly every
    seen row passes it) is bit-identical to the default crawl, including
    across a crash after round 1 and a resume in a fresh object."""
    monkeypatch.setattr(seen_mod, "bloom_size", lambda n_small, n_seen: (1, 8))
    state = "/tmp/warcbase_spark_testfix/crawlstate_undersized"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run(max_rounds=2)  # simulated crash after round 1
    assert fc.load_manifest()["last_committed_round"] == 1
    del fc
    # fresh object = fresh process; the Bloom is rebuilt from committed state
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run()
    got = sorted(
        (r["round"], r["seq"], r["url_key"]) for r in fc.schedule().collect()
    )
    ref = sorted(
        (r["round"], r["seq"], r["url_key"]) for r in crawl.schedule().collect()
    )
    assert got == ref
    got_seen = {r["url_key"]: r["first_round"] for r in fc.url_seen().collect()}
    ref_seen = {r["url_key"]: r["first_round"] for r in crawl.url_seen().collect()}
    assert got_seen == ref_seen

    def hits(c):
        return sum(r["bloom_hits"] for r in c.metrics().collect())

    assert hits(fc) > hits(crawl)  # the overfull Bloom let non-matches through


def test_bloom_hits_count_pruned_seen_rows(crawl):
    """``bloom_hits`` counts the seen rows that pass the round's Bloom:
    every seen key a candidate matches (``dedup_hits``), plus the few false
    positives."""
    for r in crawl.metrics().collect():
        assert r["dedup_hits"] <= r["bloom_hits"] <= r["dedup_hits"] + max(10, r["links"] // 10), r


def test_bootstrap_counts_by_observation(spark, corpus_dir):
    """Bootstrap counts the frontier it writes with an observation on the
    write, not a count() that re-runs the seeds read, the canonicalizer,
    the robots join and the merge."""
    state = "/tmp/warcbase_spark_testfix/crawlstate_bootstrap"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=1)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    fc.bootstrap()
    # measured 4 at local[8]: the seeds' schema read, the write and its two
    # broadcasts; the count() of the frontier it wrote added one more
    assert dag.nextJobId() - before <= 4
    n = spark.read.parquet(fc._p("frontier", 0)).count()
    assert n > 0 and fc.load_manifest()["next_frontier_rows"] == n


@pytest.fixture(scope="module")
def steady_round(spark, corpus_dir):
    """(Spark jobs, whole-stage-codegen compiles) of one steady-state round:
    round 1, after round 0 has derived docs_keyed, inferred the frontier
    schema and generated the round's classes."""
    state = "/tmp/warcbase_spark_testfix/crawlstate_jobs"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=3)
    fc.bootstrap()
    fc.run_round(0)
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def counts() -> tuple[int, int]:
        return dag.nextJobId(), compiles.METRIC_COMPILATION_TIME().getCount()

    before = counts()
    fc.run_round(1)
    return tuple(b - a for a, b in zip(before, counts()))


def test_round_job_budget(steady_round):
    """The observe()-metrics rework (VERDICT r1 #7): a round runs a fixed
    handful of Spark jobs, never the ~10 extra count() actions the round-1
    design paid. Job ids come from DAGScheduler's counter."""
    spent, _ = steady_round
    # measured 11 at local[8] (AQE is off inside rounds, so no stage
    # sub-jobs): the scheduler's 3 eager jobs (politeness broadcast, bounds
    # sample, seq totals), the schedule write and its winner broadcast,
    # the seen write, and the frontier write with its Bloom subquery and
    # 3 broadcasts. A footer-inference read or a Spark metrics write per
    # round would trip this bound.
    assert spent <= 16, f"round used {spent} jobs — observe() metrics regressed?"


def test_steady_round_reuses_codegen(steady_round):
    """A steady-state round reuses the whole-stage-codegen classes of the
    round before: only the few that inline the round number are compiled.
    With Spark's default 100-entry codegen cache a round (~150 classes)
    evicts its own classes and recompiles them all, every round."""
    _, compiled = steady_round
    assert compiled <= 10, f"round compiled {compiled} codegen classes"


def test_scheduler_and_rounds_leave_no_persisted_rdd(spark, corpus_dir):
    """Repeated scheduler calls and crawl rounds in one long-lived session
    leave no cached block behind: 4 ``schedule_round_combined`` calls, each
    followed by unpersisting its registry, then a 4-round crawl, end with
    no more persisted RDDs than they started with (a persisted
    intermediate the registry cannot reach would add one per call)."""
    from pyspark.sql import functions as F

    from warcbase_spark.operators.scheduler import schedule_round_combined

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    cand = spark.range(2000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("url_key"),
        F.concat(F.lit("h"), (F.col("id") % 20).cast("string")).alias("host"),
        (F.col("id") % 3).cast("int").alias("priority"),
    )
    pol = spark.createDataFrame([("*", 5)], "host string, budget int")
    for _ in range(4):
        reg: list = []
        schedule_round_combined(cand, pol, cache_registry=reg).write.mode(
            "overwrite"
        ).format("noop").save()
        for df in reg:
            df.unpersist()
    state = "/tmp/warcbase_spark_testfix/crawlstate_leak"
    shutil.rmtree(state, ignore_errors=True)
    assert len(FrontierCrawl(spark, corpus_dir, state, max_rounds=4).run()) == 4
    # ≤, not ==: the ContextCleaner may release an earlier test's RDD meanwhile
    assert jsc.getPersistentRDDs().size() <= before


def test_seen_compaction_transparent(crawl):
    """Compaction must be invisible to readers: seen-from-base+deltas equals
    the union of ALL deltas, and the manifest names a real base snapshot."""
    import os

    m = crawl.load_manifest()
    assert m["seen_base_round"] >= 0
    assert os.path.exists(f"{crawl.state_dir}/seen_base/round={m['seen_base_round']:05d}")
    last = m["last_committed_round"]
    via_base = {(r["url_key"], r["first_round"]) for r in crawl._seen(last).collect()}
    all_deltas = crawl.spark.read.parquet(
        *[crawl._p("seen", r) for r in range(last + 1) if os.path.exists(crawl._p("seen", r))]
    )
    via_deltas = {(r["url_key"], r["first_round"]) for r in all_deltas.collect()}
    assert via_base == via_deltas


def test_legacy_manifest_seen_rows_reseed(spark, corpus_dir):
    """A manifest without the seen_rows counter (every commit writes it)
    is rejected with an error naming the key — resuming from a guessed
    total would missize every later filter build (ADVICE r2)."""
    import json
    import os

    state = "/tmp/warcbase_spark_testfix/crawlstate_legacy"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run(max_rounds=2)  # rounds 0..1 with the counter present

    mpath = os.path.join(state, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["seen_rows"]  # simulate a pre-counter manifest
    with open(mpath, "w") as f:
        json.dump(m, f)

    with pytest.raises(ValueError, match="seen_rows"):
        fc.run(max_rounds=3)  # round 2 would resume from the legacy manifest
    with open(mpath) as f:
        assert json.load(f) == m  # nothing was committed over it


def test_broadcast_gate_crawl_parity(spark, corpus_dir, crawl, monkeypatch):
    """Gate limits of 0 force the shuffle-join fallbacks on BOTH gated
    joins (winner recovery in the scheduler, scheduled∩docs fetch): the
    whole crawl must be bit-identical to the broadcast-path crawl. The
    limits are read per round, so patching the module constants takes
    effect: every round's winner join plans as a shuffled hash join."""
    import re

    from warcbase_spark.frontier import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "WINNER_BROADCAST_ROW_LIMIT", 0)
    monkeypatch.setattr(crawl_mod, "FETCH_BROADCAST_ROW_LIMIT", 0)
    winner_plans = []
    schedule = crawl_mod.schedule_round_combined

    def spy(*args, **kwargs):
        joined = schedule(*args, **kwargs)
        winner_plans.append(joined._jdf.queryExecution().executedPlan().toString())
        return joined

    monkeypatch.setattr(crawl_mod, "schedule_round_combined", spy)
    state = "/tmp/warcbase_spark_testfix/crawlstate_nobc"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run()
    assert winner_plans
    for plan in winner_plans:
        assert not re.search(r"BroadcastHashJoin \[url_key", plan), plan
        assert re.search(r"ShuffledHashJoin \[url_key", plan), plan
    got = sorted((r["round"], r["seq"], r["url_key"]) for r in fc.schedule().collect())
    ref = sorted((r["round"], r["seq"], r["url_key"]) for r in crawl.schedule().collect())
    assert got == ref
    assert {r["url_key"] for r in fc.url_seen().collect()} == {
        r["url_key"] for r in crawl.url_seen().collect()
    }
