"""Recrawl-after-TTL: unsee (tombstone deletes over the append-only seen
set) + recrawl (re-seed the frontier) — the deletion semantics the
reference gets implicitly from HBase row deletes. The shared crawl and its
recrawl round run the cogrouped cuckoo seen filter (SEEN_BLOOM_MAX_KEYS
forced to 0), the regime the default-sized parity crawl never reaches; the
tests with their own state run the default Bloom."""

import re
import shutil

import pytest
from pyspark.sql import functions as F

from warcbase_spark.frontier.crawl import FrontierCrawl
from warcbase_spark.operators import seen as seen_mod

STATE = "/tmp/warcbase_spark_testfix/crawlstate_recrawl"


@pytest.fixture(scope="module")
def crawl(spark, corpus_dir):
    shutil.rmtree(STATE, ignore_errors=True)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(seen_mod, "SEEN_BLOOM_MAX_KEYS", 0)
        fc = FrontierCrawl(spark, corpus_dir, STATE, max_rounds=50)
        fc.run()
    return fc


def test_unsee_removes_and_rediscovery_readds(spark, crawl):
    take = [r["url"] for r in crawl.schedule().orderBy("round", "seq").limit(3).collect()]
    n_before = crawl.url_seen().count()
    n_tomb = crawl.unsee(spark.createDataFrame([(u,) for u in take], "url string"))
    assert n_tomb == 3
    after = crawl.url_seen()
    assert after.count() == n_before - 3
    # idempotent: unseeing again changes nothing
    crawl.unsee(spark.createDataFrame([(u,) for u in take], "url string"))
    assert crawl.url_seen().count() == n_before - 3


def test_recrawl_fetches_again_exactly_once(spark, crawl, monkeypatch):
    monkeypatch.setattr(seen_mod, "SEEN_BLOOM_MAX_KEYS", 0)
    target = [r["url"] for r in crawl.schedule().orderBy("round", "seq").limit(2).collect()]
    urls = spark.createDataFrame([(u,) for u in target], "url string")
    last_before = crawl.load_manifest()["last_committed_round"]
    n_seen_before = crawl.url_seen().count()

    crawl.recrawl(urls)
    out = crawl.run()
    assert len(out) >= 1

    # the recrawled keys were scheduled ONCE more (they appear in a round
    # after the original crawl finished)
    sched = crawl.schedule().filter(F.col("round") > last_before)
    got = {r["url"] for r in sched.collect()}
    assert set(target) <= got
    # and are seen again, with a fresh first_round
    seen = crawl.url_seen()
    rows = {
        r["url_key"]: r["first_round"]
        for r in seen.join(
            sched.select("url_key").distinct(), "url_key", "left_semi"
        ).collect()
    }
    assert all(fr > last_before for fr in rows.values())
    # no runaway: total seen size returns to at least its pre-unsee count
    assert seen.count() >= n_seen_before
    # the re-fetch re-extracted links, but everything they point to is
    # still in the (tombstone-filtered) seen set → no second BFS wave
    m = crawl.metrics().filter(F.col("round") > last_before)
    assert m.count() == len(out)


def test_unsee_returns_per_call_count(spark, crawl):
    urls = [r["url"] for r in crawl.schedule().orderBy(F.desc("round"), "seq").limit(2).collect()]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    assert crawl.unsee(df) == 2
    assert crawl.unsee(df) == 2  # per-CALL key count, not the dir total


def test_recrawl_applies_robots(spark, corpus_dir, crawl):
    """recrawl must honor robots like every other frontier entry path —
    a disallowed URL is tombstoned but never re-seeded."""
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet").limit(1).collect()
    if not robots:
        pytest.skip("corpus has no robots rules")
    host, prefix = robots[0]["host"], robots[0]["path_prefix"]
    blocked = f"http://{host}{prefix}/recrawl-me.html"
    last = crawl.load_manifest()["last_committed_round"]
    crawl.recrawl(spark.createDataFrame([(blocked,)], "url string"))
    nxt_dir = crawl._p("frontier", last + 1)
    import os
    if os.path.exists(nxt_dir):
        keys = {r["url"] for r in spark.read.parquet(nxt_dir).collect()}
        assert blocked not in keys


def test_recrawl_on_fresh_state_bootstraps(spark, corpus_dir):
    """recrawl() before any crawl must not swallow the corpus seeds: the
    normal bootstrap runs first, then the recrawl URLs merge in."""
    state = "/tmp/warcbase_spark_testfix/crawlstate_recrawl_fresh"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    fc.recrawl(seeds.limit(1))
    # frontier round 0 must hold the FULL bootstrap seed set (merged with
    # the recrawl URL), not just the recrawled one
    f0 = spark.read.parquet(fc._p("frontier", 0))
    assert f0.count() > 1
    out = fc.run()
    assert len(out) >= 1


def test_canonicalizer_runs_once_per_path(spark, corpus_dir, monkeypatch):
    """Every frontier entry path — bootstrap seeds, unsee, recrawl and a
    round's extracted links — plans the URL canonicalizer UDF once per
    write: a url_key filter pushed below the UDF's Project would plan a
    second ArrowEvalPython over the same URLs."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: list[tuple[str, str]] = []
    path = ["bootstrap"]
    write = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        plans.append((path[0], self._df._jdf.queryExecution().executedPlan().toString()))
        return write(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    state = "/tmp/warcbase_spark_testfix/crawlstate_one_udf"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.bootstrap()
    path[0] = "round"
    fc.run_round(0)
    urls = fc.schedule().select("url").limit(2)
    path[0] = "unsee"
    fc.unsee(urls)
    path[0] = "recrawl"
    fc.recrawl(urls)
    # distinct nodes: a cached plan is printed once per reference to it
    udfs: dict[str, int] = {}
    for name, plan in plans:
        nodes = set(re.findall(r"ArrowEvalPython \[[^\]]*\], \[[^\]]*\]", plan))
        udfs[name] = max(udfs.get(name, 0), len(nodes))
    assert udfs == {"bootstrap": 1, "round": 1, "unsee": 1, "recrawl": 1}, udfs


def test_run_recovers_stale_manifest_after_swap_crash(spark, corpus_dir):
    """recrawl crash window #2 (ADVICE r3): frontier swapped in but the
    process dies before _commit → next_frontier_rows is the stale 0 of the
    finished crawl. run() must trust the directory, recount, refresh the
    manifest, and actually execute the recrawl round."""
    import json
    import os

    state = "/tmp/warcbase_spark_testfix/crawlstate_stale_manifest"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.run()  # finished crawl: manifest has next_frontier_rows == 0
    m_done = fc.load_manifest()
    assert m_done["next_frontier_rows"] == 0
    last = m_done["last_committed_round"]

    target = [r["url"] for r in fc.schedule().orderBy("round", "seq").limit(2).collect()]
    fc.recrawl(spark.createDataFrame([(u,) for u in target], "url string"))
    # simulate the crash: roll the manifest back to its pre-recrawl state
    # (tombstones + swapped frontier dir survive; the commit never ran)
    with open(fc._manifest_path, "w") as f:
        json.dump(m_done, f)
    assert os.path.exists(fc._p("frontier", last + 1))

    out = fc.run()
    assert len(out) >= 1  # the recrawl round ran despite the stale counter
    m_after = fc.load_manifest()
    assert m_after["last_committed_round"] > last
    got = {r["url"] for r in fc.schedule().filter(F.col("round") > last).collect()}
    assert set(target) <= got


def test_heal_frontier_finishes_interrupted_swap(spark, corpus_dir):
    import os

    state = "/tmp/warcbase_spark_testfix/crawlstate_heal"
    shutil.rmtree(state, ignore_errors=True)
    fc = FrontierCrawl(spark, corpus_dir, state, max_rounds=50)
    fc.bootstrap()
    path = fc._p("frontier", 0)
    os.rename(path, path + ".new")  # simulate crash between rmtree and rename
    assert not os.path.exists(path)
    out = fc.run(max_rounds=1)  # run() heals, then crawls round 0
    assert os.path.exists(path)
    assert len(out) == 1
