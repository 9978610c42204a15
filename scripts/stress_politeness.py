"""Opt-in politeness-window stress run (VERDICT r2 #9): schedule_round at
10M+ candidates over a ~1M-host politeness table — realistic 10^10-frontier
per-round cardinalities scaled to one box — to empirically confirm

1. the salted two-stage rank survives hot-host skew at volume (no single
   window task holds a hot host's full candidate set),
2. the winner-set size gate: Σ budgets here exceeds the default
   broadcast_row_limit, so the output join must take the shuffle fallback —
   and produce EXACTLY the schedule the (forced) broadcast path produces.

Usage:  python scripts/stress_politeness.py [n_candidates] [n_hosts]
Defaults 10_000_000 / 1_000_000. Prints one JSON line; paste into BENCH.md.

Second mode:  python scripts/stress_politeness.py seen [n_seen] [n] [n_hosts]
— the URL-seen sweep: CPU-s of the crawl's seen layer (the candidates'
in-plan Bloom, the pruned seen scan, the exact anti-join) over an
n_seen-key seen set with recrawl tombstones, checked exact against a plain
anti-join (see ``seen_recrawl_stress``), then of the caller-Bloom path
(``build_bloom_jvm`` + ``dedup_against_seen``) on the same seen set cached,
next to a plain anti-join's CPU-s (see ``caller_bloom_stress``). Defaults
3_000_000 / 2_000_000 / 1_000_000.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from warcbase_spark.operators.scheduler import schedule_round  # noqa: E402
from warcbase_spark.session import get_spark  # noqa: E402


def _candidates(ids, n_hosts: int):
    """Candidate rows for the ``id`` column of ``ids``; one in ten lands on
    two hot hosts."""
    hot = F.col("id") % 10 == 0
    host = F.when(
        hot, F.concat(F.lit("hot"), (F.col("id") % 2).cast("string"), F.lit(".org"))
    ).otherwise(
        F.concat(F.lit("h"), (F.pmod(F.col("id") * 2654435761, F.lit(n_hosts))).cast("string"), F.lit(".org"))
    )
    return ids.select(
        F.col("id"),
        F.concat(F.lit("org."), host, F.lit("/p/"), F.col("id").cast("string")).alias("url_key"),
        F.concat(F.lit("http://"), host, F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        host.alias("host"),
        F.xxhash64("id").alias("url_hash"),
        (F.col("id") % 3).cast("int").alias("priority"),
    )


def _politeness(spark, n_hosts: int):
    return (
        spark.range(0, n_hosts, 3)
        .select(
            F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".org")).alias("host"),
            F.lit(4).alias("budget"),
        )
        .unionByName(
            spark.createDataFrame(
                [("hot0.org", 50_000), ("hot1.org", 50_000), ("*", 3)],
                "host string, budget int",
            )
        )
    )


def _tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every live
    descendant (the JVM and its Python workers), plus the children each has
    reaped."""
    stats = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _largest_stored_plan(spark) -> int:
    """Characters of the largest SQL execution the status store keeps:
    its plan description plus its plan-graph node descriptions."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    most = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        nodes = store.planGraph(e.executionId()).allNodes()
        most = max(most, len(e.physicalPlanDescription())
                   + sum(len(nodes.apply(k).desc()) for k in range(nodes.size())))
    return most


def seen_recrawl_stress(n_seen: int, n: int, n_hosts: int) -> None:
    """One round's URL-seen gate as the crawl builds it: ``n`` candidates
    through ``anti_join_seen`` against an ``n_seen``-key seen set, written
    as parquet like the crawl's, with 1% of the candidates tombstoned
    (recrawled) and removed from it by an anti-join, as ``_seen`` does. The
    measured layer is the whole primitive in one query: the Bloom over the
    candidates (a scalar subquery), the pruned seen scan and the exact
    anti-join, sized as the crawl sizes it (``bloom_size``, caps raised
    around the action), with AQE off as inside a round.

    Seen key i is candidate 10i+1, so with n_seen > n/10 the keys past the
    candidates only grow the seen scan. ``fresh`` must equal a plain
    anti-join's count at every point, and tombstoned keys come back fresh;
    ``bloom_hits`` is the seen rows that pass the Bloom, and ``fpp`` their
    share of the live seen rows no candidate matches. Prints the largest
    stored plan (description + node descriptions), which holds no filter.
    """
    import shutil

    from pyspark.sql import Observation

    from warcbase_spark.operators.seen import anti_join_seen, bloom_caps, bloom_size

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="stress_seen_recrawl", master=f"local[{cpus}]")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    cand = _candidates(spark.range(n), n_hosts).localCheckpoint(eager=True)
    path = os.path.join(os.environ.get("SPARK_LOCAL_DIRS", "/tmp"), f"stress_seen_{n_seen}")
    shutil.rmtree(path, ignore_errors=True)
    seen_ids = spark.range(n_seen).select((F.col("id") * 10 + 1).alias("id"))
    _candidates(seen_ids, n_hosts).select("url_key", "url_hash").write.parquet(path)
    seen = spark.read.parquet(path)
    tomb = (
        cand.filter(F.col("id") % 100 == 1)
        .join(seen.select("url_key"), "url_key", "left_semi")
        .select("url_key")
        .localCheckpoint(eager=True)
    )
    n_tomb = tomb.count()
    n_seen_cand = cand.join(seen, "url_key", "left_semi").count()
    live_seen = seen.join(F.broadcast(tomb), "url_key", "left_anti")
    n_live = n_seen - n_tomb
    cand_in = cand.drop("id")
    n_exact_fresh = cand_in.join(live_seen, "url_key", "left_anti").count()

    out: dict = {
        "mode": "seen_recrawl", "n_candidates": n, "n_hosts": n_hosts,
        "n_seen": n_seen, "n_seen_candidates": n_seen_cand,
        "n_tombstones": n_tomb, "n_fresh_exact": n_exact_fresh, "cpus": cpus,
    }
    n_items, n_bits = bloom_size(n, n_live)
    runs = []
    for _rep in range(2):  # the second run is warm
        cpu0, t0 = _tree_cpu_s(), time.monotonic()
        obs = Observation()
        with bloom_caps(spark, n_items, n_bits):
            n_fresh = anti_join_seen(cand_in, live_seen, n, n_live, observation=obs).count()
        runs.append({"cpu_s": round(_tree_cpu_s() - cpu0, 2),
                     "wall_s": round(time.monotonic() - t0, 2), "n_fresh": n_fresh})
    hits = int(obs.get["bloom_hits"])
    matches = n_seen_cand - n_tomb
    out["seen_layer"] = {
        "bloom_bytes": n_bits // 8, "cold": runs[0], "warm": runs[1], "bloom_hits": hits,
        "fpp": round((hits - matches) / max(n_live - matches, 1), 5),
    }
    out["fresh_exact"] = all(r["n_fresh"] == n_exact_fresh for r in runs)
    # tombstoned keys must be schedulable again
    out["tombstones_back_fresh"] = n_exact_fresh == n - n_seen_cand + n_tomb
    out["largest_stored_plan_chars"] = _largest_stored_plan(spark)
    out["caller_bloom"] = caller_bloom_stress(spark, cand_in, live_seen, n_live, n_exact_fresh)
    shutil.rmtree(path, ignore_errors=True)
    print(json.dumps(out))
    assert out["fresh_exact"] and out["tombstones_back_fresh"], out
    assert out["caller_bloom"]["fresh_exact"], out


def caller_bloom_stress(spark, cand, seen, n_seen: int, n_exact_fresh: int) -> dict:
    """``dedup_against_seen`` with a caller's Bloom (``build_bloom_jvm``
    over the seen keys at 1%, as ``bench.py`` and perfbench call it) against
    ``seen`` cached, and a plain anti-join of the same inputs; each runs
    twice (the second warm). Reports which verify form ran, the one-pass
    broadcast anti-join (the seen keys' size estimate at most
    ``spark.sql.autoBroadcastJoinThreshold``) or the probe with the
    positives' verify above it, and asserts that both counts equal
    ``n_exact_fresh``."""
    from warcbase_spark.operators.seen import build_bloom_jvm, dedup_against_seen

    cached = seen.cache()
    cached.count()
    out: dict = {"broadcast_threshold": spark.conf.get("spark.sql.autoBroadcastJoinThreshold")}
    cpu0 = _tree_cpu_s()
    bloom = build_bloom_jvm(cached, n_seen, 0.01)
    out["bloom_build_cpu_s"] = round(_tree_cpu_s() - cpu0, 2)
    counts = []
    for name in ("caller_bloom", "plain_anti_join"):
        runs = []
        for _rep in range(2):
            reg: list = []
            cpu0 = _tree_cpu_s()
            if name == "caller_bloom":
                fresh, _ = dedup_against_seen(spark, cand, cached, bloom, cache_registry=reg)
            else:
                fresh = cand.join(cached.select("url_key"), "url_key", "left_anti")
            counts.append(fresh.count())
            runs.append(round(_tree_cpu_s() - cpu0, 2))
            if name == "caller_bloom":
                plan = fresh._jdf.queryExecution().executedPlan().toString()
                out["form"] = "probe_and_verify" if "Subquery" in plan else "broadcast_anti_join"
            for df in reg:
                df.unpersist()
        out[name] = {"cold_cpu_s": runs[0], "warm_cpu_s": runs[1]}
    cached.unpersist()
    out["fresh_exact"] = all(c == n_exact_fresh for c in counts)
    return out


def _zipf_candidates(spark, n: int, n_hosts: int, s: float = 1.1):
    """Zipf(s)-distributed host assignment, fully in-plan: u ~ U[0,1) from
    a hashed id, then the inverse continuous-CDF of the Zipf tail,
    rank = (1 - u·(1 - N^(1-s)))^(1/(1-s)). At s=1.1/N=1e6 the hottest
    host carries ~10% of all candidates with a heavy tail behind it — the
    realistic crawl-frontier skew (vs the uniform mode's two fixed 20%
    hot hosts over a flat tail)."""
    u = F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000_000)) / 1e9
    a = 1.0 - float(n_hosts) ** (1.0 - s)
    rank = F.least(
        F.greatest(F.floor(F.pow(1.0 - u * a, F.lit(1.0 / (1.0 - s)))), F.lit(1)),
        F.lit(n_hosts),
    ).cast("long")
    host = F.concat(F.lit("z"), rank.cast("string"), F.lit(".org"))
    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("org."), host, F.lit("/p/"), F.col("id").cast("string")).alias("url_key"),
        F.concat(F.lit("http://"), host, F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        host.alias("host"),
        F.xxhash64("id").alias("url_hash"),
        (F.col("id") % 3).cast("int").alias("priority"),
    )


def zipf_stress(n: int, n_hosts: int) -> None:
    """VERDICT r4 #7: the politeness-window stress under a Zipf(1.1) host
    distribution — the configuration that actually tests the salt-K choice
    (scheduler.DEFAULT_SALT_K): the hottest host holds ~n/10 candidates, so
    stage 1 must bound any single window task to ~|host|/K rows while the
    heavy tail exercises millions of tiny windows simultaneously. Runs the
    round through BOTH winner-join modes and checks sampled schedule
    parity, exactly like the uniform stress."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="stress_politeness_zipf", master=f"local[{cpus}]")

    cand = _zipf_candidates(spark, n, n_hosts).drop("id").localCheckpoint(eager=True)
    top = (
        cand.groupBy("host").count().orderBy(F.desc("count"), "host").limit(10).collect()
    )
    out: dict = {
        "mode": "zipf", "s": 1.1, "n_candidates": n, "n_hosts": n_hosts, "cpus": cpus,
        "hottest_host_share": round(top[0]["count"] / n, 4),
        "top10_share": round(sum(r["count"] for r in top) / n, 4),
    }
    # explicit budgets for the two hottest ranks; heavy tail takes '*'
    pol = spark.createDataFrame(
        [("z1.org", 50_000), ("z2.org", 20_000), ("*", 3)], "host string, budget int"
    )
    probe_hosts = ["z1.org", "z7.org", "z12345.org", "z999999.org"]
    sample = None
    for mode, limit in (("shuffle_fallback", 1), ("broadcast", 1 << 40)):
        t0 = time.monotonic()
        sched, _spilled = schedule_round(cand, pol, broadcast_row_limit=limit)
        n_sched = sched.count()
        dt = time.monotonic() - t0
        got = sorted(
            (r["seq"], r["url_key"])
            for r in sched.filter(F.col("host").isin(probe_hosts)).collect()
        )
        out[mode] = {"sec": round(dt, 2), "n_scheduled": n_sched,
                     "scheduled_per_sec": round(n_sched / dt, 1)}
        if sample is None:
            sample = got
        else:
            out["sampled_parity"] = sample == got
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "zipf":
        zipf_stress(
            int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "seen":
        seen_recrawl_stress(
            int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000,
            int(sys.argv[4]) if len(sys.argv) > 4 else 1_000_000,
        )
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="stress_politeness", master=f"local[{cpus}]")

    # 10% of candidates on two hot hosts, the rest spread over n_hosts;
    # frozen so both modes see identical rows
    cand = _candidates(spark.range(n), n_hosts).drop("id").localCheckpoint(eager=True)
    # ~1M-host politeness dimension: every 3rd host gets an explicit budget
    pol = _politeness(spark, n_hosts)

    out: dict = {"n_candidates": n, "n_hosts": n_hosts, "cpus": cpus}
    sample = None
    for mode, limit in (("shuffle_fallback", 1), ("broadcast", 1 << 40)):
        t0 = time.monotonic()
        sched, spilled = schedule_round(cand, pol, broadcast_row_limit=limit)
        n_sched = sched.count()
        dt = time.monotonic() - t0
        # parity witness: the full (seq, url_key) schedule for a sampled
        # host subset (hot host + a few tail hosts)
        probe = sched.filter(
            F.col("host").isin("hot0.org", "h3.org", "h999999.org", "h500001.org")
        )
        got = sorted((r["seq"], r["url_key"]) for r in probe.collect())
        out[mode] = {"sec": round(dt, 2), "n_scheduled": n_sched,
                     "scheduled_per_sec": round(n_sched / dt, 1)}
        if sample is None:
            sample = got
        else:
            out["sampled_parity"] = sample == got
    print(json.dumps(out))


if __name__ == "__main__":
    main()
