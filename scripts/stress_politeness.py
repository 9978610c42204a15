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

Second mode (VERDICT r3 #9):  python scripts/stress_politeness.py seen [n] [n_hosts]
— the combined URL-seen + recrawl stress: 10M candidates, a 3M-key seen
set with 100k tombstones, scheduled one round through both seen filters.
As in the crawl, the tombstones are anti-joined out of the seen set and
each filter is built from that live set (the cuckoo distributed: sharded
build → cogrouped probe; the key set never transits the driver); the two
schedules are checked for exact parity.
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


def _candidates(spark, n: int, n_hosts: int):
    hot = F.col("id") % 10 == 0
    host = F.when(
        hot, F.concat(F.lit("hot"), (F.col("id") % 2).cast("string"), F.lit(".org"))
    ).otherwise(
        F.concat(F.lit("h"), (F.pmod(F.col("id") * 2654435761, F.lit(n_hosts))).cast("string"), F.lit(".org"))
    )
    return spark.range(n).select(
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


def seen_recrawl_stress(n: int, n_hosts: int) -> None:
    """10M-candidate round against a 3M-key URL-seen set with 100k
    tombstoned (recrawled) keys, run through BOTH seen filters the crawl's
    way: an exact anti-join removes the tombstones from the seen table, and
    ``build_seen_filter`` builds the mode's filter over that live set.

    - jvm: the build_bloom_jvm prefilter + dedup_against_seen.
    - cuckoo, fully distributed: build_cuckoo_shards (sharded applyInPandas
      build) → dedup_against_seen with the CogroupedCuckoo (cogrouped probe,
      positives verified by exact anti-join) — the 10^10-key shape where
      neither the key set nor the filter ever transits the driver.

    Both modes must schedule EXACTLY the same round (sampled-host seq
    parity + identical counts); tombstoned keys must come back fresh.
    """
    from warcbase_spark.operators.seen import build_seen_filter, dedup_against_seen

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="stress_seen_recrawl", master=f"local[{cpus}]")

    cand = _candidates(spark, n, n_hosts).localCheckpoint(eager=True)
    seen = (
        cand.filter(F.col("id") % 10 == 1)
        .select("url_key", "url_hash")
        .localCheckpoint(eager=True)
    )
    tomb = (
        cand.filter((F.col("id") % 10 == 1) & (F.col("id") % 100 == 1))
        .select("url_key")
        .localCheckpoint(eager=True)
    )
    n_seen, n_tomb = seen.count(), tomb.count()
    pol = _politeness(spark, n_hosts)
    cand_in = cand.drop("id")

    out: dict = {
        "mode": "seen_recrawl", "n_candidates": n, "n_hosts": n_hosts,
        "n_seen": n_seen, "n_tombstones": n_tomb, "cpus": cpus,
    }
    probe_hosts = ["hot0.org", "h3.org", "h999999.org", "h500001.org"]
    samples, counts = [], []
    for label, mode in (("jvm", "jvm"), ("cuckoo_distributed", "cuckoo")):
        t0 = time.monotonic()
        live_seen = seen.join(tomb, "url_key", "left_anti").localCheckpoint(eager=True)
        bloom = build_seen_filter(mode, live_seen, max(n_seen - n_tomb, 1))
        fresh, _ = dedup_against_seen(spark, cand_in, live_seen, bloom)
        fresh = fresh.cache()
        n_fresh = fresh.count()
        sched, _sp = schedule_round(fresh, pol)
        n_sched = sched.count()
        dt = time.monotonic() - t0
        got = sorted(
            (r["seq"], r["url_key"])
            for r in sched.filter(F.col("host").isin(probe_hosts)).collect()
        )
        samples.append(got)
        counts.append((n_fresh, n_sched))
        out[label] = {
            "sec": round(dt, 2), "n_fresh": n_fresh, "n_scheduled": n_sched,
            "scheduled_per_sec": round(n_sched / dt, 1),
        }
        spark.catalog.clearCache()
    out["fresh_and_sched_counts_match"] = counts[0] == counts[1]
    out["sampled_schedule_parity"] = samples[0] == samples[1]
    # tombstoned keys must be schedulable again in both modes
    out["tombstones_back_fresh"] = (
        counts[0][0] == n - n_seen + n_tomb == counts[1][0]
    )
    print(json.dumps(out))


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
            int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000,
        )
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="stress_politeness", master=f"local[{cpus}]")

    # 10% of candidates on two hot hosts, the rest spread over n_hosts;
    # frozen so both modes see identical rows
    cand = _candidates(spark, n, n_hosts).drop("id").localCheckpoint(eager=True)
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
