"""Workload ``frontier_round``: the scheduler round over a skewed synthetic
frontier, layer by layer.

Input (from the seed): n raw URLs in the FIXTURES.md skew shape of
``bench.synthetic_frontier`` — ~20% on each of two hot hosts, the rest over
4096 tail hosts — with a seed-permuted host hash. 30% of the URLs are
already seen (the seen table is built from their clean form), ~1/7 arrive
in a messy-but-equivalent form, and ~0.1% are invalid.

One round = canonicalize (``urls``) → ``build_bloom_jvm`` +
``dedup_against_seen`` (``seen``) → ``schedule_round_combined``, forced with
a noop write (``sched``). The first round runs in the fresh JVM (cold).
WARMUP_ROUNDS more rounds follow untimed: the JIT is still compiling the
round's code, and they take 1.0–1.7× the CPU of a steady round. Then the
measured warm rounds repeat it within ``--seconds`` (at least MIN_MEASURED),
and every warm figure is a median over them.

Budgets are sized so the winner set is above the scheduler's 100k-row
broadcast limit and below half the candidates: the round takes the
shuffle_hash winner join (the smoke scale stays under the limit and takes
the broadcast join).

Check, every round: scheduled and spilled equal the closed-form budget
totals computed here with numpy, the seen gate drops exactly the seen URLs,
and ``seq`` is a permutation of 1..n_scheduled.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import harness

N_URLS = {"full": 340_000, "smoke": 100_000}
N_TAIL_HOSTS = 4096
HOT_BUDGET = 3000
TAIL_BUDGET = 25
WARMUP_ROUNDS = 2
MIN_MEASURED = 3


@dataclass
class Shape:
    """Seed-derived constants of the frontier; the same formulas run in
    Spark (to build it) and in numpy (to predict the round's counts)."""

    n: int
    host_mult: int
    host_off: int
    seen_off: int
    invalid_off: int
    messy_off: int

    @classmethod
    def from_seed(cls, n: int, seed: int) -> "Shape":
        rng = random.Random(seed)
        return cls(n, rng.randrange(1 << 30) * 2 + 1, rng.randrange(N_TAIL_HOSTS),
                   rng.randrange(10), rng.randrange(997), rng.randrange(7))

    def columns(self, i, g):
        """(kind, tail host id, pre_seen, invalid, messy) from the row id
        ``i`` and ``g`` = i div 5 — Spark Columns and numpy arrays alike."""
        return (
            i % 5,
            (i * self.host_mult + self.host_off) % N_TAIL_HOSTS,
            (g * 7 + self.seen_off) % 10 < 3,
            (g + self.invalid_off) % 997 == 0,
            (g + self.messy_off) % 7 == 0,
        )

    def expected(self) -> dict:
        i = np.arange(self.n, dtype=np.int64)
        kind, tail, pre_seen, invalid, _ = self.columns(i, i // 5)
        fresh = ~invalid & ~pre_seen
        per_tail = np.bincount(tail[fresh & (kind >= 2)], minlength=N_TAIL_HOSTS)
        scheduled = (
            min(HOT_BUDGET, int(np.sum(fresh & (kind == 0))))
            + min(HOT_BUDGET, int(np.sum(fresh & (kind == 1))))
            + int(np.minimum(per_tail, TAIL_BUDGET).sum())
        )
        n_fresh = int(fresh.sum())
        return {
            "rows": self.n,
            "invalid": int(invalid.sum()),
            "fresh": n_fresh,
            "scheduled": scheduled,
            "spilled": n_fresh - scheduled,
        }


def frontier_df(spark, shape: Shape) -> DataFrame:
    g = F.expr("id div 5")
    kind, tail, pre_seen, invalid, messy = shape.columns(F.col("id"), g)
    host = (
        F.when(kind == 0, F.lit("hot0.example.org"))
        .when(kind == 1, F.lit("hot1.example.org"))
        .otherwise(F.concat(F.lit("site"), tail.cast("string"), F.lit(".example.org")))
    )
    path = F.concat(F.lit("/p/"), F.col("id").cast("string"), F.lit(".html"))
    clean = F.concat(F.lit("http://"), host, path)
    url = (
        F.when(invalid, F.concat(F.lit("http://"), path))
        .when(messy, F.concat(F.lit("HTTP://"), F.upper(host), path))
        .otherwise(clean)
    )
    return spark.range(shape.n).select(
        url.alias("url"),
        clean.alias("clean_url"),
        (g % 5).cast("int").alias("priority"),
        (pre_seen & ~invalid).alias("pre_seen"),
    )


@dataclass
class Inputs:
    raw: DataFrame
    seen: DataFrame
    n_seen: int
    politeness: DataFrame


def make_inputs(spark, shape: Shape) -> Inputs:
    """Generate the frontier and materialize the already-crawled seen table
    (at cluster scale the sorted seen table on disk)."""
    from warcbase_spark.frontier.crawl import canonicalize_candidates

    raw = frontier_df(spark, shape)
    seen = (
        canonicalize_candidates(raw.filter("pre_seen").select(F.col("clean_url").alias("url")))
        .select("url_key", "url_hash")
        .cache()
    )
    budgets = [("hot0.example.org", HOT_BUDGET), ("hot1.example.org", HOT_BUDGET), ("*", TAIL_BUDGET)]
    return Inputs(raw, seen, seen.count(), spark.createDataFrame(budgets, "host string, budget int"))


def run_round(b: harness.Bench, inp: Inputs, i: int) -> dict:
    """One round; returns its observed counts."""
    from warcbase_spark.frontier.crawl import canonicalize_candidates
    from warcbase_spark.operators.scheduler import schedule_round_combined
    from warcbase_spark.operators.seen import build_bloom_jvm, dedup_against_seen

    spark = b.spark
    reg: list[DataFrame] = []
    obs_u, obs_d, obs_s = Observation(), Observation(), Observation()
    with b.span("round", cpu=True, i=i):
        with b.span("urls"):
            cand = canonicalize_candidates(inp.raw.select("url", "priority")).observe(
                obs_u, F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("url_key").isNull().cast("long")).alias("invalid"),
            ).cache()
            reg.append(cand)
            cand.count()
        valid = cand.filter(F.col("url_key").isNotNull())
        with b.span("seen.bloom"):
            bloom = build_bloom_jvm(inp.seen, inp.n_seen, 0.01)
        with b.span("seen.dedup"):
            fresh, _ = dedup_against_seen(spark, valid, inp.seen, bloom,
                                          observation=obs_d, cache_registry=reg)
            fresh = fresh.cache()
            reg.append(fresh)
            n_fresh = fresh.count()
        with b.span("sched.plan"):
            combined = schedule_round_combined(fresh, inp.politeness, cache_registry=reg)
        with b.span("sched.join"):
            seq = F.col("seq").cast("long")
            combined.observe(
                obs_s,
                F.count("seq").alias("scheduled"),
                F.count(F.when(F.col("seq").isNull(), 1)).alias("spilled"),
                F.min(seq).alias("seq_min"),
                F.max(seq).alias("seq_max"),
                F.sum(seq).alias("seq_sum"),
                F.sum(seq * seq).alias("seq_sq"),
            ).write.mode("overwrite").format("noop").save()
    out = {**obs_u.get, **obs_s.get, "fresh": n_fresh, "bloom_hits": obs_d.get["bloom_hits"],
           "bloom_bytes": len(bloom)}
    if b.trace and i == 0:
        out["broadcast"] = int("ShuffledHashJoin" not in combined._jdf.queryExecution().executedPlan().toString())
    for df in reg:
        df.unpersist()
    return out


def round_ok(got: dict, exp: dict) -> bool:
    n = got["scheduled"]
    return (
        all(got[k] == exp[k] for k in ("rows", "invalid", "fresh", "scheduled", "spilled"))
        and got["seq_min"] == 1 and got["seq_max"] == n
        and got["seq_sum"] == n * (n + 1) // 2
        and got["seq_sq"] == n * (n + 1) * (2 * n + 1) // 6
    )


def run(b: harness.Bench) -> dict:
    shape = Shape.from_seed(N_URLS[b.scale], b.seed)
    exp = shape.expected()
    # AQE off, as in bench.py's round and FrontierCrawl.run_round
    b.spark.conf.set("spark.sql.adaptive.enabled", "false")
    inp = b.setup(lambda: make_inputs(b.spark, shape))

    rounds = [run_round(b, inp, i) for i in range(1 + WARMUP_ROUNDS)]
    first = len(rounds)
    warm_start = time.time()
    while b.more("round", len(rounds) - first, MIN_MEASURED):
        rounds.append(run_round(b, inp, len(rounds)))
    took, cpu = b.durations("round"), b.cpu("round")
    failed = sum(not round_ok(r, exp) for r in rounds)
    # URLs scheduled per second of each measured round, median
    rate = lambda secs: harness.median(  # noqa: E731
        [r["scheduled"] / t for r, t in zip(rounds[first:], secs[first:])])
    res = {
        "correct": failed == 0,
        "attempted": len(rounds),
        "failed": failed,
        "e2e": {
            "setup_s": b.setup_cpu_s,
            "cold_cpu_s": cpu[0],
            "warm_cpu_p50_s": harness.median(cpu[first:]),
            "units_per_cpu_s": rate(cpu),
        },
    }
    if b.trace:
        res["layer"] = {
            **layers(b, rounds, first, warm_start),
            "wall.setup_s": b.setup_wall_s,
            "wall.cold_s": took[0],
            "wall.warm_p50_s": harness.median(took[first:]),
            "wall.units_per_s": rate(took),
        }
    return res


def layers(b: harness.Bench, rounds: list[dict], first: int, warm_start: float) -> dict:
    """Per-layer metrics of the measured rounds ``rounds[first:]``: times
    are medians, engine work is per round."""
    t = time.time()
    snap = harness.store_snapshot(b.spark)
    warm_jobs = harness.in_window(snap["jobs"], warm_start, t)
    n_warm = len(rounds) - first
    last = rounds[-1]
    dedup_hits = last["rows"] - last["invalid"] - last["fresh"]
    p50 = lambda name: harness.median(b.durations(name)[first:])  # noqa: E731
    out = {
        "urls.canon_s": p50("urls"),
        "urls.rows": last["rows"],
        "urls.invalid": last["invalid"],
        "seen.bloom_build_s": p50("seen.bloom"),
        "seen.bloom_bytes": last["bloom_bytes"],
        "seen.dedup_s": p50("seen.dedup"),
        "seen.bloom_hits": last["bloom_hits"],
        "seen.bloom_precision": dedup_hits / max(last["bloom_hits"], 1),
        "seen.fresh_rows": last["fresh"],
        "seen.dedup_hits": dedup_hits,
        "sched.plan_s": p50("sched.plan"),
        "sched.join_s": p50("sched.join"),
        "sched.eager_jobs": len(harness.in_groups(warm_jobs, "sched.plan")) / n_warm,
        "sched.winners": last["scheduled"],
        "sched.broadcast": rounds[0]["broadcast"],
        "trace.warm_cpu_p50_s": harness.median(b.cpu("round")[first:]),
    }
    urls_jobs = harness.in_groups(warm_jobs, "urls")
    out["urls.udf_s"] = harness.sql_timing_s(
        harness.execs_of(snap, urls_jobs), "time to run Python workers") / n_warm
    out.update(harness.layer_metrics(snap, "urls", urls_jobs, n_warm))
    out.update(harness.layer_metrics(
        snap, "seen", harness.in_groups(warm_jobs, "seen.bloom", "seen.dedup"), n_warm))
    out.update(harness.layer_metrics(
        snap, "sched", harness.in_groups(warm_jobs, "sched.plan", "sched.join"), n_warm))
    out.update(harness.engine_metrics(snap, warm_jobs, n_warm))
    out["trace.overhead_s"] = time.time() - t
    return out
