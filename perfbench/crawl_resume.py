"""Workload ``crawl_resume``: the checkpointed multi-round crawl, crashed and
resumed.

Input (from the seed): ``make_web_corpus(seed=…)`` — 20k docs over 200
hosts (2k docs at the smoke scale) — with the benchmark's own politeness
budgets. Rounds are tiny (a few hundred URLs), so the scheduler's winner
join and the fetch semi-join both take their broadcast branch, and the
per-round fixed cost dominates: Spark jobs, driver-serial time, checkpoint
writes, and seen-set compaction (every 2 rounds here, so the 3-round
crawl compacts after round 1).

The crawl bootstraps and runs ``FrontierCrawl.run`` one round at a time
(each call resumes from the manifest). After round CRASH_AFTER the object
and every cache are dropped — a crash — and a fresh ``FrontierCrawl`` on the
same state dir resumes to ROUNDS rounds. One crawl per run: its length is
fixed by the round count, not by ``--seconds``.

In a traced run the ``q`` layer then runs once, in the same JVM: the
analytics leaves of ``analytics.py`` over a seeded documents table. Its
times are per-layer metrics only, so the untraced run skips it and stays
short.

Check: schedule, seen set and per-round counters equal
``simulator.simulate`` on the same corpus and round count; each analytics
leaf (traced run) equals its DuckDB oracle.
"""

from __future__ import annotations

import os
import re
import time

import analytics
import harness

N_DOCS = {"full": 20_000, "smoke": 2_000}
N_HOSTS = 200
POLITENESS = [
    {"host": "hot0.example.org", "budget": 40},
    {"host": "hot1.example.org", "budget": 40},
    {"host": "*", "budget": 8},
]
ROUNDS = 3
CRASH_AFTER = 1
COMPACT_EVERY = 2
METRIC_KEYS = ("scheduled", "spilled", "records", "html_pages", "links",
               "dedup_hits", "robots_blocked", "invalid_urls")

# crawl action <- the output path of a write, or the call site of other
# jobs; seq_count is every eager job of the scheduler (budget lookup, range
# checkpoint, seq counts). Each action belongs to one layer; the layers'
# fused work (canonicalize, robots, seen probe) runs inside frontier_write.
WRITES = (
    ("schedule_write", "/schedule/round="),
    ("seen_write", "/seen/round="),
    ("frontier_write", "/frontier/round="),
    ("metrics_write", "/metrics/round="),
    ("compact", "/seen_base/round="),
)
CALLS = (
    ("bloom_build", "bloomFilter at"),
    ("seq_count", "operators/scheduler.py"),
    ("seq_count", "localCheckpoint at"),
)
ACTIONS = [name for name, _ in WRITES] + ["bloom_build", "seq_count"]
LAYER_ACTIONS = {
    "sched": ("seq_count", "schedule_write"),
    "seen": ("bloom_build", "seen_write", "compact"),
}


def make_corpus(seed: int, n_docs: int, out_dir: str):
    from warcbase_spark.fixtures import make_web_corpus, write_corpus

    corpus = make_web_corpus(n_docs=n_docs, n_hosts=N_HOSTS, seed=seed)
    corpus.politeness = POLITENESS
    write_corpus(corpus, out_dir)
    return corpus


def crawl(b: harness.Bench, corpus_dir: str, state_dir: str) -> tuple:
    """Bootstrap, crawl, crash, resume; returns the resumed crawl object
    and every round's RoundMetrics."""
    from warcbase_spark.frontier.crawl import FrontierCrawl

    def new_crawl():
        return FrontierCrawl(b.spark, corpus_dir, state_dir, max_rounds=ROUNDS,
                             compact_every=COMPACT_EVERY)

    metrics = []
    with b.span("crawl.bootstrap", cpu=True):
        fc = new_crawl()
        fc.bootstrap()
    for rnd in range(ROUNDS):
        if rnd == CRASH_AFTER + 1:
            del fc
            b.spark.catalog.clearCache()
            with b.span("crawl.resume", cpu=True):
                fc = new_crawl()
        with b.span("round", cpu=True, i=rnd):
            metrics += fc.run(max_rounds=rnd + 1)
    return fc, metrics


def check(fc, metrics: list, sim) -> bool:
    got_sched = sorted((r["round"], r["seq"], r["url_key"], r["host"], r["priority"])
                       for r in fc.schedule().collect())
    got_seen = {r["url_key"]: r["first_round"] for r in fc.url_seen().collect()}
    got_metrics = [{k: getattr(m, k) for k in METRIC_KEYS} for m in metrics]
    exp_metrics = [{k: m[k] for k in METRIC_KEYS} for m in sim.metrics]
    return (got_sched == sorted(sim.schedule) and got_seen == sim.seen
            and got_metrics == exp_metrics)


def dir_usage(path: str) -> tuple[int, int]:
    files = total = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(d, n))
    return files, total


def run(b: harness.Bench) -> dict:
    from warcbase_spark.frontier.simulator import simulate

    work = os.environ["PERFBENCH_WORK"]
    corpus_dir = os.path.join(work, "corpus")
    state_dir = os.path.join(work, "state")
    corpus, sf_dir = b.setup(
        lambda: (make_corpus(b.seed, N_DOCS[b.scale], corpus_dir),
                 analytics.setup_documents(b) if b.trace else None))

    fc, metrics = crawl(b, corpus_dir, state_dir)
    failed = int(not check(fc, metrics, simulate(corpus, max_rounds=ROUNDS)))
    if b.trace:
        failed += analytics.run_pass(b, sf_dir)
    scheduled = sum(m.scheduled for m in metrics)

    def unit_metrics(of):
        """(cold, warm median, scheduled per second of the whole crawl) of
        the spans' wall (``b.durations``) or CPU (``b.cpu``) seconds."""
        rounds, boot, resume = of("round"), of("crawl.bootstrap")[0], of("crawl.resume")[0]
        return boot + rounds[0], harness.median(rounds[1:]), scheduled / (boot + resume + sum(rounds))

    cold, warm, rate = unit_metrics(b.cpu)
    res = {
        "correct": failed == 0,
        "attempted": 1 + (len(analytics.LEAVES) if b.trace else 0),
        "failed": failed,
        "e2e": {"setup_s": b.setup_cpu_s, "cold_cpu_s": cold, "warm_cpu_p50_s": warm,
                "units_per_cpu_s": rate},
    }
    if b.trace:
        cold, warm, rate = unit_metrics(b.durations)
        res["layer"] = {**layers(b, metrics, state_dir), "wall.setup_s": b.setup_wall_s,
                        "wall.cold_s": cold, "wall.warm_p50_s": warm, "wall.units_per_s": rate}
    return res


def classify(execution: dict | None) -> str:
    """The crawl action of a job's SQL execution: a write by its output
    path (the first ``Arguments: file:`` of a write plan), anything else by
    its call site. Jobs outside SQL executions (file listing) are other."""
    if execution is None:
        return "other"
    plan = execution.get("physicalPlanDescription") or ""
    if "InsertIntoHadoopFsRelationCommand" in plan:
        out = re.search(r"Arguments: file:(\S+?),", plan).group(1)
        return next((name for name, key in WRITES if key in out), "other")
    desc = execution.get("description") or ""
    return next((name for name, key in CALLS if key in desc), "other")


def layers(b: harness.Bench, metrics: list, state_dir: str) -> dict:
    """Per-layer metrics: per-round values are medians over the warm rounds
    (1..ROUNDS-1, the rounds ``warm_cpu_p50_s`` covers); counts from
    RoundMetrics are sums over the crawl."""
    t = time.time()
    snap = harness.store_snapshot(b.spark)
    ex_of = {int(jid): ex for ex in snap["execs"] for jid in ex.get("jobs", {})}
    action = {j["jobId"]: classify(ex_of.get(j["jobId"])) for j in snap["jobs"]}
    round_spans = [s for s in b.spans if s["name"] == "round"]
    warm_spans = round_spans[1:]
    per_round, warm_jobs = [], []
    for s in warm_spans:
        jobs = harness.in_window(snap["jobs"], s["start"], s["end"])
        warm_jobs += jobs
        st = harness.job_stats(snap, jobs)
        st["driver_s"] = (s["end"] - s["start"]) - st["job_s"]
        for name in ACTIONS:
            picked = [j for j in jobs if action[j["jobId"]] == name]
            st[f"{name}_s"] = harness.job_stats(snap, picked)["job_s"]
        st["eager_jobs"] = sum(action[j["jobId"]] == "seq_count" for j in jobs)
        st["broadcast"] = int(not any(
            "ShuffledHashJoin" in ex_of[j["jobId"]].get("physicalPlanDescription", "")
            for j in jobs if action[j["jobId"]] == "schedule_write"))
        st["udf_s"] = harness.sql_timing_s(harness.execs_of(snap, jobs), "time to run Python workers")
        per_round.append(st)
    p50 = lambda k: harness.median([r[k] for r in per_round])  # noqa: E731
    n_warm = len(warm_spans)
    files, nbytes = dir_usage(state_dir)
    n_seen = sum(m.scheduled for m in metrics)
    bloom_hits = sum(m.bloom_hits for m in metrics)
    dedup_hits = sum(m.dedup_hits for m in metrics)
    out = {f"crawl.{k}": p50(k) for k in ("jobs", "stages", "tasks", "job_s", "driver_s")}
    out.update({f"crawl.{name}_s": p50(f"{name}_s") for name in ACTIONS})
    out.update({
        "crawl.rounds": len(metrics),
        "crawl.bootstrap_s": b.durations("crawl.bootstrap")[0],
        "crawl.resume_s": b.durations("crawl.resume")[0],
        "crawl.files_written": files,
        "crawl.bytes_written": nbytes,
        "crawl.state_bytes_per_url": nbytes / n_seen,
        "extract.links": sum(m.links for m in metrics),
        "robots.blocked": sum(m.robots_blocked for m in metrics),
        # the Arrow canonicalizer runs fused inside the frontier write: its
        # rows are the extracted links, its time the Python-worker time
        "urls.rows": sum(m.links for m in metrics),
        "urls.invalid": sum(m.invalid_urls for m in metrics),
        "urls.udf_s": p50("udf_s"),
        "seen.bloom_hits": bloom_hits,
        "seen.dedup_hits": dedup_hits,
        "seen.bloom_precision": dedup_hits / max(bloom_hits, 1),
        "seen.bloom_build_s": p50("bloom_build_s"),
        "sched.plan_s": p50("seq_count_s"),
        "sched.join_s": p50("schedule_write_s"),
        "sched.eager_jobs": p50("eager_jobs"),
        "sched.winners": harness.median([m.scheduled for m in metrics]),
        "sched.broadcast": min(r["broadcast"] for r in per_round),
        "trace.warm_cpu_p50_s": harness.median(b.cpu("round")[1:]),
    })
    for layer, names in LAYER_ACTIONS.items():
        jobs = [j for j in warm_jobs if action[j["jobId"]] in names]
        out.update(harness.layer_metrics(snap, layer, jobs, n_warm))
    out.update(harness.engine_metrics(snap, warm_jobs, n_warm))
    out.update(analytics.layers(b, snap))
    out["trace.overhead_s"] = time.time() - t
    return out
