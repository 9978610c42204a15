"""The frontier round loop — checkpointed, resumable, metric-instrumented.

Replaces the reference's HBase-backed crawl-management layer
(HBaseTableManager.java:85-100 row-at-a-time puts; IngestFiles.java:257-280
sequential ingest loop; FST membership gate ExtractLinksWac.java:159). Each
round is one deterministic micro-batch:

    frontier_r --politeness window--> schedule_r        (+ spill, priority+1)
    schedule_r --> seen += schedule_r                    (append-only delta)
    schedule_r ⋈ documents --> fetched docs
    fetched --explode link spans--> outlinks --canonicalize+hash-->
      --robots--> --batch dedup--> --anti-join vs seen, its scan pruned by the
      candidates' Bloom--> fresh candidates
    frontier_{r+1} = merge(spill, fresh)

Checkpoint protocol (Iceberg-snapshot semantics without the Iceberg jars,
which this image lacks): every table written for round r goes to its own
immutable ``<table>/round=r`` Parquet directory (append-only deltas for
``seen``; full next-frontier snapshots), and the round is COMMITTED only by
an atomic ``os.replace`` of ``manifest.json`` naming the last durable round.
A crash between data writes and the manifest swap leaves a dangling
uncommitted directory that the resumed run simply overwrites — exactly-once
without trusting ``_SUCCESS`` markers (SURVEY §7.3).

Metrics (counter parity with ExtractLinksWac.java:77-79,479-482 and
IngestFiles.java:68-71,277) are persisted per round in ``metrics/``: one
row, one Parquet file, written driver-side with pyarrow (no Spark job)
into ``metrics/round=r`` before the manifest swap, so it follows the same
commit protocol as the Spark-written tables.

A warm round pays only for its own rows: the static inputs (politeness
budgets, aggregated robots rules, the keyed documents table) are read once
per ``FrontierCrawl``, and the frontier and seen tables are read with a
schema held on the object, so no round starts a footer-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from warcbase_spark.frontier.robots import drop_disallowed, robots_rules
from warcbase_spark.functions.urls import canon_struct_udf, canonical_cols
from warcbase_spark.operators.extract import extract_links
from warcbase_spark.operators.scheduler import (
    DEFAULT_BROADCAST_ROW_LIMIT,
    schedule_round_combined,
    split_schedule,
)
from warcbase_spark.operators.seen import anti_join_seen, bloom_caps, bloom_size


def canonicalize_candidates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """url → (url_key, host, url_hash); invalid URLs get null url_key.
    Canonicalization is the Arrow-vectorized UDF; host + hash derive from
    the key JVM-side/vectorized."""
    url_key, host = canonical_cols(F.col(url_col))
    return (
        df.withColumn("url_key", url_key)
        .withColumn("host", host)
        .withColumn("url_hash", F.xxhash64("url_key"))
    )


def _valid_candidates(
    df: DataFrame, url_col: str = "url", observation: Observation | None = None
) -> DataFrame:
    """``canonicalize_candidates``' rows whose URL is valid (non-null
    url_key), with the canonicalizer UDF planned once. A filter on url_key
    over a Project would be pushed below it, onto a second evaluation of
    the UDF; the struct is unpacked by ``inline`` instead, and a filter
    cannot move below the generator that produces its column.
    ``observation``, when given, records ``links`` (rows in) and
    ``invalid`` (rows dropped)."""
    cand = df.select("*", F.inline(F.array(canon_struct_udf(F.col(url_col))))).withColumn(
        "url_hash", F.xxhash64("url_key")
    )
    if observation is not None:
        cand = cand.observe(
            observation,
            F.count(F.lit(1)).alias("links"),
            F.coalesce(F.sum(F.col("url_key").isNull().cast("long")), F.lit(0)).alias("invalid"),
        )
    return cand.filter(F.col("url_key").isNotNull())


# the seen deltas and base (url_key, xxhash64 of it, the round that scheduled
# it) and the recrawl tombstones, as every writer in this module lays them out
SEEN_SCHEMA = "url_key string, url_hash long, first_round int"
TOMBSTONE_SCHEMA = "url_key string, ts_round int"

# fetch-side scheduled∩docs semi-join broadcast gate: an OOM guard
# (10^10-frontier rounds can schedule millions of URLs); broadcast stays
# right up to this limit because it spares the LARGE docs table a shuffle
FETCH_BROADCAST_ROW_LIMIT = 2_000_000
# scheduler winner-join gate: a measured perf crossover (see
# scheduler.DEFAULT_BROADCAST_ROW_LIMIT) — the winner broadcast build is
# driver-serial, so past ~100k winners the shuffle join is both faster and
# the one that scales N→4N. Read per round, not bound as a default.
WINNER_BROADCAST_ROW_LIMIT = DEFAULT_BROADCAST_ROW_LIMIT


def _merge_frontier(rows: DataFrame) -> DataFrame:
    """Frontier rows merged per url_key: min url, first host and url_hash,
    max priority, earliest discovered_round. ``simulator.simulate`` applies
    the same policy, so the crawl's parity with it depends on this."""
    return rows.groupBy("url_key").agg(
        F.min("url").alias("url"),
        F.first("host").alias("host"),
        F.first("url_hash").alias("url_hash"),
        F.max("priority").alias("priority"),
        F.min("discovered_round").alias("discovered_round"),
    )


def _in_driver(df: DataFrame) -> DataFrame:
    """A small static table, collected once and served back from driver
    memory: a DataFrame built from a pyarrow Table under Spark's
    ``arrow.localRelationThreshold`` is a LocalRelation, so collecting it
    runs no Spark job and broadcasting it rescans no file."""
    return df.sparkSession.createDataFrame(df.toArrow())


@dataclass
class RoundMetrics:
    round: int
    records: int = 0
    html_pages: int = 0
    links: int = 0
    dedup_hits: int = 0
    # seen rows that pass the round's Bloom (every match plus its false
    # positives): the rows that reach the exact anti-join
    bloom_hits: int = 0
    scheduled: int = 0
    spilled: int = 0
    robots_blocked: int = 0
    invalid_urls: int = 0


class FrontierCrawl:
    """Drives the crawl over a documents corpus directory
    (documents/seeds/politeness/robots parquet, fixtures.py layout)."""

    def __init__(
        self,
        spark: SparkSession,
        corpus_dir: str,
        state_dir: str,
        max_rounds: int = 100,
        salt_k: int = 16,
        compact_every: int = 8,
    ) -> None:
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.state_dir = state_dir
        self.max_rounds = max_rounds
        self.salt_k = salt_k
        self.compact_every = compact_every
        os.makedirs(state_dir, exist_ok=True)

        # static for the crawl: read once here, not once per round
        self.politeness = _in_driver(spark.read.parquet(f"{corpus_dir}/politeness.parquet"))
        self.robots_rules = _in_driver(
            robots_rules(spark.read.parquet(f"{corpus_dir}/robots.parquet"))
        )
        self._docs: DataFrame | None = None
        self._frontier_schema: StructType | None = None

    # ---------------- state paths ----------------

    def _p(self, table: str, rnd: int) -> str:
        return f"{self.state_dir}/{table}/round={rnd:05d}"

    @property
    def _manifest_path(self) -> str:
        return f"{self.state_dir}/manifest.json"

    def _commit(
        self,
        rnd: int,
        frontier_rows: int,
        seen_base: int | None = None,
        scheduled_delta: int = 0,
        candidate_rows: int | None = None,
    ) -> None:
        m = self.load_manifest() or {}
        if seen_base is None:
            seen_base = m.get("seen_base_round", -1)
        # running total of seen rows (per-round deltas are disjoint because
        # the seen gate never re-schedules a key) and the last round's
        # unique-candidate count: they size the next round's seen Bloom
        # without a count() job
        manifest = {
            "last_committed_round": rnd,
            "next_frontier_rows": frontier_rows,
            "seen_base_round": seen_base,
            "seen_rows": m.get("seen_rows", 0) + scheduled_delta,
            "candidate_rows": m.get("candidate_rows", 0) if candidate_rows is None else candidate_rows,
        }
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # the atomic commit point

    def load_manifest(self) -> dict | None:
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            m = json.load(f)
        if "seen_rows" not in m:
            # every commit writes the counter; a manifest without it was not
            # written by this code, and a guessed total would missize the
            # seen Bloom for the rest of the crawl
            raise ValueError(
                f"{self._manifest_path} has no 'seen_rows' key; not a crawl state dir this code wrote"
            )
        return m

    # ---------------- derived inputs ----------------

    def _docs_keyed(self) -> DataFrame:
        """Documents with canonical url_key — the fetchable index. Derived
        once and persisted (at cluster scale this is the Iceberg documents
        table's sort key, computed at ingest), and read once per object."""
        if self._docs is None:
            path = f"{self.state_dir}/docs_keyed"
            if not os.path.exists(path):
                docs = self.spark.read.parquet(f"{self.corpus_dir}/documents.parquet")
                canonicalize_candidates(docs, "url").write.mode("overwrite").parquet(path)
            self._docs = self.spark.read.parquet(path)
        return self._docs

    def _frontier(self, rnd: int) -> DataFrame:
        """Round ``rnd``'s frontier. The schema is inferred from the first
        frontier this object reads — ``priority`` takes the seeds' type, int
        or bigint — and reused after, so later rounds start no
        footer-inference job."""
        reader = self.spark.read
        if self._frontier_schema is not None:
            reader = reader.schema(self._frontier_schema)
        frontier = reader.parquet(self._p("frontier", rnd))
        self._frontier_schema = frontier.schema
        return frontier

    def _seen(self, upto_round: int) -> DataFrame:
        """Seen set = compacted base (≤ seen_base_round) + per-round deltas
        after it, minus recrawl tombstones. Append-only Iceberg-style deltas
        with periodic compaction (``compact_every``) so a 10k-round crawl
        reads O(compact_every) files, not 10k delta dirs.

        Tombstones (written by ``unsee``) carry the round they were issued
        at; a seen row dies iff its ``first_round`` ≤ the key's latest
        tombstone round — so a key re-discovered AFTER its tombstone is
        seen again, and re-applying old tombstones over a compacted base is
        idempotent."""
        m = self.load_manifest() or {}
        base_round = m.get("seen_base_round", -1)
        paths = []
        if base_round >= 0 and base_round <= upto_round:
            paths.append(f"{self.state_dir}/seen_base/round={base_round:05d}")
            start = base_round + 1
        else:
            start = 0
        paths += [
            self._p("seen", r)
            for r in range(start, upto_round + 1)
            if os.path.exists(self._p("seen", r))
        ]
        if not paths:
            return self.spark.createDataFrame([], SEEN_SCHEMA)
        seen = self.spark.read.schema(SEEN_SCHEMA).parquet(*paths)
        return self._apply_tombstones(seen)

    def _apply_tombstones(self, seen: DataFrame) -> DataFrame:
        tomb_dirs = self._tombstone_dirs()
        if tomb_dirs:
            tomb = (
                self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(*tomb_dirs)
                .groupBy("url_key")
                .agg(F.max("ts_round").alias("ts_round"))
            )
            # gate the hint on the on-disk byte size (free driver-side
            # stat — no count job): typical TTL batches broadcast; a mass
            # recrawl's tombstone set shuffle-joins instead of OOMing
            # (AQE is off inside rounds, so no runtime fallback exists)
            if self._dir_bytes(tomb_dirs) < 64 << 20:
                tomb = F.broadcast(tomb)
            seen = (
                seen.join(tomb, "url_key", "left")
                .filter(F.col("ts_round").isNull() | (F.col("first_round") > F.col("ts_round")))
                .drop("ts_round")
            )
        return seen

    def _tombstone_dirs(self, upto_round: int | None = None) -> list[str]:
        root = f"{self.state_dir}/tombstones"
        if not os.path.isdir(root):
            return []
        dirs = sorted(f"{root}/{d}" for d in os.listdir(root) if d.startswith("round="))
        if upto_round is not None:
            dirs = [d for d in dirs if int(d.rsplit("=", 1)[1]) <= upto_round]
        return dirs

    @staticmethod
    def _dir_bytes(dirs: list[str]) -> int:
        total = 0
        for d in dirs:
            for name in os.listdir(d):
                try:
                    total += os.path.getsize(os.path.join(d, name))
                except OSError:
                    pass
        return total

    def _maybe_compact_seen(self, rnd: int) -> int | None:
        """Rewrite the full seen set (base + deltas ≤ rnd) into one sorted
        snapshot; becomes effective atomically via the manifest's
        seen_base_round. Sorted by url_key → Parquet min/max prune point
        lookups (the HBase-rowkey-scan analogue)."""
        if self.compact_every <= 0 or (rnd + 1) % self.compact_every != 0:
            return None
        out = f"{self.state_dir}/seen_base/round={rnd:05d}"
        self._seen(rnd).sortWithinPartitions("url_key").write.mode("overwrite").parquet(out)
        return rnd

    # ---------------- round 0 bootstrap ----------------

    def bootstrap(self) -> None:
        seeds = self.spark.read.parquet(f"{self.corpus_dir}/seeds.parquet")
        cand = drop_disallowed(_valid_candidates(seeds), self.robots_rules)
        obs = Observation()
        frontier = _merge_frontier(cand.withColumn("discovered_round", F.lit(0))).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        frontier.write.mode("overwrite").parquet(self._p("frontier", 0))
        self._commit(-1, int(obs.get["rows"]))

    # ---------------- one round ----------------

    def run_round(self, rnd: int) -> RoundMetrics:
        """One crawl round in THREE write actions: schedule write, seen-delta
        write, and the frontier write that streams fetch→extract→
        canonicalize→robots→dedup→merge end-to-end. Every counter is an
        ``observe()`` metric riding those passes — the round-1 design ran ~10
        extra ``.count()`` jobs per round, which at a 10k-round crawl is the
        dominant scheduler overhead — and the one-row metrics file is written
        driver-side, not by a Spark job.

        At the test config (local[8], 500 docs) a warm round runs 11 Spark
        jobs: the scheduler's 3 eager jobs (bounds sample, seq totals, the
        politeness broadcast), the schedule write with its winner broadcast
        (2), the seen write (1), and the frontier write with its seen-Bloom
        subquery and 3 broadcasts (5). A compaction round adds the seen
        base write.

        AQE is disabled for the round's actions (restored after): the round's
        stage graph is FIXED and its skew is handled explicitly (politeness
        salting, static shuffle partitioning), so AQE's per-exchange
        materialization only adds driver-serial sub-jobs — measured 16% of
        round wall-clock at local[4] (BENCH.md A/B), repeated every round.
        AQE stays on session-wide for ad-hoc analytics."""
        spark = self.spark
        aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._run_round_inner(rnd)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)

    def _run_round_inner(self, rnd: int) -> RoundMetrics:
        spark = self.spark
        m = RoundMetrics(round=rnd)
        frontier = self._frontier(rnd)
        to_unpersist: list[DataFrame] = []

        # one-pass politeness output: single winner broadcast; scheduled and
        # spilled are filters over the same cached frame (at cluster scale
        # this frame is written once, partitioned by the scheduled flag)
        obs_round = Observation()
        joined = (
            schedule_round_combined(
                frontier, self.politeness, self.salt_k, cache_registry=to_unpersist,
                broadcast_row_limit=WINNER_BROADCAST_ROW_LIMIT,
            )
            .observe(
                obs_round,
                F.count(F.lit(1)).alias("n_frontier_rows"),
                F.count("seq").alias("n_scheduled"),
            )
            .cache()
        )
        to_unpersist.append(joined)
        scheduled, spilled = split_schedule(joined)

        # action 1 — schedule write; materializes the cache, fires obs_round.
        # Written with NATURAL partitioning: Σ budgets can be millions of
        # rows per round at 10^10-frontier scale (scheduler.py docstring), so
        # a coalesce(1) here would funnel the whole round's schedule through
        # ONE task — a serialization point on the hot path (VERDICT r2 #2).
        (
            scheduled.select(
                F.lit(rnd).alias("round"), "seq", "url_key", "url", "host",
                "priority",
            )
            .write.mode("overwrite").parquet(self._p("schedule", rnd))
        )
        m.scheduled = int(obs_round.get["n_scheduled"])
        m.spilled = int(obs_round.get["n_frontier_rows"]) - m.scheduled

        # action 2 — seen delta write (reads the joined cache)
        (
            scheduled.select("url_key", "url_hash", F.lit(rnd).alias("first_round"))
            .write.mode("overwrite").parquet(self._p("seen", rnd))
        )

        # fetch: scheduled ∩ corpus (semi-join on the sorted key). The
        # scheduled-key set is broadcast ONLY while it fits (m.scheduled is
        # already known from obs_round — free); a 10^10-frontier round with
        # millions of winners would OOM an unconditional broadcast, so past
        # the gate it degrades to a shuffle semi-join on url_key.
        docs = self._docs_keyed()
        sched_keys = scheduled.select("url_key")
        if m.scheduled <= FETCH_BROADCAST_ROW_LIMIT:
            sched_keys = F.broadcast(sched_keys)
        obs_fetch = Observation()
        fetched = docs.join(sched_keys, "url_key", "left_semi").observe(
            obs_fetch,
            F.count(F.lit(1)).alias("records"),
            F.coalesce(
                F.sum(
                    F.col("mime_type")
                    .isin("text/html", "application/xhtml+xml")
                    .cast("long")
                ),
                F.lit(0),
            ).alias("html_pages"),
        )

        links = extract_links(fetched.drop("url_key", "host", "url_hash"))

        obs_cand = Observation()
        cand = _valid_candidates(links.select(F.col("dst_url").alias("url")), observation=obs_cand)
        obs_robots = Observation()
        cand = drop_disallowed(cand, self.robots_rules).observe(
            obs_robots, F.count(F.lit(1)).alias("after_robots")
        )

        # batch-level dedup (per-page + cross-page within the round), cached:
        # the seen gate's Bloom subquery and its anti-join both read it, so
        # the canonicalizer runs once
        obs_uniq = Observation()
        cand = (
            cand.groupBy("url_key")
            .agg(
                F.min("url").alias("url"),
                F.first("host").alias("host"),
                F.first("url_hash").alias("url_hash"),
            )
            .withColumn("priority", F.lit(0))
            .withColumn("discovered_round", F.lit(rnd + 1))
            .observe(obs_uniq, F.count(F.lit(1)).alias("unique"))
            .cache()
        )
        to_unpersist.append(cand)

        # URL-seen gate (operators/seen.py): the candidates' Bloom, built
        # inside the frontier write's plan, prunes the one scan of the seen
        # set (this round's delta included) before the exact anti-join. It
        # is sized from the manifest — the last round's unique candidates
        # and the running seen_rows — not a count() job; a misestimate
        # changes only how many seen rows reach the join. Nothing of it is
        # kept between rounds, so resume needs no filter state.
        manifest = self.load_manifest()
        n_cand = max(manifest.get("candidate_rows", 0), 4096)
        n_seen = manifest["seen_rows"] + m.scheduled
        obs_dedup = Observation()
        fresh = anti_join_seen(cand, self._seen(rnd), n_cand, n_seen, observation=obs_dedup)
        obs_fresh = Observation()
        fresh = fresh.observe(obs_fresh, F.count(F.lit(1)).alias("n_fresh"))

        # next frontier = merge(spill, fresh); key-level merge keeps max
        # priority and the earliest discovery round
        obs_frontier = Observation()
        cols = ("url_key", "url", "host", "url_hash", "priority", "discovered_round")
        merged = _merge_frontier(
            spilled.select(*cols).unionByName(fresh.select(*cols))
        ).observe(obs_frontier, F.count(F.lit(1)).alias("n_frontier"))
        # action 3 — frontier write; its Bloom subquery job runs the chain
        # above into the candidates' cache, and the write reads it, firing
        # obs_fetch/obs_cand/obs_robots/obs_uniq/obs_dedup/obs_fresh/
        # obs_frontier. The runtime-filter caps are raised for this action
        # only, so a round past them still builds its Bloom at full size.
        with bloom_caps(spark, *bloom_size(n_cand, n_seen)):
            merged.write.mode("overwrite").parquet(self._p("frontier", rnd + 1))

        m.records = int(obs_fetch.get["records"])
        m.html_pages = int(obs_fetch.get["html_pages"])
        m.links = int(obs_cand.get["links"])
        m.invalid_urls = int(obs_cand.get["invalid"])
        m.robots_blocked = (
            m.links - m.invalid_urls - int(obs_robots.get["after_robots"])
        )
        m.dedup_hits = int(obs_uniq.get["unique"]) - int(obs_fresh.get["n_fresh"])
        m.bloom_hits = int(obs_dedup.get["bloom_hits"])
        n_frontier = int(obs_frontier.get["n_frontier"])

        self._write_metrics(m)
        new_base = self._maybe_compact_seen(rnd)
        self._commit(rnd, n_frontier, seen_base=new_base, scheduled_delta=m.scheduled,
                     candidate_rows=int(obs_uniq.get["unique"]))
        if new_base is not None:
            # tombstones ≤ the committed base round are fully reflected in
            # the base snapshot (and idempotent against any later delta:
            # first_round > ts_round keeps re-discovered keys) — prune them
            # AFTER the manifest commit so a crash before it cannot lose
            # deletes. Without pruning, every consumed tombstone dir is
            # re-read/re-joined on every round forever.
            for d in self._tombstone_dirs(upto_round=new_base):
                shutil.rmtree(d, ignore_errors=True)
        # unpersist exactly this round's intermediates (winner set, joined,
        # candidates) — never clearCache(), which would drop caller-owned
        # caches in the shared session
        for df in to_unpersist:
            df.unpersist()
        return m

    def _write_metrics(self, m: RoundMetrics) -> None:
        """Round ``m.round``'s metrics as one single-row Parquet file,
        written driver-side (a Spark write of one row costs a Python-worker
        job). Columns are sorted by name and all int64 — the schema
        ``spark.createDataFrame([vars(m)])`` infers, which ``metrics()``
        readers see. The directory is replaced whole, so a resumed round
        leaves no file of its crashed attempt behind."""
        row = vars(m)
        out = self._p("metrics", m.round)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        pq.write_table(
            pa.table({k: pa.array([row[k]], pa.int64()) for k in sorted(row)}),
            f"{out}/part-00000.parquet",
        )

    # ---------------- full runs ----------------

    def run(self, max_rounds: int | None = None) -> list[RoundMetrics]:
        """Run (or resume) to completion. Resumption reads the manifest and
        continues from the first uncommitted round. A round's seen Bloom is
        built over its own candidates, so no filter state needs restoring."""
        max_rounds = max_rounds if max_rounds is not None else self.max_rounds
        manifest = self.load_manifest()
        if manifest is None:
            self.bootstrap()
            manifest = self.load_manifest()
        start = manifest["last_committed_round"] + 1
        out: list[RoundMetrics] = []
        rnd = start
        while rnd < max_rounds:
            self._heal_frontier(rnd)  # finish an interrupted recrawl swap
            if not os.path.exists(self._p("frontier", rnd)):
                break
            if self.load_manifest()["next_frontier_rows"] == 0:
                # recrawl's swap→commit crash window: the swapped-in
                # frontier dir exists but _commit never refreshed the
                # manifest, so next_frontier_rows is the stale 0 of a
                # finished crawl. Trust the directory, not the counter:
                # recount once and refresh the manifest before deciding.
                # (Counting only on the ==0 path keeps the hot loop free
                # of an extra count() job per round.)
                n = self._frontier(rnd).count()
                if n == 0:
                    break
                self._commit(rnd - 1, n)  # rnd - 1 is the last committed round
            out.append(self.run_round(rnd))
            rnd += 1
        return out

    # ---------------- result accessors ----------------

    def _round_paths(self, table: str) -> list[str]:
        """Explicit committed leaf dirs — passing leaves (not a glob/basePath)
        keeps Spark from inferring a `round` partition column that would
        collide with the embedded data column."""
        last = self.load_manifest()["last_committed_round"]
        return [self._p(table, r) for r in range(last + 1) if os.path.exists(self._p(table, r))]

    def schedule(self) -> DataFrame:
        return self.spark.read.parquet(*self._round_paths("schedule"))

    def url_seen(self) -> DataFrame:
        last = self.load_manifest()["last_committed_round"]
        return self._seen(last)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(*self._round_paths("metrics"))

    # ---------------- recrawl (the deletion story) ----------------

    def unsee(self, urls: DataFrame, url_col: str = "url") -> int:
        """Delete URLs from the seen set (recrawl-after-TTL — the HBase
        layer's implicit delete, HBaseTableManager row deletes). Writes a
        TOMBSTONE delta honored by ``_seen``: the key's seen rows with
        ``first_round`` ≤ the tombstone round die; a later re-discovery
        re-adds it. Idempotent (max-tombstone-round wins); the manifest's
        seen_rows counter becomes an upper bound, which only lowers the seen
        Bloom's fpp a little (correctness lives in the exact anti-join).
        Returns the number of tombstoned keys."""
        last = (self.load_manifest() or {}).get("last_committed_round", -1)
        keys = (
            _valid_candidates(urls, url_col)
            .select("url_key")
            .distinct()
            .withColumn("ts_round", F.lit(last))
            .cache()
        )
        n = keys.count()  # THIS call's key count, not the dir's running total
        try:
            out = f"{self.state_dir}/tombstones/round={last:05d}"
            # append, not overwrite: two unsee() calls in the same round must
            # both survive (duplicate keys are harmless — max ts_round wins)
            keys.write.mode("append").parquet(out)
        finally:
            keys.unpersist()
        return n

    def recrawl(self, urls: DataFrame, url_col: str = "url", priority: int = 0) -> None:
        """Schedule URLs for a fresh fetch: tombstone their seen rows and
        seed them into the next frontier round (merging with any pending
        frontier). ``run()`` then picks them up like newly discovered
        URLs — they flow through politeness, dedup (now fresh), fetch and
        extraction exactly once more. Robots rules apply exactly as on
        every other frontier entry path (bootstrap seeds, extracted
        links); on a never-crawled state dir the normal bootstrap runs
        first so the corpus seeds are not silently dropped.

        Crash-recovery contract: tombstones are durably appended FIRST, so
        a crash before the frontier swap leaves keys unseen but not yet
        re-seeded — re-invoking ``recrawl`` with the same URLs repairs
        this (``unsee`` is idempotent, max-tombstone-round wins). A crash
        after the swap but before ``_commit`` leaves the manifest's
        ``next_frontier_rows`` stale; ``run()`` detects that (frontier dir
        present but counter 0), recounts, and refreshes the manifest."""
        if self.load_manifest() is None:
            self.bootstrap()
        self.unsee(urls, url_col)
        last = self.load_manifest()["last_committed_round"]
        nxt = last + 1
        cand = drop_disallowed(_valid_candidates(urls, url_col), self.robots_rules).select(
            "url_key", F.col(url_col).alias("url"), "host", "url_hash",
            F.lit(priority).alias("priority"), F.lit(nxt).alias("discovered_round"),
        )
        pending_path = self._p("frontier", nxt)
        if os.path.exists(pending_path):
            cand = self._frontier(nxt).unionByName(cand)
        cand = _merge_frontier(cand)
        # checkpoint-protocol-preserving swap: the merged frontier is fully
        # written to a sibling dir first, then swapped in with two metadata
        # ops — overwriting in place would delete the committed frontier
        # BEFORE the slow Spark write completes, so a crash mid-write
        # leaves a partial/absent frontier the manifest still points at.
        # The tiny rmtree→rename window is covered by _heal_frontier.
        new = pending_path + ".new"
        shutil.rmtree(new, ignore_errors=True)
        cand.write.mode("overwrite").parquet(new)
        n = self.spark.read.parquet(new).count()
        if os.path.exists(pending_path):
            shutil.rmtree(pending_path)
        os.rename(new, pending_path)
        self._commit(last, n)

    def _heal_frontier(self, rnd: int) -> None:
        """Finish an interrupted ``recrawl`` swap: frontier dir missing but
        its fully-written ``.new`` sibling present → rename it in."""
        path = self._p("frontier", rnd)
        if not os.path.exists(path) and os.path.exists(path + ".new"):
            os.rename(path + ".new", path)

