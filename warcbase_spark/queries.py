"""Driver-facing query registry: Spark DataFrame queries + DuckDB oracles.

Every operator from SURVEY.md §2 that is SQL-expressible appears here twice:
once as an idiomatic PySpark DataFrame pipeline (Catalyst-optimized) and once
as ANSI SQL the driver runs through DuckDB on the same parquet tables.
Column names are aliased identically on both sides; float aggregates are
made order-insensitive by summing integer cents/millis (per-row rounding is
deterministic; integer sums are exact), so value-hashes match bit-for-bit.

The crawl-shaped queries run over a DERIVED WEB: a deterministic
urls/hosts/links view computed from the driver's ``documents`` table with
pure arithmetic/string ops that Spark and DuckDB express identically
(``_WEB_CTE`` below mirrors ``web_docs``/``web_links``). This lets the
frontier operators — canonical keys, adjacency, anchors, politeness
scheduling, multi-round BFS with URL-seen dedup — be oracle-checked
end-to-end.

REGISTRATION ORDER IS COVERAGE PRIORITY. The driver's CORRECTNESS gate
checks only the FIRST 50 entries of ``__spark_entry__.queries()``; any
query registered past position 50 gets no driver-level evidence that
round. ``_DEFERRED`` (end of this module) pins which queries ride in the
overflow tail — keep it to stable queries whose operator family has a
stronger sibling inside the window, and ALWAYS move a query back into the
window for a round in which its underlying implementation changed. When
adding a query, append it normally (it lands in-window because the tail
is re-deferred at import time) and push a stable sibling into
``_DEFERRED`` if the window overflows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warcbase_spark.functions.text import (
    detect_language,
    fingerprint,
    quality_milli,
    token_count,
)
from warcbase_spark.operators.count_items import count_items

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Tables whose every consumer does heavy per-row vector math. The driver
# writes each table as ONE single-rowgroup parquet file, which scans as ONE
# task — spread_scan repartitions those scans to the core count (and is a
# no-op on real multi-file tables; guide §2.5 "input skew").
#
# documents/events are deliberately NOT here: a blanket spread was A/B'd at
# sf1.0 and LOST on the join-/iteration-shaped consumers (pagerank5 4.9s →
# 7.4s, frontier_bfs3 8.0 → 10.6, events_sessions 1.1 → 1.7 — every
# web_docs re-derivation pays the extra exchange) while winning only on the
# expression-heavy ones — so those spread at the consumer instead
# (doc_shingles, dedup_simhash, ner_entities, _tweet_lines,
# repetition_stats' min_partitions).
_SPREAD_TABLES = {"embeddings"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from warcbase_spark.functions.layout import spread_scan

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return spread_scan(df) if name in _SPREAD_TABLES else df


# ---------------------------------------------------------------------------
# Derived web view (deterministic; mirrored by _WEB_CTE)
# ---------------------------------------------------------------------------

def web_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    month = F.concat(F.lit("2024"), F.lpad((1 + F.col("doc_id") % 3).cast("string"), 2, "0"))
    return d.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.concat(F.lit("http://www."), "source", F.lit(".example.com/d/"), sid, F.lit(".html")).alias("url"),
        F.concat(F.lit("www."), "source", F.lit(".example.com")).alias("host"),
        F.concat("source", F.lit(".example.com")).alias("domain"),
        F.concat(F.lit("com.example."), "source", F.lit(".www/d/"), sid, F.lit(".html")).alias("url_key"),
        month.alias("month"),
        F.concat(month, F.lpad((1 + F.col("doc_id") % 28).cast("string"), 2, "0")).alias("crawl_date"),
        F.when(F.col("doc_id") % 10 <= 7, "text/html")
        .when(F.col("doc_id") % 10 == 8, "image/gif")
        .otherwise("text/plain")
        .alias("mime_type"),
    )


def web_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = web_docs(spark, sf_dir)
    n = w.agg(F.count(F.lit(1)).alias("c"))
    src = (
        w.select(
            F.col("doc_id").alias("src_id"),
            F.col("url").alias("src_url"),
            F.col("domain").alias("src_domain"),
            F.col("url_key").alias("src_key"),
            "month",
            F.explode(F.sequence(F.lit(1).cast("long"), 1 + F.col("doc_id") % 3)).alias("j"),
        )
        .join(F.broadcast(n))
        .select(
            "src_id",
            "src_url",
            "src_domain",
            "src_key",
            "month",
            "j",
            F.concat(F.lit("a"), F.col("j").cast("string")).alias("anchor"),
            ((F.col("src_id") * 7 + F.col("j") * 13) % F.col("c")).alias("dst_id"),
        )
    )
    dst = web_docs(spark, sf_dir).select(
        F.col("doc_id").alias("dst_id"),
        F.col("url").alias("dst_url"),
        F.col("domain").alias("dst_domain"),
        F.col("url_key").alias("dst_key"),
        F.col("host").alias("dst_host"),
    )
    return src.join(dst, "dst_id")


_WEB_CTE = """
WITH n AS (SELECT count(*) AS c FROM documents),
w AS (
  SELECT doc_id, text, lang, source, n_chars,
         'http://www.' || source || '.example.com/d/' || doc_id || '.html' AS url,
         'www.' || source || '.example.com' AS host,
         source || '.example.com' AS domain,
         'com.example.' || source || '.www/d/' || doc_id || '.html' AS url_key,
         '2024' || lpad(CAST(1 + doc_id % 3 AS VARCHAR), 2, '0') AS month,
         '2024' || lpad(CAST(1 + doc_id % 3 AS VARCHAR), 2, '0')
                || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS crawl_date,
         CASE WHEN doc_id % 10 <= 7 THEN 'text/html'
              WHEN doc_id % 10 = 8 THEN 'image/gif'
              ELSE 'text/plain' END AS mime_type
  FROM documents
),
lnk0 AS (SELECT doc_id AS src_id, unnest(generate_series(1, 1 + doc_id % 3)) AS j FROM w),
lnk1 AS (SELECT src_id, j, 'a' || j AS anchor,
                (src_id * 7 + j * 13) % (SELECT c FROM n) AS dst_id
         FROM lnk0),
links AS (
  SELECT l.src_id, s.url AS src_url, s.domain AS src_domain, s.url_key AS src_key,
         s.month AS month, l.j, l.anchor, l.dst_id,
         d.url AS dst_url, d.domain AS dst_domain, d.url_key AS dst_key, d.host AS dst_host
  FROM lnk1 l JOIN w s ON l.src_id = s.doc_id JOIN w d ON l.dst_id = d.doc_id
)
"""


def _cents(col) -> F.Column:
    """Order-insensitive money aggregation: per-row round to integer cents
    (deterministic on identical doubles), exact bigint sum."""
    return F.round(col * 100, 0).cast("long")


# ---------------------------------------------------------------------------
# §2.4 aggregations / §2.2 filters over the derived web
# ---------------------------------------------------------------------------

@query(
    "count_items_domain",
    _WEB_CTE + "SELECT domain, count(*) AS count FROM w GROUP BY domain",
)
def count_items_domain(spark, sf_dir):
    """A1 countItems (RecordRDD.scala:37-41) keyed by domain."""
    return count_items(web_docs(spark, sf_dir), "domain")


@query(
    "pages_per_month",
    _WEB_CTE + "SELECT month, count(*) AS count FROM w GROUP BY month",
)
def pages_per_month(spark, sf_dir):
    """A2 pages per crawl month (CrawlStatistics.scala:14-22)."""
    return count_items(web_docs(spark, sf_dir), "month")


@query(
    "mime_histogram",
    _WEB_CTE + "SELECT mime_type, count(*) AS count FROM w GROUP BY mime_type",
)
def mime_histogram(spark, sf_dir):
    """A11 MIME distribution (ArcTest.scala:94-116)."""
    return count_items(web_docs(spark, sf_dir), "mime_type")


@query(
    "valid_html_by_date",
    _WEB_CTE
    + """
    SELECT crawl_date, count(*) AS count FROM w
    WHERE mime_type IN ('text/html', 'application/xhtml+xml')
      AND crawl_date IS NOT NULL AND url NOT LIKE '%robots.txt'
    GROUP BY crawl_date
    """,
)
def valid_html_by_date(spark, sf_dir):
    """F1 keepValidPages (RecordRDD.scala:51-59) + A2 count by date."""
    from warcbase_spark.operators.filters import keep_mime_types

    w = web_docs(spark, sf_dir).filter(
        F.col("crawl_date").isNotNull() & ~F.col("url").endswith("robots.txt")
    )
    return count_items(keep_mime_types(w, ["text/html", "application/xhtml+xml"]), "crawl_date")


@query(
    "url_pattern_split",
    _WEB_CTE
    + r"""
    SELECT
      count(*) FILTER (WHERE regexp_matches(url, '^http://www\.src1[0-9]\.example\.com/.*$')) AS kept,
      count(*) FILTER (WHERE NOT regexp_matches(url, '^http://www\.src1[0-9]\.example\.com/.*$')) AS discarded
    FROM w
    """,
)
def url_pattern_split(spark, sf_dir):
    """F6 keepUrlPatterns/discardUrlPatterns partition exactly
    (RecordRDD.scala:84-91; 16/284-style golden, ArcTest.scala:57-64)."""
    from warcbase_spark.operators.filters import discard_url_patterns, keep_url_patterns

    w = web_docs(spark, sf_dir)
    pat = [r"http://www\.src1[0-9]\.example\.com/.*"]
    kept = keep_url_patterns(w, pat).count()
    discarded = discard_url_patterns(w, pat).count()
    return spark.createDataFrame([(kept, discarded)], "kept long, discarded long")


@query(
    "top_domains",
    _WEB_CTE
    + "SELECT domain, count(*) AS count FROM w GROUP BY domain ORDER BY count DESC, domain LIMIT 5",
)
def top_domains(spark, sf_dir):
    """W3 top-k (TakeOrderedAndProject; ExtractPopularImages.scala:24)."""
    return count_items(web_docs(spark, sf_dir), "domain", limit=5)


@query(
    "domain_links_monthly",
    _WEB_CTE
    + """
    SELECT month, src_domain, dst_domain, count(*) AS count
    FROM links GROUP BY month, src_domain, dst_domain
    """,
)
def domain_links_monthly(spark, sf_dir):
    """A5 — the webgraph aggregate (CrawlStatistics.scala:50-71). Flagship."""
    return (
        web_links(spark, sf_dir)
        .groupBy("month", "src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).alias("count"))
    )


@query(
    "adjacency",
    _WEB_CTE
    + """
    SELECT w.url_key AS src_key,
           coalesce(string_agg(DISTINCT l.dst_key, ',' ORDER BY l.dst_key), '') AS dst_keys
    FROM w LEFT JOIN links l ON l.src_key = w.url_key
    GROUP BY w.url_key
    """,
)
def adjacency(spark, sf_dir):
    """G2 page adjacency: sorted, deduped dst keys; emits empty rows for
    linkless pages (ExtractLinksWac.java:174-189)."""
    w = web_docs(spark, sf_dir).select(F.col("url_key").alias("src_key"))
    agg = (
        web_links(spark, sf_dir)
        .groupBy("src_key")
        .agg(F.array_join(F.array_sort(F.collect_set("dst_key")), ",").alias("dst_keys"))
    )
    return w.join(agg, "src_key", "left").na.fill({"dst_keys": ""})


@query(
    "anchors_inverted",
    _WEB_CTE + "SELECT dst_key, src_key, anchor FROM links",
)
def anchors_inverted(spark, sf_dir):
    """G4 InvertAnchorText — duplicates retained (InvertAnchorText.java:88-107)."""
    return web_links(spark, sf_dir).select("dst_key", "src_key", "anchor")


@query(
    "url_dictionary",
    _WEB_CTE
    + """
    SELECT url_key, row_number() OVER (ORDER BY url_key) AS id
    FROM (SELECT DISTINCT url_key FROM w)
    """,
)
def url_dictionary(spark, sf_dir):
    """A10 FST-style dense id assignment: global sort + sequential ids
    (UrlMappingBuilder.java:72,119-136). The reference funnels this through
    ONE reducer (UrlMappingMapReduceBuilder.java:254); a naive
    row_number().over(Window.orderBy(...)) is the same funnel reborn. This
    uses scheduler.add_global_seq: url_key-ordered ranks per bucket of
    sampled bounds, plus driver-collected bucket offsets — the sort stays
    parallel at 10^10 keys."""
    from warcbase_spark.operators.scheduler import add_global_seq

    w = web_docs(spark, sf_dir).select("url_key").distinct()
    return add_global_seq(w, ["url_key"], out_col="id").withColumn(
        "id", F.col("id").cast("int")
    )


@query(
    "popular_fingerprints",
    _WEB_CTE
    + """
    SELECT md5(text) AS fp, count(*) AS count, min(url) AS sample_url
    FROM w GROUP BY md5(text) ORDER BY count DESC, fp LIMIT 20
    """,
)
def popular_fingerprints(spark, sf_dir):
    """A7 duplicate-content popularity (ExtractPopularImages.scala:17-24
    pattern, MD5-grouped)."""
    return (
        web_docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("fp"))
        .agg(F.count(F.lit(1)).alias("count"), F.min("url").alias("sample_url"))
        .orderBy(F.desc("count"), "fp")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Frontier operators, oracle-checked end-to-end on the derived web
# ---------------------------------------------------------------------------

_SEEDS_SQL = """
seeds AS (
  SELECT url_key, url, host, CAST(doc_id % 5 AS INT) AS priority
  FROM w WHERE doc_id % 37 = 0
),
budgets AS (
  SELECT host, CASE WHEN host IN ('www.src0.example.com','www.src1.example.com')
               THEN 3 ELSE 2 END AS budget
  FROM (SELECT DISTINCT host FROM w)
)
"""


def _seeds_df(spark, sf_dir):
    return web_docs(spark, sf_dir).filter(F.col("doc_id") % 37 == 0).select(
        "url_key", "url", "host", (F.col("doc_id") % 5).cast("int").alias("priority")
    )


def _politeness_df(spark, sf_dir):
    hosts = web_docs(spark, sf_dir).select("host").distinct()
    per_host = hosts.select(
        "host",
        F.when(F.col("host").isin("www.src0.example.com", "www.src1.example.com"), 3)
        .otherwise(2)
        .cast("int")
        .alias("budget"),
    )
    default = spark.createDataFrame([("*", 2)], "host string, budget int")
    return per_host.unionByName(default)


@query(
    "frontier_schedule_r0",
    _WEB_CTE.rstrip()
    + ","
    + _SEEDS_SQL
    + """
    , ranked AS (
      SELECT s.url_key, s.host, s.priority, b.budget,
             row_number() OVER (PARTITION BY s.host ORDER BY s.priority DESC, s.url_key) AS rn
      FROM seeds s JOIN budgets b ON s.host = b.host
    )
    SELECT CAST(row_number() OVER (ORDER BY priority DESC, url_key) AS INT) AS seq,
           url_key, host, priority
    FROM ranked WHERE rn <= budget
    """,
)
def frontier_schedule_r0(spark, sf_dir):
    """Politeness priority queue, round 0 (north-rule scheduler; ordering
    semantics from UrlMappingBuilder.java:72 sort parity)."""
    from warcbase_spark.operators.scheduler import schedule_round

    cand = _seeds_df(spark, sf_dir).withColumn("url_hash", F.xxhash64("url_key"))
    sched, _ = schedule_round(cand, _politeness_df(spark, sf_dir))
    return sched.select("seq", "url_key", "host", "priority")


def bfs_rounds(
    seeds: DataFrame, links: DataFrame, politeness: DataFrame, rounds: int
) -> DataFrame:
    """Multi-round BFS crawl schedule as a pure DataFrame composition:
    per round → politeness window, seen-set anti-join dedup, spill with
    priority+1 (the frontier loop semantics of frontier/crawl.py, without
    checkpoint IO — used for oracle checks and benchmarks).

    links must expose (src_key, dst_key, dst_host).
    """
    from warcbase_spark.operators.scheduler import schedule_round

    links = links.cache()  # re-joined every round
    frontier = seeds.select("url_key", "url", "host", "priority").withColumn(
        "url_hash", F.xxhash64("url_key")
    )
    seen = None
    out = []
    for rnd in range(rounds):
        sched, spilled = schedule_round(frontier, politeness)
        sched = sched.cache()
        out.append(
            sched.select(
                F.lit(rnd).alias("round"), "seq", "url_key", "host", "priority"
            )
        )
        newly = sched.select("url_key")
        seen = newly if seen is None else seen.unionByName(newly)
        cand = (
            links.join(sched.select(F.col("url_key").alias("src_key")), "src_key")
            .select(
                F.col("dst_key").alias("url_key"),
                F.col("dst_url").alias("url"),
                F.col("dst_host").alias("host"),
            )
            .distinct()
            .join(seen, "url_key", "left_anti")
            .withColumn("priority", F.lit(0))
            .withColumn("url_hash", F.xxhash64("url_key"))
        )
        frontier = (
            spilled.select("url_key", "url", "host", "priority", "url_hash")
            .unionByName(cand.select("url_key", "url", "host", "priority", "url_hash"))
            .groupBy("url_key")
            .agg(
                F.min("url").alias("url"),
                F.first("host").alias("host"),
                F.max("priority").alias("priority"),
                F.first("url_hash").alias("url_hash"),
            )
            # truncate the per-round lineage: without this the plan doubles
            # every round and Catalyst analysis dominates wall time
            .localCheckpoint(eager=True)
        )
        seen = seen.localCheckpoint(eager=True)
    result = out[0]
    for df in out[1:]:
        result = result.unionByName(df)
    return result


_BFS3_ORACLE = (
    _WEB_CTE.rstrip()
    + ","
    + _SEEDS_SQL
    + """
, r0 AS (
    SELECT url_key, host, priority FROM (
      SELECT s.*, b.budget,
             row_number() OVER (PARTITION BY s.host ORDER BY s.priority DESC, s.url_key) AS rn
      FROM seeds s JOIN budgets b ON s.host = b.host
    ) WHERE rn <= budget
),
spill0 AS (
    SELECT url_key, host, priority + 1 AS priority FROM seeds
    WHERE url_key NOT IN (SELECT url_key FROM r0)
),
cand1 AS (
    SELECT DISTINCT l.dst_key AS url_key, l.dst_host AS host, 0 AS priority
    FROM links l JOIN r0 ON l.src_key = r0.url_key
    WHERE l.dst_key NOT IN (SELECT url_key FROM r0)
),
f1 AS (
    SELECT url_key, min(host) AS host, CAST(max(priority) AS INT) AS priority
    FROM (SELECT * FROM spill0 UNION ALL SELECT * FROM cand1) GROUP BY url_key
),
r1 AS (
    SELECT url_key, host, priority FROM (
      SELECT f.*, b.budget,
             row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url_key) AS rn
      FROM f1 f JOIN budgets b ON f.host = b.host
    ) WHERE rn <= budget
),
seen1 AS (SELECT url_key FROM r0 UNION SELECT url_key FROM r1),
spill1 AS (
    SELECT url_key, host, priority + 1 AS priority FROM f1
    WHERE url_key NOT IN (SELECT url_key FROM r1)
),
cand2 AS (
    SELECT DISTINCT l.dst_key AS url_key, l.dst_host AS host, 0 AS priority
    FROM links l JOIN r1 ON l.src_key = r1.url_key
    WHERE l.dst_key NOT IN (SELECT url_key FROM seen1)
),
f2 AS (
    SELECT url_key, min(host) AS host, CAST(max(priority) AS INT) AS priority
    FROM (SELECT * FROM spill1 UNION ALL SELECT * FROM cand2) GROUP BY url_key
),
r2 AS (
    SELECT url_key, host, priority FROM (
      SELECT f.*, b.budget,
             row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url_key) AS rn
      FROM f2 f JOIN budgets b ON f.host = b.host
    ) WHERE rn <= budget
)
SELECT 0 AS round, CAST(row_number() OVER (ORDER BY priority DESC, url_key) AS INT) AS seq,
       url_key, host, priority FROM r0
UNION ALL
SELECT 1, CAST(row_number() OVER (ORDER BY priority DESC, url_key) AS INT), url_key, host, priority FROM r1
UNION ALL
SELECT 2, CAST(row_number() OVER (ORDER BY priority DESC, url_key) AS INT), url_key, host, priority FROM r2
"""
)


@query("frontier_bfs3", _BFS3_ORACLE)
def frontier_bfs3(spark, sf_dir):
    """Three BFS crawl rounds — scheduler + URL-seen dedup + spill aging,
    oracle-checked end-to-end (the north rule's ordering semantics)."""
    return bfs_rounds(
        _seeds_df(spark, sf_dir),
        web_links(spark, sf_dir),
        _politeness_df(spark, sf_dir),
        rounds=3,
    )


_RECRAWL_TTL_ORACLE = (
    _WEB_CTE.rstrip()
    + ","
    + _SEEDS_SQL
    + """
, r0 AS (
    SELECT url_key, host, priority FROM (
      SELECT s.*, b.budget,
             row_number() OVER (PARTITION BY s.host ORDER BY s.priority DESC, s.url_key) AS rn
      FROM seeds s JOIN budgets b ON s.host = b.host
    ) WHERE rn <= budget
),
spill0 AS (
    SELECT url_key, host, priority + 1 AS priority FROM seeds
    WHERE url_key NOT IN (SELECT url_key FROM r0)
),
cand1 AS (
    SELECT DISTINCT l.dst_key AS url_key, l.dst_host AS host, 0 AS priority
    FROM links l JOIN r0 ON l.src_key = r0.url_key
    WHERE l.dst_key NOT IN (SELECT url_key FROM r0)
),
f1 AS (
    SELECT url_key, min(host) AS host, CAST(max(priority) AS INT) AS priority
    FROM (SELECT * FROM spill0 UNION ALL SELECT * FROM cand1) GROUP BY url_key
),
r1 AS (
    SELECT url_key, host, priority FROM (
      SELECT f.*, b.budget,
             row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url_key) AS rn
      FROM f1 f JOIN budgets b ON f.host = b.host
    ) WHERE rn <= budget
),
seen1 AS (
    SELECT url_key, 0 AS first_round FROM r0
    UNION ALL SELECT url_key, 1 FROM r1
),
spill1 AS (
    SELECT url_key, host, priority + 1 AS priority FROM f1
    WHERE url_key NOT IN (SELECT url_key FROM r1)
),
cand2 AS (
    SELECT DISTINCT l.dst_key AS url_key, l.dst_host AS host, 0 AS priority
    FROM links l JOIN r1 ON l.src_key = r1.url_key
    WHERE l.dst_key NOT IN (SELECT url_key FROM seen1)
),
-- tombstoned at ts_round = 1 (the last committed round when unsee runs):
-- every current seen row of these keys has first_round <= 1, so all die
tomb AS (
    SELECT s.url_key FROM seen1 s JOIN w ON s.url_key = w.url_key
    WHERE w.doc_id % 5 = 0
),
-- recrawl re-seeds the tombstoned keys at priority 0, merged into the
-- pending round-2 frontier (spill1 + round-1 discoveries)
rc AS (
    SELECT t.url_key, w.host, 0 AS priority
    FROM tomb t JOIN w ON t.url_key = w.url_key
),
f2 AS (
    SELECT url_key, min(host) AS host, CAST(max(priority) AS INT) AS priority
    FROM (SELECT * FROM spill1 UNION ALL SELECT * FROM cand2 UNION ALL SELECT * FROM rc)
    GROUP BY url_key
),
r2 AS (
    SELECT url_key FROM (
      SELECT f.*, b.budget,
             row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url_key) AS rn
      FROM f2 f JOIN budgets b ON f.host = b.host
    ) WHERE rn <= budget
)
SELECT url_key, CAST(first_round AS INT) AS first_round FROM seen1
WHERE url_key NOT IN (SELECT url_key FROM tomb)
UNION ALL
SELECT url_key, 2 AS first_round FROM r2
"""
)


@query("recrawl_ttl", _RECRAWL_TTL_ORACLE)
def recrawl_ttl(spark, sf_dir):
    """Recrawl-after-TTL end-to-end over the REAL FrontierCrawl state
    machine (crawl.py unsee/recrawl/_seen — the HBase layer's implicit
    row-delete semantics the reference gets for free,
    HBaseTableManager.java:85-100): the derived web is materialized as a
    crawl corpus (outlinks span-encoded per the input_hint shape), crawled
    for 2 rounds, every seen key with doc_id % 5 == 0 is tombstoned and
    re-seeded (recrawl), and one more round runs. Returns the surviving
    seen ledger (url_key, first_round). The oracle simulates the same two
    politeness-ranked BFS rounds, the tombstone deletion algebra
    (first_round > ts_round survival), and the budget-capped recrawl
    round in unrolled SQL — so deletes, re-seeding, and the re-run all
    sit under the driver's value-hash gate."""
    import os
    import shutil

    from warcbase_spark.frontier.crawl import FrontierCrawl

    base = f"/tmp/warcbase_spark_q_recrawl/{os.path.basename(os.path.normpath(sf_dir))}"
    corpus, state = f"{base}/corpus", f"{base}/state"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(corpus, exist_ok=True)

    w = web_docs(spark, sf_dir)
    links = web_links(spark, sf_dir)
    spans = (
        links.select(
            "src_id",
            F.struct(
                F.col("j"),
                F.struct(
                    F.lit("link").alias("kind"),
                    F.col("anchor").alias("text"),
                    F.col("dst_url").alias("media_ref"),
                    F.col("j").cast("int").alias("offset"),
                ).alias("span"),
            ).alias("js"),
        )
        .groupBy("src_id")
        .agg(F.array_sort(F.collect_list("js")).alias("sj"))
        .select("src_id", F.expr("transform(sj, x -> x.span)").alias("spans"))
    )
    docs = w.join(spans, w["doc_id"] == spans["src_id"]).select(
        w["doc_id"].cast("string").alias("doc_id"),
        "url", "crawl_date", "mime_type", "domain", "spans",
    )
    docs.write.mode("overwrite").parquet(f"{corpus}/documents.parquet")
    _seeds_df(spark, sf_dir).select("url", "priority").write.mode("overwrite").parquet(
        f"{corpus}/seeds.parquet"
    )
    _politeness_df(spark, sf_dir).write.mode("overwrite").parquet(
        f"{corpus}/politeness.parquet"
    )
    spark.createDataFrame([], "host string, path_prefix string").write.mode(
        "overwrite"
    ).parquet(f"{corpus}/robots.parquet")

    fc = FrontierCrawl(spark, corpus, state, max_rounds=2)
    fc.run()
    # tombstone + re-seed every seen key with doc_id % 5 == 0
    subset = (
        fc.url_seen()
        .join(w.select("url_key", "doc_id", "url"), "url_key")
        .filter(F.col("doc_id") % 5 == 0)
        .select("url")
    )
    fc.recrawl(subset)
    fc.run(max_rounds=3)
    return fc.url_seen().select(
        "url_key", F.col("first_round").cast("int").alias("first_round")
    )


@query(
    "url_key_udf_parity",
    _WEB_CTE + "SELECT url, url_key FROM w",
)
def url_key_udf_parity(spark, sf_dir):
    """X21 urlToKey through the crawl's canonicalizer (``canonical_cols``,
    the Arrow struct UDF), checked against the string construction the
    oracle uses — proves the canonicalizer agrees with the key algebra on
    well-formed URLs."""
    from warcbase_spark.functions.urls import canonical_cols

    return web_docs(spark, sf_dir).select("url", canonical_cols(F.col("url"))[0].alias("url_key"))


# ---------------------------------------------------------------------------
# TPC-H-ish relational core (scan/filter/agg/join/window/sort/limit)
# ---------------------------------------------------------------------------

@query(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "tpch_q3_top10",
    """
    SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue_cents DESC, o.o_orderkey LIMIT 10
    """,
)
def tpch_q3_top10(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_cents"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue_cents",
        )
        .orderBy(F.desc("revenue_cents"), "o_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_region",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                  JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def tpch_q5_region(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == n.n_nationkey))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# Events: windowed aggregation + sessionization
# ---------------------------------------------------------------------------

@query(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
           count(*) AS n, CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents(F.col("value"))).alias("value_cents"))
    )


@query(
    "events_sessions",
    """
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
      SELECT user_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ) GROUP BY user_id
    """,
)
def events_sessions(spark, sf_dir):
    """Sessionization: 30-min inactivity gap (lag + conditional sum).
    Gap compared in integer microseconds so both engines decide identically."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is identity
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap = micros(F.col("ts")) - micros(F.lag(F.col("ts")).over(w))
    flagged = e.withColumn(
        "new_s", F.when(F.lag("ts").over(w).isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup / similarity (training-data pipeline ops)
# ---------------------------------------------------------------------------

@query(
    "text_stats_by_lang",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def text_stats_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "lang_id_confusion",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             [
               {'score': len(list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '), x -> x IN ('the','and','of'))), 'lang': 'en'},
               {'score': len(list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '), x -> x IN ('el','la','los'))), 'lang': 'es'},
               {'score': len(list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '), x -> x IN ('der','die','und'))), 'lang': 'de'},
               {'score': len(list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '), x -> x IN ('le','les','des'))), 'lang': 'fr'},
               {'score': len(list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '), x -> x IN ('de','shi','zai'))), 'lang': 'zh'}
             ] AS scores
      FROM documents
    ),
    best AS (SELECT doc_id, lang, list_max(scores) AS b FROM scored)
    SELECT lang, CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS detected, count(*) AS count
    FROM best GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark, sf_dir):
    """X11 DetectLanguage analogue: heuristic marker-token language ID,
    confusion counts vs the labeled lang column."""
    d = _t(spark, sf_dir, "documents")
    return d.select("lang", detect_language(F.col("text")).alias("detected")).groupBy(
        "lang", "detected"
    ).agg(F.count(F.lit(1)).alias("count"))


def _trigram_scores_and_case() -> tuple[str, str]:
    """Shared DuckDB score-expression and argmax-CASE text for the trigram
    classifier, generated from the SAME profile dict the Spark Column chain
    uses so the two scoring paths cannot drift."""
    from warcbase_spark.functions.text import LANG_TRIGRAM_ORDER, LANG_TRIGRAM_PROFILES

    def score(tris: list[str]) -> str:
        n = len(tris)
        terms = [
            f"{n - i} * ((length(t) - length(replace(t, '{tri}', ''))) // 3)"
            for i, tri in enumerate(tris)
        ]
        return " + ".join(terms)

    scores = ",\n        ".join(
        f"({score(LANG_TRIGRAM_PROFILES[l])}) AS s_{l}" for l in LANG_TRIGRAM_ORDER
    )
    total = " + ".join(f"s_{l}" for l in LANG_TRIGRAM_ORDER)
    chain = [f"WHEN text IS NULL OR ({total}) = 0 THEN 'und'"]
    for j, lang in enumerate(LANG_TRIGRAM_ORDER[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in LANG_TRIGRAM_ORDER[j + 1:])
        chain.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(chain) + f" ELSE '{LANG_TRIGRAM_ORDER[-1]}' END"
    return scores, case


def _trigram_oracle_sql() -> str:
    scores, case = _trigram_scores_and_case()
    return f"""
    WITH padded AS (
      SELECT lang, text,
             ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS t
      FROM documents
    ),
    scored AS (
      SELECT lang, text,
        {scores}
      FROM padded
    )
    SELECT lang, {case} AS detected, count(*) AS count
    FROM scored GROUP BY 1, 2
    """


def _trigram_golden_oracle_sql() -> str:
    """The golden-sentence twin: same generated scoring/argmax chain, but
    over the shared LANG_GOLDEN_SENTENCES literals instead of the 5-language
    fixture corpus — so classifier QUALITY on real text of all 27 profiles
    is driver-verified, not just engine-parity arithmetic."""
    from warcbase_spark.functions.text import LANG_GOLDEN_SENTENCES

    scores, case = _trigram_scores_and_case()
    rows = ",\n        ".join(
        f"('{lang}', '{s}')" for lang, s in LANG_GOLDEN_SENTENCES.items()
    )
    return f"""
    WITH golden(truth, text) AS (
      VALUES
        {rows}
    ),
    padded AS (
      SELECT truth, text,
             ' ' || lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || ' ' AS t
      FROM golden
    ),
    scored AS (SELECT truth, text, {scores} FROM padded)
    SELECT truth, {case} AS detected FROM scored
    """


@query("lang_id_trigram", _trigram_oracle_sql())
def lang_id_trigram(spark, sf_dir):
    """X11 upgraded: character-trigram profile classifier (Cavnar-Trenkle
    style, pure JVM Column arithmetic — no UDF), confusion counts vs the
    labeled lang column. Real-sentence golden vectors in tests/test_text.py;
    this query pins the engine-exact arithmetic against DuckDB."""
    from warcbase_spark.functions.text import detect_language_trigram

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", detect_language_trigram(F.col("text")).alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count(F.lit(1)).alias("count"))
    )


@query("lang_id_golden27", _trigram_golden_oracle_sql())
def lang_id_golden27(spark, sf_dir):
    """X11 breadth evidence at Tika's profile count (~27,
    DetectLanguage.scala:22-25): the trigram classifier over one real
    sentence per profile language (LANG_GOLDEN_SENTENCES — native scripts
    included; UTF-8 character arithmetic is engine-identical). Returns
    (truth, detected) pairs; a correct classifier detects all 27."""
    from warcbase_spark.functions.text import (
        LANG_GOLDEN_SENTENCES,
        detect_language_trigram,
    )

    rows = [(lang, s) for lang, s in LANG_GOLDEN_SENTENCES.items()]
    d = spark.createDataFrame(rows, "truth string, text string")
    return d.select("truth", detect_language_trigram(F.col("text")).alias("detected"))


@query(
    "dedup_exact",
    """
    SELECT count(*) AS n_docs,
           count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS n_distinct,
           count(*) - count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS n_dups
    FROM documents
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via normalized-text fingerprint (hash-groupBy)."""
    d = _t(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fingerprint(F.col("text"))).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(fingerprint(F.col("text")))).alias("n_dups"),
    )


@query(
    "quality_by_source",
    """
    WITH q AS (
      SELECT source,
        CASE WHEN trim(regexp_replace(text,'\\s+',' ','g')) = '' THEN 0
             ELSE len(string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ')) END AS ntok,
        len(list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '),
            x -> x IN ('the','a','and','of','to','in','is'))) AS hits,
        len(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' ')) AS denom,
        length(text) AS nchars,
        length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
      FROM documents
    ), m AS (
      SELECT source,
        least(ntok*10, 1000) AS len_m,
        CASE WHEN denom > 0 THEN least(CAST(floor(hits*4000.0/denom) AS BIGINT), 1000) ELSE 0 END AS sw_m,
        1000 - CASE WHEN nchars > 0 THEN least(CAST(floor(punct*4000.0/nchars) AS BIGINT), 1000) ELSE 0 END AS p_m
      FROM q
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CAST(floor((len_m+sw_m+p_m)/3.0) AS BIGINT)) AS BIGINT) AS quality_milli_sum
    FROM m GROUP BY source ORDER BY source
    """,
)
def quality_by_source(spark, sf_dir):
    """Quality scoring in integer milli fixed-point (0..1000) — pure integer
    arithmetic end-to-end so the DuckDB oracle hash-matches exactly
    (the float ``quality_score`` variant is kept for interactive use)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(quality_milli(F.col("text"))).alias("quality_milli_sum"),
        )
        .orderBy("source")
    )


@query(
    "embedding_topk_cosine",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             round(
               list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qv, q.qv))), 3) AS sim
      FROM embeddings e, q WHERE e.vec_id != 0
    )
    SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def embedding_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline: JVM-side zip_with/aggregate
    dot products (no UDF), broadcast query vector."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "emb", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qv"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )

    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                dot(F.col("emb"), F.col("qv"))
                / (F.sqrt(dot(F.col("emb"), F.col("emb"))) * F.sqrt(dot(F.col("qv"), F.col("qv")))),
                3,
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: near-dup dedup, similarity search, multimodal
# ---------------------------------------------------------------------------

_NORM_SQL = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"

def _shingles_sql(table: str = "documents") -> str:
    """The distinct-shingle-set CTE over ``table`` — parameterized so the
    e2e pipeline oracle can shingle its dedup survivors, not just the raw
    documents table."""
    return f"""
sh AS (
  SELECT doc_id AS doc, sh FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 3 THEN
             [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              FOR i IN generate_series(1, len(ws) - 2)]
           ELSE [] END) AS sh
    FROM (SELECT doc_id, {_NORM_SQL} AS ws FROM {table})
  ) GROUP BY 1, 2
)
"""


_SHINGLES_SQL = _shingles_sql()

_JACCARD_TAIL_SQL = """
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT p.a, p.b, count(*) AS inter
  FROM pairs p JOIN sh sa ON sa.doc = p.a JOIN sh sb ON sb.doc = p.b AND sb.sh = sa.sh
  GROUP BY p.a, p.b
)
SELECT i.a, i.b, i.inter, na.n + nb.n - i.inter AS union_sz
FROM inter i JOIN sizes na ON na.doc = i.a JOIN sizes nb ON nb.doc = i.b
WHERE i.inter >= {min_inter}
"""


# sigs→bands→pairs segment (reads the ``sh`` CTE; no table dependence) —
# shared by the dedup_minhash_lsh oracle and the e2e pipeline oracle
_MINHASH_PAIRS_SQL = (
    """sigs AS (
  SELECT doc, """
    + ", ".join(
        f"min(substr(md5('{'a:' if i < 4 else 'b:'}' || sh), {(i % 4) * 8 + 1}, 8)) AS sig{i}"
        for i in range(8)
    )
    + """
  FROM sh GROUP BY doc
),
bands0 AS (
  SELECT doc, band, v FROM (
    SELECT doc, unnest(["""
    + ", ".join(f"{{'band': {i}, 'v': sig{i}}}" for i in range(8))
    + """]) AS s
    FROM sigs
  ) t, LATERAL (SELECT t.s.band AS band, t.s.v AS v)
),
hotb AS (SELECT band, v FROM bands0 GROUP BY band, v HAVING count(*) > 200),
bands AS (SELECT * FROM bands0 b
          WHERE NOT EXISTS (SELECT 1 FROM hotb h WHERE h.band = b.band AND h.v = b.v)),
pairs AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.v = y.v AND x.doc < y.doc
)"""
)


def _jaccard_vp_sql(min_inter: int) -> str:
    """CTE form of _JACCARD_TAIL_SQL: verified pairs as ``vp`` instead of a
    terminal SELECT, for oracles that keep composing past verification."""
    return f"""
sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
inter AS (
  SELECT p.a, p.b, count(*) AS inter
  FROM pairs p JOIN sh sa ON sa.doc = p.a JOIN sh sb ON sb.doc = p.b AND sb.sh = sa.sh
  GROUP BY p.a, p.b
),
vp AS (
  SELECT i.a AS a, i.b AS b, i.inter AS inter, na.n + nb.n - i.inter AS union_sz
  FROM inter i JOIN sizes na ON na.doc = i.a JOIN sizes nb ON nb.doc = i.b
  WHERE i.inter >= {min_inter}
)"""


_MINHASH_LSH_SQL = (
    "WITH "
    + _SHINGLES_SQL.strip().rstrip()
    + ",\n"
    + _MINHASH_PAIRS_SQL
    + ",\n"
    + _JACCARD_TAIL_SQL.format(min_inter=3)
)


@query("dedup_minhash_lsh", _MINHASH_LSH_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (8 perms, md5-lex-min) -> banded LSH bucket join (hot-bucket
    drop guard, cap 200 — a boilerplate cluster can never make the bucket
    self-join quadratic) -> exact shingle-Jaccard verification. Integer-only
    evidence columns so the DuckDB oracle matches bit-for-bit."""
    from warcbase_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
        verified_jaccard,
    )

    d = _t(spark, sf_dir, "documents")
    sh = doc_shingles(d).cache()
    pairs = lsh_candidate_pairs(minhash_signatures(sh, 8), 8, bucket_cap=200)
    return verified_jaccard(pairs, sh, min_inter=3)


@query(
    "dedup_ngram_jaccard",
    "WITH "
    + _SHINGLES_SQL.strip().rstrip()
    + """,
hotsh AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
rare AS (SELECT s.* FROM sh s WHERE NOT EXISTS (SELECT 1 FROM hotsh h WHERE h.sh = s.sh)),
pairs AS (
  SELECT DISTINCT sa.doc AS a, sb.doc AS b
  FROM rare sa JOIN rare sb ON sa.sh = sb.sh AND sa.doc < sb.doc
),
"""
    + _JACCARD_TAIL_SQL.format(min_inter=4),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard dedup via the shingle inverted index (no LSH):
    candidate pairs = docs sharing any RARE shingle (df ≤ 100 — a high-df
    boilerplate shingle would make the inverted-index self-join quadratic
    in its df and carries no dedup signal), evidence = exact (inter, union)
    over the FULL shingle sets."""
    from warcbase_spark.operators.dedup import doc_shingles, rare_shingles, verified_jaccard

    d = _t(spark, sf_dir, "documents")
    sh = doc_shingles(d).cache()
    r = rare_shingles(sh, max_df=100)
    a = r.select(F.col("doc").alias("a"), "sh")
    b = r.select(F.col("doc").alias("b"), "sh")
    pairs = a.join(b, "sh").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    return verified_jaccard(pairs, sh, min_inter=4)


# Winnowing pair-generation SQL prefix (shared by dedup_winnow and
# dedup_components): char-8-gram md5 hashes, window-8 minima, df-capped
# inverted-index pair join.
_WINNOW_PAIRS_SQL = """
    WITH n AS MATERIALIZED (
      SELECT doc_id AS doc, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
      FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc, i AS pos,
             substr(md5(substr(t, CAST(i AS INT), 8)), 1, 8) AS h,
             length(t) - 7 AS m
      FROM n, unnest(range(1, length(t) - 7 + 1)) AS u(i)
      WHERE length(t) >= 8
    ),
    w AS (
      SELECT doc, pos, m,
             min(h) OVER (PARTITION BY doc ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
      FROM g
    ),
    fp AS MATERIALIZED (SELECT DISTINCT doc, fp FROM w WHERE pos <= greatest(m - 7, 1)),
    hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > 100),
    rare AS (SELECT f.* FROM fp f WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.fp = f.fp)),
    p AS MATERIALIZED (
      SELECT a.doc AS a, b.doc AS b, count(*) AS shared
      FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc < b.doc
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )"""


def _cc_steps_sql(iters: int) -> tuple[str, str]:
    """The unrolled min-label-propagation CTE steps (requires CTEs ``e``
    (src,dst edges, both directions) and ``l0`` (node,label) upstream).
    Returns (steps_sql, final_label_table)."""
    steps = []
    prev = "l0"
    for k in range(1, iters + 1):
        steps.append(f"""
    m{k} AS MATERIALIZED (
      SELECT e.dst AS node, min(l.label) AS nb
      FROM e JOIN {prev} l ON e.src = l.node GROUP BY e.dst
    ),
    l{k} AS MATERIALIZED (
      SELECT l.node, least(l.label, coalesce(m.nb, l.label)) AS label
      FROM {prev} l LEFT JOIN m{k} m ON m.node = l.node
    )""")
        prev = f"l{k}"
    return ",".join(steps), prev


def _cc_oracle_sql(iters: int = 8) -> str:
    """Unrolled min-label-propagation twin of operators.components over the
    MinHash-LSH verified pair graph (the pagerank-oracle pattern: a fixed
    iteration count both engines run verbatim, so results agree exactly
    even on unconverged graphs). The verified-pairs query nests as a CTE."""
    steps_sql, prev = _cc_steps_sql(iters)
    return (
        f"""
    WITH vp AS MATERIALIZED ({_MINHASH_LSH_SQL}),
    e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM vp UNION ALL SELECT b AS src, a AS dst FROM vp
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),"""
        + steps_sql
        + f"""
    SELECT label AS component, CAST(count(*) AS BIGINT) AS size
    FROM {prev} GROUP BY 1
    """
    )


@query(
    "dedup_winnow",
    _WINNOW_PAIRS_SQL
    + """
    SELECT a, b, CAST(shared AS BIGINT) AS shared FROM p
    """,
)
def dedup_winnow(spark, sf_dir):
    """Rolling-hash document fingerprinting via winnowing (the MOSS
    algorithm, Schleimer et al. SIGMOD 2003): char-8-gram md5 hashes,
    window-8 minima, distinct per doc; near-dup pairs = docs sharing ≥ 3
    fingerprints through the df-capped inverted index. Completes the dedup
    family's fingerprinting axis (exact md5 / SimHash / MinHash-LSH /
    winnowing)."""
    from warcbase_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_pairs(winnow_fingerprints(d), max_df=100, min_shared=3)


@query("dedup_components", _cc_oracle_sql(8))
def dedup_components(spark, sf_dir):
    """Union-find over near-dup pairs — the keep-one-per-component step
    after pair generation: 8 fixed rounds of min-label propagation
    (operators/components.py) over the MinHash-LSH VERIFIED pair graph,
    reported as the (component, size) histogram (41 components, sizes up
    to 4, at sf0.01 — a discriminative structure, unlike the near-complete
    winnowing graph). The oracle unrolls the identical 8 steps so both
    engines agree even where the graph is not yet converged."""
    from warcbase_spark.operators.components import (
        component_sizes,
        connected_components,
    )
    from warcbase_spark.operators.dedup import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
        verified_jaccard,
    )

    d = _t(spark, sf_dir, "documents")
    sh = doc_shingles(d).cache()
    cand = lsh_candidate_pairs(minhash_signatures(sh, 8), 8, bucket_cap=200)
    pairs = verified_jaccard(cand, sh, min_inter=3).select("a", "b")
    return component_sizes(connected_components(pairs, iters=8))


@query(
    "dedup_simhash",
    f"""
    WITH sims AS (
      SELECT doc_id, (
        """
    + " + ".join(
        f"""CASE WHEN list_sum(list_transform(ws, t ->
              CASE WHEN (strpos('0123456789abcdef', substr(md5(t), {b + 1}, 1)) - 1) % 2 = 1
                   THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END"""
        for b in range(16)
    )
    + f"""
      ) AS simhash
      FROM (SELECT doc_id, {_NORM_SQL} AS ws FROM documents)
    )
    SELECT count(*) AS n_buckets, CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS collision_pairs
    FROM (SELECT simhash, count(*) AS c FROM sims GROUP BY simhash)
    """,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash near-dup fingerprint; reports bucket stats +
    collision-pair count (hash-groupBy dedup at scale)."""
    from warcbase_spark.functions.layout import spread_scan
    from warcbase_spark.operators.dedup import simhash16_col

    # spread: the 16-counter digest fold is pure per-row CPU — on the
    # single-rowgroup scan it would all run in one task (guide §2.5)
    d = spread_scan(_t(spark, sf_dir, "documents"))
    buckets = d.select(simhash16_col(F.col("text")).alias("simhash")).groupBy("simhash").agg(
        F.count(F.lit(1)).alias("c")
    )
    return buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("c").alias("n_docs"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("collision_pairs"),
    )


# seeded random-hyperplane LSH buckets (similarity.hyperplane_np_udf):
# the SQL mirror embeds the SAME seeded ±1 planes, so Spark and DuckDB
# bucket identically (integer fixed-point dot signs — no float divergence)
from warcbase_spark.operators.similarity import hyperplane_bucket_sql as _hp_sql  # noqa: E402

_ANN_BITS, _ANN_DIM, _ANN_SEEDS, _ANN_CAP = 8, 64, (7, 101), 100

_HP0_SQL = _hp_sql("embedding", _ANN_BITS, _ANN_DIM, _ANN_SEEDS[0])
_HP1_SQL = _hp_sql("embedding", _ANN_BITS, _ANN_DIM, _ANN_SEEDS[1])


@query(
    "embedding_neardup",
    f"""
    WITH e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {_HP0_SQL} AS bkt FROM embeddings
    ),
    hot AS (SELECT bkt FROM e0 GROUP BY bkt HAVING count(*) > {_ANN_CAP}),
    e AS (SELECT * FROM e0 WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.bkt = e0.bkt)),
    p AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             round(list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 3) AS sim
      FROM e x JOIN e y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
    )
    SELECT a, b, sim FROM p WHERE sim >= 0.3 ORDER BY sim DESC, a, b
    """,
)
def embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup detection: seeded random-hyperplane LSH
    bucket join (Σ bucket² not n²) with a hot-bucket drop guard (bucket_cap)
    so a degenerate corpus can never go quadratic; cosine fully JVM-side."""
    from warcbase_spark.operators.similarity import bucketed_neighbors

    e = _t(spark, sf_dir, "embeddings")
    return (
        bucketed_neighbors(
            e, _ANN_BITS, dim=_ANN_DIM, seed=_ANN_SEEDS[0], bucket_cap=_ANN_CAP
        )
        .filter(F.col("sim") >= 0.3)
        .orderBy(F.desc("sim"), "a", "b")
    )


@query(
    "ann_lsh_topk",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_HP0_SQL} AS bkt0, {_HP1_SQL} AS bkt1
      FROM embeddings
    ),
    q AS (SELECT v AS qv, bkt0 AS qbkt0, bkt1 AS qbkt1 FROM e WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 3) AS sim
    FROM e, q WHERE (e.bkt0 = q.qbkt0 OR e.bkt1 = q.qbkt1) AND e.vec_id != 0
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """Approximate nearest neighbors: multi-table probing — union of the
    query's buckets across two independent seeded hyperplane tables (recall
    insurance against one unlucky table) next to the brute-force
    embedding_topk_cosine baseline."""
    from warcbase_spark.operators.similarity import ann_topk

    return ann_topk(
        _t(spark, sf_dir, "embeddings"),
        query_id=0, k=10, n_bits=_ANN_BITS, dim=_ANN_DIM, seeds=_ANN_SEEDS,
    )


from warcbase_spark.operators.similarity import ivf_oracle_sql as _ivf_sql  # noqa: E402


@query("ann_ivf_topk", _ivf_sql(n_cells=16, nprobe=2, k=10, query_id=0, dim=_ANN_DIM, seed=13))
def ann_ivf_topk(spark, sf_dir):
    """ANN scale path #2: IVF — seeded integer coarse quantizer (argmax
    inner-product cell), search only the query's nprobe=2 best cells of 16.
    Complements the hyperplane-LSH path: cells are the table's partition
    key at cluster scale, so the candidate filter is literal partition
    pruning (`cell IN (...)`) instead of a hash-bucket join."""
    from warcbase_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"),
        query_id=0, k=10, n_cells=16, nprobe=2, dim=_ANN_DIM, seed=13,
    )


from warcbase_spark.operators.similarity import ivf_batch_oracle_sql as _ivf_batch_sql  # noqa: E402


@query(
    "ann_ivf_batch",
    _ivf_batch_sql(query_mod=25, n_cells=16, nprobe=2, k=5, dim=_ANN_DIM, seed=13),
)
def ann_ivf_batch(spark, sf_dir):
    """Batch ANN — the many-query form a training-data pipeline runs
    (retrieval for a full query set / corpus-vs-corpus dedup), vs
    ann_ivf_topk's single point lookup. Every 25th vector is a query; each
    gets its nprobe=2 best cells from the int64 numpy probe kernel (no
    per-query driver collect), candidates meet queries in one join on cell
    (= partition pruning when the table is stored partitioned by cell),
    per-query top-5 by window."""
    from warcbase_spark.operators.similarity import ivf_topk_batch

    return ivf_topk_batch(
        _t(spark, sf_dir, "embeddings"),
        query_filter=F.col("vec_id") % 25 == 0,
        k=5, n_cells=16, nprobe=2, dim=_ANN_DIM, seed=13,
    )


from warcbase_spark.operators.similarity import ivf_kmeans_oracle_sql as _ivfkm_sql  # noqa: E402


@query("ann_ivf_kmeans", _ivfkm_sql(n_cells=16, iters=4, dim=_ANN_DIM, seed=13))
def ann_ivf_kmeans(spark, sf_dir):
    """IVF with TRAINED centroids: 4 quantized Lloyd iterations
    (ivf_train_kmeans — integer fixed-point so the unrolled DuckDB oracle
    trains to identical centroids), then the final cell assignment
    histogram with a membership checksum (sum of vec_ids per cell). Random
    seeded centroids give recall ≈ probed-cell fraction on clustered data;
    trained centroids align cells with the clusters — measured 0.57 → 1.00
    recall@5 at nprobe=1 on the planted-cluster fixture
    (tests/test_ann_recall.py)."""
    from warcbase_spark.operators.similarity import ivf_cell_np_udf, ivf_train_kmeans, quantize_q

    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_train_kmeans(emb, n_cells=16, iters=4, dim=_ANN_DIM, seed=13)
    return (
        emb.select("vec_id", quantize_q(F.col("embedding")).alias("_q"))
        .select("vec_id", ivf_cell_np_udf(cents)(F.col("_q")).alias("cell"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("vec_id").cast("long").alias("id_checksum"),
        )
    )


def _pagerank_oracle_sql(iters: int = 5) -> str:
    base = _WEB_CTE.rstrip() + """,
edges AS (SELECT DISTINCT src_id, dst_id FROM links),
outd AS (SELECT src_id, count(*) AS od FROM edges GROUP BY src_id),
r0 AS (SELECT doc_id AS id, CAST(1000000000000 // (SELECT c FROM n) AS BIGINT) AS r FROM w)
"""
    body = ""
    prev = "r0"
    for i in range(1, iters + 1):
        body += f""",
s{i} AS (
  SELECT e.dst_id AS id, CAST(sum({prev}.r // o.od) AS BIGINT) AS s
  FROM edges e JOIN {prev} ON {prev}.id = e.src_id JOIN outd o ON o.src_id = e.src_id
  GROUP BY e.dst_id
),
r{i} AS (
  SELECT w.doc_id AS id,
         CAST((1000000000000 * 15) // ((SELECT c FROM n) * 100)
              + (85 * coalesce(s{i}.s, 0)) // 100 AS BIGINT) AS r
  FROM w LEFT JOIN s{i} ON s{i}.id = w.doc_id
)"""
        prev = f"r{i}"
    return base + body + f"\nSELECT id, r AS rank_fp FROM {prev}"


def _pagerank_tol_oracle_sql(tol_fp: int, max_iters: int) -> str:
    """Unrolled convergence oracle: max_iters fixed-point iterations with
    per-iteration max-|Δ| scalars; the CASE picks the FIRST iteration whose
    delta < tol — exactly the Spark loop's break condition. Every CTE is
    MATERIALIZED: r_i is referenced twice (next iteration + delta), and
    DuckDB would otherwise inline the chain exponentially."""
    base = _WEB_CTE.rstrip() + """,
edges AS MATERIALIZED (SELECT DISTINCT src_id, dst_id FROM links),
outd AS MATERIALIZED (SELECT src_id, count(*) AS od FROM edges GROUP BY src_id),
r0 AS MATERIALIZED (SELECT doc_id AS id, CAST(1000000000000 // (SELECT c FROM n) AS BIGINT) AS r FROM w)
"""
    body = ""
    prev = "r0"
    for i in range(1, max_iters + 1):
        body += f""",
s{i} AS MATERIALIZED (
  SELECT e.dst_id AS id, CAST(sum({prev}.r // o.od) AS BIGINT) AS s
  FROM edges e JOIN {prev} ON {prev}.id = e.src_id JOIN outd o ON o.src_id = e.src_id
  GROUP BY e.dst_id
),
r{i} AS MATERIALIZED (
  SELECT w.doc_id AS id,
         CAST((1000000000000 * 15) // ((SELECT c FROM n) * 100)
              + (85 * coalesce(s{i}.s, 0)) // 100 AS BIGINT) AS r
  FROM w LEFT JOIN s{i} ON s{i}.id = w.doc_id
)"""
        prev = f"r{i}"
    deltas = ", ".join(
        f"(SELECT max(abs(r{i}.r - r{i - 1}.r)) FROM r{i} JOIN r{i - 1} ON r{i}.id = r{i - 1}.id) AS d{i}"
        for i in range(1, max_iters + 1)
    )
    body += f",\nds AS MATERIALIZED (SELECT {deltas})"
    joins = " ".join(f"JOIN r{i} ON r{i}.id = r0.id" for i in range(1, max_iters + 1))
    rank_case = (
        "CASE "
        + " ".join(f"WHEN ds.d{i} < {tol_fp} THEN r{i}.r" for i in range(1, max_iters))
        + f" ELSE r{max_iters}.r END"
    )
    iter_case = (
        "CASE "
        + " ".join(f"WHEN ds.d{i} < {tol_fp} THEN {i}" for i in range(1, max_iters))
        + f" ELSE {max_iters} END"
    )
    return (
        base
        + body
        + f"\nSELECT r0.id, {rank_case} AS rank_fp, CAST({iter_case} AS INT) AS iters"
        + f"\nFROM r0 {joins}, ds"
    )


_PR_TOL_FP = 50_000_000  # fixed-point Δ threshold (ranks are ×1e12-scaled)
_PR_MAX_ITERS = 14


@query("pagerank_tol", _pagerank_tol_oracle_sql(_PR_TOL_FP, _PR_MAX_ITERS))
def pagerank_tol(spark, sf_dir):
    """G1/G5 dynamic PageRank — the reference's convergence mode
    ``graph.pageRank(tol=0.005)`` (ExtractGraph.scala:66-69). Documented
    divergence: GraphX Pregel converges per-vertex; this engine iterates
    until the GLOBAL max fixed-point delta < tol (order-independent integer
    arithmetic so the DuckDB unrolled oracle matches bit-for-bit), capped
    at _PR_MAX_ITERS. Each iteration is localCheckpoint'ed so analysis time
    stays linear in rounds."""
    # docs cached alongside edges: every iteration's plan re-derives the
    # vertex set otherwise (scan+project per level — 6 evaluations for a
    # 5-iteration run); 50k-row cache, dropped with the session/bench
    # clearCache like the edge cache
    docs = web_docs(spark, sf_dir).select(F.col("doc_id").alias("id")).cache()
    edges = web_links(spark, sf_dir).select("src_id", "dst_id").distinct().cache()
    outd = edges.groupBy("src_id").agg(F.count(F.lit(1)).alias("od"))
    n = docs.count()
    total = 1_000_000_000_000
    ranks = docs.withColumn("r", F.lit(total // n).cast("long")).localCheckpoint(eager=True)
    base = (total * 15) // (n * 100)
    it = _PR_MAX_ITERS
    for i in range(1, _PR_MAX_ITERS + 1):
        contrib = (
            edges.join(ranks, edges.src_id == ranks.id)
            .join(outd, "src_id")
            .select("dst_id", F.expr("r div od").alias("c"))
            .groupBy("dst_id")
            .agg(F.sum("c").alias("s"))
        )
        new_ranks = docs.join(contrib, docs.id == contrib.dst_id, "left").select(
            "id",
            (F.lit(base) + F.expr("85 * coalesce(s, 0) div 100")).cast("long").alias("r"),
        ).localCheckpoint(eager=True)
        delta = (
            new_ranks.join(ranks.select("id", F.col("r").alias("rp")), "id")
            .agg(F.max(F.abs(F.col("r") - F.col("rp"))).alias("d"))
            .collect()[0]["d"]
        )
        ranks = new_ranks
        if i < _PR_MAX_ITERS and delta < _PR_TOL_FP:
            it = i
            break
    edges.unpersist()
    docs.unpersist()
    return ranks.select(
        "id", F.col("r").alias("rank_fp"), F.lit(it).cast("int").alias("iters")
    )


_PGL_SCALE = 10**12
_PGL_TOL_FP = 20_000_000_000  # 0.02 on GraphX's un-normalized per-vertex scale
_PGL_MAX_ITERS = 20
_PGL_RANK0 = (85 * ((15 * _PGL_SCALE) // 85)) // 100  # 0.85 × initialMessage


def _pagerank_pregel_oracle_sql(tol_fp: int, max_iters: int) -> str:
    """Unrolled per-vertex-convergence oracle: each iteration materializes
    the sender set (active AND delta > tol), the delta messages, and the
    updated (rank, delta, active) state; ``iters`` = first superstep whose
    sender set is empty, minus one (quiescence), else max_iters."""
    base = _WEB_CTE.rstrip() + f""",
edges AS MATERIALIZED (SELECT DISTINCT src_id, dst_id FROM links),
outd AS MATERIALIZED (SELECT src_id, count(*) AS od FROM edges GROUP BY src_id),
st0 AS MATERIALIZED (
  SELECT doc_id AS id, CAST({_PGL_RANK0} AS BIGINT) AS r,
         CAST({_PGL_RANK0} AS BIGINT) AS d, TRUE AS a FROM w)
"""
    body = ""
    for i in range(1, max_iters + 1):
        p = i - 1
        body += f""",
snd{i} AS MATERIALIZED (
  SELECT s.id, s.d, o.od FROM st{p} s JOIN outd o ON o.src_id = s.id
  WHERE s.a AND s.d > {tol_fp}
),
ms{i} AS MATERIALIZED (
  SELECT e.dst_id AS id, CAST(sum(s.d // s.od) AS BIGINT) AS m
  FROM edges e JOIN snd{i} s ON s.id = e.src_id GROUP BY e.dst_id
),
st{i} AS MATERIALIZED (
  SELECT s.id,
         CASE WHEN m.m IS NOT NULL THEN s.r + (85 * m.m) // 100 ELSE s.r END AS r,
         CASE WHEN m.m IS NOT NULL THEN (85 * m.m) // 100 ELSE s.d END AS d,
         m.m IS NOT NULL AS a
  FROM st{p} s LEFT JOIN ms{i} m ON m.id = s.id
)"""
    counts = ", ".join(
        f"(SELECT count(*) FROM snd{i}) AS q{i}" for i in range(1, max_iters + 1)
    )
    body += f",\nqs AS MATERIALIZED (SELECT {counts})"
    iter_case = (
        "CASE "
        + " ".join(f"WHEN qs.q{i} = 0 THEN {i - 1}" for i in range(1, max_iters + 1))
        + f" ELSE {max_iters} END"
    )
    return (
        base
        + body
        + f"\nSELECT st{max_iters}.id, st{max_iters}.r AS rank_fp,"
        + f" CAST({iter_case} AS INT) AS iters\nFROM st{max_iters}, qs"
    )


@query("pagerank_pregel", _pagerank_pregel_oracle_sql(_PGL_TOL_FP, _PGL_MAX_ITERS))
def pagerank_pregel(spark, sf_dir):
    """G5 dynamic PageRank with GraphX's PER-VERTEX convergence semantics
    (``graph.pageRank(tol)``, ExtractGraph.scala:66-69 → GraphX
    PageRank.runUntilConvergence, public Spark source): ranks start at 0,
    every vertex receives the initial resetProb/(1-resetProb) message, and
    thereafter a vertex sends delta/outDeg along its out-edges only while
    it was itself messaged last superstep AND its delta exceeds tol; the
    loop ends when no messages flow. Unlike pagerank_tol's global max-Δ
    cutoff (the documented divergence this query closes), converged
    subgraphs here go quiet individually while hubs keep iterating —
    Pregel's halting rule, expressed as a DataFrame loop: the per-round
    sender set is a filter, message passing is the edges join + groupBy
    sum, and vertex state is a localCheckpoint'ed (id, rank, delta,
    active) frame. Integer fixed-point throughout, so the unrolled DuckDB
    oracle matches bit-for-bit including the quiescence superstep."""
    docs = web_docs(spark, sf_dir).select(F.col("doc_id").alias("id")).cache()
    edges = web_links(spark, sf_dir).select("src_id", "dst_id").distinct().cache()
    outd = edges.groupBy("src_id").agg(F.count(F.lit(1)).alias("od"))
    state = docs.select(
        "id",
        F.lit(_PGL_RANK0).cast("long").alias("r"),
        F.lit(_PGL_RANK0).cast("long").alias("d"),
        F.lit(True).alias("a"),
    ).localCheckpoint(eager=True)
    it = _PGL_MAX_ITERS
    for i in range(1, _PGL_MAX_ITERS + 1):
        senders = (
            state.filter(F.col("a") & (F.col("d") > _PGL_TOL_FP))
            .select(F.col("id").alias("src_id"), "d")
            .join(outd, "src_id")
        )
        if senders.count() == 0:
            it = i - 1
            break
        msgs = (
            edges.join(senders, "src_id")
            .select("dst_id", F.expr("d div od").alias("c"))
            .groupBy("dst_id")
            .agg(F.sum("c").alias("m"))
        )
        inc = F.expr("85 * m div 100")
        state = (
            state.join(msgs, state["id"] == msgs["dst_id"], "left")
            .select(
                "id",
                F.when(F.col("m").isNotNull(), F.col("r") + inc)
                .otherwise(F.col("r"))
                .cast("long")
                .alias("r"),
                F.when(F.col("m").isNotNull(), inc)
                .otherwise(F.col("d"))
                .cast("long")
                .alias("d"),
                F.col("m").isNotNull().alias("a"),
            )
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    docs.unpersist()
    return state.select(
        "id", F.col("r").alias("rank_fp"), F.lit(it).cast("int").alias("iters")
    )


@query("pagerank5", _pagerank_oracle_sql(5))
def pagerank5(spark, sf_dir):
    """G1/G5 PageRank (ExtractGraph.scala:42-75) as an iterative DataFrame
    loop — 5 static iterations, damping 0.85, fixed-point integer arithmetic
    (contributions integer-divided before the sum) so the result is
    aggregation-order-independent and bit-identical to the DuckDB oracle."""
    # docs cached alongside edges: every iteration's plan re-derives the
    # vertex set otherwise (scan+project per level — 6 evaluations for a
    # 5-iteration run); 50k-row cache, dropped with the session/bench
    # clearCache like the edge cache
    docs = web_docs(spark, sf_dir).select(F.col("doc_id").alias("id")).cache()
    edges = web_links(spark, sf_dir).select("src_id", "dst_id").distinct().cache()
    outd = edges.groupBy("src_id").agg(F.count(F.lit(1)).alias("od"))
    n = docs.count()
    total = 1_000_000_000_000
    ranks = docs.withColumn("r", F.lit(total // n).cast("long"))
    base = (total * 15) // (n * 100)
    for _ in range(5):
        contrib = (
            edges.join(ranks, edges.src_id == ranks.id)
            .join(outd, "src_id")
            .select("dst_id", F.expr("r div od").alias("c"))
            .groupBy("dst_id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = docs.join(contrib, docs.id == contrib.dst_id, "left").select(
            "id",
            (F.lit(base) + F.expr("85 * coalesce(s, 0) div 100")).cast("long").alias("r"),
        )
    return ranks.select("id", F.col("r").alias("rank_fp"))


@query(
    "site_links_rangejoin",
    _WEB_CTE.rstrip()
    + """,
dict AS (
  SELECT url_key, row_number() OVER (ORDER BY url_key) AS id
  FROM (SELECT DISTINCT url_key FROM w)
),
ranges AS (
  SELECT w.domain, min(d.id) AS s, max(d.id) AS e
  FROM w JOIN dict d ON d.url_key = w.url_key GROUP BY w.domain
),
lid AS (
  SELECT l.src_domain, d.id AS dst_id
  FROM links l JOIN dict d ON d.url_key = l.dst_key
)
SELECT lid.src_domain, r.domain AS dst_domain, count(*) AS weight
FROM lid JOIN ranges r ON lid.dst_id BETWEEN r.s AND r.e
GROUP BY 1, 2
""",
)
def site_links_rangejoin(spark, sf_dir):
    """G3/J3 site-level links via id-range join (PrefixMapping.java:95-109,
    ExtractSiteLinks.java:124-191): reversed-host-sorted dense ids make each
    site a contiguous id range; the (small) range table broadcasts."""
    w = web_docs(spark, sf_dir)
    dict_df = url_dictionary(spark, sf_dir)
    ranges = (
        w.join(dict_df, "url_key")
        .groupBy("domain")
        .agg(F.min("id").alias("s"), F.max("id").alias("e"))
    )
    lid = (
        web_links(spark, sf_dir)
        .select("src_domain", "dst_key")
        .join(dict_df.select(F.col("url_key").alias("dst_key"), F.col("id").alias("did")), "dst_key")
        .select("src_domain", "did")
    )
    return (
        lid.join(F.broadcast(ranges), (F.col("did") >= F.col("s")) & (F.col("did") <= F.col("e")))
        .groupBy("src_domain", F.col("domain").alias("dst_domain"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )


@query(
    "events_props_json",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_props_json(spark, sf_dir):
    """S4/X19/X20 dynamic-JSON schema-on-read (RecordLoader.loadTweets,
    TweetUtils.scala:9-18): get_json_object field extraction + aggregate."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("k_sum"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "multimodal_decode",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(strlen(text) AS INT) AS n_bytes,
           CAST((ascii(substr(text, 1, 1)) * 7 + ascii(substr(text, 2, 1))) % 640 + 1 AS INT) AS width,
           CAST((ascii(substr(text, 3, 1)) * 13 + ascii(substr(text, 4, 1))) % 480 + 1 AS INT) AS height,
           CAST(ascii(substr(text, 1, 1)) + ascii(substr(text, 2, 1)) + ascii(substr(text, 3, 1))
              + ascii(substr(text, 4, 1)) + ascii(substr(text, 5, 1)) + ascii(substr(text, 6, 1))
              + ascii(substr(text, 7, 1)) + ascii(substr(text, 8, 1)) AS INT) AS head_sum
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload → decoded metadata via a
    REAL mapInPandas Arrow batch pipeline (operators/multimodal.py); codec
    is the deterministic fake (no image libs in this container), mirrored
    exactly by the byte-arithmetic oracle."""
    from warcbase_spark.operators.multimodal import decode_media

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return decode_media(d, mode="fake")


@query(
    "multimodal_resize",
    """
    WITH dec AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             (ascii(substr(text, 1, 1)) * 7 + ascii(substr(text, 2, 1))) % 640 + 1 AS width,
             (ascii(substr(text, 3, 1)) * 13 + ascii(substr(text, 4, 1))) % 480 + 1 AS height
      FROM documents
    )
    SELECT doc_id,
           CAST(greatest((width * least(1000, (1000 * 224) // greatest(width, height))) // 1000, 1) AS INT) AS width,
           CAST(greatest((height * least(1000, (1000 * 224) // greatest(width, height))) // 1000, 1) AS INT) AS height,
           CAST(least(1000, (1000 * 224) // greatest(width, height)) AS INT) AS scale_milli
    FROM dec
    """,
)
def multimodal_resize(spark, sf_dir):
    """Resize plan over decoded media dims (fit 224, never upscale),
    integer fixed-point scale."""
    from warcbase_spark.operators.multimodal import decode_media, resize_media

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return resize_media(decode_media(d, mode="fake"), max_side=224)


_HEXVAL = "(strpos('0123456789abcdef', substr(h,{i},1))-1)"


@query(
    "image_dims_real",
    f"""
    WITH m AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
    d AS (
      SELECT doc_id,
        {_HEXVAL.format(i=1)}*16 + {_HEXVAL.format(i=2)} + 1 AS w,
        {_HEXVAL.format(i=3)}*16 + {_HEXVAL.format(i=4)} + 1 AS ht
      FROM m
    )
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
      CAST(CASE WHEN doc_id % 7 = 0 THEN 3
                WHEN doc_id % 3 = 0 THEN 33
                WHEN doc_id % 3 = 1 THEN 13
                ELSE 21 END AS INT) AS n_bytes,
      CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE w END AS INT) AS width,
      CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE ht END AS INT) AS height,
      CAST(CASE WHEN doc_id % 7 = 0 THEN 295
                WHEN doc_id % 3 = 0 THEN 425
                WHEN doc_id % 3 = 1 THEN 424 + (w % 256) + (w // 256)
                ELSE 943 + (ht // 256) END AS INT) AS head_sum
    FROM d
    """,
)
def image_dims_real(spark, sf_dir):
    """X14 ComputeImageSize with the REAL pure-bytes header decoder, oracle-
    checked end-to-end: deterministic PNG/GIF/JPEG container bytes are
    synthesized in-plan from md5(doc_id) (every ~7th payload truncated →
    the (0,0) failure path, ComputeImageSize.scala:10-24), run through the
    mapInPandas decode pipeline, and compared against a DuckDB oracle that
    computes the same dims arithmetically — so the byte-level parser itself
    is under the correctness gate, not just the plumbing."""
    from warcbase_spark.operators.multimodal import decode_media

    base = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("doc_id").cast("long").alias("did"),
    )
    h = F.md5(F.col("doc_id"))
    w = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") + 1).cast("bigint")
    ht = (F.conv(F.substring(h, 3, 2), 16, 10).cast("int") + 1).cast("bigint")

    def hx(c, n: int):  # big-endian fixed-width hex of a non-negative int
        return F.lpad(F.hex(c), n, "0")

    png = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"), hx(w, 8), hx(ht, 8),
        F.lit("080200000000000000"),
    )
    gif = F.concat(
        F.lit("474946383961"),
        hx(w % 256, 2), hx(F.floor(w / 256).cast("bigint"), 2),
        hx(ht % 256, 2), hx(F.floor(ht / 256).cast("bigint"), 2),
        F.lit("F70000"),
    )
    jpeg = F.concat(
        F.lit("FFD8FFC0001108"), hx(ht, 4), hx(w, 4),
        F.lit("03") , F.lit("00" * 9),
    )
    payload_hex = (
        F.when(F.col("did") % 7 == 0, F.lit("89504E"))  # truncated → (0,0)
        .when(F.col("did") % 3 == 0, png)
        .when(F.col("did") % 3 == 1, gif)
        .otherwise(jpeg)
    )
    d = base.select("doc_id", F.unhex(payload_hex).alias("payload"))
    return decode_media(d, mode="real")


# ---------------------------------------------------------------------------
# Remaining SURVEY §2 coverage: A4, X4-X6, X7/F4, G5/J1, A8 shape
# ---------------------------------------------------------------------------

@query(
    "pages_month_domain_having",
    _WEB_CTE
    + """
    SELECT month, domain, count(*) AS count FROM w
    GROUP BY month, domain HAVING count(*) > 8
    """,
)
def pages_month_domain_having(spark, sf_dir):
    """A4 pages by (month, domain) with HAVING count>10
    (CrawlStatistics.scala:37-48)."""
    return (
        web_docs(spark, sf_dir)
        .groupBy("month", "domain")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") > 8)
    )


_CONTENT_SQL = (
    "text || ' see http://www.' || source || '.example.com/d/' || doc_id"
    " || '.html by @user' || doc_id % 7 || ' #tag' || doc_id % 5"
)


def _content_col():
    sid = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" see http://www."), F.col("source"), F.lit(".example.com/d/"), sid,
        F.lit(".html by @user"), (F.col("doc_id") % 7).cast("string"),
        F.lit(" #tag"), (F.col("doc_id") % 5).cast("string"),
    )


@query(
    "extract_urls",
    f"""
    SELECT u AS url, count(*) AS count FROM (
      SELECT unnest(regexp_extract_all({_CONTENT_SQL}, 'https?://[^ ]+')) AS u
      FROM documents
    ) GROUP BY u ORDER BY count DESC, url LIMIT 20
    """,
)
def extract_urls(spark, sf_dir):
    """X4 ExtractUrls (matchbox/ExtractUrls.scala:19-22):
    regexp_extract_all + explode + countItems."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.regexp_extract_all(_content_col(), F.lit(r"https?://[^ ]+"), 0)).alias("url"))
        .groupBy("url").agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "url").limit(20)
    )


@query(
    "extract_mentions_hashtags",
    f"""
    WITH c AS (SELECT {_CONTENT_SQL} AS content FROM documents),
    m AS (SELECT unnest(regexp_extract_all(content, '@[A-Za-z_0-9]+')) AS tok FROM c),
    h AS (SELECT unnest(regexp_extract_all(content, '#[^ ]+')) AS tok FROM c),
    allt AS (SELECT 'mention' AS kind, tok FROM m UNION ALL SELECT 'hashtag', tok FROM h)
    SELECT kind, tok, count(*) AS count FROM allt GROUP BY kind, tok
    """,
)
def extract_mentions_hashtags(spark, sf_dir):
    """X5/X6 ExtractAtMentions + ExtractHashtags
    (matchbox/ExtractAtMentions.scala:19-22, ExtractHashtags.scala:19-22)."""
    d = _t(spark, sf_dir, "documents").select(_content_col().alias("content"))
    m = d.select(F.lit("mention").alias("kind"),
                 F.explode(F.regexp_extract_all("content", F.lit(r"@[A-Za-z_0-9]+"), 0)).alias("tok"))
    h = d.select(F.lit("hashtag").alias("kind"),
                 F.explode(F.regexp_extract_all("content", F.lit(r"#[^ ]+"), 0)).alias("tok"))
    return m.unionByName(h).groupBy("kind", "tok").agg(F.count(F.lit(1)).alias("count"))


@query(
    "date_granularities",
    _WEB_CTE
    + """
    SELECT substr(crawl_date, 1, 4) AS yyyy, substr(crawl_date, 1, 6) AS yyyymm,
           substr(crawl_date, 5, 2) AS mm, substr(crawl_date, 7, 2) AS dd,
           count(*) AS count
    FROM w GROUP BY 1, 2, 3, 4
    """,
)
def date_granularities(spark, sf_dir):
    """X7 ExtractDate components (matchbox/ExtractDate.scala:21-29) / F4
    keepDate granularities (RecordRDD.scala:76-78) as substring pulls."""
    w = web_docs(spark, sf_dir)
    return w.groupBy(
        F.substring("crawl_date", 1, 4).alias("yyyy"),
        F.substring("crawl_date", 1, 6).alias("yyyymm"),
        F.substring("crawl_date", 5, 2).alias("mm"),
        F.substring("crawl_date", 7, 2).alias("dd"),
    ).agg(F.count(F.lit(1)).alias("count"))


@query(
    "graph_degrees",
    _WEB_CTE
    + """
    , od AS (SELECT src_domain AS domain, count(*) AS out_deg FROM links GROUP BY 1),
    idg AS (SELECT dst_domain AS domain, count(*) AS in_deg FROM links GROUP BY 1)
    SELECT w.domain, coalesce(max(od.out_deg), 0) AS out_deg, coalesce(max(idg.in_deg), 0) AS in_deg
    FROM (SELECT DISTINCT domain FROM w) w
    LEFT JOIN od ON od.domain = w.domain LEFT JOIN idg ON idg.domain = w.domain
    GROUP BY w.domain
    """,
)
def graph_degrees(spark, sf_dir):
    """G5 degrees + J1 left-outer degree joins with missing→0
    (ExtractGraph.scala:60-74 outerJoinVertices ×3 pattern)."""
    links = web_links(spark, sf_dir)
    nodes = web_docs(spark, sf_dir).select("domain").distinct()
    od = links.groupBy(F.col("src_domain").alias("domain")).agg(F.count(F.lit(1)).alias("out_deg"))
    idg = links.groupBy(F.col("dst_domain").alias("domain")).agg(F.count(F.lit(1)).alias("in_deg"))
    return (
        nodes.join(od, "domain", "left").join(idg, "domain", "left")
        .na.fill({"out_deg": 0, "in_deg": 0})
        .select("domain", "out_deg", "in_deg")
    )


@query(
    "anchor_count_nested",
    _WEB_CTE
    + """
    SELECT month, src_domain,
           string_agg(anchor || ':' || c, ',' ORDER BY anchor) AS anchor_counts
    FROM (SELECT month, src_domain, anchor, count(*) AS c
          FROM links GROUP BY month, src_domain, anchor)
    GROUP BY month, src_domain
    """,
)
def anchor_count_nested(spark, sf_dir):
    """A8 NERCombinedJson nested-aggregation shape
    (NERCombinedJson.scala:80-87): inner entity counts, outer merge into a
    per-group sorted map (serialized deterministically as k:v list)."""
    inner = (
        web_links(spark, sf_dir)
        .groupBy("month", "src_domain", "anchor")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Sort structs by anchor (unique within the group), THEN serialize:
    # sorting the concatenated 'anchor:c' strings would diverge from the
    # oracle's ORDER BY anchor when one anchor is a prefix of another and
    # the next char sorts below ':' (ADVICE r1).
    return inner.groupBy("month", "src_domain").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("anchor", "c"))),
                lambda s: F.concat_ws(":", s["anchor"], s["c"]),
            ),
            ",",
        ).alias("anchor_counts")
    )


@query(
    "domain_range_scan",
    _WEB_CTE
    + """
    SELECT url_key, crawl_date, mime_type FROM w
    WHERE url_key LIKE 'com.example.src1.%'
    ORDER BY url_key, crawl_date
    """,
)
def domain_range_scan(spark, sf_dir):
    """S9/O13 sorted-key range scan: reversed-host keys make a domain one
    contiguous key range (UrlUtils.java:29-47 rowkey design;
    PrefixMapping.java:61-93 prefix ranges) — a LIKE 'prefix%' predicate
    min/max-prunes on the sorted url_key."""
    return (
        web_docs(spark, sf_dir)
        .filter(F.col("url_key").like("com.example.src1.%"))
        .select("url_key", "crawl_date", "mime_type")
        .orderBy("url_key", "crawl_date")
    )


@query(
    "url_history",
    _WEB_CTE
    + """
    SELECT crawl_date, mime_type, url FROM w
    WHERE url_key = (SELECT min(url_key) FROM w)
    ORDER BY crawl_date
    """,
)
def url_history(spark, sf_dir):
    """S9 temporal point lookup (WarcBrowserServlet.java:123-153: all
    versions of one URL ordered by capture time) as a DataFrame point query
    over the sorted key."""
    w = web_docs(spark, sf_dir)
    k = w.agg(F.min("url_key").alias("k"))
    return (
        w.join(F.broadcast(k), w.url_key == F.col("k"))
        .select("crawl_date", "mime_type", "url")
        .orderBy("crawl_date")
    )


@query(
    "tpch_q6",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    """Pure filter+agg: every predicate must reach the parquet scan
    (PushedFilters) — the pushdown benchmark."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "tpch_q4_semijoin",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_semijoin(spark, sf_dir):
    """Left-semi join (EXISTS) + agg — the relational twin of the URL-seen
    membership gate (J2 semantics)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q14_promo",
    """
    SELECT p.p_type,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    GROUP BY p.p_type
    """,
)
def tpch_q14_promo(spark, sf_dir):
    """Fact-dim broadcast join (part is the small side) + filtered agg —
    q14-shaped revenue per part type."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "robots_filtering",
    _WEB_CTE
    + """
    SELECT url_key, host FROM w
    WHERE NOT (url_key LIKE '%/robots.txt')
      AND NOT (host IN ('www.src0.example.com', 'www.src1.example.com')
               AND substr(url_key, strpos(url_key, '/'), 1000000) LIKE '/d/1%')
    """,
)
def robots_filtering(spark, sf_dir):
    """Robots disallow rules (frontier/robots.py): per-host path-prefix
    table broadcast-joined, prefix test as a Column exists() over the
    aggregated rule array — RecordRDD.scala:58 robots.txt drop + north-rule
    per-host disallow extension."""
    from warcbase_spark.frontier.robots import apply_robots

    robots = spark.createDataFrame(
        [("www.src0.example.com", "/d/1"), ("www.src1.example.com", "/d/1")],
        "host string, path_prefix string",
    )
    cand = web_docs(spark, sf_dir).select("url_key", "host")
    return apply_robots(cand, robots)


# ---------------------------------------------------------------------------
# S4 loadTweets: tombstone + parse-failure drop over JSON lines. The line
# corpus derives deterministically from `documents` (doc_id % 7 selects the
# shape: 0 → {"delete": tombstone, 1 → corrupt non-JSON, 2 → valid tweet
# with no user object, else → full tweet); the DuckDB oracle mirrors the
# construction and the filters (json_valid ≡ try_parse_json null-ness,
# verified on identical edge cases).
# ---------------------------------------------------------------------------

_TWEET_LINE_SQL = """
CASE
  WHEN doc_id % 7 = 0 THEN '{"delete": {"status": {"id": ' || doc_id || '}}}'
  WHEN doc_id % 7 = 1 THEN 'not json ' || doc_id
  WHEN doc_id % 7 = 2 THEN '{"id_str": "' || doc_id
       || '", "created_at": "2024-01-01", "text": "tweet ' || doc_id
       || '", "lang": "' || lang || '"}'
  ELSE '{"id_str": "' || doc_id
       || '", "created_at": "2024-01-02", "text": "tweet ' || doc_id
       || '", "lang": "' || lang || '", "user": {"screen_name": "u' || doc_id
       || '", "verified": ' || CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END
       || ', "followers_count": ' || (doc_id % 1000)
       || ', "friends_count": ' || (doc_id % 97) || '}}'
END
"""


def _tweet_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from warcbase_spark.functions.layout import spread_scan

    # spread: JSON render + parse is per-row expression work on a
    # single-rowgroup scan (guide §2.5; A/B'd 1.45s -> 0.81s at sf1.0)
    d = spread_scan(_t(spark, sf_dir, "documents"))
    sid = F.col("doc_id").cast("string")
    mod7 = F.col("doc_id") % 7
    full = F.concat(
        F.lit('{"id_str": "'), sid,
        F.lit('", "created_at": "2024-01-02", "text": "tweet '), sid,
        F.lit('", "lang": "'), F.col("lang"),
        F.lit('", "user": {"screen_name": "u'), sid,
        F.lit('", "verified": '),
        F.when(F.col("doc_id") % 2 == 0, "true").otherwise("false"),
        F.lit(', "followers_count": '), (F.col("doc_id") % 1000).cast("string"),
        F.lit(', "friends_count": '), (F.col("doc_id") % 97).cast("string"),
        F.lit("}}"),
    )
    line = (
        F.when(mod7 == 0, F.concat(F.lit('{"delete": {"status": {"id": '), sid, F.lit("}}}")))
        .when(mod7 == 1, F.concat(F.lit("not json "), sid))
        .when(
            mod7 == 2,
            F.concat(
                F.lit('{"id_str": "'), sid,
                F.lit('", "created_at": "2024-01-01", "text": "tweet '), sid,
                F.lit('", "lang": "'), F.col("lang"), F.lit('"}'),
            ),
        )
        .otherwise(full)
    )
    return d.select(line.alias("value"))


@query(
    "ner_entities",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' ')) AS tok,
             generate_subscripts(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))), ' '), 1) AS i
      FROM documents
    ),
    cls AS (
      SELECT doc_id, i, tok,
             CASE WHEN tok IN ('fast','slow') THEN 'PERSON'
                  WHEN tok IN ('spark','hash') THEN 'ORGANIZATION'
                  WHEN tok IN ('table','row') THEN 'LOCATION'
                  ELSE 'O' END AS c
      FROM toks
    ),
    runs AS (
      SELECT doc_id, i, tok, c,
             i - row_number() OVER (PARTITION BY doc_id, c ORDER BY i) AS grp
      FROM cls WHERE c != 'O'
    ),
    ents AS (
      SELECT doc_id, c AS entity_type, string_agg(tok, ' ' ORDER BY i) AS entity
      FROM runs GROUP BY doc_id, c, grp
    )
    SELECT entity_type, entity, count(*) AS count FROM ents GROUP BY 1, 2
    """,
)
def ner_entities(spark, sf_dir):
    """X16 NER (NER3Classifier.scala:53-109 run-merging + ExtractEntities.
    scala:62-65 per-partition init) with the pluggable gazetteer fallback
    classifier; counts per (type, entity). The oracle reimplements
    run-merging independently as a gaps-and-islands SQL query."""
    from warcbase_spark.functions.layout import spread_scan
    from warcbase_spark.operators.ner import extract_entities

    # spread: the classifier mapInPandas otherwise receives the whole
    # single-rowgroup scan as ONE partition — one Python worker (guide §2.5)
    d = spread_scan(_t(spark, sf_dir, "documents"))
    ents = extract_entities(d.select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    return ents.groupBy("entity_type", "entity").agg(F.count(F.lit(1)).alias("count"))


@query(
    "mime_sniff",
    """
    WITH p AS (
      SELECT CASE doc_id % 4
               WHEN 0 THEN 'GIF89a' || text
               WHEN 1 THEN '%PDF-1.4 ' || text
               WHEN 2 THEN '<html><body>' || text
               ELSE text
             END AS s
      FROM documents
    )
    SELECT CASE
             WHEN starts_with(s, 'GIF8') THEN 'image/gif'
             WHEN starts_with(s, '%PDF') THEN 'application/pdf'
             WHEN starts_with(lower(ltrim(s)), '<!doctype html')
               OR starts_with(lower(ltrim(s)), '<html') THEN 'text/html'
             ELSE 'text/plain'
           END AS mime_type,
           count(*) AS count
    FROM p GROUP BY 1
    """,
)
def mime_sniff(spark, sf_dir):
    """X12 MIME detection, lib-free: magic-bytes prefix sniff as pure Column
    ops over BINARY payloads (detect_mime_magic). Payloads derive from the
    text column with deterministic ASCII magic prefixes; the oracle mirrors
    the sniff on the string form (binary-only signatures — PNG/JPEG/gzip —
    are unit-tested with real byte literals in test_mime_sniff)."""
    from warcbase_spark.functions.matchbox import detect_mime_magic

    d = _t(spark, sf_dir, "documents")
    mod4 = F.col("doc_id") % 4
    s = (
        F.when(mod4 == 0, F.concat(F.lit("GIF89a"), F.col("text")))
        .when(mod4 == 1, F.concat(F.lit("%PDF-1.4 "), F.col("text")))
        .when(mod4 == 2, F.concat(F.lit("<html><body>"), F.col("text")))
        .otherwise(F.col("text"))
    )
    payloads = d.select(F.encode(s, "UTF-8").alias("payload"))
    return payloads.groupBy(detect_mime_magic(F.col("payload")).alias("mime_type")).agg(
        F.count(F.lit(1)).alias("count")
    )


@query(
    "tweets_ingest",
    f"""
    WITH lines AS (SELECT {_TWEET_LINE_SQL} AS value FROM documents),
    kept AS (
      SELECT value FROM lines
      WHERE NOT starts_with(value, '{{"delete":') AND json_valid(value)
    )
    SELECT json_extract_string(value, '$.id_str') AS id,
           json_extract_string(value, '$.created_at') AS created_at,
           json_extract_string(value, '$.text') AS text,
           json_extract_string(value, '$.lang') AS lang,
           json_extract_string(value, '$.user.screen_name') AS username,
           coalesce(TRY_CAST(json_extract_string(value, '$.user.verified') AS BOOLEAN), false) AS verified,
           coalesce(TRY_CAST(json_extract_string(value, '$.user.followers_count') AS INT), 0) AS follower_count,
           coalesce(TRY_CAST(json_extract_string(value, '$.user.friends_count') AS INT), 0) AS friend_count
    FROM kept
    """,
)
def tweets_ingest(spark, sf_dir):
    """S4 loadTweets (RecordLoader.scala:48-50): drop {"delete": tombstones
    + parse failures, then the TweetUtils accessor set (X19) with reference
    defaults (counts→0; intended user.verified, not the reference's
    screen_name=="false" bug — documented divergence)."""
    from warcbase_spark.sources.tweets import tweets_table

    return tweets_table(_tweet_lines(spark, sf_dir))


# ---------------------------------------------------------------------------
# §2.6 HTML extraction (X2 ExtractLinks / X3 ExtractImageLinks / X8
# RemoveHTML) over RAW HTML — pages are rendered JVM-side from the derived
# web (deterministic Column expressions the oracle mirrors as string
# concatenation), then parsed back by the stdlib-HTML-parser Arrow UDFs, so
# the oracle checks parse(render(ground_truth)) == ground_truth end-to-end.
# ---------------------------------------------------------------------------

def _html_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, html): one rendered page per document — a <p> of the
    doc text, a root-relative <img>, the doc's outlinks as <a> (ordered by
    j), one page-relative <a> (exercises base resolution), and an absolute
    CDN <img>."""
    w = web_docs(spark, sf_dir)
    lk = web_links(spark, sf_dir).select("src_id", "j", "dst_url", "anchor")
    links_html = lk.groupBy("src_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "dst_url", "anchor"))),
                lambda s: F.concat(
                    F.lit('<a href="'), s["dst_url"], F.lit('">'), s["anchor"], F.lit("</a>")
                ),
            ),
            " ",
        ).alias("links_html")
    )
    sid = F.col("doc_id").cast("string")
    return (
        w.join(links_html, w["doc_id"] == links_html["src_id"], "left")
        .select(
            "doc_id",
            "url",
            F.concat(
                F.lit("<html><body><p>"), F.col("text"), F.lit("</p>"),
                F.lit('<img src="/i/'), sid, F.lit('.png"> '),
                F.coalesce("links_html", F.lit("")),
                F.lit(' <a href="r/'), sid, F.lit('.html">rel</a>'),
                F.lit('<img src="http://cdn.example.net/c/'), sid, F.lit('.gif">'),
                F.lit("</body></html>"),
            ).alias("html"),
        )
    )


@query(
    "html_extract_links",
    _WEB_CTE
    + """
    SELECT src_id AS doc_id, CAST(j - 1 AS INT) AS pos, dst_url AS target, anchor
    FROM links
    UNION ALL
    SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS pos,
           'http://www.' || source || '.example.com/d/r/' || doc_id || '.html' AS target,
           'rel' AS anchor
    FROM w
    """,
)
def html_extract_links(spark, sf_dir):
    """X2 ExtractLinks over raw HTML (ExtractLinks.scala:37-61 semantics:
    a[href] targets resolved against the page url, anchor text normalized;
    the page-relative 'r/{id}.html' link proves base resolution)."""
    from warcbase_spark.functions.htmlparse import extract_links_udf

    pages = _html_pages(spark, sf_dir)
    return pages.select(
        "doc_id",
        F.posexplode(extract_links_udf(F.col("url"), F.col("html"))).alias("pos", "lk"),
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("lk.target").alias("target"),
        F.col("lk.anchor").alias("anchor"),
    )


@query(
    "html_image_links",
    _WEB_CTE
    + """
    SELECT doc_id, CAST(0 AS INT) AS pos,
           'http://www.' || source || '.example.com/i/' || doc_id || '.png' AS img
    FROM w
    UNION ALL
    SELECT doc_id, CAST(1 AS INT) AS pos,
           'http://cdn.example.net/c/' || doc_id || '.gif' AS img
    FROM w
    """,
)
def html_image_links(spark, sf_dir):
    """X3 ExtractImageLinks over raw HTML (ExtractImageLinks.scala:36-54:
    img[src] resolved against the page url; the root-relative '/i/…' img
    proves authority-preserving resolution)."""
    from warcbase_spark.functions.htmlparse import extract_image_links_udf

    pages = _html_pages(spark, sf_dir)
    return pages.select(
        "doc_id",
        F.posexplode(extract_image_links_udf(F.col("url"), F.col("html"))).alias("pos", "img"),
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "img")


@query(
    "html_boilerplate",
    _WEB_CTE
    + """
    SELECT doc_id,
           CASE WHEN len(string_split(trim(regexp_replace(text,'\\s+',' ','g')), ' ')) >= 10
                THEN trim(regexp_replace(text,'\\s+',' ','g')) ELSE '' END AS main_text
    FROM w
    """,
)
def html_boilerplate(spark, sf_dir):
    """X10 Boilerpipe analogue over raw HTML: the rendered page's anchor
    block is all-link (density 1.0 → boilerplate, dropped); the text
    paragraph survives the ≥10-word floor — so main content == the original
    text, which the oracle states directly. Unit tests cover nav/footer
    chrome shapes (test_htmlparse.py)."""
    from warcbase_spark.functions.htmlparse import remove_boilerplate_udf

    pages = _html_pages(spark, sf_dir)
    return pages.select("doc_id", remove_boilerplate_udf(F.col("html")).alias("main_text"))


@query(
    "html_remove_text",
    _WEB_CTE
    + """
    SELECT w.doc_id,
           trim(regexp_replace(w.text, '\\s+', ' ', 'g')) || ' ' ||
           string_agg(l.anchor, ' ' ORDER BY l.j) || ' rel' AS text_clean
    FROM w JOIN links l ON l.src_id = w.doc_id
    GROUP BY w.doc_id, w.text
    """,
)
def html_remove_text(spark, sf_dir):
    """X8 RemoveHTML over raw HTML (RemoveHTML.scala:23-31 = jsoup .text():
    visible text incl. anchor text, whitespace-collapsed; script/style and
    markup dropped)."""
    from warcbase_spark.functions.htmlparse import remove_html_udf

    pages = _html_pages(spark, sf_dir)
    return pages.select("doc_id", remove_html_udf(F.col("html")).alias("text_clean"))


# ---------------------------------------------------------------------------
# Training-data pipeline operators (operators/pipeline.py): repetition
# quality, decontamination, sequence packing, weighted source mixing.
# ---------------------------------------------------------------------------

_TOKS_SQL = "string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')"
# quality_repetition's engine side coalesces NULL text to '' (repetition_stats)
# — its oracle must coalesce identically or a NULL-text document diverges
# (Spark ntok=1 vs DuckDB ntok=NULL→milli 0)
_TOKS_NN_SQL = "string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ')"


@query(
    "quality_repetition",
    f"""
    WITH b2 AS (
      SELECT doc_id, {_TOKS_NN_SQL} AS toks, len({_TOKS_NN_SQL}) AS ntok FROM documents
    ),
    big AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
      FROM b2, LATERAL (SELECT unnest(range(1, ntok)) AS i) u WHERE ntok >= 2
    ),
    bigc AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
    bigm AS (SELECT doc_id, max(c) AS mx FROM bigc GROUP BY 1),
    tri AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      FROM b2, LATERAL (SELECT unnest(range(1, ntok - 1)) AS i) u WHERE ntok >= 3
    ),
    tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
    trid AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup FROM tric GROUP BY 1),
    m AS (
      SELECT b2.doc_id, b2.ntok, len(list_distinct(b2.toks)) AS nd,
             CASE WHEN coalesce(bigm.mx, 0) >= 2 THEN bigm.mx ELSE 0 END AS mx,
             coalesce(trid.dup, 0) AS dup,
             greatest(b2.ntok - 2, 0) AS n_tri
      FROM b2 LEFT JOIN bigm USING (doc_id) LEFT JOIN trid USING (doc_id)
    ),
    s AS (
      SELECT doc_id, CAST(ntok AS BIGINT) AS ntok,
        CAST(CASE WHEN ntok > 0 THEN (nd * 1000) // ntok ELSE 0 END AS BIGINT) AS distinct_milli,
        CAST(CASE WHEN ntok > 0 THEN (mx * 2 * 1000) // ntok ELSE 0 END AS BIGINT) AS top_bigram_milli,
        CAST(CASE WHEN n_tri > 0 THEN (dup * 1000) // n_tri ELSE 0 END AS BIGINT) AS dup_trigram_milli
      FROM m
    )
    SELECT *, CAST(CASE WHEN top_bigram_milli > 180 OR dup_trigram_milli > 600
                        OR (ntok >= 10 AND distinct_milli < 300)
                   THEN 1 ELSE 0 END AS INT) AS flag_repetitive
    FROM s
    """,
)
def quality_repetition(spark, sf_dir):
    """Gopher-style per-document repetition rules (Rae et al. 2021 §A1.1,
    token-gram variant): top-bigram coverage, duplicate-trigram fraction,
    distinct-token fraction — a map-only fold per row, zero shuffle (the
    oracle recomputes via explode+groupBy; same semantics, different
    algorithm). Extends the reference's quality surface past X8/X10."""
    from warcbase_spark.operators.pipeline import repetition_stats

    return repetition_stats(
        _t(spark, sf_dir, "documents"), min_partitions=spark.sparkContext.defaultParallelism
    )


@query(
    "decontam_eval3",
    f"""
    WITH b2 AS (
      SELECT doc_id, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS ntok FROM documents
    ),
    tg AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        FROM b2, LATERAL (SELECT unnest(range(1, ntok - 1)) AS i) u WHERE ntok >= 3
      ) GROUP BY doc_id, g
    ),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY 1),
    ev AS (SELECT DISTINCT g FROM tg WHERE doc_id % 37 = 0),
    sh AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM tg t JOIN ev USING (g) WHERE t.doc_id % 37 != 0 GROUP BY 1
    )
    SELECT s.doc_id, CAST(tot.n_grams AS BIGINT) AS n_grams,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST((s.n_shared * 1000) // tot.n_grams AS BIGINT) AS coverage_milli,
           CAST(CASE WHEN (s.n_shared * 1000) // tot.n_grams >= 100 THEN 1 ELSE 0 END AS INT)
             AS flag_contaminated
    FROM sh s JOIN tot ON s.doc_id = tot.doc_id
    """,
)
def decontam_eval3(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C shape): train docs
    sharing token 3-grams with a held-out eval split (doc_id % 37 = 0),
    with per-doc gram coverage. Broadcast gram join below 2M eval grams,
    shuffled hash join above (operators/pipeline.py:decontaminate)."""
    from warcbase_spark.operators.pipeline import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(
        d.where(F.col("doc_id") % 37 != 0),
        d.where(F.col("doc_id") % 37 == 0),
        n=3,
        min_partitions=spark.sparkContext.defaultParallelism,
    )


@query(
    "pack_sequences",
    f"""
    WITH d AS (SELECT doc_id, len({_TOKS_SQL}) AS ntok FROM documents),
    c AS (
      SELECT doc_id, CAST(ntok AS BIGINT) AS ntok,
             sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS tok_end
      FROM d WHERE ntok > 0
    )
    SELECT doc_id, ntok, CAST(tok_end - ntok AS BIGINT) AS tok_start,
           CAST((tok_end - ntok) // 128 AS BIGINT) AS pack_first,
           CAST((tok_end - 1) // 128 AS BIGINT) AS pack_last,
           CAST(CASE WHEN (tok_end - 1) // 128 > (tok_end - ntok) // 128 THEN 1 ELSE 0 END AS INT)
             AS crosses_boundary
    FROM c
    """,
)
def pack_sequences_q(spark, sf_dir):
    """Concatenate-and-chunk sequence packing (GPT-style pretraining
    layout): global token offsets per doc via scheduler.add_global_seq's
    bucketed running sum (no single-task global window;
    operators/pipeline.py:pack_sequences), ctx_len=128 pack coordinates.
    The oracle's plain window cumsum is the single-node equivalent."""
    from warcbase_spark.operators.pipeline import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), ctx_len=128)


_HEXP = "(strpos('0123456789abcdef', substr(h,{i},1))-1)"


@query(
    "mix_weighted_sample",
    f"""
    WITH d AS (
      SELECT source, md5('mix:' || CAST(doc_id AS VARCHAR)) AS h,
             len({_TOKS_SQL}) AS ntok
      FROM documents
    ),
    k AS (
      SELECT source, ntok,
        {_HEXP.format(i=1)}*256 + {_HEXP.format(i=2)}*16 + {_HEXP.format(i=3)} AS v,
        greatest(1000 - 45 * CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT), 100) AS rate
      FROM d
    ),
    kk AS (
      SELECT source, ntok,
             CASE WHEN v < (rate * 4096) // 1000 THEN 1 ELSE 0 END AS keep
      FROM k
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(keep * ntok) AS BIGINT) AS kept_tokens,
           CAST((sum(keep) * 1000) // count(*) AS BIGINT) AS rate_milli
    FROM kk GROUP BY source
    """,
)
def mix_weighted_sample(spark, sf_dir):
    """Deterministic weighted source mixing: per-row md5 hash threshold
    (reproducible across retries and cluster sizes, unlike df.sample),
    per-source achieved rate + surviving token mass
    (operators/pipeline.py:weighted_sample)."""
    from warcbase_spark.operators.pipeline import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"))


@query(
    "pack_manifest",
    f"""
    WITH d AS (SELECT doc_id, len({_TOKS_SQL}) AS ntok FROM documents),
    c AS (
      SELECT doc_id, CAST(ntok AS BIGINT) AS ntok,
             sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS tok_end
      FROM d WHERE ntok > 0
    ),
    e AS (
      SELECT doc_id, ntok, tok_end - ntok AS tok_start, tok_end,
             CAST((tok_end - ntok) // 128 AS BIGINT) AS pf,
             CAST((tok_end - 1) // 128 AS BIGINT) AS pl
      FROM c
    ),
    x AS (
      SELECT e.*, i AS pack_id
      FROM e, LATERAL (SELECT unnest(range(pf, pl + 1)) AS i) u
    )
    SELECT CAST(pack_id AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(tok_end, (pack_id + 1) * 128)
                    - greatest(tok_start, pack_id * 128)) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN sum(least(tok_end, (pack_id + 1) * 128)
                             - greatest(tok_start, pack_id * 128)) = 128
                THEN 1 ELSE 0 END AS INT) AS full
    FROM x GROUP BY pack_id
    """,
)
def pack_manifest(spark, sf_dir):
    """Per-pack shard manifest over pack_sequences' coordinates: which
    ctx-window holds how many docs/tokens and whether it is exactly full
    (every pack except the final one must be). This is the view a training
    loader partitions on — downstream writes partitionBy(pack_id) with no
    further global coordination."""
    from warcbase_spark.operators.pipeline import pack_sequences

    p = pack_sequences(_t(spark, sf_dir, "documents"), ctx_len=128)
    tok_end = F.col("tok_start") + F.col("ntok")
    x = p.select(
        "tok_start",
        tok_end.alias("tok_end"),
        F.explode(F.sequence("pack_first", "pack_last")).alias("pack_id"),
    )
    in_pack = F.least(F.col("tok_end"), (F.col("pack_id") + 1) * 128) - F.greatest(
        F.col("tok_start"), F.col("pack_id") * 128
    )
    return (
        x.groupBy("pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(in_pack).cast("long").alias("n_tokens"),
        )
        .withColumn("full", (F.col("n_tokens") == 128).cast("int"))
    )


@query(
    "global_shuffle_pos",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('shuf0:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS shuffle_pos
    FROM documents
    """,
)
def global_shuffle_pos(spark, sf_dir):
    """Deterministic training-order permutation: global row_number over
    md5(seed:id) WITHOUT a single-task global window — per-bucket window
    ranks over sampled (hash, id) bounds + driver-collected bucket offsets
    (operators/pipeline.py:global_shuffle). Reproducible across
    retries/cluster sizes unlike orderBy(rand()); reseeding reshuffles
    per epoch. The oracle's plain window row_number is the single-node
    equivalent."""
    from warcbase_spark.operators.pipeline import global_shuffle

    return global_shuffle(_t(spark, sf_dir, "documents"))


def _pipeline_e2e_sql(cc_iters: int = 8) -> str:
    """DuckDB twin of operators.pipeline.training_pipeline: the full
    weighted-mix → decontaminate → exact-dedup → MinHash-CC-keep-one →
    pack → shuffle chain, composed from the SAME CTE builders as the
    individual oracles (shingles/pairs/jaccard parameterized over the
    dedup survivors ``s2``)."""
    steps_sql, last = _cc_steps_sql(cc_iters)
    hexv = f"{_HEXP.format(i=1)}*256 + {_HEXP.format(i=2)}*16 + {_HEXP.format(i=3)}"
    return f"""
    WITH kept AS MATERIALIZED (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               md5('mix:' || CAST(doc_id AS VARCHAR)) AS h,
               greatest(1000 - 45 * CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT), 100)
                 AS rate
        FROM documents WHERE doc_id % 37 != 0
      ) WHERE {hexv} < (rate * 4096) // 1000
    ),
    ktoks AS (SELECT doc_id, {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS ntok FROM kept),
    tg AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        FROM ktoks, LATERAL (SELECT unnest(range(1, ntok - 1)) AS i) u WHERE ntok >= 3
      ) GROUP BY doc_id, g
    ),
    etoks AS (SELECT {_TOKS_SQL} AS toks, len({_TOKS_SQL}) AS ntok
              FROM documents WHERE doc_id % 37 = 0),
    ev AS (
      SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      FROM etoks, LATERAL (SELECT unnest(range(1, ntok - 1)) AS i) u WHERE ntok >= 3
    ),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY 1),
    shd AS (SELECT t.doc_id, count(*) AS n_shared FROM tg t JOIN ev USING (g) GROUP BY 1),
    contam AS (
      SELECT s.doc_id FROM shd s JOIN tot USING (doc_id)
      WHERE (s.n_shared * 1000) // tot.n_grams >= 100
    ),
    s1 AS MATERIALIZED (
      SELECT k.* FROM kept k
      WHERE NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = k.doc_id)
    ),
    s1keep AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
    s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN s1keep USING (doc_id)),
    {_shingles_sql("s2").strip()},
    {_MINHASH_PAIRS_SQL},
    {_jaccard_vp_sql(3).strip()},
    e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM vp UNION ALL SELECT b AS src, a AS dst FROM vp
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e),{steps_sql},
    dropn AS (SELECT node FROM {last} WHERE label < node),
    s3 AS MATERIALIZED (
      SELECT s2.* FROM s2 WHERE NOT EXISTS (SELECT 1 FROM dropn d WHERE d.node = s2.doc_id)
    ),
    dd AS (
      SELECT doc_id, source, CAST(len({_TOKS_SQL}) AS BIGINT) AS ntok FROM s3
      WHERE len({_TOKS_SQL}) > 0
    ),
    c AS (
      SELECT *, sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS tok_end
      FROM dd
    ),
    p AS (
      SELECT doc_id, source, ntok,
             (tok_end - ntok) // 128 AS pf, (tok_end - 1) // 128 AS pl
      FROM c
    ),
    sp AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY md5('shuf0:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
      FROM p
    )
    SELECT p.source AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.ntok) AS BIGINT) AS tokens,
           CAST(sum(p.pl - p.pf + 1) AS BIGINT) AS pack_rows,
           CAST(sum(sp.pos) AS BIGINT) AS shuffle_checksum
    FROM p JOIN sp USING (doc_id) GROUP BY p.source
    """


@query("pipeline_e2e", _pipeline_e2e_sql(8))
def pipeline_e2e(spark, sf_dir):
    """The training-data pipeline END-TO-END in one composed Spark plan
    (operators/pipeline.py:training_pipeline): weighted source mixing →
    3-gram decontamination vs the doc_id%37 eval split → exact dedup
    (keep min doc per md5(text)) → MinHash-LSH verified pairs → 8-iter
    connected components keep-one → ctx-128 sequence packing →
    deterministic global shuffle — reporting per-source surviving docs,
    token mass, pack-span rows, and the shuffle-position checksum. Every
    stage is oracle-verified in isolation; this query verifies they
    COMPOSE (column contracts, shared normalization, no hidden driver
    round-trips)."""
    from warcbase_spark.operators.pipeline import training_pipeline

    # md5 pinned explicitly: this is the ORACLE-portability mode (the
    # DuckDB twin hashes with md5); training_pipeline's engine default is
    # the fast xxhash64 kernel (r5-measured 2.6x at 1M docs)
    return training_pipeline(
        _t(spark, sf_dir, "documents"), eval_mod=37, ctx_len=128, minhash_hash_mode="md5",
    )


# ---------------------------------------------------------------------------
# Driver-window ordering (see module docstring): the driver's CORRECTNESS
# gate covers the first 50 registered queries only. Defer stable,
# multiply-driver-green queries whose operator family keeps a stronger
# sibling in-window, so that never-checked / recently-changed queries get
# driver evidence. Each deferral names its in-window sibling.
# ---------------------------------------------------------------------------

# Each deferral maps to its IN-WINDOW sibling — a query exercising the same
# operator family that rides inside the 50-query gate this round. The
# invariant (sibling exists, sibling is NOT itself deferred, window is
# exactly 50) is enforced by tests/test_registry.py, not just by comment.
#
# r05 rotation: the r04-deferred set rotates back through the window over
# r05/r06 so no query goes >2 rounds without driver evidence. Rotated IN
# for r05 (last driver evidence r03): pages_per_month, top_domains,
# date_granularities, url_pattern_split, graph_degrees, events_hourly,
# count_items_domain, pages_month_domain_having, extract_mentions_hashtags,
# url_history — the last two break r04's circular X4-X6 / S9 deferral
# pairs. Deferred in their place: 11 queries ALL driver-green in r04
# (fresh evidence) with unchanged code. The remaining 9 r04-deferred
# queries (extract_urls … embedding_topk_cosine, grouped first below)
# rotate in-window in r06.
_DEFERRED: dict[str, str] = {
    # --- r04-deferred, due back in-window r06 (last driver evidence r03) ---
    "extract_urls": "extract_mentions_hashtags",  # X4-X6 regexp_extract_all family; sibling IN-WINDOW r05 (circularity broken)
    "domain_range_scan": "url_history",           # S9 sorted-key HBase-get emulation; sibling IN-WINDOW r05 (circularity broken)
    "lang_id_confusion": "lang_id_golden27",      # same detect_language() on the stronger golden corpus
    "tpch_q6": "tpch_q1",                         # same TPC-H scan+pushdown+agg stack
    "events_props_json": "tweets_ingest",         # same JSON-parse util family X17-X20
    "multimodal_resize": "multimodal_decode",     # same fake-decode mapInPandas path
    "site_links_rangejoin": "adjacency",          # G3's link extraction; J3 broadcast range join unchanged
    "mime_histogram": "mime_sniff",               # X12 detection + keep-DSL filter stack
    "embedding_topk_cosine": "ann_ivf_batch",     # 2 stronger ANN siblings remain in-window
    # --- deferred fresh for r05: all driver-green in r04, code unchanged ---
    "pagerank5": "pagerank_pregel",               # G5 fixed-iteration PageRank; pregel parity variant is the stronger sibling
    "pagerank_tol": "pagerank_pregel",            # global-tol PageRank; pregel per-vertex convergence subsumes it
    "ann_ivf_topk": "ann_ivf_batch",              # single-query IVF; the batch variant is the strictly stronger plan
    "html_image_links": "html_extract_links",     # same X2/X3 raw-HTML parser
    "html_remove_text": "html_boilerplate",       # same htmlparse text-extraction family (X8/X10)
    "tpch_q5_region": "tpch_q3_top10",            # same multi-join TPC-H stack
    "tpch_q14_promo": "tpch_q1",                  # same lineitem scan+agg shape
    "lang_id_trigram": "lang_id_golden27",        # same trigram classifier, golden corpus is stronger
    "dedup_ngram_jaccard": "dedup_minhash_lsh",   # same shingle-pair dedup family, MinHash is the scale path
    "image_dims_real": "multimodal_decode",       # same X14 pure-bytes header parse
    "events_sessions": "events_hourly",           # same events scan + window-agg family; sibling rotated IN r05
    "pack_manifest": "pack_sequences",            # derives from pack_sequences' coordinates; packing also driven by pipeline_e2e; r04-green
}


def _apply_driver_window_order() -> None:
    for _n in _DEFERRED:
        QUERIES[_n] = QUERIES.pop(_n)
        if _n in ORACLES:
            ORACLES[_n] = ORACLES.pop(_n)


_apply_driver_window_order()
