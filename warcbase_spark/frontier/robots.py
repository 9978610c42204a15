"""Robots filtering for frontier candidates.

The reference's only robots behavior is dropping ``*/robots.txt`` targets
from valid pages (RecordRDD.scala:58). The north rule extends this with a
per-host disallow-rule table (host, path_prefix). Rules are a small
dimension → aggregated to one array per host and broadcast-joined; the
prefix test is a pure Column ``exists`` over that array (no row expansion,
no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_path(url_key_col: str = "url_key"):
    """Path component ('/...') of a url_key (reversed-host key form)."""
    c = F.col(url_key_col)
    return F.substring(c, F.instr(c, "/"), F.lit(1 << 30))


def robots_rules(robots: DataFrame) -> DataFrame:
    """The (host, path_prefix) rule table as one row per host with its
    prefix array — the broadcast side of ``drop_disallowed``. A caller that
    filters many batches against a static table (the crawl, every round)
    builds this once."""
    return robots.groupBy("host").agg(F.collect_list("path_prefix").alias("prefixes"))


def drop_disallowed(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop robots.txt targets and URLs under a host's disallowed prefixes,
    given the host's rules as ``robots_rules`` builds them."""
    path = key_path()
    joined = candidates.join(F.broadcast(rules), "host", "left")
    blocked = F.col("prefixes").isNotNull() & F.exists(
        "prefixes", lambda p: path.startswith(p)
    )
    return (
        joined.filter(~F.col("url_key").endswith("/robots.txt") & ~blocked)
        .drop("prefixes")
    )


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop robots.txt targets and disallowed (host, path-prefix) URLs."""
    return drop_disallowed(candidates, robots_rules(robots))
