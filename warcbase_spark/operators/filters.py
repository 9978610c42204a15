"""The fluent keep/discard filter DSL, re-expressed as DataFrame transforms.

Reference: implicit class WARecordRDD
(warcbase-core/.../spark/rdd/RecordRDD.scala:49-142). Every filter is a
single Catalyst predicate — pushed to the Parquet scan when the column
layout allows — and composes with ``df.transform(...)``.

Known reference divergence (intentional, documented): keepUrlPatterns
uses Scala full-match semantics (RecordRDD.scala:84-91) → our rlike
patterns are anchored by the caller; helper anchors here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HTML_MIMES = ["text/html", "application/xhtml+xml"]


def _any_full_match(col: Column, patterns: Sequence[str]) -> Column:
    pred = F.lit(False)
    for p in patterns:
        pred = pred | col.rlike(f"^(?:{p})$")
    return pred


def keep_valid_pages(df: DataFrame) -> DataFrame:
    """RecordRDD.scala:51-59: crawl_date non-null AND (html mime OR .htm(l)
    url) AND NOT robots.txt."""
    return df.filter(
        F.col("crawl_date").isNotNull()
        & (
            F.col("mime_type").isin(HTML_MIMES)
            | F.col("url").endswith(".htm")
            | F.col("url").endswith(".html")
        )
        & ~F.col("url").endswith("robots.txt")
    )


def keep_images(df: DataFrame) -> DataFrame:
    """RecordRDD.scala:61-70."""
    return df.filter(
        F.col("crawl_date").isNotNull()
        & (
            F.col("mime_type").contains("image/")
            | F.col("url").endswith(".jpg")
            | F.col("url").endswith(".jpeg")
            | F.col("url").endswith(".png")
        )
        & ~F.col("url").endswith("robots.txt")
    )


def keep_mime_types(df: DataFrame, mimes: Sequence[str]) -> DataFrame:
    return df.filter(F.col("mime_type").isin(list(mimes)))


def keep_date(df: DataFrame, value: str) -> DataFrame:
    """Granularity inferred from len(value) ∈ {4,6,8} like ExtractDate
    (ExtractDate.scala:21-29): YYYY / YYYYMM / YYYYMMDD prefix match —
    prefix predicates partition-prune on a date-partitioned table."""
    return df.filter(F.substring("crawl_date", 1, len(value)) == value)


def keep_url_patterns(df: DataFrame, patterns: Sequence[str]) -> DataFrame:
    return df.filter(_any_full_match(F.col("url"), patterns))


def discard_url_patterns(df: DataFrame, patterns: Sequence[str]) -> DataFrame:
    return df.filter(~_any_full_match(F.col("url"), patterns))
