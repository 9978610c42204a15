"""S4 — tweets as dynamic JSON lines.

Reference: ``RecordLoader.loadTweets`` (RecordLoader.scala:48-50) is a
three-step pipeline over a text file: (1) drop lines starting with
``{"delete":`` (the Twitter API's delete notices), (2) parse each line as JSON,
(3) drop parse failures. Accessors live in TweetUtils.scala:9-18.

Spark-first shape: the tombstone drop is a Column ``startswith`` predicate
and parse validation is ``try_parse_json`` (JVM variant parser, null on
malformed) — both inside WholeStageCodegen, no Python, no RDDs. The kept
rows remain raw JSON strings so downstream access stays dynamic
(``get_json_object`` — matchbox.tweet_field), mirroring the reference's
``RDD[JValue]`` lazy-field model rather than forcing a static schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELETE_PREFIX = '{"delete":'


def tweets_from_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Tombstone + parse-failure filter over a column of JSON lines —
    RecordLoader.scala:48-50 semantics, Catalyst predicates only."""
    return (
        lines.filter(~F.col(col).startswith(DELETE_PREFIX))
        .filter(F.try_parse_json(F.col(col)).isNotNull())
    )


def load_tweets(spark: SparkSession, path: str, col: str = "value") -> DataFrame:
    """Read JSON-lines tweet dumps (splittable text scan) and apply the
    loadTweets filters. Returns the raw kept lines in ``col``."""
    return tweets_from_lines(spark.read.text(path), col)


def tweets_table(lines: DataFrame, col: str = "value") -> DataFrame:
    """Standard tweet projection over kept lines (TweetUtils accessor set,
    with the reference's defaults: counts → 0, verified → false on missing).
    The reference's ``isVerifiedUser`` compares screen_name == "false" — a
    bug (TweetUtils.scala:15); we implement the intended user.verified and
    document the divergence (SURVEY §2 X19)."""
    j = F.col(col)

    def g(path: str) -> F.Column:
        return F.get_json_object(j, path)

    return tweets_from_lines(lines, col).select(
        g("$.id_str").alias("id"),
        g("$.created_at").alias("created_at"),
        g("$.text").alias("text"),
        g("$.lang").alias("lang"),
        g("$.user.screen_name").alias("username"),
        F.coalesce(g("$.user.verified").cast("boolean"), F.lit(False)).alias("verified"),
        F.coalesce(g("$.user.followers_count").cast("int"), F.lit(0)).alias("follower_count"),
        F.coalesce(g("$.user.friends_count").cast("int"), F.lit(0)).alias("friend_count"),
    )
