"""Error-tolerant JSONL page source (S1, SURVEY §2.1).

The reference reads API-response pages line by line, logging and
skipping lines that fail ``json.loads`` (`1_initial_load.py:315-334`,
`extract_conversation_ids.py:16-30`). The Spark restatement is a
schema'd permissive JSON scan: one row per line, malformed lines land
in ``_corrupt_record`` instead of vanishing — same skip-and-log
semantics, but the quarantine is a queryable column (and the scan
parallelizes by file split, which a line loop cannot).

The page schema is declared, not inferred (§1.4): inference would scan
the data twice and produce run-dependent schemas — both wrong at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Twitter API v2 search-response page layout, as consumed by
# `1_initial_load.py:322-329`: data[], includes.tweets[],
# includes.users[], errors[].
_METRICS = StructType(
    [
        StructField("retweet_count", LongType()),
        StructField("reply_count", LongType()),
        StructField("like_count", LongType()),
        StructField("quote_count", LongType()),
    ]
)

_URL = StructType(
    [
        StructField("url", StringType()),
        StructField("expanded_url", StringType()),
        StructField("unwound_url", StringType()),
    ]
)

_ENTITIES = StructType(
    [
        StructField("hashtags", ArrayType(StructType([StructField("tag", StringType())]))),
        StructField(
            "mentions",
            ArrayType(
                StructType(
                    [
                        StructField("username", StringType()),
                        StructField("id", StringType()),
                    ]
                )
            ),
        ),
        StructField("urls", ArrayType(_URL)),
    ]
)

TWEET_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("conversation_id", StringType()),
        StructField("author_id", StringType()),
        StructField("created_at", StringType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("in_reply_to_user_id", StringType()),
        StructField("public_metrics", _METRICS),
        StructField(
            "referenced_tweets",
            ArrayType(
                StructType(
                    [
                        StructField("type", StringType()),
                        StructField("id", StringType()),
                    ]
                )
            ),
        ),
        StructField("entities", _ENTITIES),
    ]
)

USER_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("username", StringType()),
        StructField("name", StringType()),
        StructField("created_at", StringType()),
        StructField("description", StringType()),
        StructField("location", StringType()),
        StructField("url", StringType()),
        StructField("verified", StringType()),
        StructField("protected", StringType()),
        StructField("public_metrics", StructType(
            [
                StructField("followers_count", LongType()),
                StructField("following_count", LongType()),
                StructField("tweet_count", LongType()),
                StructField("listed_count", LongType()),
            ]
        )),
    ]
)

PAGE_SCHEMA = StructType(
    [
        StructField("data", ArrayType(TWEET_SCHEMA)),
        StructField(
            "includes",
            StructType(
                [
                    StructField("tweets", ArrayType(TWEET_SCHEMA)),
                    StructField("users", ArrayType(USER_SCHEMA)),
                ]
            ),
        ),
        StructField(
            "errors",
            ArrayType(
                StructType(
                    [
                        StructField("value", StringType()),
                        StructField("resource_id", StringType()),
                        StructField("title", StringType()),
                        StructField("detail", StringType()),
                    ]
                )
            ),
        ),
        StructField("_corrupt_record", StringType()),
    ]
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """One row per JSONL line; malformed lines carry only
    ``_corrupt_record``."""
    return (
        spark.read.schema(PAGE_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def corrupt_lines(pages: DataFrame) -> DataFrame:
    """The quarantine: raw text of lines that failed to parse
    (reference logs-and-skips, `1_initial_load.py:331-332`).

    Spark refuses to answer queries that reference *only* the corrupt
    column straight off a JSON scan (it would force a full re-parse);
    caching the page frame first is the documented pattern.

    SIDE EFFECT: this caches ``pages``, and the entry stays pinned in
    executor memory until the caller runs ``pages.unpersist()`` — do so
    once the quarantine (and any other readers of the page scan) are
    materialized."""
    src = pages.cache()
    return (
        src.filter(src["_corrupt_record"].isNotNull())
        .select("_corrupt_record")
    )
