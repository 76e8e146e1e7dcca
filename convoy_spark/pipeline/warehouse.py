"""The full warehouse build (SURVEY §3): every stage of the reference
pipeline composed end to end over ingested pages.

Reference lifecycle: ``load_db`` (`1_initial_load.py`) →
``enrich_ur_conversation_ids`` (`2_enrich_ur_conversation_ids.py`) →
``enrich_conversations`` (`3_create_tweet_stats_i.py`) →
``create_tweets_a`` (`4_create_tweets_a.py`) →
``create_conversation_tables`` (`5_create_conversation_tables.py`) →
``copy_tables_to_columnstore`` (`6_copy_tables_to_columnstore.py`).

Spark restatement: six DataFrame stages off one ingest, materialized
as Parquet. The row-store/column-store dichotomy collapses (§1.2) —
the "copy to ColumnStore" stage IS the parquet write; the bulk-load
index dance (S4) has nothing to defer; the per-conversation client
loop (§3.3's scalability cliff) is the distributed tree-stats
operator.

Stage DAG of :func:`build_warehouse`, each branch on its own driver
thread::

    ingest ─┬─ enrich_ur_conversations (closure loop) ─┬─ wide ─ convs ─ 9 sinks
            └─ tweet_stats (tree-stats loop) ──────────┘     (concurrent)

The two loops are independent: ``tweet_stats`` reads only
``tweet_id``, ``in_reply_to``, ``author_id`` and ``like_count``, none
of which the closure writes, so both read ingest's ``tweets`` and run
at once. Each loop round is a small, latency-bound job, and Spark
schedules jobs from separate threads concurrently, so the two loops'
round latencies overlap instead of adding up. ``wide`` is the one
barrier: it joins both branches. Then all nine sinks are written
together. The five ingest-only sinks (users, errors, the three entity
edges) wait for that final batch although they could start during the
loops: there they would compete with the loops' latency-bound rounds,
and the build still ends with its last sink.

Every stage with more than one reader is materialized once
(``localCheckpoint``) so no reader replays the lineage back to the
JSONL scan. ``ingest`` holds two such points: the keyed page frame
(read by the tweet, user and error normalizers) and the deduplicated
``tweets`` (read by the closure's edge self-joins, the root
enrichment, the tree statistics and the three entity-edge sinks).
:func:`build_warehouse` holds the other two: ``tweets_wide`` (read by
its own sink, the schema clone and both sides of the conversation
rollup) and the conversation rollup (read by its sink and the id
text sink).

Sink surface covered here (SURVEY §2.1): S5 materialization
(``write.parquet``, partitioned by the calendar column so date
predicates prune partitions at read), S6 schema-only clone
(``limit(0)`` write), S7 text-file id sink, S8 idempotent re-runs
(deterministic results + atomic overwrite replace INSERT IGNORE).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from convoy_spark.functions.numeric import dsum
from convoy_spark.operators.closure import closure_roots, enrich_with_roots
from convoy_spark.operators.treestats import tree_stats
from convoy_spark.pipeline.ingest import ingest
from convoy_spark.sources.jsonl import read_pages

T = TypeVar("T")


def conversation_edges(tweets: DataFrame) -> DataFrame:
    """O1 (`2_enrich_ur_conversation_ids.py:30-37`): quote/retweet
    references from thread roots become conversation→conversation
    edges; the quoting/retweeting conversation points at the quoted
    one (its ur-ancestor). One parent per conversation is enforced
    with min(to), which duplicate edges cannot change — the
    deterministic stand-in for the reference's INSERT-IGNORE-first-wins
    primary key."""
    t = tweets.alias("t")
    quoting = tweets.filter(F.col("in_reply_to").isNull()).alias("q")

    def edge(ref_col: str) -> DataFrame:
        return (
            quoting.join(t, F.col("t.tweet_id") == F.col(f"q.{ref_col}"))
            .select(
                F.col("q.conversation_id").alias("from_conv"),
                F.col("t.conversation_id").alias("to_conv"),
            )
        )

    edges = edge("quotes").unionByName(edge("retweet_of"))
    return (
        edges.filter(F.col("from_conv") != F.col("to_conv"))
        .groupBy("from_conv")
        .agg(F.min("to_conv").alias("to_conv"))
    )


def enrich_ur_conversations(tweets: DataFrame) -> DataFrame:
    """O2+J4 (`2_enrich_ur_conversation_ids.py:39-52`): pointer-jump
    the conversation forest to its roots, then left-join + coalesce
    the map onto every tweet."""
    conv_nodes = conversation_edges(tweets).select(
        F.col("from_conv").alias("child_id"), F.col("to_conv").alias("parent_id")
    )
    cmap = closure_roots(conv_nodes).filter(
        F.col("node_id") != F.col("root_id")
    )
    return enrich_with_roots(
        tweets, cmap, "conversation_id", "ur_conversation_id"
    )


def tweet_stats(tweets: DataFrame) -> DataFrame:
    """O3/O4/A5 (`3_create_tweet_stats_i.py`): reply-tree statistics
    per tweet, engagement metric = like_count, author = author_id."""
    edges = tweets.select(
        F.col("tweet_id").alias("child_id"),
        F.col("in_reply_to").alias("parent_id"),
    )
    attrs = tweets.select(
        F.col("tweet_id").alias("node_id"),
        F.col("author_id"),
        F.col("like_count").cast("double").alias("metric"),
    )
    return tree_stats(edges, attrs=attrs)


def build_tweets_wide(tweets: DataFrame, stats: DataFrame) -> DataFrame:
    """J5+P7 (`4_create_tweets_a.py:26-50`): tweets ⟕ stats widened
    with the calendar columns the reference precomputes."""
    stats_renamed = stats.withColumnRenamed("node_id", "tweet_id")
    return (
        tweets.join(stats_renamed, "tweet_id", "left")
        .withColumns(
            {
                "date_created_at": F.date_format("created_at", "yyyy-MM-dd"),
                "year_created_at": F.year("created_at"),
                "month_created_at": F.month("created_at"),
                "day_created_at": F.dayofmonth("created_at"),
                "week_created_at": F.weekofyear("created_at"),
                "hour_created_at": F.hour("created_at"),
            }
        )
    )


def build_conversation_rollups(tweets_wide: DataFrame) -> DataFrame:
    """J6+A4 (`5_create_conversation_tables.py:29-47`): per-ur-
    conversation engagement rollup RIGHT-joined to root-tweet rows —
    conversations whose root tweet is missing survive with NULL root
    attributes, exactly the reference's outer-join intent."""
    rollup = tweets_wide.groupBy("ur_conversation_id").agg(
        F.count("*").alias("n_tweets"),
        F.countDistinct("author_id").alias("n_authors"),
        F.sum("reply_count").alias("total_replies"),
        F.sum("like_count").alias("total_likes"),
        F.sum("quote_count").alias("total_quotes"),
        F.sum("retweet_count").alias("total_retweets"),
    )
    roots = tweets_wide.filter(
        F.col("ur_conversation_id") == F.col("tweet_id")
    ).select(
        "tweet_id",
        "ur_conversation_id",
        F.col("text").alias("root_text"),
        F.col("author_id").alias("root_author_id"),
        F.col("created_at").alias("root_created_at"),
    )
    return rollup.join(roots, "ur_conversation_id", "left")


def _concurrently(spark: SparkSession, *calls: Callable[[], T]) -> list[T]:
    """Run each call on its own driver thread; results in call order.

    Spark schedules jobs submitted from separate threads concurrently,
    so the calls' job latencies overlap instead of adding up. Each call
    carries the caller's local properties (job group, description), so
    none of its jobs escapes the caller's group. Each call gets its own
    copy of them: ``inheritable_thread_target(spark)`` clones them once,
    and a copy shared between threads would carry one branch's
    ``setJobGroup`` into the other. A failing call's own exception is
    re-raised once the calls still running have returned, so no pool
    thread outlives the call."""
    pool = ThreadPoolExecutor(max_workers=len(calls))
    try:
        futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
        return [f.result() for f in futures]
    finally:
        pool.shutdown(cancel_futures=True)


def _parquet(df: DataFrame, partition_by: str | None = None) -> Callable[[str], None]:
    def write(path: str) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)

    return write


def build_warehouse(
    spark: SparkSession, pages_path: str, out_dir: str
) -> dict[str, str]:
    """Run the whole pipeline and materialize every table (S5).

    Output layout: one parquet dir per table; ``tweets_wide``
    partitioned by ``date_created_at`` (partition pruning for date
    predicates — the Spark answer to the reference's covering
    indexes); ``conversation_ids.txt`` as the S7 text sink; an empty
    ``tweets_wide_schema`` clone (S6). Deterministic outputs +
    overwrite mode make re-runs idempotent (S8). The returned
    ``{name: path}`` dict is in the fixed sink order below, whatever
    order the writes complete in."""
    tables = ingest(read_pages(spark, pages_path))
    tweets, stats = _concurrently(
        spark,
        lambda: enrich_ur_conversations(tables["tweets"]),
        lambda: tweet_stats(tables["tweets"]),
    )
    wide = build_tweets_wide(tweets, stats).localCheckpoint()
    convs = build_conversation_rollups(wide).localCheckpoint()

    def ids_text(path: str) -> None:
        # S7: one conversation id per line.
        (
            convs.select(F.col("ur_conversation_id").cast("string"))
            .coalesce(1)
            .write.mode("overwrite")
            .text(path)
        )

    sinks = {
        "users": _parquet(tables["users"]),
        "errors": _parquet(tables["errors"]),
        "tweet_hashtags": _parquet(tables["tweet_hashtags"]),
        "tweet_mentions": _parquet(tables["tweet_mentions"]),
        "tweet_urls": _parquet(tables["tweet_urls"]),
        "tweets_wide": _parquet(wide, partition_by="date_created_at"),
        "conversations": _parquet(convs),
        # S6: schema-only clone (CREATE TABLE ... WHERE 0).
        "tweets_wide_schema": _parquet(wide.limit(0)),
        "conversation_ids": ids_text,
    }
    out = {name: os.path.join(out_dir, name) for name in sinks}
    _concurrently(spark, *(partial(write, out[name]) for name, write in sinks.items()))
    return out
