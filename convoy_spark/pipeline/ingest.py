"""The load_db pipeline restated (SURVEY §3.1): JSONL pages →
normalized tweet/user/edge/error tables.

Reference lifecycle (`1_initial_load.py:337-413`): stream pages →
``map_tweet``/``map_user`` row transforms → chunked executemany into
five Aria tables with INSERT IGNORE dedup. Spark restatement: one
declarative plan per output table off a shared page scan — explode,
case-analyze, fold, dedup, write. No micro-batching (the shuffle/write
boundary replaces the DB client), no retry dance (task retry + atomic
writes), no DISABLE KEYS (no secondary indexes to defer).

Operator coverage: P1–P6 projections, P2 reference-type dispatch,
P3 URL unwinding + text rewrite (an ``aggregate`` fold — no UDF),
T3 first-wins dedup with an explicit priority (data[] beats
includes.tweets[], matching the reference's INSERT-IGNORE-in-load-
order), U1–U4 entity unnests, error-row synthesis
(`1_initial_load.py:326-329`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _page_keyed(pages: DataFrame) -> DataFrame:
    """Attach a deterministic per-page key for dedup tie-breaking.

    (prio, pos) alone ties when the same tweet/user sits at the same
    position in two different pages — the common overlapping-crawl
    case, where public_metrics drift between pages — and a tied
    row_number picks a partition-order-dependent winner. There is no
    declarative line number for a distributed JSON scan, so true
    single-threaded file order is unrecoverable; instead the full
    page content is hashed into a total-order key. Divergence from
    the reference's load-order INSERT IGNORE (`1_initial_load.py:
    218-224`): among pages tying on (prio, pos) the lowest
    content-hash wins rather than the earliest-read page — but the
    winner is now identical under ANY partitioning or cluster size,
    which the reference's semantics cannot offer on a cluster."""
    return pages.withColumn(
        "_page_key",
        F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in pages.columns]))),
    )


def _flatten_tweets(keyed: DataFrame) -> DataFrame:
    """data[] ∪ includes.tweets[] with load-order priority for dedup
    (the reference inserts data first, so its PK wins —
    `1_initial_load.py:322-324`)."""
    data = keyed.select(
        F.posexplode("data").alias("pos", "t"), F.lit(0).alias("prio"), "_page_key"
    )
    incl = keyed.select(
        F.posexplode("includes.tweets").alias("pos", "t"),
        F.lit(1).alias("prio"),
        "_page_key",
    )
    return data.unionByName(incl)


def normalize_tweets(keyed: DataFrame) -> DataFrame:
    """The ``map_tweet`` transform (`1_initial_load.py:89-151`) as one
    projection over the keyed page frame (:func:`_page_keyed`):

    - reference dispatch (P2): ``referenced_tweets[*].type`` →
      ``retweet_of`` / ``in_reply_to`` / ``quotes`` columns;
    - URL unwinding + text rewrite (P3): prefer unwound > expanded >
      raw, then fold ``replace`` over the text — ``aggregate`` keeps
      it JVM-side (the documented divergence: the reference's broken
      user-URL variant `1_initial_load.py:255` is not reproduced);
    - timestamps via ``to_timestamp`` (P4 — diverges from the
      reference's 7-char second truncation `1_initial_load.py:134`,
      documented in SURVEY §7);
    - entity arrays kept nested (§1.1) with ``size()`` projections
      replacing the stored lengths (P6);
    - first-wins dedup on tweet_id (T3) with explicit
      (priority, position) ordering — deterministic under any
      partitioning, unlike raw dropDuplicates.
    """
    t = _flatten_tweets(keyed)
    refs = F.col("t.referenced_tweets")

    def ref_of(kind):
        # try_element_at: NULL (not an ANSI error) when no ref of this
        # kind exists — the common case.
        return F.try_element_at(
            F.coalesce(F.filter(refs, lambda r: r["type"] == kind), F.array()),
            F.lit(1),
        )["id"].cast("long")

    urls = F.coalesce(F.col("t.entities.urls"), F.array())
    unwound = F.transform(
        urls, lambda u: F.coalesce(u["unwound_url"], u["expanded_url"], u["url"])
    )
    rewritten = F.aggregate(
        F.zip_with(urls, unwound, lambda u, w: F.struct(u["url"].alias("s"), w.alias("r"))),
        F.col("t.text"),
        lambda acc, p: F.replace(acc, p["s"], p["r"]),
    )

    cols = t.select(
        F.col("t.id").cast("long").alias("tweet_id"),
        F.col("t.conversation_id").cast("long").alias("conversation_id"),
        F.col("t.author_id").cast("long").alias("author_id"),
        F.to_timestamp("t.created_at").alias("created_at"),
        rewritten.alias("text"),
        F.col("t.lang").alias("lang"),
        ref_of("replied_to").alias("in_reply_to"),
        F.col("t.in_reply_to_user_id").cast("long").alias("in_reply_to_user_id"),
        ref_of("retweeted").alias("retweet_of"),
        ref_of("quoted").alias("quotes"),
        F.col("t.public_metrics.retweet_count").alias("retweet_count"),
        F.col("t.public_metrics.reply_count").alias("reply_count"),
        F.col("t.public_metrics.like_count").alias("like_count"),
        F.col("t.public_metrics.quote_count").alias("quote_count"),
        F.transform(
            F.coalesce(F.col("t.entities.hashtags"), F.array()),
            lambda h: h["tag"],
        ).alias("hashtags"),
        F.transform(
            F.coalesce(F.col("t.entities.mentions"), F.array()),
            lambda m: m["username"],
        ).alias("mentions"),
        unwound.alias("urls"),
        "prio",
        "pos",
        "_page_key",
    ).filter(F.col("tweet_id").isNotNull())

    w = Window.partitionBy("tweet_id").orderBy("prio", "pos", "_page_key")
    deduped = (
        cols.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "prio", "pos", "_page_key")
    )
    return deduped.withColumns(
        {
            "n_hashtags": F.size("hashtags"),
            "n_mentions": F.size("mentions"),
            "n_urls": F.size("urls"),
            "original": F.col("in_reply_to").isNull()
            & F.col("retweet_of").isNull()
            & F.col("quotes").isNull(),
        }
    )


def normalize_users(keyed: DataFrame) -> DataFrame:
    """``map_user`` (`1_initial_load.py:245-278`) over the keyed page
    frame (:func:`_page_keyed`): explode includes.users, null-if-empty
    normalization (P5), first-wins dedup."""
    u = keyed.select(
        F.posexplode("includes.users").alias("pos", "u"), "_page_key"
    )

    def nullif_empty(c):
        return F.when(c == "", None).otherwise(c)

    cols = u.select(
        F.col("u.id").cast("long").alias("user_id"),
        F.col("u.username").alias("username"),
        F.col("u.name").alias("name"),
        F.to_timestamp("u.created_at").alias("created_at"),
        nullif_empty(F.col("u.description")).alias("description"),
        nullif_empty(F.col("u.location")).alias("location"),
        nullif_empty(F.col("u.url")).alias("url"),
        F.col("u.verified").cast("boolean").alias("verified"),
        F.col("u.protected").cast("boolean").alias("protected"),
        F.col("u.public_metrics.followers_count").alias("followers_count"),
        F.col("u.public_metrics.following_count").alias("following_count"),
        F.col("u.public_metrics.tweet_count").alias("tweet_count"),
        F.col("u.public_metrics.listed_count").alias("listed_count"),
        "pos",
        "_page_key",
    ).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("pos", "_page_key")
    return (
        cols.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "pos", "_page_key")
    )


def error_rows(pages: DataFrame) -> DataFrame:
    """API-reported errors become first-class rows
    (`1_initial_load.py:153-155,326-329`): the id that failed plus
    error/error_detail. An error whose id is not numeric (e.g. a
    username-lookup error carrying the username in ``value``) has no
    tweet id and is dropped — ``try_cast`` yields NULL instead of
    raising CAST_INVALID_INPUT under ANSI mode and aborting the load."""
    e = pages.select(F.explode("errors").alias("e"))
    return e.select(
        F.coalesce(F.col("e.resource_id"), F.col("e.value"))
        .try_cast("long")
        .alias("tweet_id"),
        F.col("e.title").alias("error"),
        F.col("e.detail").alias("error_detail"),
    ).filter(F.col("tweet_id").isNotNull())


def entity_edges(tweets: DataFrame) -> dict[str, DataFrame]:
    """U1–U3: the three exploded entity edge tables
    (`1_initial_load.py:388-396`)."""
    return {
        "tweet_hashtags": tweets.select(
            "tweet_id", F.explode("hashtags").alias("hashtag")
        ),
        "tweet_mentions": tweets.select(
            "tweet_id", F.explode("mentions").alias("mention")
        ),
        "tweet_urls": tweets.select("tweet_id", F.explode("urls").alias("url")),
    }


def ingest(pages: DataFrame) -> dict[str, DataFrame]:
    """The full load: one page scan fanned into the tweet, user, error
    and three entity-edge tables. Callers write each with
    ``df.write.parquet`` (S3's retry dance collapses into the atomic
    write, SURVEY §2.1).

    Two frames have more than one reader, so each is materialized
    once (``localCheckpoint``) and read from there:

    - the keyed page frame — the JSON scan plus ``_page_key``, read by
      both union branches of :func:`normalize_tweets`,
      :func:`normalize_users` and :func:`error_rows`. Without it every
      reader re-parses the JSONL and re-hashes every page;
    - ``tweets`` — the window dedup's output, read by the three entity
      edge tables here and, in the warehouse build, by the closure's
      edge self-joins, the root enrichment and the tree statistics.
      Without it every reader re-runs the scan, the explode and the
      dedup shuffle."""
    keyed = _page_keyed(pages).localCheckpoint()
    tweets = normalize_tweets(keyed).localCheckpoint()
    out = {"tweets": tweets, "users": normalize_users(keyed), "errors": error_rows(keyed)}
    out.update(entity_edges(tweets))
    return out
