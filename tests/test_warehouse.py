"""End-to-end warehouse pipeline test (SURVEY §3): a quote-chain
corpus through ingest → ur-closure → tree stats → wide build →
rollups → sinks, with idempotent re-run. Every one of the nine sinks
is read back."""

from __future__ import annotations

import glob
import json
import os
import threading

import pytest

from convoy_spark.pipeline import warehouse as wh
from convoy_spark.pipeline.warehouse import build_warehouse


def _tweet(tid, conv, author="1", reply_to=None, refs=None, likes=0, text=None, entities=None):
    t = {
        "id": str(tid),
        "conversation_id": str(conv),
        "author_id": author,
        "created_at": f"2024-03-{(tid % 27) + 1:02d}T10:00:00.000Z",
        "text": text or f"tweet {tid}",
        "lang": "en",
        "public_metrics": {
            "retweet_count": 0,
            "reply_count": 0,
            "like_count": likes,
            "quote_count": 0,
        },
    }
    refs = list(refs or [])
    if reply_to is not None:
        refs.append(("replied_to", reply_to))
    if refs:
        t["referenced_tweets"] = [{"type": k, "id": str(v)} for k, v in refs]
    if entities:
        t["entities"] = entities
    return t


def _write_landing(landing) -> None:
    # Conversation 100: root(100) + replies 101,102; 102 child of 101.
    # Conversation 200: its root QUOTES 100 -> ur root = 100.
    # Conversation 300: its root QUOTES 200 -> chain, ur root = 100.
    # Conversation 400: standalone singleton.
    page = {
        "data": [
            _tweet(100, 100, author="1", likes=10),
            _tweet(101, 100, author="2", reply_to=100, likes=5, entities={
                "hashtags": [{"tag": "convoy"}],
                "mentions": [{"username": "alice", "id": "1"}],
                "urls": [{
                    "url": "https://t.co/x",
                    "expanded_url": "https://ex.am/x",
                    "unwound_url": "https://example.com/x",
                }],
            }),
            _tweet(102, 100, author="3", reply_to=101, likes=1),
            _tweet(200, 200, author="4", refs=[("quoted", 100)], likes=2),
            _tweet(300, 300, author="5", refs=[("quoted", 200)], likes=0),
            _tweet(400, 400, author="1", likes=7),
        ],
        "includes": {
            # a later crawl of tweet 100 with drifted metrics, text and
            # entities: the data[] copy must win everywhere
            "tweets": [_tweet(100, 100, author="1", likes=99, text="stale 100",
                              entities={"hashtags": [{"tag": "stale"}]})],
            "users": [
                {"id": "1", "username": "alice", "name": "Alice",
                 "created_at": "2020-01-01T00:00:00.000Z",
                 "description": "", "location": "Wonderland", "url": "",
                 "verified": "true", "protected": "false",
                 "public_metrics": {"followers_count": 10, "following_count": 5,
                                    "tweet_count": 42, "listed_count": 1}},
            ],
        },
        "errors": [
            {"resource_id": "777", "title": "Not Found Error",
             "detail": "Could not find tweet with ids: [777]."},
            # a username lookup: no tweet id, so no error row
            {"value": "ghost", "title": "Not Found Error",
             "detail": "Could not find user with usernames: [ghost]."},
        ],
    }
    # a second page cut off mid-line: quarantined, contributes no rows
    truncated = json.dumps({"data": [_tweet(900, 900)]})[:40]
    (landing / "pages.jsonl").write_text(json.dumps(page) + "\n" + truncated)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    landing = tmp_path_factory.mktemp("wh_landing")
    out = tmp_path_factory.mktemp("wh_out")
    _write_landing(landing)
    paths = build_warehouse(spark, str(landing), str(out))
    return spark, paths, str(landing), str(out)


def test_ur_enrichment_chain(warehouse):
    spark, paths, _, _ = warehouse
    wide = spark.read.parquet(paths["tweets_wide"])
    got = {r.tweet_id: r.ur_conversation_id for r in wide.collect()}
    assert got[100] == 100 and got[101] == 100 and got[102] == 100
    assert got[200] == 100  # direct quote
    assert got[300] == 100  # transitive through 200
    assert got[400] == 400  # untouched singleton


def test_tree_stats_joined(warehouse):
    spark, paths, _, _ = warehouse
    wide = spark.read.parquet(paths["tweets_wide"])
    s = {r.tweet_id: r for r in wide.collect()}
    assert s[100].n_descendants == 2  # 101, 102
    assert s[100].max_depth == 2
    assert s[101].n_descendants == 1
    assert s[102].n_descendants == 0
    assert s[100].metric_total == 16.0  # 10 + 5 + 1
    assert s[100].n_authors == 3


def test_conversation_rollup(warehouse):
    spark, paths, _, _ = warehouse
    convs = {r.ur_conversation_id: r for r in spark.read.parquet(paths["conversations"]).collect()}
    assert convs[100].n_tweets == 5  # whole ur-tree incl quote chain
    assert convs[100].n_authors == 5
    assert convs[100].total_likes == 18
    assert convs[100].root_text == "tweet 100"
    assert convs[400].n_tweets == 1


def test_partitioned_write(warehouse):
    spark, paths, _, _ = warehouse
    parts = glob.glob(os.path.join(paths["tweets_wide"], "date_created_at=*"))
    assert len(parts) >= 2  # multiple dates -> multiple partitions


def test_schema_clone_empty(warehouse):
    spark, paths, _, _ = warehouse
    clone = spark.read.parquet(paths["tweets_wide_schema"])
    assert clone.count() == 0
    wide_cols = set(spark.read.parquet(paths["tweets_wide"]).columns)
    assert set(clone.columns) == wide_cols


def test_text_sink(warehouse):
    spark, paths, _, _ = warehouse
    lines = {
        r.value for r in spark.read.text(paths["conversation_ids"]).collect()
    }
    assert lines == {"100", "400"}


def test_idempotent_rerun(warehouse):
    spark, paths, landing, out = warehouse
    before = {
        (r.ur_conversation_id, r.n_tweets, r.total_likes)
        for r in spark.read.parquet(paths["conversations"]).collect()
    }
    # full second build into the SAME output dir: overwrite semantics +
    # deterministic results = INSERT IGNORE parity (S8)
    build_warehouse(spark, landing, out)
    after = {
        (r.ur_conversation_id, r.n_tweets, r.total_likes)
        for r in spark.read.parquet(paths["conversations"]).collect()
    }
    assert before == after


def test_users_sink(warehouse):
    spark, paths, _, _ = warehouse
    got = {
        (r.user_id, r.username, r.description, r.location, r.url, r.verified,
         r.protected, r.followers_count, r.tweet_count)
        for r in spark.read.parquet(paths["users"]).collect()
    }
    assert got == {(1, "alice", None, "Wonderland", None, True, False, 10, 42)}


def test_errors_sink(warehouse):
    spark, paths, _, _ = warehouse
    got = {tuple(r) for r in spark.read.parquet(paths["errors"]).select(
        "tweet_id", "error", "error_detail").collect()}
    assert got == {(777, "Not Found Error", "Could not find tweet with ids: [777].")}


def test_entity_edge_sinks(warehouse):
    spark, paths, _, _ = warehouse

    def rows(name):
        return {tuple(r) for r in spark.read.parquet(paths[name]).collect()}

    # the included repeat of 100 carries #stale: data[] won, so no row
    assert rows("tweet_hashtags") == {(101, "convoy")}
    assert rows("tweet_mentions") == {(101, "alice")}
    assert rows("tweet_urls") == {(101, "https://example.com/x")}


def test_sink_order_is_fixed(warehouse):
    _, paths, _, out = warehouse
    assert list(paths) == [
        "users", "errors", "tweet_hashtags", "tweet_mentions", "tweet_urls",
        "tweets_wide", "conversations", "tweets_wide_schema", "conversation_ids",
    ]
    assert all(p == os.path.join(out, name) for name, p in paths.items())


def test_branch_failure_surfaces(spark, tmp_path, monkeypatch):
    """A failing branch re-raises its own exception from the build, and
    the build leaves no pool thread behind."""
    _write_landing(tmp_path)
    boom = RuntimeError("tree stats failed")

    def failing_stats(tweets):
        raise boom

    monkeypatch.setattr(wh, "tweet_stats", failing_stats)
    threads_before = threading.active_count()
    with pytest.raises(RuntimeError) as err:
        build_warehouse(spark, str(tmp_path), str(tmp_path / "out"))
    assert err.value is boom
    assert threading.active_count() == threads_before
    assert not (tmp_path / "out").exists()  # no sink ran


def test_branches_keep_their_own_local_properties(spark):
    """A local property one branch sets is not seen by the other."""
    sc = spark.sparkContext
    both_set = threading.Barrier(2, timeout=30)

    def branch(name):
        def run():
            sc.setLocalProperty("wh.branch", name)
            both_set.wait()
            return sc.getLocalProperty("wh.branch")

        return run

    assert wh._concurrently(spark, branch("a"), branch("b")) == ["a", "b"]
    assert sc.getLocalProperty("wh.branch") is None


def test_jobs_stay_in_caller_job_group(spark, tmp_path):
    """Every job of the build, on whichever driver thread, carries the
    caller's job group."""
    _write_landing(tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("wh-test", "warehouse build under a job group")
    try:
        grouped_before = set(tracker.getJobIdsForGroup("wh-test"))
        build_warehouse(spark, str(tmp_path), str(tmp_path / "out"))
        grouped = set(tracker.getJobIdsForGroup("wh-test")) - grouped_before
        ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert grouped
    assert not ungrouped, f"jobs outside the caller's group: {sorted(ungrouped)}"
