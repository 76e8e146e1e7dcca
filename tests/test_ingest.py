"""Ingestion pipeline tests (SURVEY §3.1 load_db lifecycle): golden
JSONL pages covering reference dispatch, URL rewrite, dedup
first-wins, corrupt-line quarantine, and error-row synthesis."""

from __future__ import annotations

import json

import pytest

from convoy_spark.pipeline.ingest import ingest
from convoy_spark.sources.jsonl import corrupt_lines, read_pages


def _tweet(tid, conv=None, text="hello world", refs=None, entities=None, **kw):
    t = {
        "id": str(tid),
        "conversation_id": str(conv or tid),
        "author_id": "100",
        "created_at": "2024-05-01T12:30:45.000Z",
        "text": text,
        "lang": "en",
        "public_metrics": {
            "retweet_count": 1,
            "reply_count": 2,
            "like_count": 3,
            "quote_count": 0,
        },
    }
    if refs:
        t["referenced_tweets"] = [{"type": k, "id": str(v)} for k, v in refs]
    if entities:
        t["entities"] = entities
    t.update(kw)
    return t


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    page1 = {
        "data": [
            _tweet(1, text="root tweet #one", entities={
                "hashtags": [{"tag": "one"}],
                "urls": [{
                    "url": "https://t.co/abc",
                    "expanded_url": "https://ex.am/p",
                    "unwound_url": "https://example.com/full",
                }],
            }),
            _tweet(2, conv=1, refs=[("replied_to", 1)],
                   text="reply via https://t.co/abc ok",
                   entities={"urls": [{
                       "url": "https://t.co/abc",
                       "expanded_url": "https://ex.am/p",
                       "unwound_url": None,
                   }],
                   "mentions": [{"username": "alice", "id": "100"}]}),
            _tweet(3, refs=[("retweeted", 1)]),
            _tweet(4, refs=[("quoted", 2)]),
        ],
        "includes": {
            # tweet 1 appears AGAIN with different text: data[] must win
            "tweets": [_tweet(1, text="SHOULD NOT WIN"), _tweet(9, conv=9)],
            "users": [
                {"id": "100", "username": "alice", "name": "Alice",
                 "created_at": "2020-01-01T00:00:00.000Z",
                 "description": "", "location": "Wonderland", "url": "",
                 "verified": "true", "protected": "false",
                 "public_metrics": {"followers_count": 10,
                                    "following_count": 5,
                                    "tweet_count": 42, "listed_count": 1}},
            ],
        },
        "errors": [
            {"resource_id": "777", "title": "Not Found Error",
             "detail": "Could not find tweet with ids: [777]."},
            # a username lookup: no tweet id, so no error row
            {"value": "no_such_user", "title": "Not Found Error",
             "detail": "Could not find user with usernames: [no_such_user]."},
        ],
    }
    lines = [json.dumps(page1), "{ this is not json !!!"]
    (d / "pages.jsonl").write_text("\n".join(lines))
    return str(d)


@pytest.fixture(scope="module")
def tables(spark, landing):
    return {k: v.collect() for k, v in ingest(read_pages(spark, landing)).items()}


def test_outputs_read_the_materialized_pages(spark, landing):
    # every output reads the checkpointed page frame, not the JSONL:
    # one scan however many readers the tables have
    for name, df in ingest(read_pages(spark, landing)).items():
        assert df.inputFiles() == [], name


def test_corrupt_quarantine(spark, landing):
    bad = corrupt_lines(read_pages(spark, landing)).collect()
    assert len(bad) == 1 and "not json" in bad[0][0]


def test_reference_dispatch(tables):
    t = {r.tweet_id: r for r in tables["tweets"]}
    assert t[2].in_reply_to == 1 and t[2].retweet_of is None
    assert t[3].retweet_of == 1 and t[3].in_reply_to is None
    assert t[4].quotes == 2
    assert t[1].original and not t[3].original


def test_dedup_first_wins(tables):
    t = {r.tweet_id: r for r in tables["tweets"]}
    assert len([r for r in tables["tweets"] if r.tweet_id == 1]) == 1
    assert t[1].text.startswith("root tweet")  # data[] beat includes
    assert 9 in t  # includes-only tweet still loaded


def test_url_unwind_and_rewrite(tables):
    t = {r.tweet_id: r for r in tables["tweets"]}
    assert t[1].urls == ["https://example.com/full"]
    # unwound null -> falls back to expanded; text rewritten in place
    assert t[2].urls == ["https://ex.am/p"]
    assert t[2].text == "reply via https://ex.am/p ok"


def test_user_normalization(tables):
    u = {r.user_id: r for r in tables["users"]}
    assert u[100].description is None and u[100].url is None  # '' -> NULL
    assert u[100].location == "Wonderland"
    assert u[100].verified is True and u[100].protected is False


def test_error_rows(tables):
    e = tables["errors"]
    assert len(e) == 1 and e[0].tweet_id == 777
    assert "Not Found" in e[0].error


def test_entity_edges(tables):
    assert {(r.tweet_id, r.hashtag) for r in tables["tweet_hashtags"]} == {(1, "one")}
    assert {(r.tweet_id, r.mention) for r in tables["tweet_mentions"]} == {(2, "alice")}
    urls = {(r.tweet_id, r.url) for r in tables["tweet_urls"]}
    assert (1, "https://example.com/full") in urls


def test_timestamps(tables):
    t = {r.tweet_id: r for r in tables["tweets"]}
    ts = t[1].created_at
    assert (ts.year, ts.month, ts.day, ts.hour, ts.minute, ts.second) == (
        2024, 5, 1, 12, 30, 45,
    )
