"""Seeded generator of Twitter-API search pages for the ``warehouse``
workload, plus the ground truth the built warehouse is checked against.

The pipeline sees only the JSONL file written here. Every structural
maximum that sets an iteration count is planted at the same value for
every seed, so that a different seed changes the data but not the
number of fixed-point rounds:

- reply trees have heavy-tailed sizes (Pareto), and one tree per seed
  is a reply chain of exactly ``MAX_REPLY_DEPTH`` levels;
- conversation roots quote or retweet tweets of earlier conversations,
  forming ur-chains; one chain per seed is exactly ``MAX_UR_CHAIN``
  conversations deep, so the ur closure iterates more than once;
- referenced tweets are repeated in ``includes.tweets`` (some with
  drifted metrics), and a few tweets appear only there;
- ``includes.users`` carries the authors of each page;
- ``errors`` carries the three shapes the loader consumes: the id in
  ``resource_id`` only, in ``value`` only, and in both;
- a small share of lines are truncated copies of real lines, so they
  fail to parse and carry no tweet the truth depends on.
"""

from __future__ import annotations

import json
import os

import numpy as np

MAX_REPLY_DEPTH = 40
MAX_UR_CHAIN = 6
PAGE_TWEETS = 100
ID_BASE = 1_400_000_000_000_000_000
USER_BASE = 10_000_000
N_USERS = 3000
WORDS = (
    "spark tweet thread reply quote data convoy graph stream closure root "
    "tree stats window warehouse parquet join scan shuffle merge page api"
).split()
TAGS = ["spark", "data", "convoy", "graph", "news", "ml", "llm", "etl"]
LANGS = ["en", "en", "en", "es", "fr", "de", "ja"]
# (id fields, title, detail) of the error shapes the loader reads
ERROR_SHAPES = (
    (("resource_id",), "Not Found Error", "Could not find tweet with ids: [{}]."),
    (("value",), "Authorization Error", "Sorry, you are not authorized to see the Tweet with ids: [{}]."),
    (("value", "resource_id"), "Forbidden", "Tweet [{}] was deleted."),
)


def _tree_parents(rng: np.random.Generator, size: int) -> list[int]:
    """Parent index (within the tree) of nodes 1..size-1; node 0 is the
    root. Each reply picks an earlier node, biased towards recent ones
    so that trees grow both bushy and deep."""
    parents = []
    for i in range(1, size):
        if rng.random() < 0.5:
            parents.append(int(rng.integers(max(0, i - 3), i)))
        else:
            parents.append(int(rng.integers(0, i)))
    return parents


def _depths(parents: list[int]) -> list[int]:
    depth = [0]
    for p in parents:
        depth.append(depth[p] + 1)
    return depth


def generate(seed: int, n_tweets: int) -> tuple[list[str], dict]:
    """Return (JSONL lines, truth) for exactly ``n_tweets`` distinct
    tweets. Deterministic in ``seed``."""
    rng = np.random.default_rng(seed)

    # -- reply trees -------------------------------------------------
    # the planted deepest tree is a bare chain; the last tree is cut so
    # that the tweet count is the same for every seed
    trees: list[list[int]] = [list(range(MAX_REPLY_DEPTH))]
    total = MAX_REPLY_DEPTH + 1
    while total < n_tweets:
        size = min(1 + int(rng.pareto(1.3) * 2), 300, n_tweets - total)
        parents = _tree_parents(rng, size)
        while max(_depths(parents)) >= MAX_REPLY_DEPTH:  # keep the planted max
            parents = parents[: len(parents) // 2]
        trees.append(parents)
        total += len(parents) + 1

    # Tweet ids grow with creation order; conversations interleave in
    # time, tweets of one tree follow their root.
    tweets: list[dict] = []
    conv_of: list[int] = []
    parent_of: list[int] = []  # global index of the replied-to tweet, -1 for roots
    root_index: list[int] = []
    for c, parents in enumerate(trees):
        base = len(tweets)
        root_index.append(base)
        for local in range(len(parents) + 1):
            conv_of.append(c)
            parent_of.append(-1 if local == 0 else base + parents[local - 1])
            tweets.append({})
    n = len(tweets)
    order = np.argsort(rng.random(n) + np.asarray(conv_of) / max(1, len(trees)), kind="stable")
    ids = np.empty(n, dtype=np.int64)
    ids[order] = ID_BASE + np.arange(n, dtype=np.int64) * 1000 + rng.integers(0, 1000, n)
    # a reply is created after its parent: give every reply an id above it
    for i in range(n):
        p = parent_of[i]
        if p >= 0 and ids[i] <= ids[p]:
            ids[i] = ids[p] + 1 + int(rng.integers(0, 1000))
    # ids must stay unique after the bump
    seen: set[int] = set()
    for i in range(n):
        while int(ids[i]) in seen:
            ids[i] += 1
        seen.add(int(ids[i]))

    # -- ur-chains: conversation roots quote/retweet earlier ones -----
    ur_parent = [-1] * len(trees)  # conversation -> conversation it points at
    chain_len = [1] * len(trees)
    # planted deepest chain over conversations 1..MAX_UR_CHAIN
    for k in range(2, MAX_UR_CHAIN + 1):
        ur_parent[k] = k - 1
        chain_len[k] = k
    for c in range(MAX_UR_CHAIN + 1, len(trees)):
        if rng.random() < 0.3:
            target = int(rng.integers(MAX_UR_CHAIN + 1, c)) if c > MAX_UR_CHAIN + 1 else -1
            if target >= 0 and chain_len[target] < MAX_UR_CHAIN:
                ur_parent[c] = target
                chain_len[c] = chain_len[target] + 1
    ref_target: dict[int, tuple[str, int]] = {}  # tweet index -> (kind, tweet index)
    for c, p in enumerate(ur_parent):
        if p < 0:
            continue
        target_tweet = root_index[p] + int(rng.integers(0, len(trees[p]) + 1))
        kind = "quoted" if rng.random() < 0.7 else "retweeted"
        ref_target[root_index[c]] = (kind, target_tweet)
    # replies that also quote something: not conversation edges
    for i in range(n):
        if parent_of[i] >= 0 and rng.random() < 0.02:
            ref_target[i] = ("quoted", int(rng.integers(0, n)))

    authors = rng.integers(0, N_USERS, n)
    start = np.datetime64("2024-03-01T00:00:00")
    seconds = np.sort(rng.integers(0, 30 * 86400, n))
    created_rank = np.argsort(np.argsort(ids))  # creation order by id

    for i in range(n):
        words = rng.choice(WORDS, int(rng.integers(4, 16)))
        text = " ".join(words)
        t = {
            "id": str(int(ids[i])),
            "conversation_id": str(int(ids[root_index[conv_of[i]]])),
            "author_id": str(USER_BASE + int(authors[i])),
            "created_at": str(start + np.timedelta64(int(seconds[created_rank[i]]), "s")) + ".000Z",
            "text": text,
            "lang": LANGS[int(rng.integers(0, len(LANGS)))],
            "public_metrics": {
                "retweet_count": int(rng.integers(0, 50)),
                "reply_count": int(rng.integers(0, 20)),
                "like_count": int(rng.pareto(1.2) * 3),
                "quote_count": int(rng.integers(0, 5)),
            },
        }
        refs = []
        if parent_of[i] >= 0:
            refs.append({"type": "replied_to", "id": str(int(ids[parent_of[i]]))})
            t["in_reply_to_user_id"] = str(USER_BASE + int(authors[parent_of[i]]))
        if i in ref_target:
            kind, j = ref_target[i]
            refs.append({"type": kind, "id": str(int(ids[j]))})
        if refs:
            t["referenced_tweets"] = refs
        ent = {}
        if rng.random() < 0.3:
            ent["hashtags"] = [{"tag": str(x)} for x in rng.choice(TAGS, int(rng.integers(1, 3)))]
        if rng.random() < 0.2:
            u = int(rng.integers(0, N_USERS))
            ent["mentions"] = [{"username": f"user{u}", "id": str(USER_BASE + u)}]
        if rng.random() < 0.15:
            short = f"https://t.co/{int(rng.integers(0, 10**8)):08d}"
            url = {"url": short, "expanded_url": f"https://example.com/{i}"}
            if rng.random() < 0.5:
                url["unwound_url"] = f"https://example.com/full/{i}"
            ent["urls"] = [url]
            t["text"] = text + " " + short
        if ent:
            t["entities"] = ent
        tweets[i] = t

    # -- pages -------------------------------------------------------
    only_in_includes = set(int(x) for x in rng.choice(n, max(1, n // 200), replace=False))
    only_in_includes.discard(0)
    in_data = [i for i in rng.permutation(n) if int(i) not in only_in_includes]
    index_of = {int(x): i for i, x in enumerate(ids)}
    lines: list[str] = []
    user_ids: set[int] = set()
    pending_includes = sorted(only_in_includes)
    starts = range(0, len(in_data), PAGE_TWEETS)
    # about 30% of pages report an error, cycling through the three shapes
    error_pages = sorted(rng.choice(len(starts), min(len(starts), max(3, len(starts) * 3 // 10)), replace=False))
    for page_no, p0 in enumerate(starts):
        batch = [int(i) for i in in_data[p0 : p0 + PAGE_TWEETS]]
        incl = []
        for i in batch:
            for r in tweets[i].get("referenced_tweets", []):
                j = index_of[int(r["id"])]
                if rng.random() < 0.5:
                    copy = dict(tweets[j])
                    if rng.random() < 0.5:  # metrics drift between crawls
                        copy["public_metrics"] = dict(
                            copy["public_metrics"], like_count=copy["public_metrics"]["like_count"] + 1
                        )
                    incl.append(copy)
        if pending_includes:
            incl.append(tweets[pending_includes.pop()])
        users = []
        for a in sorted({int(authors[i]) for i in batch}):
            user_ids.add(a)
            users.append(
                {
                    "id": str(USER_BASE + a),
                    "username": f"user{a}",
                    "name": f"User {a}",
                    "created_at": "2020-01-01T00:00:00.000Z",
                    "description": "" if a % 3 else f"about user {a}",
                    "location": "" if a % 2 else "Somewhere",
                    "url": "",
                    "verified": "true" if a % 7 == 0 else "false",
                    "protected": "false",
                    "public_metrics": {
                        "followers_count": a * 3,
                        "following_count": a % 100,
                        "tweet_count": a * 2,
                        "listed_count": a % 5,
                    },
                }
            )
        page = {"data": [tweets[i] for i in batch], "includes": {"tweets": incl, "users": users}}
        if page_no in error_pages:
            missing = str(ID_BASE - 1 - int(rng.integers(0, 10**9)))
            keys, title, detail = ERROR_SHAPES[error_pages.index(page_no) % len(ERROR_SHAPES)]
            page["errors"] = [dict({k: missing for k in keys}, title=title, detail=detail.format(missing))]
        lines.append(json.dumps(page, separators=(",", ":")))
    for i in pending_includes:  # any left over ride on the last page
        last = json.loads(lines[-1])
        last["includes"]["tweets"].append(tweets[i])
        lines[-1] = json.dumps(last, separators=(",", ":"))

    n_corrupt = max(2, len(lines) // 30)
    for k in rng.choice(len(lines), n_corrupt, replace=False):
        src = lines[int(k)]
        lines.append(src[: len(src) // 2])
    lines = [lines[int(i)] for i in rng.permutation(len(lines))]

    # -- truth -------------------------------------------------------
    ur_root_conv = []
    for c in range(len(trees)):
        r = c
        while ur_parent[r] >= 0:
            r = ur_parent[r]
        ur_root_conv.append(r)
    n_desc = [0] * n
    for i in range(n):
        p = parent_of[i]
        while p >= 0:
            n_desc[p] += 1
            p = parent_of[p]
    truth = {
        "seed": seed,
        "tweets": n,
        "corrupt_lines": n_corrupt,
        "error_rows": len(error_pages),
        "users": len(user_ids),
        "tweet_id": [int(x) for x in ids],
        "ur_conversation_id": [int(ids[root_index[ur_root_conv[conv_of[i]]]]) for i in range(n)],
        "n_descendants": n_desc,
    }
    return lines, truth


def write(seed: int, n_tweets: int, pages_dir: str, truth_path: str) -> dict:
    """Write ``pages_dir/pages.jsonl`` and the truth JSON; return the truth."""
    lines, truth = generate(seed, n_tweets)
    os.makedirs(pages_dir, exist_ok=True)
    with open(os.path.join(pages_dir, "pages.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(truth_path, "w") as fh:
        json.dump(truth, fh)
    return truth
