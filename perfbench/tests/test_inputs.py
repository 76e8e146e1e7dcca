"""The generators are deterministic in the seed, and the page truth
agrees with the pages."""

from __future__ import annotations

import json

from perfbench import pages, tables


def test_pages_are_deterministic_in_the_seed():
    a, truth_a = pages.generate(7, 200)
    b, truth_b = pages.generate(7, 200)
    c, _ = pages.generate(8, 200)
    assert a == b and truth_a == truth_b
    assert a != c


def test_page_truth_matches_the_pages():
    lines, truth = pages.generate(3, 300)
    parsed, corrupt = [], 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            corrupt += 1
    assert corrupt == truth["corrupt_lines"] > 0
    ids = set()
    in_data, in_includes = set(), set()
    for page in parsed:
        in_data |= {int(t["id"]) for t in page["data"]}
        in_includes |= {int(t["id"]) for t in page["includes"]["tweets"]}
    ids = in_data | in_includes
    assert len(ids) == truth["tweets"] == len(truth["tweet_id"])
    assert in_data & in_includes  # tweets repeated between data and includes
    assert in_includes - in_data  # and some only in includes
    errors = [e for page in parsed for e in page.get("errors", [])]
    assert len(errors) == truth["error_rows"]
    assert {("resource_id" in e, "value" in e) for e in errors} == {(True, False), (False, True), (True, True)}
    users = {u["id"] for page in parsed for u in page["includes"]["users"]}
    assert len(users) == truth["users"]


def test_planted_maxima_are_seed_independent():
    for seed in (1, 2, 3):
        _, truth = pages.generate(seed, 300)
        depth = {}
        parent = {}
        lines, _ = pages.generate(seed, 300)
        for line in lines:
            try:
                page = json.loads(line)
            except json.JSONDecodeError:
                continue
            for t in page["data"] + page["includes"]["tweets"]:
                refs = {r["type"]: int(r["id"]) for r in t.get("referenced_tweets", [])}
                parent[int(t["id"])] = refs.get("replied_to")

        def d(i):
            if i not in depth:
                p = parent[i]
                depth[i] = 0 if p is None else d(p) + 1
            return depth[i]

        assert max(d(i) for i in parent) == pages.MAX_REPLY_DEPTH
        assert max(truth["n_descendants"]) >= pages.MAX_REPLY_DEPTH


def test_tables_are_deterministic_with_fixed_row_counts():
    a, b, c = tables.generate(5, 0.001), tables.generate(5, 0.001), tables.generate(6, 0.001)
    for name in a:
        assert a[name].equals(b[name])
        assert a[name].num_rows == c[name].num_rows
    assert not a["documents"].equals(c["documents"])
