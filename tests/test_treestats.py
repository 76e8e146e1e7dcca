"""Golden-forest + differential tests for the tree statistics
(SURVEY §5 strategy #3; FIXTURES.md): hand-computed expectations on a
small forest, the reference's own invariants as property checks, and
the distributed pair expansion cross-checked against the per-tree
pandas reference on random forests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from convoy_spark.operators.treestats import (
    tree_metric_mad,
    tree_stats,
    tree_stats_pandas,
)

EDGE_SCHEMA = "child_id long, parent_id long"

#       1            7 (singleton)
#      / \
#     2   3
#    / \
#   4   5
#       |
#       6
GOLDEN_EDGES = [
    (1, None),
    (2, 1),
    (3, 1),
    (4, 2),
    (5, 2),
    (6, 5),
    (7, None),
]

# node -> (n_desc, n_leaf_desc, max_depth, sum_leaf_depth,
#          mean_leaf_depth, branching_factor)
GOLDEN_STATS = {
    1: (5, 3, 3, 6, 2.0, 5 / 3),
    2: (3, 2, 2, 3, 1.5, 3 / 2),
    3: (0, 0, 0, 0, 0.0, 0.0),
    4: (0, 0, 0, 0, 0.0, 0.0),
    5: (1, 1, 1, 1, 1.0, 1.0),
    6: (0, 0, 0, 0, 0.0, 0.0),
    7: (0, 0, 0, 0, 0.0, 0.0),
}

COLS = [
    "n_descendants",
    "n_leaf_descendants",
    "max_depth",
    "sum_leaf_depth",
    "mean_leaf_depth",
    "branching_factor",
]


def stats_dict(df):
    return {
        r.node_id: tuple(getattr(r, c) for c in COLS) for r in df.collect()
    }


def assert_stats_equal(got, want):
    assert set(got) == set(want)
    for node, exp in want.items():
        for g, w, col in zip(got[node], exp, COLS):
            assert g == pytest.approx(w), f"node {node} {col}: {g} != {w}"


def test_golden_forest_pairs(spark):
    df = spark.createDataFrame(GOLDEN_EDGES, EDGE_SCHEMA)
    assert_stats_equal(stats_dict(tree_stats(df)), GOLDEN_STATS)


def test_golden_engagement(spark):
    edges = spark.createDataFrame(GOLDEN_EDGES, EDGE_SCHEMA)
    # authors: 1,2,4 share author 100; metric = node id as double
    attrs = spark.createDataFrame(
        [
            (1, 100, 1.0),
            (2, 100, 2.0),
            (3, 101, 3.0),
            (4, 100, 4.0),
            (5, 102, 5.0),
            (6, 103, 6.0),
            (7, 104, 7.0),
        ],
        "node_id long, author_id long, metric double",
    )
    got = {
        r.node_id: (r.n_authors, r.metric_total, r.metric_mean)
        for r in tree_stats(edges, attrs=attrs).collect()
    }
    assert got[1] == (4, 21.0, 3.5)  # authors {100,101,102,103}
    assert got[2] == (3, 17.0, 4.25)  # {100,102,103}
    assert got[5] == (2, 11.0, 5.5)
    assert got[7] == (1, 7.0, 7.0)


def test_golden_mad(spark):
    edges = spark.createDataFrame(GOLDEN_EDGES, EDGE_SCHEMA)
    attrs = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 8)],
        "node_id long, metric double",
    )
    got = {
        r.node_id: (r.metric_mean, r.metric_mad)
        for r in tree_metric_mad(edges, attrs).collect()
    }
    # subtree(2) = {2,4,5,6}: mean 4.25, MAD = (2.25+0.25+0.75+1.75)/4
    assert got[2][0] == pytest.approx(4.25)
    assert got[2][1] == pytest.approx((2.25 + 0.25 + 0.75 + 1.75) / 4)
    # leaf: MAD 0
    assert got[6] == (pytest.approx(6.0), pytest.approx(0.0))


def _random_forest(rng: random.Random, n: int):
    edges = []
    for i in range(1, n + 1):
        if i == 1 or rng.random() < 0.15:
            edges.append((i, None))
        else:
            edges.append((i, rng.randint(1, i - 1)))
    return edges


@pytest.mark.parametrize("seed", [0, 1, 3])
def test_pandas_matches_pairs_on_random_forest(spark, seed):
    """Differential check of the pair expansion against the per-tree
    reference (SURVEY §7 M4): identical output on random forests."""
    rng = random.Random(seed)
    df = spark.createDataFrame(_random_forest(rng, 150), EDGE_SCHEMA)
    assert_stats_equal(
        stats_dict(tree_stats(df)), stats_dict(tree_stats_pandas(df))
    )


def test_golden_forest_pandas(spark):
    df = spark.createDataFrame(GOLDEN_EDGES, EDGE_SCHEMA)
    assert_stats_equal(stats_dict(tree_stats_pandas(df)), GOLDEN_STATS)


def test_ur_duality_monotone(spark):
    """ur stats dominate plain stats: the ur forest only ADDS root
    attachments, so every subtree can only grow
    (`3_create_tweet_stats_i.py:29-62` duality)."""
    from pyspark.sql import functions as SF

    from convoy_spark.queries.treestats import ur_tree_duality

    df = ur_tree_duality(spark, "/root/testdata/sf0.001")
    bad = df.filter(
        (SF.col("ur_n_descendants") < SF.col("n_descendants"))
        | (SF.col("ur_max_depth") < SF.col("max_depth"))
    ).count()
    assert bad == 0
    # and the attachment actually happens: some node gained descendants
    assert df.filter(
        SF.col("ur_n_descendants") > SF.col("n_descendants")
    ).count() > 0


def test_reference_invariants(spark):
    """The reference's runtime guards (`3_create_tweet_stats_i.py:
    244-247`): descendants bounded by group size, leaf descendants
    bounded by descendants — checked over a random forest."""
    rng = random.Random(7)
    df = spark.createDataFrame(_random_forest(rng, 200), EDGE_SCHEMA)
    bad = (
        tree_stats(df)
        .filter(
            (F.col("n_leaf_descendants") > F.col("n_descendants"))
            | (F.col("n_descendants") >= 200)
            | (F.col("max_depth") > F.col("n_descendants"))
        )
        .count()
    )
    assert bad == 0
