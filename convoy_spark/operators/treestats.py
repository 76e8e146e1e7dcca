"""Conversation-tree statistics (SURVEY.md §2.4 A5–A8, §2.5 O3–O5).

The reference's crown jewel is a per-tweet subtree statistic suite —
descendants, leaf descendants, max/sum/mean depth, branching factor,
per-metric totals/means, distinct authors — computed by pulling every
conversation's rows to the client and running a memoized DFS over an
in-memory ``Tree`` (`3_create_tweet_stats_i.py:64-139,225-254`). That
per-group client loop is the reference's scalability cliff (SURVEY
§3.3).

The Spark-first restatement keeps everything distributed:

1. **Pair expansion** (:func:`descendant_pairs` + :func:`tree_stats`)
   — materialize every (ancestor, descendant, depth) pair by
   level-by-level frontier expansion (O(depth) small joins), then one
   hash aggregation per ancestor. Row volume is Σ|subtree| =
   n · avg-depth: the right default for social forests, whose depth is
   small and bounded (reply chains rarely exceed a few dozen hops).
   Exact distinct-author counts fall out of a plain
   ``countDistinct`` — no set merging. This replaces the reference's
   ordered fetch + ``lru_cache`` node interning
   (`3_create_tweet_stats_i.py:226-240,360-361`): the set-based
   formulation needs no ordering and no shared mutable state.

2. **Per-tree reference** (:func:`tree_stats_pandas`) — the
   reference's per-tree DFS as a grouped ``applyInPandas`` map, one
   tree per Python task. It backs the ``tree_stats_grouped`` query and
   is the differential oracle for strategy 1 in tests, not a scale
   path.

Skew note (100 TB): viral roots make the groupBy key skewed; AQE skew
handling splits oversized partitions, and the pair expansion never
builds a per-group in-memory structure, so a 10M-node conversation
streams through hash aggregation instead of OOMing a worker — the
precise failure mode of the reference's client-side ``Tree``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from convoy_spark.functions.numeric import davg, dsum

log = logging.getLogger(__name__)

# Bound on descendant_pairs' doubling rounds (forest depth 2^64).
DESCENDANT_MAX_ITERATIONS = 64


def child_edges(edges: DataFrame) -> DataFrame:
    """Non-root rows of a ``(child_id, parent_id)`` forest, as
    ``(parent_id, child_id)``."""
    return edges.filter(F.col("parent_id").isNotNull()).select(
        "parent_id", "child_id"
    )


def leaf_nodes(edges: DataFrame) -> DataFrame:
    """Nodes that never appear as a parent — ``(node_id,)``.

    The anti join is a broadcast at modest parent counts and a shuffled
    hash join otherwise; either way it is one pass, unlike the
    reference which discovers leafness during DFS.
    """
    parents = child_edges(edges).select("parent_id").distinct()
    return (
        edges.select(F.col("child_id").alias("node_id"))
        .join(parents, F.col("node_id") == F.col("parent_id"), "left_anti")
        .select("node_id")
    )


def descendant_pairs(edges: DataFrame) -> DataFrame:
    """Every (anc_id, node_id, depth) ancestor/descendant pair,
    including the depth-0 self pair.

    Path-doubling expansion: maintain P = all pairs with depth in
    [1, L] and jump with F = the pairs at exactly depth L. A path of
    length d in (L, 2L] decomposes UNIQUELY as (first L steps) ∘
    (remaining d−L ≤ L steps), so composing F with P yields every new
    pair exactly once — no dedup — and the loop runs ⌈log₂ depth⌉
    times instead of depth times (4 iterations vs 7 for the sf0.1
    forest; the gap widens with depth, and each iteration is one
    Spark job thanks to the lazy checkpoint + count-as-materializer).
    Convergence logging mirrors the reference's closure loop
    (`2_enrich_ur_conversation_ids.py:45`).
    """
    pairs = child_edges(edges).select(
        F.col("parent_id").alias("anc_id"),
        F.col("child_id").alias("node_id"),
        F.lit(1).alias("depth"),
    ).localCheckpoint(eager=False)
    prev_n = pairs.count()

    span = 1
    for i in range(DESCENDANT_MAX_ITERATIONS):
        jump = pairs.filter(F.col("depth") == span)
        composed = (
            jump.select(
                F.col("anc_id").alias("j_anc"), F.col("node_id").alias("j_mid")
            )
            .join(pairs, F.col("j_mid") == F.col("anc_id"))
            .select(
                F.col("j_anc").alias("anc_id"),
                "node_id",
                (F.col("depth") + span).alias("depth"),
            )
        )
        new_pairs = pairs.unionByName(composed).localCheckpoint(eager=False)
        n = new_pairs.count()
        log.info("descendant_pairs doubling %d (span %d): %d new", i, span, n - prev_n)
        pairs = new_pairs
        if n == prev_n:
            break
        prev_n = n
        span *= 2
    else:
        raise RuntimeError(f"forest deeper than 2^{DESCENDANT_MAX_ITERATIONS} levels")

    self_pairs = edges.select(
        F.col("child_id").alias("anc_id"),
        F.col("child_id").alias("node_id"),
        F.lit(0).alias("depth"),
    )
    return pairs.unionByName(self_pairs)


def tree_stats(
    edges: DataFrame,
    attrs: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-node subtree statistics (A5 + A8 derived ratios).

    Output columns (semantics follow the reference's ``Tree``
    accumulators, `3_create_tweet_stats_i.py:64-139,180-221`):

    - ``n_descendants`` — proper descendants (self excluded).
    - ``n_leaf_descendants`` — leaves strictly below the node; 0 for a
      leaf (`:129-137` counts depth only to leaf *descendants*).
    - ``max_depth`` — deepest descendant's distance; 0 for a leaf.
    - ``sum_leaf_depth`` / ``mean_leaf_depth`` — depth totalled over
      leaf descendants; mean guarded to 0.0 when there are none
      (reference guards with Python ternaries `:202-203`).
    - ``branching_factor`` — ``n_descendants / (1 + n_descendants -
      n_leaf_descendants)`` exactly as `:200-201`.

    With ``attrs`` (``node_id``, ``author_id``, ``metric``) also:

    - ``n_authors`` — exact distinct authors over the subtree
      (self included) — `collect_set`-free: plain ``countDistinct``
      over the pair expansion. (At 100 TB an
      ``approx_count_distinct`` variant is the documented fallback,
      SURVEY §2.4 A4.)
    - ``metric_total`` / ``metric_mean`` — subtree metric sum and its
      per-node mean (decimal-exact summation; mean over 1+descendants,
      `:204-221`).

    ``pairs`` lets callers supply an already-materialized
    (anc_id, node_id, depth) expansion — the tree-family queries all
    aggregate the SAME expansion, so re-deriving it per query is pure
    waste (see queries.treestats.shared_descendant_pairs).
    """
    if pairs is None:
        pairs = descendant_pairs(edges)
    is_leaf = leaf_nodes(edges).withColumn("is_leaf", F.lit(1))
    enriched = pairs.join(
        is_leaf, pairs.node_id == is_leaf.node_id, "left"
    ).select(
        pairs.anc_id,
        pairs.node_id,
        pairs.depth,
        F.coalesce("is_leaf", F.lit(0)).alias("is_leaf"),
    )
    leaf_below = (F.col("is_leaf") == 1) & (F.col("depth") > 0)
    aggs = [
        (F.count("*") - 1).alias("n_descendants"),
        F.sum(F.when(leaf_below, 1).otherwise(0)).alias("n_leaf_descendants"),
        F.max("depth").cast("long").alias("max_depth"),
        F.sum(F.when(leaf_below, F.col("depth")).otherwise(0)).alias(
            "sum_leaf_depth"
        ),
    ]
    if attrs is not None:
        enriched = enriched.join(
            attrs.select(
                F.col("node_id").alias("a_node"),
                F.col("author_id").alias("__author"),
                F.col("metric").alias("__metric"),
            ),
            enriched.node_id == F.col("a_node"),
        )
        aggs += [
            F.countDistinct("__author").alias("n_authors"),
            dsum(F.col("__metric")).alias("metric_total"),
        ]

    stats = enriched.groupBy(F.col("anc_id").alias("node_id")).agg(*aggs)

    stats = stats.withColumns(
        {
            "mean_leaf_depth": F.when(
                F.col("n_leaf_descendants") > 0,
                F.col("sum_leaf_depth")
                / F.col("n_leaf_descendants").cast("double"),
            ).otherwise(F.lit(0.0)),
            "branching_factor": F.col("n_descendants").cast("double")
            / (
                1 + F.col("n_descendants") - F.col("n_leaf_descendants")
            ).cast("double"),
        }
    )
    if attrs is not None:
        stats = stats.withColumn(
            "metric_mean",
            F.col("metric_total") / (1 + F.col("n_descendants")).cast("double"),
        )
    return stats


def tree_metric_mad(
    edges: DataFrame,
    attrs: DataFrame,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Two-pass mean absolute deviation of a metric over each subtree
    (A6, `Tree.count_mads` `3_create_tweet_stats_i.py:141-178`).

    Pass 1: subtree mean per ancestor. Pass 2: join the mean back to
    the pair expansion and average ``abs(x − mean)``. Two shuffles on
    the same key (the second reuses the first's partitioning under
    AQE). Decimal-exact summation keeps the result independent of
    partition order — required for oracle hashing and for stable
    results across cluster sizes. ``pairs`` as in :func:`tree_stats`.
    """
    if pairs is None:
        pairs = descendant_pairs(edges)
    vals = pairs.join(
        attrs.select(
            F.col("node_id").alias("a_node"),
            F.col("metric").alias("__metric"),
        ),
        pairs.node_id == F.col("a_node"),
    ).select("anc_id", "__metric")
    means = vals.groupBy("anc_id").agg(
        davg(F.col("__metric")).alias("metric_mean")
    )
    return (
        vals.join(means, "anc_id")
        .groupBy(F.col("anc_id").alias("node_id"), F.col("metric_mean"))
        .agg(
            davg(F.abs(F.col("__metric") - F.col("metric_mean"))).alias(
                "metric_mad"
            )
        )
    )


def tree_stats_pandas(edges: DataFrame) -> DataFrame:
    """Grouped-map ``applyInPandas`` strategy: ship each tree to one
    task and fold it with an in-memory DFS — the closest shape to the
    reference's per-conversation client loop
    (`3_create_tweet_stats_i.py:225-254`), but distributed per GROUP
    instead of serialized through one client.

    Kept as a differential cross-check against the pair expansion
    (tests assert they agree). Scale posture: right for forests of
    many modest trees (one Arrow batch per tree, pure pandas/python
    fold, no joins at all); wrong for viral mega-trees, where one
    group = one task = the reference's original cliff — the pair
    expansion exists for exactly that case.
    """
    import pandas as pd

    from convoy_spark.operators.closure import closure_roots

    roots = closure_roots(edges).select(
        F.col("node_id").alias("child_id"), F.col("root_id")
    )
    grouped = edges.join(roots, "child_id")

    schema = (
        "node_id long, n_descendants long, n_leaf_descendants long, "
        "max_depth long, sum_leaf_depth long, mean_leaf_depth double, "
        "branching_factor double"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        children: dict[int, list[int]] = {}
        nodes = list(pdf["child_id"])
        parent = dict(zip(pdf["child_id"], pdf["parent_id"]))
        for c, p in parent.items():
            if not pd.isna(p):
                children.setdefault(int(p), []).append(int(c))
        out = []
        # iterative post-order DFS per root-tree (recursion-free)
        memo: dict[int, tuple[int, int, int, int]] = {}

        def visit(start: int) -> None:
            stack = [(start, False)]
            while stack:
                node, done = stack.pop()
                if done:
                    kids = children.get(node, [])
                    nd = sum(memo[k][0] + 1 for k in kids)
                    nl = sum(max(memo[k][1], 1) for k in kids)
                    md = max((memo[k][2] + 1 for k in kids), default=0)
                    sd = sum(
                        memo[k][3] + max(memo[k][1], 1) for k in kids
                    )
                    memo[node] = (nd, nl, md, sd)
                else:
                    stack.append((node, True))
                    for k in children.get(node, []):
                        stack.append((k, False))

        root_ids = {
            int(n) for n, p in parent.items() if pd.isna(p)
        } or {int(pdf["root_id"].iloc[0])}
        for r in root_ids:
            visit(r)
        for n in nodes:
            nd, nl, md, sd = memo[int(n)]
            out.append(
                (
                    int(n),
                    nd,
                    nl,
                    md,
                    sd,
                    (sd / nl) if nl else 0.0,
                    nd / (1 + nd - nl) if nd else 0.0,
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "node_id",
                "n_descendants",
                "n_leaf_descendants",
                "max_depth",
                "sum_leaf_depth",
                "mean_leaf_depth",
                "branching_factor",
            ],
        )

    from convoy_spark.session import ensure_executor_imports

    ensure_executor_imports(grouped.sparkSession)
    return grouped.groupBy("root_id").applyInPandas(fold, schema)
