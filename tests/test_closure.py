"""Golden + property tests for the transitive closure (SURVEY §5
strategies #3/#4; fixtures per FIXTURES.md §C1)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from convoy_spark.operators import closure
from convoy_spark.operators.closure import closure_roots, enrich_with_roots

EDGE_SCHEMA = "child_id long, parent_id long"


def roots_dict(spark, edges):
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    return {r.node_id: r.root_id for r in closure_roots(df).collect()}


def test_chain(spark):
    # chain 1→2→3→4→5 (multi-iteration pointer jumping)
    edges = [(1, None), (2, 1), (3, 2), (4, 3), (5, 4)]
    assert roots_dict(spark, edges) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_empty_edges_terminates(spark):
    # F.sum over zero rows is NULL; the convergence check must treat
    # that as 0 and exit on iteration 0 (reachable from
    # incremental_closure_update when a batch only re-delivers
    # already-mapped children → empty fresh subgraph).
    assert roots_dict(spark, []) == {}


def test_star_singleton_two_trees(spark):
    edges = [
        (10, None), (11, 10), (12, 10), (13, 10),  # star
        (20, None),                                 # singleton root
        (30, None), (31, 30), (32, 31),             # second tree
    ]
    got = roots_dict(spark, edges)
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 30: 30, 31: 30, 32: 30}


def test_enrich_coalesce_fallback(spark):
    # map restricted to linked nodes; 99 has no entry → keeps own key
    facts = spark.createDataFrame([(2, "a"), (99, "b")], "k long, v string")
    cmap = closure_roots(
        spark.createDataFrame([(1, None), (2, 1)], EDGE_SCHEMA)
    ).filter(F.col("node_id") != F.col("root_id"))
    got = {
        r.k: r.root_id
        for r in enrich_with_roots(facts, cmap, "k", "root_id").collect()
    }
    assert got == {2: 1, 99: 99}


def _random_forest(rng: random.Random, n: int):
    """Random forest: node i may attach to any earlier node (acyclic by
    construction)."""
    edges = []
    parents = {}
    for i in range(1, n + 1):
        if i == 1 or rng.random() < 0.2:
            edges.append((i, None))
            parents[i] = None
        else:
            p = rng.randint(1, i - 1)
            edges.append((i, p))
            parents[i] = p
    return edges, parents


def _true_root(parents, node):
    while parents[node] is not None:
        node = parents[node]
    return node


@pytest.mark.parametrize(
    "seed,root_rows",
    [pytest.param(s, True, id=str(s)) for s in range(3)]
    + [pytest.param(s, False, id=f"{s}-no-root-rows") for s in range(3)],
)
def test_random_forest_property(spark, seed, root_rows):
    # Without root rows every root is a parent that has no row of its
    # own; it must still resolve as a root (warehouse.py relies on it).
    rng = random.Random(seed)
    edges, parents = _random_forest(rng, 200)
    if not root_rows:
        edges = [e for e in edges if e[1] is not None]
    got = roots_dict(spark, edges)
    assert len(got) == len(edges)
    for node, _ in edges:
        assert got[node] == _true_root(parents, node), f"node {node}"


def test_idempotent_rerun(spark):
    # re-running enrichment over already-enriched data is a no-op
    # (INSERT IGNORE parity, SURVEY §5 strategy #4)
    edges = [(1, None), (2, 1), (3, 2)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    first = closure_roots(df)
    # feed the closure output back in as edges (node→root is a 1-step forest)
    again = closure_roots(
        first.select(
            F.col("node_id").alias("child_id"),
            F.when(F.col("root_id") != F.col("node_id"), F.col("root_id")).alias(
                "parent_id"
            ),
        )
    )
    assert {(r.node_id, r.root_id) for r in again.collect()} == {
        (r.node_id, r.root_id) for r in first.collect()
    }


def test_cycle_resolves_to_min_id(spark, monkeypatch):
    # Directed 3-cycle (mutual quote edges can create these in real
    # data despite the forest assumption): pointer jumping oscillates
    # forever, so after the doubling loop stalls the min-combining
    # phase resolves every cycle member — and anything hanging off the
    # cycle — to the smallest reachable id, deterministically.
    edges = [(10, 11), (11, 12), (12, 10), (13, 10), (1, None), (2, 1)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    monkeypatch.setattr(closure, "CLOSURE_MAX_ITERATIONS", 6)
    got = {r.node_id: r.root_id for r in closure_roots(df).collect()}
    assert got[10] == got[11] == got[12] == got[13] == 10
    assert got[1] == 1 and got[2] == 1  # the clean tree is untouched


def test_even_cycle_resolves_to_min_id(spark):
    # Cycle whose length divides a jump distance (L=4 | 2^2): a naive
    # ptr←ptr[ptr] loop goes *silently* stable with every member
    # pointing at itself (distance 2^i ≡ 0 mod L) — wrong answers, no
    # error. The min accumulator is immune: it converges to the
    # smallest reachable id for every member.
    edges = [(21, 22), (22, 23), (23, 24), (24, 21)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    got = {r.node_id: r.root_id for r in closure_roots(df).collect()}
    assert got == {21: 21, 22: 21, 23: 21, 24: 21}


def test_long_increasing_cycle_converges_fast(spark, monkeypatch):
    # Ids increasing along the cycle is the adversarial case for
    # min-combining pointer walks (the min creeps one hop per
    # iteration — O(L)); the windowed prefix-min doubles its coverage
    # per iteration, so a 40-cycle resolves well within ⌈log2 80⌉+1
    # iterations (round-2 advice: the bound must be O(log), and the
    # loop must not exhaust max_iterations on real-size cycles).
    n = 40
    edges = [(100 + i, 100 + (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    monkeypatch.setattr(closure, "CLOSURE_MAX_ITERATIONS", 8)
    got = {r.node_id: r.root_id for r in closure_roots(df).collect()}
    assert got == {100 + i: 100 for i in range(n)}


def test_cycle_error_mode_raises(spark, monkeypatch):
    edges = [(10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    monkeypatch.setattr(closure, "CLOSURE_MAX_ITERATIONS", 6)
    with pytest.raises(RuntimeError, match="did not converge"):
        closure_roots(df, on_cycle="error")


def test_incremental_update_matches_full_closure(spark):
    from convoy_spark.operators.closure import incremental_closure_update

    # forest: two trees; batch 1 delivers the upper halves, batch 2
    # the lower (children always after parents, like a crawl).
    batch1 = [(1, None), (2, 1), (10, None), (11, 10)]
    batch2 = [(3, 2), (4, 2), (12, 11), (20, None)]
    full = roots_dict(spark, batch1 + batch2)

    m0 = spark.createDataFrame([], "node_id long, root_id long")
    m1 = incremental_closure_update(m0, spark.createDataFrame(batch1, EDGE_SCHEMA))
    m2 = incremental_closure_update(m1, spark.createDataFrame(batch2, EDGE_SCHEMA))
    got = {r.node_id: r.root_id for r in m2.collect()}
    assert got == full


def test_incremental_update_out_of_order_heals(spark):
    # Round-2 advice scenario: batch N delivers (3→2) with node 2
    # unseen, so 3 provisionally roots at the dangling node 2. Batch
    # N+1 delivers (2→1): node 2 resolves to 1 AND the stale row 3→2
    # must be healed to 3→1 — the map must equal the full closure for
    # ANY arrival order, like the reference's full re-run.
    from convoy_spark.operators.closure import incremental_closure_update

    m0 = spark.createDataFrame([], "node_id long, root_id long")
    m1 = incremental_closure_update(
        m0, spark.createDataFrame([(3, 2)], EDGE_SCHEMA)
    )
    assert {(r.node_id, r.root_id) for r in m1.collect()} == {(3, 2)}
    m2 = incremental_closure_update(
        m1, spark.createDataFrame([(2, 1), (1, None)], EDGE_SCHEMA)
    )
    got = {r.node_id: r.root_id for r in m2.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_incremental_update_random_order_matches_full(spark):
    # Property form: a random forest delivered in RANDOM edge order
    # across several batches must converge to the same map as one
    # full closure over everything.
    from convoy_spark.operators.closure import incremental_closure_update

    rng = random.Random(7)
    edges, _ = _random_forest(rng, 120)
    full = roots_dict(spark, edges)
    shuffled = edges[:]
    rng.shuffle(shuffled)
    m = spark.createDataFrame([], "node_id long, root_id long")
    for i in range(0, len(shuffled), 30):
        m = incremental_closure_update(
            m, spark.createDataFrame(shuffled[i : i + 30], EDGE_SCHEMA)
        )
    got = {r.node_id: r.root_id for r in m.collect()}
    assert got == full


def test_incremental_update_first_wins(spark):
    from convoy_spark.operators.closure import incremental_closure_update

    m0 = spark.createDataFrame([], "node_id long, root_id long")
    m1 = incremental_closure_update(
        m0, spark.createDataFrame([(1, None), (2, 1)], EDGE_SCHEMA)
    )
    # a later batch trying to re-parent node 2 is ignored (INSERT
    # IGNORE parity: the first crawl's edge wins)
    m2 = incremental_closure_update(
        m1, spark.createDataFrame([(2, 9), (9, None)], EDGE_SCHEMA)
    )
    got = {r.node_id: r.root_id for r in m2.collect()}
    assert got == {1: 1, 2: 1, 9: 9}
