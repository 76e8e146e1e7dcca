"""Transitive-closure root finding by pointer jumping (path doubling).

The reference computes every tweet's "ur-conversation" root by looping
an in-place UPDATE over a closure table until rowcount hits zero
(`2_enrich_ur_conversation_ids.py:39-47` — operators O2/J3), then
applies it with a LEFT JOIN + COALESCE (`:49-52` J4). The Spark-first
restatement is a driver-side convergence loop over DataFrame joins:

- every node starts pointing at its parent (roots point at
  themselves);
- each iteration follows the pointer's pointer, *doubling* the
  compressed path length — so a forest of depth d converges in
  ⌈log2 d⌉ iterations, each one self-join + one changed-row count;
- ``localCheckpoint()`` truncates lineage each iteration, otherwise
  Catalyst replans an exponentially growing tree (SURVEY §4);
- the changed-row count both terminates the loop and reproduces the
  reference's convergence logging (O5).

Scale: each iteration shuffles the map on the join key; the map is
|V|-sized regardless of input table size, and the iteration count is
logarithmic in the *depth* of the forest (social reply graphs: < 30
even for pathological chains). AQE's skew handling covers viral-root
fan-in. This is the standard Connected-Components-via-pointer-jumping
formulation (cf. Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# Bound on closure_roots' doubling iterations: 50 covers depth 2^50; on
# a true forest the loop always exits long before this.
CLOSURE_MAX_ITERATIONS = 50
# Bound on connected_components' min-label rounds.
COMPONENTS_MAX_ITERATIONS = 30


def closure_roots(
    edges: DataFrame,
    on_cycle: str = "resolve",
) -> DataFrame:
    """Resolve every node of a forest to its root.

    Parameters
    ----------
    edges:
        One row per node: ``(child_id, parent_id)``; ``parent_id`` is
        NULL for roots. A parent that has no row of its own is a root
        too, so callers need not add root rows. (Multiple parents
        would make this a DAG — the reference's data model guarantees
        a forest, and the first parent wins there via INSERT IGNORE;
        callers must pre-dedup.)
    on_cycle:
        Directed cycles (possible in real data via mutual quote
        edges, despite the reference's forest assumption) make pure
        pointer jumping misbehave — the reference's own
        UPDATE-until-rowcount-0 loop would simply never terminate
        (`2_enrich_ur_conversation_ids.py:39-47`). ``"resolve"``
        (default) resolves every cycle-tainted node to the smallest
        id it can reach (deterministic under any partitioning);
        ``"error"`` raises RuntimeError when a cycle is detected.

    Notes on the cycle machinery
    ----------------------------
    A naive ``ptr ← ptr[ptr]`` loop has TWO cycle failure modes:
    (a) odd-length cycles rotate forever (never ``changed == 0``),
    and (b) cycles whose length divides the jump distance 2^i go
    *silently* stable with every member pointing at itself — wrong
    answers with no error. A min-combining fallback
    (``ptr ← least(ptr, ptr[ptr])``) fixes (a) but converges in
    O(cycle length), not O(log) — the min only creeps one hop per
    iteration when ids increase along the cycle (round-2 advice).

    So each row carries three accumulators, all updated by the SAME
    single self-join per iteration, all O(log) convergent:

    - ``ptr`` — pure doubling pointer (ancestor at distance 2^i,
      absorbed at roots and at dangling parents);
    - ``mn`` — min id over ancestors at distance 1..2^i (windowed
      prefix-min doubling: ``mn ← min(mn, mn[ptr])``);
    - ``rooted`` — whether a true root (or dangling parent) lies
      within distance 2^i (``rooted ← rooted OR rooted[ptr]``);
    - ``ptr_root`` — whether ``ptr`` currently points AT a root (or
      dangling terminal), i.e. this row is fully converged and no
      accumulator of it can ever move again
      (``ptr_root ← ptr_root[ptr]``, coalescing missing b-rows to
      True like the ptr absorption).

    ``rooted`` and ``ptr_root`` are seeded one hop ahead (init join:
    "is my PARENT a root / dangling terminal?") so they cover window
    [0, 2^i] — the same iteration at which ``ptr`` stabilizes at the
    root. Seeding with only "am I a root" lags one doubling step
    behind the pointer and costs 1–2 extra count-jobs per call
    (measured ~+0.5 s on the sf0.1 closure query).

    Termination — TWO exit conditions checked by ONE aggregate per
    iteration (round-4: this replaced a filter().count() of changes
    only, which needed a full extra confirmation iteration after the
    last movement):

    - ``n_unfinished == 0``: every row's ptr sits on a root — fully
      converged by construction, exit immediately. Forests take this
      path the very iteration the last pointer lands, cutting the
      pure-confirmation pass (sf0.1: 2 iterations → 1, ~0.8 s).
    - ``n_changed == 0``: no rooted transition, no ptr movement on
      rooted rows, no mn movement on unrooted rows — the stability
      confirmation. Cycle-tainted rows never set ``ptr_root``, so
      cyclic inputs exit through this path with semantics identical
      to rounds 2–3.

    Result: ``rooted ? ptr : mn`` — tree nodes get their true root,
    cycle-tainted nodes get min-reachable.

    Returns
    -------
    DataFrame ``(node_id, root_id)`` with exactly one row per node.
    """
    is_root = F.col("parent_id").isNull() | (
        F.col("parent_id") == F.col("child_id")
    )
    parents = edges.select(
        F.col("child_id").alias("p_node"), is_root.alias("p_rooted")
    )
    base = edges.select(
        F.col("child_id").alias("node_id"),
        F.coalesce("parent_id", "child_id").alias("ptr"),
    )
    m = (
        base.join(parents, base.ptr == parents.p_node, "left")
        .select(
            "node_id",
            "ptr",
            F.col("ptr").alias("mn"),
            # a ptr with no node row is a dangling terminal → root
            F.coalesce("p_rooted", F.lit(True)).alias("rooted"),
            # seeded identically: "does my ptr point AT a terminal?"
            F.coalesce("p_rooted", F.lit(True)).alias("ptr_root"),
        )
        # Lazy: iteration 0's aggregate job materializes this together
        # with its own checkpoint — one fewer job submission than the
        # eager form (round-4: init job folded into iter 0, ~-0.3 s at
        # sf0.1; identical plan shape at any scale).
        .localCheckpoint(eager=False)
    )

    for i in range(CLOSURE_MAX_ITERATIONS):
        # Lazy checkpoint + immediate aggregate: the aggregate job
        # materializes the checkpoint, so each iteration costs ONE
        # Spark job instead of two (eager checkpoint job + count job)
        # — half the fixed-overhead at any scale.
        b = m.select(
            F.col("node_id").alias("b_node"),
            F.col("ptr").alias("b_ptr"),
            F.col("mn").alias("b_mn"),
            F.col("rooted").alias("b_rooted"),
            F.col("ptr_root").alias("b_ptr_root"),
        )
        jumped = (
            m.alias("a")
            .join(b, F.col("a.ptr") == F.col("b_node"), "left")
            .select(
                F.col("a.node_id").alias("node_id"),
                F.coalesce("b_ptr", "a.ptr").alias("new_ptr"),
                F.least(F.coalesce("b_mn", "a.mn"), F.col("a.mn")).alias(
                    "new_mn"
                ),
                # a dangling ptr (no b row — parent never loaded) is a
                # terminal: treat like a root, matching the coalesce
                # absorption on new_ptr.
                (
                    F.col("a.rooted")
                    | F.coalesce("b_rooted", F.lit(True))
                ).alias("new_rooted"),
                # new ptr = b's ptr, so "is my ptr a root" = b's own
                # ptr_root; missing b row = dangling terminal.
                F.coalesce("b_ptr_root", F.lit(True)).alias("new_ptr_root"),
                F.col("a.ptr").alias("old_ptr"),
                F.col("a.mn").alias("old_mn"),
                F.col("a.rooted").alias("old_rooted"),
            )
            .localCheckpoint(eager=False)
        )
        moved = (
            (F.col("new_rooted") != F.col("old_rooted"))
            | (F.col("new_rooted") & (F.col("new_ptr") != F.col("old_ptr")))
            | (~F.col("new_rooted") & (F.col("new_mn") != F.col("old_mn")))
        )
        # coalesce: F.sum over ZERO rows is NULL — an empty edge frame
        # (e.g. an incremental batch whose children are all already
        # mapped) must terminate on iteration 0, not loop to the cap.
        changed, unfinished = jumped.select(
            F.coalesce(F.sum(moved.cast("long")), F.lit(0)).alias("c"),
            F.coalesce(
                F.sum((~F.col("new_ptr_root")).cast("long")), F.lit(0)
            ).alias("u"),
        ).first()
        log.info(
            "closure iteration %d: %d accumulators moved, %d unfinished",
            i,
            changed,
            unfinished,
        )
        m = jumped.select(
            "node_id",
            F.col("new_ptr").alias("ptr"),
            F.col("new_mn").alias("mn"),
            F.col("new_rooted").alias("rooted"),
            F.col("new_ptr_root").alias("ptr_root"),
        )
        if changed == 0 or unfinished == 0:
            break
    else:
        raise RuntimeError(
            f"closure did not converge in {CLOSURE_MAX_ITERATIONS} iterations — "
            "forest depth plus max cycle length exceeds "
            f"2^{CLOSURE_MAX_ITERATIONS}; raise max_iterations"
        )

    if on_cycle != "resolve":
        n_cyclic = m.filter(~F.col("rooted")).count()
        if n_cyclic:
            raise RuntimeError(
                f"closure did not converge to roots: {n_cyclic} nodes are "
                "cycle-tainted (on_cycle='error')"
            )

    return m.select(
        "node_id",
        F.when(F.col("rooted"), F.col("ptr")).otherwise(F.col("mn")).alias(
            "root_id"
        ),
    )


def incremental_closure_update(
    closure_map: DataFrame,
    new_edges: DataFrame,
) -> DataFrame:
    """Fold a batch of new ``(child_id, parent_id)`` edges into an
    existing ``(node_id, root_id)`` map WITHOUT re-running the full
    closure.

    The reference re-runs its whole UPDATE-until-zero loop over the
    entire table after every crawl (`2_enrich_ur_conversation_ids.py:
    39-47`); its checkpointed-resume ethos (`fetch_conversation_
    tweets.py:71-85`) applied to the closure wants the incremental
    form: parents that the old map already resolves act as *portal*
    nodes (parent → known root), so the doubling loop runs over the
    NEW subgraph plus one portal row per referenced known parent.
    Per-batch cost is O(batch · log new-depth) — proportional to the
    increment, never the corpus, which is what makes continuous
    enrichment viable at 100 TB.

    Semantics match the reference's INSERT IGNORE: an edge whose
    child is already mapped is ignored (first crawl wins); new roots
    (parent NULL or parent unseen by either map or batch) resolve
    within the batch subgraph.

    Out-of-order arrival healing: when an earlier batch delivered
    (3→2) with node 2 unseen, node 3 provisionally rooted at the
    dangling node 2. If a later batch delivers (2→1), node 2 now
    resolves to 1 — and every existing map row rooted at 2 must be
    rewritten to 1, or the map goes internally inconsistent (3→2
    while 2→1), which the reference's full re-run would never
    produce (round-2 advice). Because ``resolved`` carries FINAL
    roots, one equi-join on ``root_id = resolved.node_id`` heals all
    such rows — no iteration: a stale root is always a dangling node
    (old roots with their own map row are protected by first-wins),
    and the dangling node's entire future subtree resolves within
    the single batch that delivers it.
    """
    fresh = new_edges.join(
        closure_map.select(F.col("node_id").alias("child_id")),
        "child_id",
        "left_anti",
    )
    portals = (
        fresh.select(F.col("parent_id").alias("node_id"))
        .filter(F.col("node_id").isNotNull())
        .distinct()
        .join(closure_map, "node_id")
        .select(
            F.col("node_id").alias("child_id"),
            F.col("root_id").alias("parent_id"),
        )
    )
    resolved = closure_roots(fresh.unionByName(portals))
    new_rows = resolved.join(
        closure_map.select("node_id"), "node_id", "left_anti"
    )
    reroot = resolved.select(
        F.col("node_id").alias("__old_root"),
        F.col("root_id").alias("__new_root"),
    )
    healed = closure_map.join(
        reroot, closure_map.root_id == reroot.__old_root, "left"
    ).select(
        "node_id",
        F.coalesce("__new_root", "root_id").alias("root_id"),
    )
    return healed.unionByName(new_rows)


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node_id, component_id) over an UNDIRECTED (doc_a, doc_b) pair list;
    ``component_id`` = the minimum node id in the component —
    deterministic under any partitioning.

    This is the general-graph sibling of :func:`closure_roots` (which
    requires a forest: one parent per node). Near-dup pair sets from
    the LSH/SimHash operators are arbitrary graphs — a document can
    pair with many near-twins — so canonicalizing them needs
    components, not roots.

    Algorithm: min-label propagation with label-path compression per
    round — each iteration takes (a) the min label among neighbors and
    (b) the label of the node's own label (pointer-jumping on the
    label graph), so labels hop across already-merged regions instead
    of creeping one edge per round (cf. the hash-to-min family,
    Kiveris et al., SoCC 2014). Near-dup clusters have tiny diameters
    (they are quasi-cliques), typically converging in 2–3 rounds; the
    compression step keeps adversarial chains O(log) rather than
    O(diameter). Each round is two equi-joins + a min-agg, all keyed
    shuffles, one count job via the lazy-checkpoint pattern."""
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("node_id"))
        .distinct()
        .select("node_id", F.col("node_id").alias("label"))
        .localCheckpoint()
    )
    for i in range(COMPONENTS_MAX_ITERATIONS):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        lab_of_lab = labels.select(
            F.col("node_id").alias("l_node"), F.col("label").alias("l_label")
        )
        stepped = (
            labels.join(nbr_min, labels.node_id == nbr_min.src, "left")
            .select(
                "node_id",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("_m"),
                F.col("label").alias("old_label"),
            )
            .join(lab_of_lab, F.col("_m") == F.col("l_node"), "left")
            .select(
                "node_id",
                F.least(F.col("_m"), F.coalesce("l_label", F.col("_m"))).alias(
                    "new_label"
                ),
                "old_label",
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(
            F.col("new_label") != F.col("old_label")
        ).count()
        log.info("connected_components round %d: %d labels moved", i, changed)
        labels = stepped.select(
            "node_id", F.col("new_label").alias("label")
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"components did not converge in {COMPONENTS_MAX_ITERATIONS} rounds"
        )
    return labels.select("node_id", F.col("label").alias("component_id"))


def enrich_with_roots(
    facts: DataFrame,
    closure_map: DataFrame,
    key: str,
    out_col: str = "root_id",
) -> DataFrame:
    """LEFT JOIN + COALESCE application of a closure map (J4,
    `2_enrich_ur_conversation_ids.py:49-52`): facts keep their own key
    when the map has no entry — the reference's singleton fallback
    (`:51` COALESCE)."""
    cm = closure_map.select(
        F.col("node_id").alias("__cm_key"), F.col("root_id").alias("__cm_root")
    )
    return facts.join(cm, facts[key] == cm.__cm_key, "left").select(
        *facts.columns,
        F.coalesce("__cm_root", key).alias(out_col),
    )
