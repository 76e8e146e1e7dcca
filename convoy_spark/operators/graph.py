"""General graph algorithms over derived edge sets: PageRank and
degree-oriented triangle counting.

The reference's graph layer stops at transitive closure
(`2_enrich_ur_conversation_ids.py:39-47`) and tree statistics
(`3_create_tweet_stats_i.py`); a corpus-curation engine additionally
wants *global* graph signals — link-authority scores (PageRank over a
hyperlink/citation graph is a standard web-corpus quality feature) and
local clustering (triangle participation) for community/spam signals.
Both are implemented Pregel-style on DataFrames: the graph never
leaves the cluster, every iteration is keyed joins + aggregations.

Scale posture (100 TB):

- **PageRank**: per iteration ONE shuffle join (ranks ⋈ edges on
  ``src``) + ONE aggregation (sum contributions by ``dst``). The edge
  frame (with out-degrees attached) is localCheckpoint'ed once and
  reused by every iteration, so its scan/partitioning cost is paid
  once; the rank frame is |V| rows — orders of magnitude smaller than
  |E|. On a real cluster the edge table would be bucketed by ``src``
  so the per-iteration join is exchange-free on the big side; hub
  skew (a node with 10^8 in-edges) is an AQE-skew-join / salting case
  on the ``dst`` aggregation, which is a partial-aggregate (map-side
  combine) shape already.
- **Triangles**: edges are ORIENTED from the (degree, id)-smaller
  endpoint to the larger before the wedge join — the node-iterator++
  orientation that bounds per-node wedge fan-out by out-degree
  ≤ O(sqrt(|E|)) even under power-law skew (a 10^6-degree hub
  generates wedges only from its — provably small — out-neighborhood,
  not its full neighborhood). Wedge join + existence join are both
  equi-joins Catalyst can shuffle-hash; nothing is quadratic in a
  hub's degree.

Ranks iterate in FIXED-POINT MICRO-UNITS (longs; floor division):
float rounding has engine-dependent tie behavior at decimal-cast
boundaries (measured: a 3-iteration double/decimal PageRank diverged
at the 7th digit between Spark and DuckDB), while integer arithmetic
has no rounding at all — the fixpoint is bit-identical across
engines and partitionings by construction, which is what lets an
iterated graph algorithm carry a full value-hash DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from convoy_spark.operators.partitioning import blowup_checkpoint

# fixed-point: rank 1.0 == 1_000_000 micro-units; damping 0.85
PR_SCALE = 1_000_000
PR_DAMP_NUM = 850_000  # damping * PR_SCALE
PR_BASE = 150_000  # (1 - damping) * PR_SCALE
PAGERANK_ITERS = 3

# Node-count ceiling for broadcasting the |V|-sized iterate frame
# (ranks / labels) into the per-round join against the checkpointed
# edge frame. Below it, every round's join is a broadcast-hash over
# the edge scan — the big side is never exchanged OR sorted (the
# round-9/10 plans sort-merge-joined it every round: a checkpoint
# scan has no reliable size estimate, so the planner never broadcast
# the label side on its own; measured at sf0.1 the LPA rounds dropped
# 11.5 → 4.7 s). Above it, the keyed shuffle join stands (a cluster
# with billions of nodes buckets the edge table by the join key
# instead — the docstring posture). 2M rows of two longs is a ~50 MB
# hash relation: well under the executor/driver envelope anywhere,
# and the decision is one metadata-cheap count on a frame the round
# loop materializes anyway (the PQ_WIDE_MIN_ROWS precedent).
ITERATE_BROADCAST_MAX_NODES = 2_000_000


def _maybe_broadcast(df: DataFrame, n_nodes: int) -> DataFrame:
    return F.broadcast(df) if n_nodes <= ITERATE_BROADCAST_MAX_NODES else df


def pagerank(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """(id, rank_micro) after ``iters`` synchronous iterations of the
    fixed-point PageRank recurrence

        m'(v) = 150000 + (850000 · Σ_{u→v} (m(u) div outdeg(u)))
                         div 1000000,   m0 = 1000000,

    i.e. r'(v) = 0.15 + 0.85·Σ r(u)/deg(u) in micro-units with floor
    division — the un-normalized (original-paper) form, no
    dangling-mass term; per-step quantization error < 1 micro-unit.
    ``edges`` is directed (src, dst); pass both directions for an
    undirected graph. Every node (src or dst of any edge) keeps a rank
    row each iteration — nodes with an empty in-neighborhood hold the
    base mass 0.15, matching the recurrence with an empty sum.

    All arithmetic is integral (long contributions, decimal(30,0)
    sums, integral ``div``), so the result is bit-exact at any
    parallelism. Overflow headroom: the damped sum must fit a long
    after the final ``div`` — true while total in-neighborhood rank
    mass stays below ~9·10^12 micro-units per node (rank mass ~9
    million); graphs beyond that drop PR_SCALE a digit.

    Scale: per iteration ONE shuffle join (ranks ⋈ edges on src, the
    edge side checkpointed once with degrees attached) + ONE
    map-side-combined aggregation on dst; the rank frame is |V| rows,
    orders of magnitude smaller than |E|. On a cluster, bucket edges
    by src to make the join exchange-free on the big side; hub skew on
    dst is absorbed by partial aggregation + AQE skew handling.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # Degrees ride along with the edges so iterations do ONE join each
    # (ranks), not two. Checkpointed: scanned fresh by every iteration
    # without replaying the groupBy lineage. The edge frame is an
    # input-multiple, so it is floored onto its per-iteration join key
    # BEFORE the checkpoint (round-9 sfg10: input-sized partitioning
    # OOMed the unroll; the keyed floor also lets every iteration's
    # join skip the big side's exchange+sort — see
    # operators/partitioning.py).
    ed = blowup_checkpoint(edges.join(deg, "src"), "src")
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # one metadata-cheap count (materializes the nodes checkpoint the
    # loop needs anyway) decides the per-iteration join strategy
    n_nodes = nodes.count()
    ranks = nodes.select("id", F.lit(PR_SCALE).cast("long").alias("m"))
    for _ in range(iters):
        contrib = (
            ed.join(_maybe_broadcast(
                        ranks.withColumnRenamed("id", "_rid"), n_nodes),
                    ed["src"] == F.col("_rid"))
            .groupBy("dst")
            .agg(F.sum(F.expr("m div d").cast("decimal(20,0)")).alias("_s"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                "id",
                F.expr(
                    f"CAST({PR_BASE} + ((CAST({PR_DAMP_NUM} AS DECIMAL(10,0))"
                    " * COALESCE(_s, CAST(0 AS DECIMAL(20,0))))"
                    " div 1000000) AS BIGINT)"
                ).alias("m"),
            )
            # truncate the per-iteration lineage or the final plan is
            # exponential in iters
            .localCheckpoint(eager=False)
        )
    return ranks


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected part–part co-purchase edges (p < q): two
    parts are linked when some order contains both. One shuffle of
    (order, part) into per-order sorted part sets (bounded ≤ 7 items
    per order in TPC-H-shaped data; a real basket table would cap or
    sample giant baskets first), then the p < q pairs expand in
    whole-stage codegen — the a-priori pair-expansion shape
    (token_cooccurrence, triangle edge-iterator) instead of the
    round-9 per-order self-join, which shuffled the (okey, p) frame
    twice and built a join hash table just to enumerate in-row pairs
    (round-10 A/B at sf0.1: 1.3 → 1.0 s, identical edges).
    """
    arr = (
        lineitem.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("p")
        )
        .groupBy("okey")
        .agg(F.array_sort(F.collect_set("p")).alias("ps"))
    )
    pairs = arr.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps) - i - 1),"
                " y -> struct(x AS p, y AS q))))"
            )
        ).alias("pq")
    ).select("pq.p", "pq.q")
    return pairs.distinct()


def bipartite_order_part_edges(lineitem: DataFrame) -> DataFrame:
    """Directed edge list (both directions) of the undirected
    bipartite order↔part graph, nodes namespaced into one id space:
    order o → 2o, part p → 2p+1."""
    pairs = lineitem.select(
        (F.col("l_orderkey") * 2).alias("onode"),
        (F.col("l_partkey") * 2 + 1).alias("pnode"),
    ).distinct()
    fwd = pairs.select(F.col("onode").alias("src"), F.col("pnode").alias("dst"))
    rev = pairs.select(F.col("pnode").alias("src"), F.col("onode").alias("dst"))
    return fwd.unionByName(rev)


def triangle_counts(edges_undirected: DataFrame) -> DataFrame:
    """(node_id, n_triangles) for every node in ≥1 triangle.

    ``edges_undirected``: one row per undirected edge {p, q} (any
    orientation, duplicates tolerated — distinct-ed here). Algorithm:
    orient every edge from the (degree, id)-smaller endpoint to the
    larger (a total order), then EDGE-ITERATE: each oriented edge
    (u, v) joins both endpoints' out-neighbor arrays and the
    triangles through it are ``array_intersect(N⁺(u), N⁺(v))`` — a
    triangle {x<y<z} (in orientation order) is found exactly once, at
    its (min, mid) edge, since z ∈ N⁺(x) ∩ N⁺(y). Per-node counts
    then credit all three corners.

    The round-6 formulation materialized the wedge set (u→v, u→w)
    and closed it with a left-semi join on (v, w) — the wedge frame
    (Σ_u C(d⁺(u), 2) rows, ≫ triangles on dense graphs) shuffled
    TWICE. Stage-split timing at sf0.1 (BENCH_NOTES round 7): edges +
    orient + wedges ≈ 10.7 s, full query 67–128 s — the wedge semi
    join owned everything else. The edge-iterator form moves each
    oriented edge once per side (arrays are node-count-sized, degree-
    bounded by the orientation's √(2m) cap) and intersects in
    whole-stage codegen — the same per-pair-codegen lesson as
    setsim_prefix_join's verify and semantic_dedup's pair dots.
    """
    und = (
        edges_undirected.select(
            F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # symmetric adjacency for degree counting
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient u→v when (d_u, u) < (d_v, v)
    oriented = (
        adj.join(deg.withColumnsRenamed({"u": "u1", "d": "du"}),
                 F.col("u") == F.col("u1"))
        .join(deg.withColumnsRenamed({"u": "v1", "d": "dv"}),
              F.col("v") == F.col("v1"))
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        # ids ONLY (round-10 verdict #9, §2.3): the degree columns were
        # orientation inputs, not wedge inputs — carrying dv into the
        # checkpoint/wedge shuffle was a third of the frame for nothing
        .select("u", "v")
    )
    # |E|-sized input-multiple: floor onto u before materializing so
    # the unroll is bounded and BOTH downstream consumers (the adj_arr
    # groupBy("u") and the wedge join on u) reuse the partitioning.
    oriented = blowup_checkpoint(oriented, "u")
    # out-neighbor arrays (degree-bounded by the orientation), then
    # one codegen intersect per oriented edge
    adj_arr = oriented.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("nbrs")
    )
    # corner credit in ONE pass: each found triangle explodes to its
    # three corners in codegen. The round-6..10 form unioned three
    # projections of the wedge-join subtree — exchange reuse shares
    # the shuffles, but the join + intersect + explode themselves ran
    # once PER BRANCH (3× the wedge compute; §2.4 duplicated subtree).
    tri_nodes = (
        oriented.join(
            adj_arr.select(F.col("u").alias("_ua"), F.col("nbrs").alias("nu")),
            F.col("u") == F.col("_ua"),
        )
        .join(
            adj_arr.select(F.col("u").alias("_ub"), F.col("nbrs").alias("nv")),
            F.col("v") == F.col("_ub"),
        )
        .select(
            "u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w")
        )
        .select(F.explode(F.array("u", "v", "w")).alias("node_id"))
    )
    return tri_nodes.groupBy("node_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


# --- Label propagation (community detection) -------------------------
LPA_ITERS = 3


def label_propagation(edges: DataFrame) -> DataFrame:
    """(id, label) — synchronous label propagation (Raghavan, Albert &
    Kumara 2007), derandomized the repo's way: labels start as node
    ids, and each SYNCHRONOUS round every node adopts the most common
    label in its neighborhood with the deterministic (count desc,
    label asc) tiebreak — no random visit order, no async races, so
    the fixed number of rounds is a deterministic dataflow both
    engines reproduce exactly (the classic LPA caveat — synchronous
    updates can oscillate on bipartite structure — is accepted: a
    deterministic oscillation is still hash-checkable, and community
    quality at fixed small iters is the standard curation signal,
    not a converged partition).

    ``edges`` is the directed adjacency (u, v); pass both directions
    for an undirected graph. Directed semantics: the round joins
    labels on v and groups by u, so u adopts from its OUT-neighbors
    (the nodes it points to); a node with no out-edges keeps its
    label (COALESCE on the left join). Moot for the undirected call
    sites, which pass both directions.

    Scale, per round: ONE shuffle join (labels ⋈ edges on v) + one
    map-side-combined (u, label) count + one per-node rank window over
    the count rows (bounded by the node's distinct neighbor labels,
    not the corpus) — the pagerank cost shape with an argmax instead
    of a sum. Label frame is |V| rows, checkpointed per round to
    truncate the iterated lineage; the EDGE frame is checkpointed
    ONCE up front (the pagerank discipline — without it every round's
    materialization re-derives the edge pipeline from source, which
    the round-8 sfg3.0 slope run measured as the superlinear step).

    The edge frame is keyed-floored onto ``v`` (the side every round
    joins labels on) before its one-time checkpoint: at sfg10 the
    input-sized partitioning OOMed exactly this unroll (round-9's
    demonstrated single-JVM failure), and the preserved
    partitioning+ordering means each round's join re-exchanges only
    the |V|-sized label frame — the big side is exchange- and
    sort-free every round."""
    edges = blowup_checkpoint(edges, "v")
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # one metadata-cheap count (materializes the nodes checkpoint the
    # loop needs anyway) decides the per-round join strategy — see
    # ITERATE_BROADCAST_MAX_NODES
    n_nodes = nodes.count()
    labels = nodes.select("id", F.col("id").alias("lab"))
    for _ in range(LPA_ITERS):
        cnt = (
            edges.join(
                _maybe_broadcast(
                    labels.select(F.col("id").alias("v"), "lab"), n_nodes
                ),
                "v",
            )
            .groupBy(F.col("u"), F.col("lab"))
            .agg(F.count("*").alias("c"))
        )
        # argmax as an aggregation, not a rank window: min over the
        # (-count, label) struct IS the (count desc, label asc)
        # tiebreak, computed with map-side partial aggregation and no
        # per-partition sort — one exchange of one row per (u, mapper)
        # instead of a full (u, lab) exchange + sort (round-10 A/B:
        # ~0.5 s/build at sf0.1, bit-identical labels).
        best = (
            cnt.groupBy("u")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lab").alias("lab")
                    )
                ).alias("_b")
            )
            .select(F.col("u").alias("id"), F.col("_b.lab").alias("newlab"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id", F.coalesce("newlab", "lab").alias("lab")
            )
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("lab").alias("label"))
