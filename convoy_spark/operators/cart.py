"""Distributed decision-tree / random-forest training (CART split
search) over integer text features (north-star extension; the
reference has no model training — its analytics stop at SQL
aggregates).

The second classic trainable curation filter next to the linear probe
(operators/probe.py): threshold RULES over interpretable quality
features — the form quality filters actually ship in (Gopher's rules,
fastText's thresholds) — learned from data instead of hand-set. CART
split search (Breiman et al. 1984) is exactly aggregation-shaped, so
the distributed restatement is pure DataFrame algebra, and with
integer features + integer class counts the whole trainer is EXACT:

- candidate thresholds are the observed feature values; per
  (tree, node, feature, value, class) counts cumulative-summed along
  the value order give every candidate's left/right class histogram
  in ONE window pass per level (no per-threshold rescan — the classic
  sorted-split-search trick, distributed);
- split quality is the weighted Gini purity Σ_side Σ_c n_sc²/n_s·n.
  Candidates are ranked by the exact integer pair (num, den) =
  (s_L·n_R + s_R·n_L, n_L·n_R·n) pushed through ONE correctly-rounded
  IEEE division — a/b on equal integers is bit-identical on every
  engine (unlike float accumulation, division is a single rounded
  op), so the ranking and the reported score are deterministic and
  the DuckDB oracle reproduces the TREE itself, not just summary
  stats. Ties break (feature asc, value asc).

The FOREST is the single-tree dataflow with ``tree`` joined into
every key (the operators/pq.py precedent — 16 codebooks as ONE keyed
Lloyd dataflow): all trees' split searches ride the same window pass
and the same broadcast routing join, so ensemble size widens keys,
not plan depth. Bagging and per-node feature subsampling are salted
deterministic hashes (Breiman's two randomizations, derandomized the
repo's way — reproducible across engines, runs and cluster sizes).

Scale shape, per level: one groupBy over the train rows' exploded
(tree, node, feature, value, class) keys (map-side combined), a
window over the per-(tree, node) candidate grid (grid-sized, not
corpus-sized), one row_number per (tree, node), and a broadcast of
the ≤ trees·2^depth split rows for routing — the corpus-sized docs
frame never shuffles except the count aggregations keyed by
(tree, node, ...). Candidate cardinality is bounded by the feature
quantization (values are per-mille / ×100 integers), which is the
production guard at 100 TB (histogram-binned split search, the
Chen & Guestrin approximate sketch): |grid| ≤ trees·nodes·features·
bins·classes regardless of corpus size; :func:`coarsen_features` is
that guard as code (shrink the bins 2^shift× map-side, pytest-pinned
to still recover planted rules at bin granularity). Int64 bounds:
s_L = Σ_c n_Lc² ≤ n_L² so num ≤ n_L·n_R·n ≤ n³/4 and den = n_L·n_R·n
≤ n³/4 — both safe under 2⁶³ to n ≈ 3.3·10⁶ train rows per node,
enforced at runtime (CART_NODE_ROWS_MAX: a node beyond the bound
raises instead of silently wrapping — coarsen/sample first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import hash60

TREE_DEPTH = 2
FOREST_TREES = 5
FOREST_BAG_SALT = "rf-bag-v1"
FOREST_FEAT_SALT = "rf-feat-v1"
# bag: doc in tree t's bootstrap iff salted hash % 3 < 2 (~2/3, the
# classic out-of-bag fraction, derandomized)
FOREST_BAG_MOD, FOREST_BAG_KEEP = 3, 2
FOREST_FEATS_PER_SPLIT = 2  # ~sqrt(k) for the 4-feature quality set
# int64 overflow guard for the single-division Gini rank: num and den
# are both ≤ n³/4, so n ≤ cbrt(4·(2⁶³−1)) ≈ 3.32e6 is exact. Enforced
# inside _best_splits (raise, don't wrap).
CART_NODE_ROWS_MAX = 3_300_000


def _best_splits(
    train_fv: DataFrame, feats_per_split: int | None = None
) -> DataFrame:
    """(tree, node, split_feature, split_value, split_score) — the
    best (feature, threshold) per (tree, node) by exact weighted Gini
    purity over ``train_fv`` = (tree, node, label, f, v) train
    feature rows; nodes with no valid split (all rows identical on
    every eligible feature) get no row. ``feats_per_split`` activates
    per-(tree, node) deterministic feature subsampling (rank features
    by a salted hash, keep the top m — always exactly m, never an
    accidentally empty set)."""
    cnt = train_fv.groupBy("tree", "node", "f", "v", "label").agg(
        F.count("*").alias("c")
    )
    if feats_per_split is not None:
        fgrid = cnt.select("tree", "node", "f").distinct()
        wf = Window.partitionBy("tree", "node").orderBy(
            hash60(
                F.concat_ws(
                    ":", F.lit(FOREST_FEAT_SALT), "tree", "node", "f"
                )
            ).asc(),
            F.col("f").asc(),
        )
        allowed = (
            fgrid.withColumn("_fr", F.row_number().over(wf))
            .filter(F.col("_fr") <= feats_per_split)
            .drop("_fr")
        )
        cnt = cnt.join(F.broadcast(allowed), ["tree", "node", "f"])
    classes = train_fv.select("label").distinct()
    grid = (
        cnt.select("tree", "node", "f", "v")
        .distinct()
        .join(F.broadcast(classes))
        .join(cnt, ["tree", "node", "f", "v", "label"], "left")
        .select(
            "tree",
            "node",
            "f",
            "v",
            "label",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    wcum = Window.partitionBy("tree", "node", "f", "label").orderBy("v")
    tot = cnt.groupBy("tree", "node", "f", "label").agg(
        F.sum("c").alias("tot")
    )
    j = (
        grid.withColumn("cum", F.sum("c").over(wcum))
        .join(tot, ["tree", "node", "f", "label"], "left")
        .select(
            "tree",
            "node",
            "f",
            "v",
            "cum",
            F.coalesce("tot", F.lit(0)).alias("tot"),
        )
    )
    agg = j.groupBy("tree", "node", "f", "v").agg(
        F.sum("cum").alias("n_l"),
        F.sum(F.col("cum") * F.col("cum")).alias("s_l"),
        F.sum(
            (F.col("tot") - F.col("cum")) * (F.col("tot") - F.col("cum"))
        ).alias("s_r"),
        F.sum("tot").alias("n"),
    )
    num = F.col("s_l") * (F.col("n") - F.col("n_l")) + F.col("s_r") * F.col(
        "n_l"
    )
    den = F.col("n_l") * (F.col("n") - F.col("n_l")) * F.col("n")
    sc = agg.filter(F.col("n_l") < F.col("n")).select(
        "tree",
        "node",
        "f",
        "v",
        # the docstring's single-division contract, guarded: beyond
        # CART_NODE_ROWS_MAX the int64 products would wrap silently,
        # so raise instead (coarsen_features / sample first).
        F.when(
            F.col("n") <= F.lit(CART_NODE_ROWS_MAX),
            num.cast("double") / den.cast("double"),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "CART node exceeds int64-safe bound: n=%s > "
                    f"{CART_NODE_ROWS_MAX} — coarsen_features first",
                    F.col("n"),
                )
            )
        )
        .alias("score"),
    )
    wb = Window.partitionBy("tree", "node").orderBy(
        F.col("score").desc(), F.col("f").asc(), F.col("v").asc()
    )
    return (
        sc.withColumn("_rk", F.row_number().over(wb))
        .filter(F.col("_rk") == 1)
        .select(
            "tree",
            "node",
            F.col("f").alias("split_feature"),
            F.col("v").alias("split_value"),
            F.col("score").alias("split_score"),
        )
    )


def _node_stats(docs: DataFrame, depth: int) -> DataFrame:
    """Per-(tree, node) level stats: train class histogram → majority
    (ties to the smallest label), eval rows routed to the node, eval
    hits under the node's majority label."""
    cnt = docs.groupBy("tree", "node", "label").agg(
        F.sum(F.col("is_train").cast("long")).alias("tn"),
        F.sum((~F.col("is_train")).cast("long")).alias("en"),
    )
    wmaj = Window.partitionBy("tree", "node").orderBy(
        F.col("tn").desc(), F.col("label").asc()
    )
    maj = (
        cnt.withColumn("_rk", F.row_number().over(wmaj))
        .filter(F.col("_rk") == 1)
        .select(
            "tree",
            "node",
            F.col("label").alias("majority_label"),
            F.col("tn").alias("n_maj"),
            F.col("en").alias("eval_hits"),
        )
    )
    sums = cnt.groupBy("tree", "node").agg(
        F.sum("tn").alias("n_train"), F.sum("en").alias("n_eval")
    )
    return sums.join(maj, ["tree", "node"]).select(
        "tree",
        F.lit(depth).cast("int").alias("depth"),
        F.col("node").alias("node_id"),
        "n_train",
        "n_eval",
        "majority_label",
        "n_maj",
        "eval_hits",
    )


def _grow(
    docs: DataFrame, depth: int, feats_per_split: int | None = None
) -> DataFrame:
    """The level loop shared by the single tree and the forest:
    ``docs`` = (doc_id, label, is_train, fmap, tree, node)."""
    levels = []
    for d in range(depth):
        train_fv = docs.filter(F.col("is_train")).select(
            "tree", "node", "label", F.explode("fmap").alias("f", "v")
        )
        best = F.broadcast(
            _best_splits(train_fv, feats_per_split).localCheckpoint()
        )
        levels.append(
            _node_stats(docs, d).join(
                best.withColumnsRenamed({"node": "node_id"}),
                ["tree", "node_id"],
                "left",
            )
        )
        docs = docs.join(best, ["tree", "node"], "left").select(
            "doc_id",
            "label",
            "is_train",
            "fmap",
            "tree",
            F.when(F.col("split_feature").isNull(), F.col("node"))
            .when(
                F.expr("try_element_at(fmap, split_feature)")
                <= F.col("split_value"),
                2 * F.col("node") + 1,
            )
            .otherwise(2 * F.col("node") + 2)
            .alias("node"),
        ).localCheckpoint()
    leaf = _node_stats(docs, depth).select(
        "*",
        F.lit(None).cast("string").alias("split_feature"),
        F.lit(None).cast("long").alias("split_value"),
        F.lit(None).cast("double").alias("split_score"),
    )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.unionByName(leaf)


def decision_tree_train(
    feats: DataFrame, depth: int = TREE_DEPTH
) -> DataFrame:
    """(depth, node_id, n_train, n_eval, majority_label, n_maj,
    eval_hits, split_feature, split_value, split_score) — the trained
    tree, one row per node per level. ``feats`` carries (doc_id,
    label, is_train, fmap: map<string, long>) — the integer feature
    map. Children of node k are 2k+1 (f ≤ threshold) and 2k+2; a node
    with no valid split persists unsplit into the next level (its
    split columns stay null). Level ``depth`` rows are the leaves."""
    docs = feats.select(
        "doc_id",
        "label",
        "is_train",
        "fmap",
        F.lit(0).cast("long").alias("tree"),
        F.lit(0).cast("long").alias("node"),
    ).localCheckpoint()
    return _grow(docs, depth).drop("tree")


def decision_forest_train(
    feats: DataFrame,
    n_trees: int = FOREST_TREES,
    depth: int = TREE_DEPTH,
) -> DataFrame:
    """(tree, depth, node_id, ...) — a random forest trained as ONE
    keyed dataflow: the docs frame crossJoins the tree-id range,
    bagging keeps each (tree, doc) pair iff the salted hash lands in
    {FOREST_BAG_KEEP}/{FOREST_BAG_MOD} (so every tree trains on its
    own deterministic ~2/3 bootstrap; EVAL rows replicate to every
    tree — each tree's held-out routing is reported per tree), and
    each (tree, node) split search sees only its hash-ranked
    ``FOREST_FEATS_PER_SPLIT`` features. Tree count widens the keyed
    aggregates; plan depth stays the single tree's."""
    trees = feats.sparkSession.range(n_trees).select(
        F.col("id").alias("tree")
    )
    bag = hash60(
        F.concat_ws(":", F.lit(FOREST_BAG_SALT), "tree", "doc_id")
    ) % FOREST_BAG_MOD < FOREST_BAG_KEEP
    docs = (
        feats.join(F.broadcast(trees))
        .filter(~F.col("is_train") | bag)
        .select(
            "doc_id",
            "label",
            "is_train",
            "fmap",
            "tree",
            F.lit(0).cast("long").alias("node"),
        )
        .localCheckpoint()
    )
    return _grow(docs, depth, FOREST_FEATS_PER_SPLIT)


def coarsen_features(feats: DataFrame, shift: int) -> DataFrame:
    """The histogram-split-search guard as code (module docstring's
    "bin counts per node first"): right-shift every feature value by
    ``shift`` bits before training, so candidate-threshold
    cardinality — hence the per-level grid, window and broadcast —
    shrinks 2^shift× regardless of corpus size. Thresholds learned on
    the coarse grid are bin boundaries (the Chen & Guestrin
    approximate sketch trade-off: granularity, never correctness of
    the counts). Map-side only; composes with both trainers."""
    return feats.withColumn(
        "fmap",
        F.expr(f"transform_values(fmap, (k, v) -> v div {1 << shift})"),
    )


# --- Isolation-forest-style outlier detection -----------------------
ISO_TREES = 8  # power of two: sum/8.0 is an exact double op
ISO_DEPTH = 5
ISO_PICK_SALT = "iso-pick-v1"
ISO_CUT_SALT = "iso-cut-v1"


def isolation_scores(feats: DataFrame) -> DataFrame:
    """(doc_id, sum_leaf_n, mean_leaf_n) — isolation-forest-style
    multivariate outlier score (Liu et al., ICDM 2008, derandomized
    the repo's way): ``ISO_TREES`` random binary trees, each level
    picking a salted-hash feature and a salted-hash cut point inside
    the node's [min, max], grown for ``ISO_DEPTH`` levels as ONE keyed
    dataflow (tree in every key, the forest pattern). The score is
    the SIZE of each point's final leaf summed over trees — the
    integer-exact stand-in for the paper's expected path length
    (leaf size and path length are monotonely linked: points that
    isolate early sit in small leaves; the harmonic-number c(n)
    normalization is a transcendental and is deliberately dropped —
    the model_quality no-sigmoid discipline — since ranking, the
    consumer of the score, is invariant to it at fixed depth).
    Outliers = smallest sum_leaf_n. mean_leaf_n = sum / ISO_TREES is
    exact for power-of-two ISO_TREES.

    Scale, per level: one keyed min/max aggregate over the chosen
    feature values and a broadcast of the ≤ trees·2^depth cut rows —
    the corpus never shuffles except those keyed aggs. A node whose
    chosen feature is constant (vmax = vmin) stays unsplit — its
    rows ride to the bottom as one (large, inlier-scored) leaf."""
    trees = feats.sparkSession.range(ISO_TREES).select(
        F.col("id").alias("tree")
    )
    docs = (
        feats.select("doc_id", "fmap")
        .join(F.broadcast(trees))
        .select("tree", "doc_id", "fmap", F.lit(0).cast("long").alias("node"))
        .localCheckpoint()
    )
    for _d in range(ISO_DEPTH):
        fv = docs.select(
            "tree", "node", "doc_id", F.explode("fmap").alias("f", "v")
        )
        wp = Window.partitionBy("tree", "node").orderBy(
            hash60(
                F.concat_ws(":", F.lit(ISO_PICK_SALT), "tree", "node", "f")
            ).asc(),
            F.col("f").asc(),
        )
        pick = (
            fv.select("tree", "node", "f")
            .distinct()
            .withColumn("_rk", F.row_number().over(wp))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        vals = fv.join(F.broadcast(pick), ["tree", "node", "f"])
        cut = (
            vals.groupBy("tree", "node")
            .agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
            .select(
                "tree",
                "node",
                F.when(
                    F.col("vmax") > F.col("vmin"),
                    F.col("vmin")
                    + hash60(
                        F.concat_ws(
                            ":", F.lit(ISO_CUT_SALT), "tree", "node"
                        )
                    )
                    % (F.col("vmax") - F.col("vmin")),
                ).alias("cut"),
            )
        )
        docs = (
            docs.join(F.broadcast(pick), ["tree", "node"], "left")
            .join(F.broadcast(cut), ["tree", "node"], "left")
            .select(
                "tree",
                "doc_id",
                "fmap",
                F.when(F.col("cut").isNull(), F.col("node"))
                .when(
                    F.expr("try_element_at(fmap, f)") <= F.col("cut"),
                    2 * F.col("node") + 1,
                )
                .otherwise(2 * F.col("node") + 2)
                .alias("node"),
            )
            .localCheckpoint()
        )
    # ≤ trees·2^depth rows — broadcast explicitly (the checkpointed
    # docs scan carries no stats, so auto-broadcast would not fire
    # and the join fell back to a corpus-wide SortMergeJoin)
    leaf = F.broadcast(
        docs.groupBy("tree", "node").agg(F.count("*").alias("ln"))
    )
    return (
        docs.join(leaf, ["tree", "node"])
        .groupBy("doc_id")
        .agg(F.sum("ln").cast("long").alias("sum_leaf_n"))
        .select(
            "doc_id",
            "sum_leaf_n",
            (F.col("sum_leaf_n").cast("double") / F.lit(float(ISO_TREES)))
            .alias("mean_leaf_n"),
        )
    )
