"""Linear-probe training over frozen embeddings (north-star
extension; no counterpart in the reference — its analytics stop at SQL
aggregates, `3_analysis_queries.sql`).

The standard embedding-quality eval in an LLM pipeline is the LINEAR
PROBE: train a linear classifier on frozen embeddings and read the
class-separability off its accuracy (Alain & Bengio 2016, the probing
line of work). The trainer here is the batch one-vs-rest PERCEPTRON
(Rosenblatt 1958) rather than logistic regression — deliberately:
its update rule is pure integer arithmetic under the repo's
scaled-long discipline (wq += Σ y·xq over misclassified rows), so
every weight, margin, prediction and confusion count is EXACTLY
reproducible cross-engine and the whole training loop gets a full
DuckDB value-hash oracle — gradient descent's sigmoid would put a
transcendental inside the recurrence and break the bit-identical
float contract (the model_quality_filter no-sigmoid precedent,
operators/textops.py).

Scale shape, per iteration (ITERS is fixed, small):
- margins: vectors × the broadcast 10-row weight frame, dot folded
  per row in codegen (zip_with + aggregate over two arrays — the
  semantic_dedup pair-dot lesson) — NO shuffle;
- update: only MISCLASSIFIED rows explode to (class, dim) partials —
  one map-side-combined shuffle whose result is |classes|·dim rows;
- the weight frame is localCheckpointed per round (10 rows; the
  pagerank/ivf loop pattern) so lineage stays flat.
Nothing corpus-sized crosses an exchange except the shrinking
misclassified-row partial agg; prediction is one rank window over
|V|·|classes| integer margins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from convoy_spark.operators.similarity import _infer_dim

PROBE_SCALE = 1 << 10  # xq = floor(x·2¹⁰): exact double op + floor
PROBE_ITERS = 3  # fixed rounds — the probe reads separability, not SOTA
# Overflow headroom: |x| < 1 ⇒ |xq| ≤ 2¹⁰; |wq| ≤ ITERS·N·2¹⁰ and the
# margin ≤ dim·2¹⁰·|wq| + |bq| ⇒ < 2⁴⁵ at N = 5·10⁶ rows — int64-safe
# on both engines with ~2¹⁷× headroom.


def perceptron_probe(
    vectors: DataFrame,
    iters: int = PROBE_ITERS,
) -> DataFrame:
    """(split, true_label, pred_label, n) — held-out confusion matrix
    of a one-vs-rest batch perceptron trained for ``iters`` rounds on
    the ``is_train`` rows and applied to every row.

    Bias lives in PROBE_SCALE² units so the integer margin
    Σ xq·wq + bq carries the real-valued sign exactly; prediction is
    argmax over class margins, ties to the smallest class id
    (deterministic — margins are integers)."""
    dim = _infer_dim(vectors)
    vq = vectors.select(
        "vec_id",
        "label",
        "is_train",
        F.expr(
            "transform(embedding, x ->"
            f" cast(floor(cast(x as double) * {PROBE_SCALE}) as bigint))"
        ).alias("xq"),
    ).localCheckpoint()
    train = vq.filter(F.col("is_train"))
    weights = (
        vq.select(F.col("label").alias("c"))
        .distinct()
        .select(
            "c",
            F.expr(f"array_repeat(cast(0 as bigint), {dim})").alias("wq"),
            F.lit(0).cast("long").alias("bq"),
        )
        .localCheckpoint()
    )
    marg = F.expr(
        "aggregate(zip_with(xq, wq, (a, b) -> a * b),"
        " cast(0 as bigint), (acc, p) -> acc + p) + bq"
    )
    y = F.when(F.col("label") == F.col("c"), F.lit(1)).otherwise(
        F.lit(-1)
    ).cast("long")
    for _t in range(iters):
        mis = (
            train.join(F.broadcast(weights))
            .select("label", "c", "xq", y.alias("y"), marg.alias("m"))
            .filter(F.col("y") * F.col("m") <= 0)
        )
        dw = (
            mis.select("c", "y", F.posexplode("xq").alias("j", "x"))
            .groupBy("c", "j")
            .agg(F.sum(F.col("y") * F.col("x")).alias("dw"))
            .groupBy("c")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(j, dw))),"
                    " s -> s.dw)"
                ).alias("dwq")
            )
        )
        db = mis.groupBy("c").agg(
            (F.sum("y") * F.lit(PROBE_SCALE * PROBE_SCALE))
            .cast("long")
            .alias("dbq")
        )
        weights = (
            weights.join(dw, "c", "left")
            .join(db, "c", "left")
            .select(
                "c",
                F.expr(
                    "CASE WHEN dwq IS NULL THEN wq"
                    " ELSE zip_with(wq, dwq, (a, b) -> a + b) END"
                ).alias("wq"),
                (F.col("bq") + F.coalesce(F.col("dbq"), F.lit(0))).alias(
                    "bq"
                ),
            )
            .localCheckpoint()
        )
    scored = vq.join(F.broadcast(weights)).select(
        "vec_id", "label", "is_train", "c", marg.alias("m")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("m").desc(), F.col("c").asc()
    )
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        pred.groupBy(
            F.when(F.col("is_train"), "train").otherwise("eval").alias(
                "split"
            ),
            F.col("label").alias("true_label"),
            F.col("c").alias("pred_label"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
