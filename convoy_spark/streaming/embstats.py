"""Streaming per-dimension embedding moments — the drift monitor a
continuously-embedded corpus runs: per micro-batch, fold each
dimension's (count, Σx, Σx²) into a persisted moments store; query
time derives mean/variance per dimension from the store alone.
Embedding-distribution drift (encoder swaps, corrupt batches,
collapsed dimensions) shows up here before it poisons ANN/PCA.

Exactness: sums accumulate as Σ⌊x·2⁴⁰⌋ in DECIMAL(38,0) — the PCA
module's scaled-long chain (operators/pca.py header): float32→double
is exact, power-of-two scaling is exact, floor is exact, and integer
sums are exact AND associative, so folding any chunking of the corpus
in any order yields BIT-IDENTICAL moments to one batch pass (tested),
and the derived mean/variance are single deterministic double
expressions over equal integers.

State layout: a fragment store ``deltas/batch-<tag>`` (the
streaming/util.py contract) rather than a mutable running total — a
replayed epoch overwrites ITS OWN delta instead of double-adding into
a total. The store read aggregates all deltas: dim-count × batches
rows of integers, trivial at any scale, and compactable offline by
replacing deltas with their sum (same schema).

100 TB posture: the per-batch delta is dim rows (one narrow
map-side-combined aggregation over the batch); the query-side
aggregation is over dim × batches rows. Nothing is ever re-scanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from convoy_spark.operators.pca import PSCALE
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

EMB_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)

MOMENTS_SCHEMA = "d int, n long, s decimal(38,0), s2 decimal(38,0)"


def _dim_deltas(vectors: DataFrame) -> DataFrame:
    """(d, n, s, s2) — one row per dimension of exact scaled-long
    partial sums over ``vectors``."""
    ex = vectors.select(
        F.posexplode("embedding").alias("d", "x")
    ).withColumn("x", F.col("x").cast("double"))
    q = F.floor(F.col("x") * F.lit(float(PSCALE))).cast("decimal(38,0)")
    q2 = F.floor(F.col("x") * F.col("x") * F.lit(float(PSCALE))).cast(
        "decimal(38,0)"
    )
    return ex.groupBy("d").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("s"),
        F.sum(q2).alias("s2"),
    )


def apply_embstats_batch(
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
) -> None:
    """Fold one micro-batch of (vec_id, embedding): write its
    per-dimension delta to the batch's own partition (idempotent
    under replay — the replayed batch overwrites itself)."""
    _dim_deltas(batch).write.mode("overwrite").parquet(
        fragment_path(state_dir, "deltas", batch_tag)
    )


def run_incremental_embstats(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all embedding files present into the moments store; stop
    when caught up. Re-running with the same checkpoint processes
    only new files."""
    drain(
        stream_parquet(spark, landing_dir, EMB_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_embstats_batch(b, state_dir, tag),
    )


def _moments_from_sums(agg: DataFrame) -> DataFrame:
    scale = float(PSCALE)
    mean = (F.col("s").cast("double") / F.lit(scale)) / F.col("n")
    ex2 = (F.col("s2").cast("double") / F.lit(scale)) / F.col("n")
    return agg.select(
        "d",
        "n",
        mean.alias("mean"),
        (ex2 - mean * mean).alias("variance"),
    )


def embedding_moments(spark: SparkSession, state_dir: str) -> DataFrame:
    """(d, n, mean, variance) from the persisted delta store alone;
    an absent store (fresh deployment, state wipe) yields zero rows."""
    deltas = read_fragments(
        spark, os.path.join(state_dir, "deltas"), MOMENTS_SCHEMA
    )
    return _moments_from_sums(
        deltas.groupBy("d").agg(
            F.sum("n").alias("n"),
            F.sum("s").cast("decimal(38,0)").alias("s"),
            F.sum("s2").cast("decimal(38,0)").alias("s2"),
        )
    )


def batch_moments(vectors: DataFrame) -> DataFrame:
    """The one-pass batch twin of :func:`embedding_moments` — same
    exact integer sums, so stream == batch bit-for-bit."""
    return _moments_from_sums(_dim_deltas(vectors))


__all__ = [
    "EMB_STREAM_SCHEMA",
    "MOMENTS_SCHEMA",
    "apply_embstats_batch",
    "batch_moments",
    "embedding_moments",
    "run_incremental_embstats",
]
