"""Streaming corpus funnel — the composed preprocessing pipeline
(`queries/funnel.py::corpus_funnel`) in its production shape: a
continuously-fed landing directory drained micro-batch by micro-batch.

Stage structure per batch:

1. **Stateless gates** (quality, repetition, language) — pure per-doc
   transforms, identical plans to the batch funnel, no state;
2. **Exact-dedup gate** — the persisted first-arrival-wins content-
   hash map from `streaming/dedup.py` (its batch-fold logic is reused
   verbatim, gates simply run in front of it);
3. **Split selection** — the deterministic salted-hash split column,
   stateless by construction (engine/cluster/batch-order stable).

Equivalence contract (tested): draining any IN-ORDER chunking of a
corpus yields exactly the batch funnel's surviving train-split
document set. Out-of-order arrival differs only in the dedup stage's
canonical CHOICE (first crawl wins instead of min id — the
operationally correct behavior inherited from streaming/dedup.py,
whose tests pin it).

100 TB posture: stages 1 and 3 are scan-side expression work on the
batch only; stage 2 is one keyed anti-join against the persisted map
(O(batch), Delta-MERGE swap-in documented at COVERAGE.md S8). Nothing
in the funnel ever re-touches history except by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from convoy_spark.operators.textops import repetition_signals, text_quality
from convoy_spark.queries.dedup import _split_col
from convoy_spark.queries.funnel import FUNNEL_LANG
from convoy_spark.streaming.dedup import apply_doc_batch
from convoy_spark.streaming.util import drain, stream_parquet

FUNNEL_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stateless_gates(batch: DataFrame) -> DataFrame:
    """quality ∧ repetition ∧ language — per-doc transforms identical
    to the batch funnel's first three cumulative stages."""
    q = text_quality(batch).select(
        "doc_id", F.col("passes_filter").alias("q_ok")
    )
    r = repetition_signals(batch).select(
        "doc_id", F.col("passes_repetition_filter").alias("r_ok")
    )
    return (
        batch.join(q, "doc_id", "left")
        .join(r, "doc_id", "left")
        .filter(
            F.coalesce("q_ok", F.lit(False))
            & F.coalesce("r_ok", F.lit(False))
            & (F.col("lang") == FUNNEL_LANG)
        )
        .select("doc_id", "text")
    )


def apply_funnel_batch(
    spark: SparkSession,
    batch: DataFrame,
    seen_path: str,
    kept_sink,
) -> None:
    """Fold one micro-batch through gates → dedup map → train split;
    deliver surviving (doc_id, text) rows to ``kept_sink(df)``."""
    survivors = stateless_gates(batch)

    def after_dedup(kept: DataFrame) -> None:
        kept_sink(
            kept.withColumn("split", _split_col())
            .filter(F.col("split") == "train")
            .select("doc_id", "text")
        )

    apply_doc_batch(spark, survivors, seen_path, after_dedup)


def run_streaming_funnel(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    seen_path: str,
    kept_sink,
) -> None:
    """Drain all document files present through the funnel; stop when
    caught up. Re-running with the same checkpoint processes only new
    files."""
    drain(
        stream_parquet(spark, landing_dir, FUNNEL_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, _tag: apply_funnel_batch(spark, b, seen_path, kept_sink),
    )


__all__ = [
    "FUNNEL_STREAM_SCHEMA",
    "apply_funnel_batch",
    "run_streaming_funnel",
    "stateless_gates",
]
