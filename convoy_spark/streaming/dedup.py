"""Streaming incremental exact dedup — the content-hash gate a
continuously-fed corpus runs in front of everything else.

Batch exact dedup (`operators/dedup.py::exact_dedup_map`) picks the
min-id canonical per content hash over the WHOLE corpus; a streaming
pipeline cannot re-scan the corpus per drop. This module keeps a
persisted (content_hash, canonical_id) map and folds each micro-batch
in: unseen hashes register their (within-batch min-id) document as
canonical and pass through; documents whose hash is already mapped
are dropped as duplicates. First-arrival-wins across batches — the
reference's INSERT IGNORE semantics (`1_initial_load.py:218-224`)
applied to content identity; within a batch the winner is the min
doc_id (partition-order independent). When drops arrive in id order
the result equals the batch dedup exactly (tested); out-of-order
arrival keeps the earlier crawl's copy, which is the operationally
correct choice for a crawl pipeline.

Per-batch cost: hash the batch, one anti-join against the map keyed
on content_hash (join-key pruned), append the new rows — O(batch),
never O(corpus). The parquet map becomes a Delta/Iceberg MERGE target
on a real deployment (COVERAGE.md S8 note), same dataflow.
``trigger(availableNow=True)`` + checkpoint = drain-and-stop resume,
like every other incremental stage here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from convoy_spark.functions.hashing import hash60
from convoy_spark.streaming.util import drain, stream_parquet

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

SEEN_SCHEMA = "content_hash long, canonical_id long"


def load_seen(spark: SparkSession, seen_path: str) -> DataFrame:
    if os.path.isdir(seen_path):
        return spark.read.parquet(seen_path)
    return spark.createDataFrame([], SEEN_SCHEMA)


def apply_doc_batch(
    spark: SparkSession,
    batch: DataFrame,
    seen_path: str,
    kept_sink,
) -> None:
    """Fold one micro-batch: register unseen hashes (min doc_id wins
    within the batch), drop already-seen content, deliver kept rows to
    ``kept_sink(df)``."""
    hashed = batch.select(
        "doc_id", "text", hash60(F.col("text")).alias("content_hash")
    )
    seen = load_seen(spark, seen_path)
    fresh = hashed.join(seen, "content_hash", "left_anti")
    winners = (
        fresh.groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"))
        .localCheckpoint()
    )
    kept = (
        fresh.join(winners, "content_hash")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "text", "content_hash")
        .localCheckpoint()
    )
    kept_sink(kept)
    updated = seen.unionByName(
        winners.select("content_hash", "canonical_id")
    ).localCheckpoint()
    updated.write.mode("overwrite").parquet(seen_path)


def run_incremental_dedup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    seen_path: str,
    kept_sink,
) -> None:
    """Drain all document files present, deduping each batch against
    the persisted seen-hash map; stop when caught up. Re-running with
    the same checkpoint processes only new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, _tag: apply_doc_batch(spark, b, seen_path, kept_sink),
    )


__all__ = [
    "DOC_STREAM_SCHEMA",
    "apply_doc_batch",
    "load_seen",
    "run_incremental_dedup",
]
