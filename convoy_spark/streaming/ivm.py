"""Streaming incremental view maintenance — the online form of
``queries/relational.py::ivm_rollup_merge``: each micro-batch of fact
rows is pre-aggregated to MERGEABLE view partials
(``rollup_partials``: count, DECIMAL sums, min/max) and written to the
batch's own delta partition; the served view is one keyed
re-aggregation over the delta store (``merge_rollup_partials``'s
algebra applied across all deltas at once). Because the stored sums
stay decimal, any chunking in any arrival order folds to a view
BIT-IDENTICAL to the one-pass batch rollup (tested) — the property
the batch module's strict pytests established (double-typed partials
re-summed at merge time drift by 1 ulp).

State layout: a fragment store ``partials/batch-<tag>`` (the
streaming/util.py contract — a replayed batch overwrites ITS OWN
delta, tested). Deltas are compactable offline by
replacing any subset with its merge (same schema — associativity is
pytest-proven in tests/test_ivm.py).

100 TB posture: per batch one map-side-combined aggregation whose
output is |touched keys| rows; the view read aggregates
|keys| × |batches| partial rows — compaction bounds the factor. No
fact row is ever re-scanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from convoy_spark.functions.numeric import DEC_MERGED
from convoy_spark.queries.relational import rollup_partials
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

LINEITEM_STREAM_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_partkey", LongType()),
        StructField("l_suppkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", DoubleType()),
        StructField("l_extendedprice", DoubleType()),
        StructField("l_discount", DoubleType()),
        StructField("l_tax", DoubleType()),
        StructField("l_returnflag", StringType()),
        StructField("l_linestatus", StringType()),
        StructField("l_shipdate", TimestampType()),
    ]
)

PARTIALS_SCHEMA = (
    f"l_orderkey long, n_items long, sum_qty {DEC_MERGED},"
    f" revenue {DEC_MERGED}, first_ship timestamp, last_ship timestamp"
)


def apply_ivm_batch(batch: DataFrame, state_dir: str, batch_tag: str) -> None:
    """Fold one micro-batch of fact rows into the batch's own delta
    partition of view partials (idempotent under replay)."""
    rollup_partials(batch).write.mode("overwrite").parquet(
        fragment_path(state_dir, "partials", batch_tag)
    )


def run_incremental_ivm(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all fact files present into the partials store; stop when
    caught up. Re-running with the same checkpoint processes only new
    files."""
    drain(
        stream_parquet(spark, landing_dir, LINEITEM_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_ivm_batch(b, state_dir, tag),
    )


def load_partials_store(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_fragments(
        spark, os.path.join(state_dir, "partials"), PARTIALS_SCHEMA
    )


def view_over_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained rollup view from the delta store alone — one
    keyed re-aggregation of all persisted partials (the
    merge_rollup_partials algebra over N deltas at once), re-narrowed
    to the stored schema so the result IS a valid partial (further
    merges / compaction never widen)."""
    deltas = load_partials_store(spark, state_dir)
    return deltas.groupBy("l_orderkey").agg(
        F.sum("n_items").cast("long").alias("n_items"),
        F.sum("sum_qty").cast(DEC_MERGED).alias("sum_qty"),
        F.sum("revenue").cast(DEC_MERGED).alias("revenue"),
        F.min("first_ship").alias("first_ship"),
        F.max("last_ship").alias("last_ship"),
    )


__all__ = [
    "LINEITEM_STREAM_SCHEMA",
    "PARTIALS_SCHEMA",
    "apply_ivm_batch",
    "load_partials_store",
    "run_incremental_ivm",
    "view_over_store",
]
