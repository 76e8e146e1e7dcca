"""Streaming SCD type-2 maintenance — the online form of
``queries/temporal.py::scd2_snapshot``: as event batches arrive, fold
each batch into a per-user dimension-history store and serve the full
type-2 validity table at any moment. This is the incremental
CDC→history MERGE a warehouse runs continuously, expressed as
append-only delta partitions instead of row mutations.

Design — RUN FRAGMENTS, not row updates. A batch may extend a user's
open run (same ``event_type`` continuing), which under a mutable store
is an UPDATE of the last history row. Instead each batch appends its
own run fragments — the batch's internal run-collapse, one row per
(user, consecutive-type run): ``(user_id, event_type, frag_start_us,
frag_end_us, n_events, first_event_id)`` — and the read-side view
collapses ADJACENT SAME-TYPE FRAGMENTS exactly the way the batch
operator collapses events. Because collapse is associative over
time-ordered segments, fragments-then-collapse equals
events-then-collapse whenever no two batches interleave one user's
timeline. Store size is runs-proportional (≪ events); the view's
window runs over fragments, never raw events.

Delivery contract: batches may arrive in any ORDER (the view sorts
fragments by start time), but one user's time ranges across batches
must be pairwise NON-OVERLAPPING — true for any CDC tail, including
replayed or re-ordered micro-batches of a tailing ingest. A genuinely
interleaved timeline (user u's batch-A events strictly between two
batch-B events) cannot be re-split fragment-side; such sources need
event-level replay into a fresh store (documented, tested as the
divergence case). Under the contract the streamed history is
bit-identical to ``scd2_snapshot`` over the union (tested: ordered,
out-of-order, chunk-boundary-splitting-a-run, replay).

Replay/crash: one fragment store (the streaming/util.py contract),
one write per batch into the batch's own partition — at-least-once
redelivery converges to identical bytes (no fence needed because
there is a single store).

100 TB posture: per batch one keyed window over the BATCH plus an
append; the history view is one keyed window over the fragment store
(runs-proportional). On a cluster the store would be bucketed by
user_id (`streaming/util.py` layout flag pattern) so the view's
window needs no exchange; offline compaction
(`streaming/compact.py`) rewrites N batch partitions into one
collapsed fragment set without changing the view's result
(associativity again).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

FRAG_SCHEMA = (
    "batch_tag string, user_id long, event_type string,"
    " frag_start_us long, frag_end_us long, n_events long,"
    " first_event_id long"
)

EVENT_CHUNK_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string"
)


def batch_fragments(batch: DataFrame) -> DataFrame:
    """Collapse one batch of (event_id, ts_us, user_id, event_type)
    into its run fragments — the same lag→flag→prefix-sum→group chain
    as the batch operator, over the batch alone."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("event_type").over(w)
    runs = batch.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    ).withColumn(
        "rid",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return runs.groupBy("user_id", "rid", "event_type").agg(
        F.min("ts_us").alias("frag_start_us"),
        F.max("ts_us").alias("frag_end_us"),
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event_id"),
    )


def apply_scd_batch(
    batch: DataFrame, state_dir: str, batch_tag: str
) -> None:
    """Fold one micro-batch into the fragment store (overwrite the
    batch's own partition — replay-idempotent)."""
    frags = batch_fragments(batch).select(
        F.lit(batch_tag).alias("batch_tag"),
        "user_id",
        "event_type",
        "frag_start_us",
        "frag_end_us",
        "n_events",
        "first_event_id",
    )
    frags.write.mode("overwrite").parquet(
        fragment_path(state_dir, "frags", batch_tag)
    )


def scd_history(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current SCD2 table: collapse adjacent same-type fragments
    per user (associativity makes this equal the event-level collapse
    under the delivery contract), then chain ``valid_to`` via lead.
    Output schema matches ``scd2_snapshot``: (user_id, run_id,
    event_type, valid_from, valid_to, n_events)."""
    frags = read_fragments(spark, os.path.join(state_dir, "frags"), FRAG_SCHEMA)
    w = Window.partitionBy("user_id").orderBy(
        "frag_start_us", "first_event_id"
    )
    prev = F.lag("event_type").over(w)
    runs = frags.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    grp = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("frag_start_us").alias("valid_from_us"),
        F.sum("n_events").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return grp.select(
        "user_id",
        "run_id",
        "event_type",
        F.timestamp_micros(F.col("valid_from_us")).alias("valid_from"),
        F.timestamp_micros(F.lead("valid_from_us").over(w2)).alias(
            "valid_to"
        ),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


def run_incremental_scd(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all event-chunk files present through the SCD maintainer;
    stop when caught up."""
    drain(
        stream_parquet(spark, landing_dir, EVENT_CHUNK_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_scd_batch(b, state_dir, tag),
    )


__all__ = [
    "EVENT_CHUNK_SCHEMA",
    "FRAG_SCHEMA",
    "apply_scd_batch",
    "batch_fragments",
    "run_incremental_scd",
    "scd_history",
]
