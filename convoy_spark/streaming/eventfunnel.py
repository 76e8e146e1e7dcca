"""Streaming event-funnel conversion — the online twin of
``queries/eventwin.py::event_funnel_conversion``: as event batches
arrive, persist only the funnel-relevant events into an append-only
per-batch delta store; the funnel summary is answered from the store
alone through the SAME shared ``funnel_rollup`` the batch query runs,
so stream == batch by construction (tested under chunked and
out-of-order delivery).

Why store events rather than per-user chain state: the greedy chain
is NOT incrementally maintainable from bounded per-user state under
out-of-order arrival — a 'view' arriving late can LOWER a user's t1,
which re-anchors the step-2 window onto clicks that were previously
ineligible and already discarded. Keeping the funnel-step events
themselves (a map-side filter of each batch — only FUNNEL_STEPS
types persist, the store is funnel-activity-proportional, never
full-stream-proportional) makes every answer exact at any arrival
order, the ``streaming/index.py`` append-only-store contract.

State layout: a fragment store ``steps/batch-<tag>`` (the
streaming/util.py contract) — a replayed batch overwrites ITS OWN
partition instead of double-inserting (tested).

100 TB posture: per batch one filtered append (no shuffle); the
query-side chain is k user-keyed aggregations + joins over the
funnel-event store (monotonically shrinking frames). On a cluster
the store becomes a bucketBy(user_id) table through streaming/util's
catalog machinery — the same documented swap-in as every other store
here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from convoy_spark.queries.eventwin import FUNNEL_STEPS, funnel_rollup
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

STEPS_SCHEMA = "user_id long, event_type string, ts timestamp"


def apply_funnel_batch(
    batch: DataFrame, state_dir: str, batch_tag: str
) -> None:
    """Persist one micro-batch's funnel-step events into the batch's
    own delta partition (idempotent under replay)."""
    (
        batch.select("user_id", "event_type", "ts")
        .filter(F.col("event_type").isin(list(FUNNEL_STEPS)))
        .write.mode("overwrite")
        .parquet(fragment_path(state_dir, "steps", batch_tag))
    )


def run_incremental_funnel(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all event files present into the step store; stop when
    caught up. Re-running with the same checkpoint processes only new
    files."""
    drain(
        stream_parquet(spark, landing_dir, EVENT_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_funnel_batch(b, state_dir, tag),
    )


def load_step_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """The accumulated funnel-step events; absent store → zero rows
    (fresh deployment / state wipe)."""
    return read_fragments(
        spark, os.path.join(state_dir, "steps"), STEPS_SCHEMA
    )


def funnel_over_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """(step, step_name, n_users, conv_from_prev) from the persisted
    store alone — the same shared rollup the batch query runs, so a
    fully-drained stream answers IDENTICALLY to the batch operator."""
    return funnel_rollup(load_step_store(spark, state_dir))


__all__ = [
    "EVENT_STREAM_SCHEMA",
    "STEPS_SCHEMA",
    "apply_funnel_batch",
    "funnel_over_store",
    "load_step_store",
    "run_incremental_funnel",
]
