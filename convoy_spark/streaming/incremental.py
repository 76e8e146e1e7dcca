"""Incremental ingest + event-time windowing (SURVEY §2.9, §7 M5).

The reference's fetcher (S2, `fetch_conversation_tweets.py:43-101`) is
a de-facto incremental source: append-only JSONL landing, a
per-page checkpoint file written after every page (`:78-85`), resume
by re-reading the status file (`:53-68`), failure quarantine
(`:87-98`). Structured Streaming restates the whole protocol as
configuration:

- the landing directory becomes a file stream source;
- ``trigger(availableNow=True)`` drains everything present and stops —
  the reference's "run until caught up" semantics;
- ``checkpointLocation`` replaces the hand-rolled status file: re-runs
  process only unseen files, exactly-once into the sink (the
  reference's INSERT IGNORE idempotence, for free);
- malformed inputs land in the DLQ column instead of a quarantine log.

Event-time windowing (tumbling/sliding + watermark) extends the
surface for the ``events`` table — the reference has no streaming
aggregation; its calendar bucketing (P7, `4_create_tweets_a.py:43`)
is the batch shadow of the same operation.

Scale: a file-stream source lists and splits like a batch scan —
``maxFilesPerTrigger`` bounds per-batch work; stateful aggregation
state is partitioned by group key across executors and RocksDB-backed
state stores are the production knob for 100 TB-scale cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from convoy_spark.functions.numeric import dsum
from convoy_spark.tables import table_path

TUMBLE_WIDTH = "1 hour"
WATERMARK_DELAY = "10 minutes"

# Explicit source schema — a stream cannot infer (SURVEY §1.4 applies:
# schema is declared, never guessed). The ts physical type differs by
# testdata generation (TIMESTAMP(NANOS) rounds 1–3, timestamp[us] NTZ
# round 4+; see tables.load_table), so the ts field is resolved per
# source dir by a footer-only probe of the batch reader's schema.
def _events_stream_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table with the same ts
    normalization as the batch path (tables.load_table)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = (
        spark.read.parquet(table_path(sf_dir, "events"))
        .schema["ts"]
        .dataType
    )
    # The file-stream source wants a *directory*; pathGlobFilter picks
    # the events table out of the shared sf dir.
    raw = (
        spark.readStream.schema(_events_stream_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_type.simpleString() == "bigint":
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per-(window, event_type) counts and decimal-exact value sums.
    Works identically on a batch or streaming DataFrame — the same
    declarative plan, which is the point."""
    return (
        events.groupBy(F.window("ts", TUMBLE_WIDTH), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    table_name: str = "stream_tumbling",
) -> None:
    """Drain the source through the windowed aggregation into an
    in-memory sink, then stop — the reference's checkpointed catch-up
    run. Calling it again with the same checkpoint reprocesses
    nothing (exactly-once)."""
    events = stream_events(spark, sf_dir).withWatermark("ts", WATERMARK_DELAY)
    q = (
        tumbling_agg(events)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stateful_user_totals(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    table_name: str = "stream_user_totals",
) -> None:
    """Custom stateful operator via ``applyInPandasWithState``
    (SURVEY §2.10 escape-hatch policy): per-user cumulative event
    count + value total carried in explicit state across micro-batches
    — the shape the reference's resumable per-conversation pagination
    state (S2) takes when the state is per *key* rather than per run.
    State lives in the state store partitioned by user_id; Arrow moves
    each group's batch, not the table.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    from convoy_spark.session import ensure_executor_imports

    ensure_executor_imports(spark)
    events = stream_events(spark, sf_dir)
    q = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
