"""Streaming sequence packing — the online form of
``operators/loader.py::pack_sequences``: as document batches arrive,
lay them onto the SAME global token stream the batch operator defines
and emit each batch's packed-manifest rows (stream offset, owning
pack, boundary crossing) incrementally. This is how a continuous
loader writes training sequences while the crawl is still running.

Stream order: batches extend the stream in ARRIVAL order; within a
batch, docs are laid out in doc_id order (the batch operator's
order). When batches arrive in id-contiguous order the streamed
manifest is bit-identical to the batch operator over the union
(tested); out-of-order arrival produces the arrival-order stream —
documented, still offset-exact and gapless.

State: an ``offsets/batch-<tag>`` fragment per batch holding
(batch_tag, seq, total_tokens) — a LOGICAL CLOCK row (seq) plus the
batch's token total. A batch's base offset is the sum of totals of
all batches with smaller seq: reading the store is batches-count
rows, nothing corpus-proportional. Replay (foreachBatch is
at-least-once) reuses its OWN persisted seq if present, else
max(seq)+1 — both writes overwrite the batch's own partitions, so a
crash between the manifest write and the offsets write converges on
replay to identical rows (tested; the streaming/util.py contract).

100 TB posture: per batch, one keyed block-prefix window over the
batch (the shared two-phase scan) + a batches-count store read —
per-batch cost is O(batch), flat forever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.operators.loader import block_prefix_sum
from convoy_spark.functions.hashing import WS_SPLIT
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

OFFSETS_SCHEMA = "batch_tag string, seq long, total_tokens long"
PACKED_SCHEMA = (
    "batch_tag string, seq long, doc_id long, n_tokens long,"
    " start_offset long, pack_id long, crosses_boundary boolean"
)


def apply_pack_batch(
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
    seq_len: int = 1024,
) -> None:
    """Fold one micro-batch of (doc_id, text) onto the stream: compute
    the batch's global offsets from the offsets store + an in-batch
    block prefix scan, persist the manifest rows and the batch's
    offsets row (each overwriting its own partition)."""
    spark = batch.sparkSession
    off = read_fragments(
        spark, os.path.join(state_dir, "offsets"), OFFSETS_SCHEMA
    )
    own = off.filter(F.col("batch_tag") == batch_tag).select("seq").first()
    if own is not None:
        seq = own.seq  # replay: reuse the persisted clock position
    else:
        # A missing offsets row is either a genuinely new batch or a
        # crash between the manifest and offsets writes. Micro-batches
        # drain SEQUENTIALLY, so the interrupted batch is always the
        # newest one — max(seq)+1 reproduces exactly the seq it was
        # assigned before the crash, and the rewrite is bit-identical.
        row = off.agg(F.max("seq").alias("m")).first()
        seq = 0 if row.m is None else row.m + 1
    base = (
        off.filter(F.col("seq") < seq)
        .agg(F.coalesce(F.sum("total_tokens"), F.lit(0)).alias("b"))
        .first()
        .b
    )
    n_tok = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), WS_SPLIT),
            lambda t: t != F.lit(""),
        )
    ).cast("long")
    counted = batch.select("doc_id", n_tok.alias("n_tokens"))
    cum = block_prefix_sum(counted, "doc_id", "n_tokens", out_col="_cum")
    packed = cum.selectExpr(
        f"'{batch_tag}' AS batch_tag",
        f"CAST({seq} AS BIGINT) AS seq",
        "doc_id",
        "n_tokens",
        f"CAST({base} + _cum - n_tokens AS BIGINT) AS start_offset",
        f"CAST(({base} + _cum - n_tokens) DIV {int(seq_len)} AS BIGINT)"
        " AS pack_id",
        "CASE WHEN n_tokens > 0 THEN"
        f" (({base} + _cum - 1) DIV {int(seq_len)})"
        f" > (({base} + _cum - n_tokens) DIV {int(seq_len)})"
        " ELSE FALSE END AS crosses_boundary",
    )
    packed.write.mode("overwrite").parquet(
        fragment_path(state_dir, "packed", batch_tag)
    )
    total = (
        counted.agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"))
        .first()
        .t
    )
    spark.createDataFrame(
        [(batch_tag, seq, total)], OFFSETS_SCHEMA
    ).write.mode("overwrite").parquet(
        fragment_path(state_dir, "offsets", batch_tag)
    )


def run_incremental_pack(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    seq_len: int = 1024,
) -> None:
    """Drain all document files present through the packer; stop when
    caught up."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_pack_batch(b, state_dir, tag, seq_len),
    )


def packed_manifest(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, n_tokens, start_offset, pack_id, crosses_boundary) —
    the full streamed packing manifest (batch bookkeeping columns
    dropped; empty frame if no state yet)."""
    return read_fragments(
        spark, os.path.join(state_dir, "packed"), PACKED_SCHEMA
    ).select("doc_id", "n_tokens", "start_offset", "pack_id", "crosses_boundary")


def shard_manifest(
    spark: SparkSession, state_dir: str, shard_tokens: int = 1 << 20
) -> DataFrame:
    """(doc_id, n_tokens, start_offset, shard_id) — training shards
    cut from the STREAMED token stream (arrival order): a pure
    projection over the packed manifest, so shards can be emitted
    continuously as the stream grows — a shard is complete once a
    later batch pushes the stream total past its upper boundary,
    and completed shards never change (offsets are immutable). The
    arrival-order counterpart of the batch
    ``operators/loader.py::shard_assignment`` (which shards the
    epoch-shuffled order)."""
    return packed_manifest(spark, state_dir).selectExpr(
        "doc_id",
        "n_tokens",
        "start_offset",
        f"CAST(start_offset DIV {int(shard_tokens)} AS BIGINT) AS shard_id",
    )


__all__ = [
    "OFFSETS_SCHEMA",
    "PACKED_SCHEMA",
    "apply_pack_batch",
    "packed_manifest",
    "run_incremental_pack",
    "shard_manifest",
]
