"""Streaming PQ encoding — the online half of the product-quantization
index (operators/pq.py): the codebook is trained OFFLINE and frozen
(the standard split for a production vector index — retraining
per-batch would silently re-key every previously written code), and
each arriving micro-batch of vectors is encoded against the frozen
codebook into an append-only code store. The store IS the compressed
index the ADC scan reads — a continuously-ingested corpus gets
searchable codes without ever re-touching old vectors.

Exactness: encoding is a pure deterministic function of (vector,
codebook) — the floor-scaled-long argmin of operators.pq._assign — so
any chunking of the corpus in any delivery order produces codes
BIT-IDENTICAL to the one-pass batch encode (tested), and re-delivered
vectors produce byte-identical duplicate rows that the store read
drops with one DISTINCT.

State layout:

- ``codebook/`` — the frozen (sub, cell, dsub, m) table, written once
  by :func:`freeze_codebook`;
- ``codes/batch-<tag>`` — a fragment store (the streaming/util.py
  contract): a replay overwrites its own partition instead of
  appending duplicates.

100 TB posture: the per-batch cost is one broadcast join (the
codebook is n_sub·ks·ds doubles — always broadcast) plus two keyed
aggregates over batch·n_sub rows — batch-proportional, independent of
store size. The store read is the code table itself (|N|·n_sub small
ints); on a cluster, bucketBy(vec_id) the delta partitions at
compaction time (streaming/compact.py) so ADC scans co-locate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.operators.pq import (
    PQ_ITERS,
    PQ_KS,
    _assign,
    _sub_exploded,
    ann_pq_adc_topk,
    pq_codebooks,
)
from convoy_spark.streaming.embstats import EMB_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

CODES_SCHEMA = "vec_id long, sub int, code int"


def freeze_codebook(
    train_corpus: DataFrame,
    state_dir: str,
    ks: int = PQ_KS,
    iters: int = PQ_ITERS,
) -> None:
    """Train the per-subspace codebooks on ``train_corpus`` (the
    deterministic Lloyd dataflow of operators.pq.pq_codebooks) and
    persist them as the stream's frozen quantizer."""
    codebook, _, _ = pq_codebooks(train_corpus, ks=ks, iters=iters)
    codebook.write.mode("overwrite").parquet(
        os.path.join(state_dir, "codebook")
    )


def _load_codebook(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, int, int]:
    cb = spark.read.parquet(os.path.join(state_dir, "codebook"))
    row = cb.agg(F.max("dsub"), F.max("cell")).first()  # bounded probe
    return cb, row[0] + 1, row[1] + 1


def apply_pqencode_batch(
    batch: DataFrame, state_dir: str, batch_tag: str
) -> None:
    """Encode one micro-batch of (vec_id, embedding) against the
    frozen codebook; write its codes to the batch's own delta
    partition (idempotent under replay)."""
    spark = batch.sparkSession
    cb, ds, ks = _load_codebook(spark, state_dir)
    codes = _assign(_sub_exploded(batch, ds), cb, ks)
    codes.select(
        "vec_id", F.col("sub").cast("int"), F.col("code").cast("int")
    ).write.mode("overwrite").parquet(
        fragment_path(state_dir, "codes", batch_tag)
    )


def run_incremental_pqencode(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all embedding files present into the code store; stop
    when caught up. Re-running with the same checkpoint processes
    only new files."""
    drain(
        stream_parquet(spark, landing_dir, EMB_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_pqencode_batch(b, state_dir, tag),
    )


def encoded_codes(spark: SparkSession, state_dir: str) -> DataFrame:
    """(vec_id, sub, code) — the compressed index from the persisted
    store alone. DISTINCT collapses cross-drain re-deliveries (codes
    are pure functions of the frozen codebook, so duplicates are
    byte-identical rows). An absent store yields zero rows."""
    return read_fragments(
        spark, os.path.join(state_dir, "codes"), CODES_SCHEMA
    ).distinct()


def batch_codes(
    spark: SparkSession, corpus: DataFrame, state_dir: str
) -> DataFrame:
    """The one-pass batch twin of :func:`encoded_codes`: encode the
    whole corpus against the same frozen codebook — stream == batch
    bit-for-bit."""
    cb, ds, ks = _load_codebook(spark, state_dir)
    return _assign(
        _sub_exploded(corpus, ds), cb, ks
    ).select(
        "vec_id", F.col("sub").cast("int"), F.col("code").cast("int")
    )


def adc_search_over_store(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """ADC top-k straight off the persisted store: the frozen codebook
    + the streamed code table ARE the index — a query never touches
    the original vectors. Because encoding is deterministic, results
    are bit-identical to searching a batch-built index over the same
    corpus (tested). Returns (query_id, corpus_id, adist, rank)."""
    cb = spark.read.parquet(os.path.join(state_dir, "codebook"))
    return ann_pq_adc_topk(queries, (cb, encoded_codes(spark, state_dir), None), k)


__all__ = [
    "CODES_SCHEMA",
    "adc_search_over_store",
    "apply_pqencode_batch",
    "batch_codes",
    "encoded_codes",
    "freeze_codebook",
    "run_incremental_pqencode",
]
