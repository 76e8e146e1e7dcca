"""Streaming decontamination — the online half of the Bloom-pruned
eval-overlap check (queries/dedup.py::bloom_decontaminate): the eval
benchmark suite is FROZEN (it changes on eval-release cadence, not
ingest cadence), and every arriving micro-batch of train documents is
probed against the frozen filter, emitting its per-doc contamination
funnel rows to an append-only delta store. A continuously-ingested
corpus gets per-doc decontamination verdicts without ever re-touching
old documents — the decontamination analogue of streaming/pqencode's
frozen-codebook encode.

Exactness: a doc's funnel row (n_grams, n_bloom_candidates,
n_true_hits, contaminated) is a pure deterministic function of (its
own text, the frozen eval gram set) — the probe is
operators/dedup.py::bloom_decontaminate applied to the batch's grams
against the STORED eval grams, so the bitset arithmetic is shared
wholesale with the hash-checked catalog query and cannot drift. Any
chunking of the corpus in any delivery order yields rows
bit-identical to the one-pass batch twin (tested); re-delivered docs
produce byte-identical rows that one DISTINCT collapses.

Deliberate deviation from the catalog query, documented: the catalog
form caps stop-grams by corpus-wide document frequency before the
split — a skew guard for its train↔eval equi-join heritage
(ngram_contamination). The streaming probe has no corpus-sided join
to protect (the filter legs are broadcast O(1) lookups) and a
frequency cap over a stream would make old verdicts depend on future
batches, so the online form probes UNCAPPED grams; its batch twin
(:func:`batch_funnel`) computes the same uncapped form, which is what
the stream==batch equality is stated against.

State layout:
- ``eval_grams/`` — the frozen distinct eval 13-gram hashes, written
  once by :func:`freeze_eval_filter` (the bitset is re-derived from
  it per batch — eval suites are tiny, and re-deriving shares every
  bit of arithmetic with the catalog operator);
- ``funnel/batch-<tag>`` — a fragment store (the streaming/util.py
  contract).

100 TB posture: per batch — one Generate over the batch's docs, k
broadcast filter-leg joins, one doc-keyed agg; batch-proportional,
independent of both store size and corpus history. The store read is
row-per-train-doc (the verdict table itself).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from convoy_spark.operators.dedup import bloom_decontaminate, shingle_hashes
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

FUNNEL_SCHEMA = (
    "train_doc long, n_grams long, n_bloom_candidates long,"
    " n_true_hits long, contaminated boolean"
)
DECONTAM_N = 13  # = queries/dedup.py::NGRAM_CONTAM_N


def freeze_eval_filter(eval_docs: DataFrame, state_dir: str) -> None:
    """Persist the frozen eval suite's distinct 13-gram hashes."""
    shingle_hashes(eval_docs, n=DECONTAM_N).select("h").distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(state_dir, "eval_grams"))


def _load_eval_grams(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(state_dir, "eval_grams"))


def apply_decontam_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_tag: str,
) -> None:
    """Probe one micro-batch of (doc_id, text) train docs against the
    frozen filter; write its funnel rows to the batch's own delta
    partition (idempotent under replay)."""
    if batch_docs.isEmpty():
        return
    ev = _load_eval_grams(spark, state_dir)
    funnel = bloom_decontaminate(
        shingle_hashes(batch_docs, n=DECONTAM_N), ev
    )
    funnel.write.mode("overwrite").parquet(
        fragment_path(state_dir, "funnel", batch_tag)
    )


def run_incremental_decontam(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all document files present into the funnel store; stop
    when caught up (availableNow)."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_decontam_batch(spark, b, state_dir, tag),
    )


def decontam_funnel(spark: SparkSession, state_dir: str) -> DataFrame:
    """The verdict table from the persisted store alone; DISTINCT
    collapses cross-drain re-deliveries (rows are pure functions of
    doc + frozen filter, so duplicates are byte-identical). An absent
    store yields zero rows."""
    return read_fragments(
        spark, os.path.join(state_dir, "funnel"), FUNNEL_SCHEMA
    ).distinct()


def batch_funnel(
    spark: SparkSession, corpus_docs: DataFrame, state_dir: str
) -> DataFrame:
    """One-pass batch twin over the same frozen filter — stream ==
    batch bit-for-bit."""
    ev = _load_eval_grams(spark, state_dir)
    return bloom_decontaminate(
        shingle_hashes(corpus_docs, n=DECONTAM_N), ev
    )


__all__ = [
    "DECONTAM_N",
    "FUNNEL_SCHEMA",
    "apply_decontam_batch",
    "batch_funnel",
    "decontam_funnel",
    "freeze_eval_filter",
    "run_incremental_decontam",
]
