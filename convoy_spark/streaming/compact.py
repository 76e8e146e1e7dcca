"""Offline compaction for the fragment stores (streaming/util.py) —
the maintenance job the ``streaming/embstats.py`` moments and
``streaming/mixture.py`` counts layouts promise: replace N batch-delta partitions with ONE summed partition of
the same schema, so store reads stop growing with batch count while
every derived quantity stays BIT-IDENTICAL (the deltas are integer /
decimal partial sums — exact and associative, so summing them first
changes nothing; tested).

Safety contract: compaction must never run concurrently with a drain
(it rewrites the directory the streaming side appends partitions
into), and only after a drain COMPLETED CLEANLY — a crashed drain's
uncommitted last batch will re-apply on restart, and if its delta was
already folded into the compacted partition the re-applied partition
would double-count (the per-batch overwrite fence protects against
replay of an EXISTING partition, which compaction removes). Complete
or discard the drain first. Crash atomicity of compaction itself: the
compacted partition is written to a temp path first, then swapped in
via directory renames — a crash mid-compaction leaves either the old
deltas or the finished compact partition, never a partial mix.

The DECISIONS store of the mixture sampler is NOT compactable — its
rows are the training manifest itself, not partial sums.

100 TB posture: compaction cost is one read+agg over domains×batches
(mixture) or dims×batches (embstats) rows — trivial next to any data
batch — and caps the per-batch store-read cost at O(domains) /
O(dims) regardless of stream lifetime.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from convoy_spark.streaming.util import read_fragments


def _swap_in(compacted_tmp: str, deltas_dir: str) -> None:
    """Atomically-enough replace ``deltas_dir`` with the single
    compacted partition: old dir moved aside, tmp moved in, old dir
    removed. A crash between the moves leaves a recoverable state
    (either the old store or the new one, flagged by the .old
    suffix), never a double-counting mix."""
    old = deltas_dir + ".old"
    os.rename(deltas_dir, old)
    os.makedirs(deltas_dir)
    os.rename(compacted_tmp, os.path.join(deltas_dir, "batch-compacted"))
    shutil.rmtree(old)


def compact_embstats(spark: SparkSession, state_dir: str) -> int:
    """Compact the embedding-moments delta store; returns the number
    of delta rows replaced. No-op (returns 0) on a missing store."""
    from convoy_spark.streaming.embstats import MOMENTS_SCHEMA

    deltas_dir = os.path.join(state_dir, "deltas")
    if not os.path.isdir(deltas_dir):
        return 0
    deltas = read_fragments(spark, deltas_dir, MOMENTS_SCHEMA)
    n = deltas.count()
    summed = deltas.groupBy("d").agg(
        F.sum("n").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("s"),
        F.sum("s2").cast("decimal(38,0)").alias("s2"),
    )
    tmp = os.path.join(state_dir, "_compact_tmp")
    summed.write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, deltas_dir)
    return n


def compact_mixture_counts(spark: SparkSession, state_dir: str) -> int:
    """Compact the quota sampler's counts store (the decisions
    manifest is left untouched — it is data, not partial sums)."""
    from convoy_spark.streaming.mixture import COUNTS_SCHEMA

    counts_dir = os.path.join(state_dir, "counts")
    if not os.path.isdir(counts_dir):
        return 0
    deltas = read_fragments(spark, counts_dir, COUNTS_SCHEMA)
    n = deltas.count()
    summed = deltas.groupBy("domain").agg(
        F.sum("n").cast("long").alias("n")
    )
    tmp = os.path.join(state_dir, "_compact_tmp")
    summed.write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, counts_dir)
    return n


def compact_ivm_partials(spark: SparkSession, state_dir: str) -> int:
    """Compact the streaming-IVM partials store: replace all per-batch
    delta partitions with their single merged partial table — valid
    because the merged view IS a partial of the same schema
    (streaming/ivm.py::view_over_store re-narrows; associativity is
    pytest-proven). Returns the number of partial rows replaced; no-op
    (0) on a missing store."""
    from convoy_spark.streaming.ivm import load_partials_store, view_over_store

    deltas_dir = os.path.join(state_dir, "partials")
    if not os.path.isdir(deltas_dir):
        return 0
    n = load_partials_store(spark, state_dir).count()
    merged = view_over_store(spark, state_dir)
    tmp = os.path.join(state_dir, "_compact_tmp")
    merged.write.mode("overwrite").parquet(tmp)
    _swap_in(tmp, deltas_dir)
    return n


def compact_hardneg(spark: SparkSession, state_dir: str) -> int:
    """Compact the hard-negative miner's per-batch top stores
    (streaming/hardneg.py): replace the N batch-local top partitions
    with ONE partition holding the global re-ranked tops. Valid
    because bounded top-k under a deterministic total order is a
    SEMIGROUP fold — top_k(top_k(A) ∪ top_k(B)) = top_k(A ∪ B) — so
    the compacted store plus any future batch's local tops still
    merges to the exact global answer (tested: mine → compact → mine
    more → still bit-equal to the one-pass batch twin).

    Pins the store to the module's K_SHORT/K_TRUTH: reads asking for
    a LARGER k after compaction would be short (the discarded tail is
    gone) — the same contract as every lossy-beyond-k top store, and
    it is ENFORCED: a ``_compacted_k.json`` marker records each
    store's compaction-time k, and hardneg.mined_negatives raises
    when asked beyond it (re-compaction keeps the tightest bound).
    Returns the number of delta rows replaced; 0 on a missing store."""
    import json

    from convoy_spark.streaming.hardneg import (
        COMPACT_MARKER,
        HN_SHORT_SCHEMA,
        HN_TRUTH_SCHEMA,
        K_SHORT,
        K_TRUTH,
        _rerank_top,
        compacted_k_bounds,
    )

    replaced = 0
    bounds = compacted_k_bounds(state_dir)
    for kind, schema, order_col, k in [
        ("hn_short", HN_SHORT_SCHEMA, "adist", K_SHORT),
        ("hn_truth", HN_TRUTH_SCHEMA, "dnum", K_TRUTH),
    ]:
        deltas_dir = os.path.join(state_dir, kind)
        if not os.path.isdir(deltas_dir):
            continue
        rows = read_fragments(spark, deltas_dir, schema).distinct()
        replaced += rows.count()
        top = _rerank_top(rows, order_col, k)
        tmp = os.path.join(state_dir, "_compact_tmp")
        top.write.mode("overwrite").parquet(tmp)
        _swap_in(tmp, deltas_dir)
        bounds[kind] = min(k, bounds.get(kind, k))
    if bounds:
        with open(os.path.join(state_dir, COMPACT_MARKER), "w") as f:
            json.dump(bounds, f)
    return replaced


__all__ = [
    "compact_embstats",
    "compact_hardneg",
    "compact_ivm_partials",
    "compact_mixture_counts",
]
