"""Streaming twin of the exact suffix-repeat audit — an append-only
token-position store feeding a PERIODIC batch re-rank, with the
design note on why nothing stronger is exactly mergeable (the round-8
verdict #8 deliverable; the OPQ measured-decline precedent applied to
state design).

**Why per-batch class deltas do NOT merge.** The batch operator
(operators/suffix.py) represents "these two corpus positions start
the same ``window``-token sequence" as equality of a CLASS ID built
by prefix doubling: the class's first corpus occurrence,
``min(struct(doc_id, pos))`` over its positions. That id is
corpus-relative:

- a batch holding an occurrence that sorts before a class's current
  first occurrence (doc ids carry no arrival order) changes that
  class's id, and the change cascades through all log₂(window)
  doubling rounds, because round k+1's keys are PAIRS of round-k ids
  — a corpus-wide re-keying, not a per-batch delta;
- even where the ids happen to stay put, classing a new position
  needs every round's (pair key → class id) table — log₂(window)
  corpus-sized tables kept beside the store;
- the only batch-local key that survives corpus growth is the window
  CONTENT itself (the ``window``-token sequence), which is
  Θ(window) tokens per position — a window-times blowup of the store.
  Replacing it with a fixed-width content HASH makes the classes
  mergeable and compact but PROBABILISTIC — surrendering exactly the
  exactness contract that distinguishes this operator from the
  sampled span/gram members (span_dedup, substring_dup_pairs);
- the per-doc profile columns (n_repeat_windows, n_crossdoc_windows)
  are not monotone under corpus growth for *other* documents — a new
  batch can turn any existing unique window into a repeat, so every
  stored doc's row is invalidated by any batch: the OUTPUT is not
  incrementally maintainable either, independent of the rank
  representation.

**What IS exactly mergeable:** the token-position store itself.
Tokenization is per-doc (embarrassingly append-only), so each batch
pays its own tokenize exactly once and appends (doc_id, pos, tok)
rows; the ranking is recomputed over the ACCUMULATED store on demand
— the compaction-style cadence Lee et al. use (suffix arrays are
rebuilt per corpus snapshot, never patched). Cost honesty: the store
is corpus-sized (every token, with its position — the audit's
information-theoretic floor), and each re-rank is the full
prefix-doubling run over it; the streaming win is confined to the
tokenize amortization and the landing-file bookkeeping.

State layout (a fragment store, the streaming/util.py contract — a
replayed batch overwrites ITS OWN partition, never double-adds):

- ``deltas/batch-<tag>/positions``: (seq, doc_id, pos, tok) — the
  batch's token positions; written FIRST;
- ``deltas/batch-<tag>/docs``: (seq, doc_id, n_toks) — the batch's
  doc universe (zero-token docs included — the explicit-zero rows of
  the profile need them). Written LAST, so it is the batch's commit
  marker: a crash between the writes replays into an overwrite of
  both.

Stream == batch: :func:`suffix_repeat_over_store` feeds the
accumulated positions into the SAME
:func:`~convoy_spark.operators.suffix.crossdoc_repeat_profile`
definition the catalog query runs, so the profile over a drained
store equals the batch operator over the same corpus bitwise
(tested, any chunking)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from convoy_spark.operators.suffix import crossdoc_repeat_profile, token_positions
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    fragment_seq,
    read_fragment_kind,
    stream_parquet,
)

POS_SCHEMA = "seq long, doc_id long, pos int, tok string"
DOCS_SCHEMA = "seq long, doc_id long, n_toks long"


def apply_suffix_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
) -> None:
    """Fold one micro-batch of (doc_id, text): tokenize once, append
    the batch's positions + doc universe to its own delta partition
    (idempotent under replay — the util.fragment_seq clock, with the
    docs file as commit marker)."""
    base = fragment_path(state_dir, "deltas", batch_tag)
    pos_path = os.path.join(base, "positions")
    docs_path = os.path.join(base, "docs")
    seq = fragment_seq(
        spark, state_dir, "deltas", batch_tag,
        (("docs", DOCS_SCHEMA), ("positions", POS_SCHEMA)),
    )

    pos = token_positions(batch).localCheckpoint()
    pos.select(
        F.lit(seq).cast("long").alias("seq"),
        "doc_id",
        F.col("pos").cast("int"),
        "tok",
    ).write.mode("overwrite").parquet(pos_path)
    universe = (
        batch.select(F.col("doc_id").cast("long"))
        .distinct()
        .join(
            pos.groupBy("doc_id").agg(F.count("*").alias("n_toks")),
            "doc_id",
            "left",
        )
        .select(
            F.lit(seq).cast("long").alias("seq"),
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
        )
    )
    universe.write.mode("overwrite").parquet(docs_path)


def run_incremental_suffix_store(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all document files present into the position store; stop
    when caught up. Re-running with the same checkpoint processes only
    new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_suffix_batch(spark, b, state_dir, tag),
    )


def suffix_repeat_over_store(spark: SparkSession, state_dir: str) -> DataFrame:
    """The periodic re-rank: run the batch prefix-doubling audit over
    the ACCUMULATED position store. Only COMMITTED batches (the docs
    marker in the SAME batch-<tag> dir — not merely a matching seq,
    which a second checkpoint lineage can collide on) contribute — a
    crash-torn positions partition without its own marker is excluded
    until its replay commits it, and each doc's positions come from
    one committed batch. Returns the same (doc_id, n_windows,
    n_repeat_windows, n_crossdoc_windows) frame as the catalog query,
    bitwise."""
    deltas = os.path.join(state_dir, "deltas")
    # The lead() pairing in operators.suffix needs unique (doc_id, pos),
    # so a doc committed by more than one batch (two checkpoint
    # lineages over the same landing files, or a re-landed doc) takes
    # its positions from its first committed batch only.
    tag = F.regexp_extract(F.input_file_name(), r"/batch-([^/]+)/positions/", 1)
    pos = (
        read_fragment_kind(spark, deltas, "positions", POS_SCHEMA, commit="docs")
        .select("doc_id", "pos", "tok", F.struct("seq", tag).alias("batch"))
        .withColumn("first", F.min("batch").over(Window.partitionBy("doc_id")))
        .filter(F.col("batch") == F.col("first"))
        .select("doc_id", "pos", "tok")
        .localCheckpoint(eager=False)
    )
    universe = (
        read_fragment_kind(spark, deltas, "docs", DOCS_SCHEMA)
        .select("doc_id")
        .distinct()
    )
    return crossdoc_repeat_profile(universe, positions=pos)


__all__ = [
    "DOCS_SCHEMA",
    "POS_SCHEMA",
    "apply_suffix_batch",
    "run_incremental_suffix_store",
    "suffix_repeat_over_store",
]
