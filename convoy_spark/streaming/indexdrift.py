"""Streaming index-freshness drift monitor — the retrieval-quality
companion to the incremental inverted index (`streaming/index.py`):
as batches fold into the index, the corpus statistics BM25 depends on
(per-term document frequency, document count, average doc length)
move, and with them every query's idf and length normalization. This
module snapshots those statistics per micro-batch so a pipeline can
see retrieval drift (a crawl source flooding one topic, shrinking
docs, a vocabulary shift) as a per-epoch idf/avgdl delta table —
BEFORE it shows up as silently different top-k results.

State: a fragment store (the streaming/util.py contract — a replayed
batch overwrites ITS OWN delta, never double-adds), two files per
batch:

- ``deltas/batch-<tag>/tokens``: (seq, token, df) — this batch's
  per-token distinct-doc counts (postings-proportional, the same
  volume the index append itself writes);
- ``deltas/batch-<tag>/corpus``: (seq, n_docs, len_sum) — ONE row:
  the batch's doc count and total token count. Written LAST, so it is
  the batch's commit marker: a crash between the two writes replays
  into an overwrite of both.

``seq`` is the store's logical clock
(:func:`~convoy_spark.streaming.util.fragment_seq`).

Query time: :func:`index_drift_snapshots` derives, per epoch × probe
term, the CUMULATIVE df / n_docs / avgdl and the same log-free
rational idf the BM25 operators use, plus the per-epoch idf delta —
all from the delta store alone. The derivation is ONE definition
(:func:`_drift_from_deltas`) shared with the hash-checked batch twin
:func:`index_drift_profile` (catalog query ``index_drift_profile``),
so stream == batch is tested equality of the whole drift table.

Exactness: every stored quantity is an integer count; cumulative sums
are exact and associative, so any chunking in any order yields the
same snapshots; idf/avgdl are single deterministic double expressions
over equal integers (the functions/numeric contract).

100 TB posture: the per-batch delta is one narrow map-side-combined
aggregation over the batch (postings-proportional rows); the query
aggregates probe-vocab × epochs rows after a broadcast grid join —
nothing re-scans the corpus or the index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import WS_SPLIT
from convoy_spark.operators.dedup import doc_tokens
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    fragment_seq,
    read_fragment_kind,
    stream_parquet,
)

TOKENS_SCHEMA = "seq long, token string, df long"
CORPUS_SCHEMA = "seq long, n_docs long, len_sum long"


def _batch_deltas(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """((token, df), (n_docs, len_sum)) for one batch of
    (doc_id, text) — df counts DISTINCT docs containing the token."""
    tk = doc_tokens(batch).localCheckpoint()
    tok = (
        tk.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    corpus = tk.groupBy("doc_id").agg(
        F.count("*").alias("_dl")
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_dl").cast("long").alias("len_sum"),
    )
    return tok, corpus


def apply_index_drift_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
) -> None:
    """Fold one micro-batch of (doc_id, text): write its df/corpus
    deltas to the batch's own partition (idempotent under replay)."""
    base = fragment_path(state_dir, "deltas", batch_tag)
    corpus_path = os.path.join(base, "corpus")
    tokens_path = os.path.join(base, "tokens")
    seq = fragment_seq(
        spark, state_dir, "deltas", batch_tag,
        (("corpus", CORPUS_SCHEMA), ("tokens", TOKENS_SCHEMA)),
    )
    tok, corpus = _batch_deltas(batch)
    # tokens first, corpus (the commit marker) last — see module doc
    tok.select(F.lit(seq).cast("long").alias("seq"), "token", "df").write.mode(
        "overwrite"
    ).parquet(tokens_path)
    corpus.select(
        F.lit(seq).cast("long").alias("seq"), "n_docs", "len_sum"
    ).write.mode("overwrite").parquet(corpus_path)


def run_incremental_index_drift(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all document files present into the drift store; stop
    when caught up. Re-running with the same checkpoint processes
    only new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_index_drift_batch(spark, b, state_dir, tag),
    )


def _drift_from_deltas(
    tok_deltas: DataFrame,
    corpus_deltas: DataFrame,
    probe: DataFrame,
) -> DataFrame:
    """(epoch, token, df, idf, n_docs, avgdl, idf_delta) — the ONE
    definition of the snapshot derivation, shared by the streaming
    store reader and the batch twin so the drift math cannot drift.

    ``tok_deltas``: (seq, token, df) per-epoch per-token deltas;
    ``corpus_deltas``: (seq, n_docs, len_sum) per-epoch deltas;
    ``probe``: (token) the probe vocabulary. Epochs × probe is densed
    via a broadcast grid (a probe term absent from an epoch carries a
    zero delta), cumulative sums run per token over the epoch order,
    idf is the BM25 operators' log-free rational form."""
    epochs = corpus_deltas.select(F.col("seq").alias("epoch"))
    grid = epochs.crossJoin(F.broadcast(probe))
    tok = grid.join(
        tok_deltas.withColumnsRenamed({"seq": "epoch"}),
        ["epoch", "token"],
        "left",
    ).select("epoch", "token", F.coalesce("df", F.lit(0)).alias("_d"))
    wt = (
        Window.partitionBy("token")
        .orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok_cum = tok.select(
        "epoch", "token", F.sum("_d").over(wt).cast("long").alias("df")
    )
    wc = Window.orderBy("seq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    corpus_cum = corpus_deltas.select(
        F.col("seq").alias("epoch"),
        F.sum("n_docs").over(wc).cast("long").alias("n_docs"),
        F.sum("len_sum").over(wc).cast("long").alias("_len"),
    )
    snap = tok_cum.join(F.broadcast(corpus_cum), "epoch").select(
        "epoch",
        "token",
        "df",
        (
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
        "n_docs",
        (F.col("_len").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    wl = Window.partitionBy("token").orderBy("epoch")
    return snap.withColumn(
        "idf_delta", F.col("idf") - F.lag("idf").over(wl)
    )


def index_drift_snapshots(
    spark: SparkSession,
    state_dir: str,
    probe_terms: list[str],
) -> DataFrame:
    """(epoch, token, df, idf, n_docs, avgdl, idf_delta) per probe
    term per committed batch, from the persisted delta store alone."""
    base = os.path.join(state_dir, "deltas")
    tok = read_fragment_kind(spark, base, "tokens", TOKENS_SCHEMA)
    corpus = read_fragment_kind(spark, base, "corpus", CORPUS_SCHEMA)
    probe = spark.createDataFrame(
        [(t.lower(),) for t in probe_terms], "token string"
    ).distinct()
    return _drift_from_deltas(tok, corpus, probe)


def index_drift_profile(
    docs: DataFrame,
    probe_terms: list[str],
    n_epochs: int = 4,
) -> DataFrame:
    """Batch twin of :func:`index_drift_snapshots`: the same drift
    table computed from a static corpus with a deterministic epoch
    assignment (``doc_id % n_epochs`` — a stand-in arrival order).
    Shares :func:`_drift_from_deltas` with the streaming reader, so
    the stream==batch pytest is table equality."""
    epoch = F.pmod(F.col("doc_id"), F.lit(n_epochs)).cast("long")
    tagged = docs.select(epoch.alias("seq"), "doc_id", "text")
    tk = tagged.select(
        "seq",
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), WS_SPLIT)).alias("token"),
    ).filter(F.col("token") != "")
    tok_deltas = (
        tk.select("seq", "doc_id", "token")
        .distinct()
        .groupBy("seq", "token")
        .agg(F.count("*").cast("long").alias("df"))
    )
    corpus_deltas = (
        tk.groupBy("seq", "doc_id")
        .agg(F.count("*").alias("_dl"))
        .groupBy("seq")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_dl").cast("long").alias("len_sum"),
        )
    )
    spark = docs.sparkSession
    probe = spark.createDataFrame(
        [(t.lower(),) for t in probe_terms], "token string"
    ).distinct()
    return _drift_from_deltas(tok_deltas, corpus_deltas, probe)


__all__ = [
    "CORPUS_SCHEMA",
    "TOKENS_SCHEMA",
    "apply_index_drift_batch",
    "index_drift_profile",
    "index_drift_snapshots",
    "run_incremental_index_drift",
]
