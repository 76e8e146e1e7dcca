"""Streaming PQ re-train trigger — the index-health monitor that
closes the loop ``streaming/pqencode.py`` opens: that module freezes
the codebook and encodes arriving vectors forever, which is correct
for the store (re-keying old codes per batch would corrupt it) but
silently degrades RETRIEVAL as the arriving distribution drifts away
from the training epoch. This module watches exactly that: each
micro-batch's vectors are scored with their quantization error under
the frozen codebook (:func:`convoy_spark.operators.pq.quant_error` —
the exact floor-scaled-long min-cell distances the encoder argmins
over), banked per epoch, and the RE-TRAIN DECISION SURFACE — per
epoch: count, mean error, drift ratio vs the train epoch's in-sample
error, and a fired/not-fired ``retrain`` flag — is derived from the
store alone. A fired epoch is the cue to run the codebook build plan
(``pq_codebooks`` over that epoch's accumulated corpus,
``freeze_codebook`` into a NEW generation dir) and open a new code
store generation; the old generation stays immutable (the pqencode
contract), so the cutover is a pointer swap, not a rewrite.

Epochs are label-sharded (``label % RETRAIN_EPOCHS`` — topic-sharded
arrival; see the pq_retrain_trigger ledger note: the synth
embeddings are iid across vec_id ranges, so id-sharded epochs would
never move the decision variable).

State layout (the pqencode ``codes/`` discipline, shared state_dir):

- ``codebook/`` — the frozen quantizer (pqencode.freeze_codebook);
- ``errors/batch-<tag>/`` — a fragment store (the streaming/util.py
  contract) of per-batch PER-VECTOR error rows
  (vec_id, epoch, err). Deliberately NOT pre-aggregated: err is a
  pure deterministic function of (vector, frozen codebook), so a
  replayed batch overwrites its own partition with byte-identical
  rows and a cross-drain re-delivery of the same vector collapses
  under one DISTINCT at read time — per-batch partial SUMS could
  never be deduplicated that way (the double-count hazard). No
  commit marker or sequence clock is needed: the artifact is one
  atomic directory per batch and the surface is order-insensitive
  (exact long sums are associative and commutative).

Exactness: stream == batch is BITWISE (tested): every stored err is
an exact long, the per-epoch sums/counts/maxes are exact and
mergeable across any chunking in any delivery order, and the final
mean/ratio doubles are the same two-or-three IEEE ops over equal
integers on every path (the functions/numeric contract).

100 TB posture: per batch, one broadcast join (codebook) + one
batch-proportional keyed aggregate — independent of store size; the
store read is |N| narrow rows; the surface is epoch-count-sized. On
a cluster, compact ``errors/`` alongside ``codes/``
(streaming/compact.py) to keep file counts bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from convoy_spark.operators.pq import (
    PQ_WIDE_MIN_ROWS,
    _sub_exploded,
    quant_error,
)
from convoy_spark.streaming.embstats import EMB_STREAM_SCHEMA
from convoy_spark.streaming.pqencode import _load_codebook
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

# Trigger policy (shared with the hash-checked catalog query
# queries/similarity.py::pq_retrain_trigger, which imports these):
RETRAIN_EPOCHS = 4
RETRAIN_TAU = 0.10  # fire at >10% mean-error drift vs the train epoch

ERR_SCHEMA = "vec_id long, epoch int, err long"
# pqencode streams (vec_id, embedding); the monitor also needs label
EMB_LABEL_STREAM_SCHEMA = StructType(
    [*EMB_STREAM_SCHEMA.fields, StructField("label", IntegerType())]
)


def _epoch_col():
    return (F.col("label") % RETRAIN_EPOCHS).cast("int").alias("epoch")


def batch_vector_errors(
    batch: DataFrame, codebook: DataFrame, ds: int, ks: int
) -> DataFrame:
    """(vec_id, epoch, err) for one batch of (vec_id, embedding,
    label) — the per-vector quantization error under the frozen
    codebook. Pure and deterministic, hence replay/re-delivery safe
    byte-for-byte. Batch sizes are micro-batch-bounded, so the row
    shape of quant_error is always the right one here (the wide gate
    is a corpus-scan optimization; identical longs either way)."""
    ex = _sub_exploded(batch, ds)
    return (
        quant_error(ex, codebook, ks=ks)
        .join(batch.select("vec_id", _epoch_col()), "vec_id")
        .select("vec_id", "epoch", "err")
    )


def apply_pqretrain_batch(
    batch: DataFrame, state_dir: str, batch_tag: str
) -> None:
    """Score one micro-batch and write its error rows to the batch's
    own partition (idempotent overwrite under replay)."""
    spark = batch.sparkSession
    cb, ds, ks = _load_codebook(spark, state_dir)
    batch_vector_errors(batch, cb, ds, ks).write.mode("overwrite").parquet(
        fragment_path(state_dir, "errors", batch_tag)
    )


def run_incremental_pqretrain(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all embedding files present into the error store; stop
    when caught up (availableNow). Re-running with the same
    checkpoint processes only new files."""
    drain(
        stream_parquet(spark, landing_dir, EMB_LABEL_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_pqretrain_batch(b, state_dir, tag),
    )


def stored_errors(spark: SparkSession, state_dir: str) -> DataFrame:
    """(vec_id, epoch, err) from the persisted store alone; DISTINCT
    collapses cross-drain re-deliveries (rows are pure functions of
    the frozen codebook — duplicates are byte-identical). An absent
    store yields zero rows."""
    return read_fragments(
        spark, os.path.join(state_dir, "errors"), ERR_SCHEMA
    ).distinct()


def trigger_surface(errors: DataFrame) -> DataFrame:
    """(epoch, n_vecs, mean_err, drift_ratio, retrain) from a
    (vec_id, epoch, err) frame — the ONE derivation both the batch
    catalog query and the streaming store read share (the indexdrift
    `_drift_from_deltas` discipline), so stream == batch is tested as
    whole-table equality. Empty until the train epoch (epoch 0) has
    rows — there is no baseline to compare against before the
    training slice exists. The population-sized error sum carries
    scaled_sum_guard."""
    from convoy_spark.operators.similarity import (
        SCORE_SCALE,
        scaled_sum_guard,
    )

    pe = errors.groupBy("epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("err").alias("_s"),
        F.max(F.abs("err")).alias("_mx"),
    )
    pm = pe.select(
        "epoch",
        "n_vecs",
        scaled_sum_guard(
            F.col("n_vecs"),
            F.col("_mx"),
            F.col("_s").cast("double") / F.lit(SCORE_SCALE) / F.col("n_vecs"),
            "pq_retrain_trigger epoch-error sum",
        ).alias("mean_err"),
        # Materialize the epoch-count-sized frame before deriving the
        # broadcast base row from it: without this the base side plans
        # the whole error-scan lineage a second time (exchange reuse
        # saves the shuffle, but the extra planning/broadcast jobs
        # still cost ~0.5 s per run at sf0.1 — measured A/B).
    ).localCheckpoint(eager=False)
    base = pm.filter(F.col("epoch") == 0).select(
        F.col("mean_err").alias("base_err")
    )
    return pm.crossJoin(F.broadcast(base)).select(
        "epoch",
        "n_vecs",
        "mean_err",
        (F.col("mean_err") / F.col("base_err")).alias("drift_ratio"),
        (
            F.col("mean_err") / F.col("base_err") > F.lit(1.0 + RETRAIN_TAU)
        ).alias("retrain"),
    )


def retrain_surface(spark: SparkSession, state_dir: str) -> DataFrame:
    """The decision surface straight off the persisted store."""
    return trigger_surface(stored_errors(spark, state_dir))


def pq_retrain_profile(corpus: DataFrame) -> DataFrame:
    """The one-pass batch twin over a (vec_id, embedding, label)
    corpus: train the codebook on the epoch-0 slice (the offline
    freeze), score everything, derive the surface — what the catalog
    query ``pq_retrain_trigger`` runs and the DuckDB oracle unrolls.
    Stream == batch: freezing the same codebook and streaming the
    same corpus through :func:`apply_pqretrain_batch` in ANY chunking
    yields a bitwise-equal surface (tested)."""
    from convoy_spark.operators.pq import PQ_SUB, pq_codebooks
    from convoy_spark.operators.similarity import _infer_dim

    train = corpus.filter((F.col("label") % RETRAIN_EPOCHS) == 0)
    codebook, _, _ = pq_codebooks(train)
    wide = corpus.count() >= PQ_WIDE_MIN_ROWS
    dim = _infer_dim(corpus)
    ex_all = _sub_exploded(corpus, dim // PQ_SUB)
    err = quant_error(ex_all, codebook, wide=wide)
    errors = err.join(
        corpus.select("vec_id", _epoch_col()), "vec_id"
    ).select("vec_id", "epoch", "err")
    return trigger_surface(errors)
