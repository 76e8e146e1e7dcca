"""Streaming hard-negative mining: any chunking of the corpus in any
delivery order mines BIT-IDENTICAL negatives vs the one-pass batch
twin (global top-k under a deterministic total order ⊆ union of
per-batch local tops; the codebook and query set are frozen); batch
replay overwrites its own delta partitions; the store-read cost is
shortlist-proportional, never corpus-proportional."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from convoy_spark.streaming.hardneg import (
    apply_hardneg_batch,
    batch_negatives,
    freeze_queries,
    mined_negatives,
    run_incremental_hardneg,
)
from convoy_spark.streaming.pqencode import freeze_codebook

SF_DIR = "/root/testdata/sf0.001"
N_Q = 8


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _state(spark, tmp_path, name):
    emb = _emb(spark)
    state = str(tmp_path / name)
    freeze_codebook(emb, state)
    freeze_queries(emb.filter(F.col("vec_id") < N_Q), state)
    return emb, state


def _rows(df):
    return sorted(
        (r.query_id, r.corpus_id, r.adist, r.neg_rank) for r in df.collect()
    )


def test_stream_negatives_equal_batch_bitwise(spark, tmp_path):
    emb, state = _state(spark, tmp_path, "state_eq")
    want = _rows(batch_negatives(spark, emb, state))
    assert want, "no negatives mined on the full corpus?"
    landing = tmp_path / "landing"
    landing.mkdir()
    # three uneven chunks, delivered out of id order
    for i, (lo, hi) in enumerate([(300, 10**9), (0, 120), (120, 300)]):
        chunk = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"chunk{i}")
        )
        run_incremental_hardneg(
            spark,
            str(landing / f"chunk{i}"),
            str(tmp_path / f"ckpt{i}"),
            state,
        )
    assert _rows(mined_negatives(spark, state)) == want


def test_batch_replay_is_idempotent(spark, tmp_path):
    emb, state = _state(spark, tmp_path, "state_rp")
    b0 = emb.filter("vec_id < 200")
    b1 = emb.filter("vec_id >= 200")
    apply_hardneg_batch(spark, b0, state, "t-0")
    apply_hardneg_batch(spark, b1, state, "t-1")
    before = _rows(mined_negatives(spark, state))
    apply_hardneg_batch(spark, b0, state, "t-0")  # replay
    assert _rows(mined_negatives(spark, state)) == before


def test_negatives_exclude_exact_neighbors(spark, tmp_path):
    """The mined set never contains a true top-K_TRUTH neighbor, and
    per-query negatives are exactly K_NEG when the shortlist has
    enough survivors."""
    from convoy_spark.operators.pq import exact_l2_topk
    from convoy_spark.streaming.hardneg import K_NEG, K_TRUTH

    emb, state = _state(spark, tmp_path, "state_ex")
    apply_hardneg_batch(spark, emb, state, "all-0")
    negs = mined_negatives(spark, state)
    truth = exact_l2_topk(
        emb.filter(F.col("vec_id") < N_Q), emb, k=K_TRUTH
    ).select("query_id", "corpus_id")
    overlap = negs.join(truth, ["query_id", "corpus_id"]).count()
    assert overlap == 0
    per_q = {r.query_id: r.n for r in
             negs.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_q) == set(range(N_Q))
    assert all(n == K_NEG for n in per_q.values())


def test_compaction_preserves_and_composes(spark, tmp_path):
    """Compacting the per-batch tops changes nothing (top-k is a
    semigroup fold), shrinks the store, and later batches still merge
    exactly: mine 2 batches -> compact -> mine a 3rd -> equals the
    one-pass batch twin over all 3."""
    from convoy_spark.streaming.compact import compact_hardneg
    from convoy_spark.streaming.hardneg import HN_SHORT_SCHEMA
    from convoy_spark.streaming.util import read_fragments

    emb, state = _state(spark, tmp_path, "state_cp")
    hn_short = os.path.join(state, "hn_short")
    b0 = emb.filter("vec_id < 150")
    b1 = emb.filter("vec_id >= 150 AND vec_id < 300")
    b2 = emb.filter("vec_id >= 300")
    apply_hardneg_batch(spark, b0, state, "t-0")
    apply_hardneg_batch(spark, b1, state, "t-1")
    before = _rows(mined_negatives(spark, state))
    n_before = read_fragments(spark, hn_short, HN_SHORT_SCHEMA).distinct().count()
    replaced = compact_hardneg(spark, state)
    assert replaced > 0
    n_after = read_fragments(spark, hn_short, HN_SHORT_SCHEMA).distinct().count()
    assert n_after < n_before
    assert _rows(mined_negatives(spark, state)) == before
    apply_hardneg_batch(spark, b2, state, "t-2")
    want = _rows(batch_negatives(spark, emb, state))
    assert _rows(mined_negatives(spark, state)) == want
    # the compaction marker turns the lossy-beyond-k contract into a
    # runtime guard: reads beyond the compacted bound raise instead
    # of silently returning short results
    import pytest

    from convoy_spark.streaming.hardneg import K_SHORT, K_TRUTH

    with pytest.raises(ValueError, match="compacted at k="):
        mined_negatives(spark, state, k_short=K_SHORT + 1)
    with pytest.raises(ValueError, match="compacted at k="):
        mined_negatives(spark, state, k_truth=K_TRUTH + 1)
    # at or below the bound stays fine
    assert _rows(mined_negatives(spark, state, k_short=K_SHORT)) == want
