"""Streaming PQ encoding: any chunking in any delivery order encodes
to BIT-IDENTICAL codes vs the one-pass batch twin (the codebook is
frozen; encoding is a pure deterministic function); epoch replay
overwrites itself; cross-drain re-delivery collapses to one copy."""

from __future__ import annotations

from pyspark.sql import functions as F

from convoy_spark.streaming.pqencode import (
    apply_pqencode_batch,
    batch_codes,
    encoded_codes,
    freeze_codebook,
    run_incremental_pqencode,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted((r.vec_id, r.sub, r.code) for r in df.collect())


def test_stream_codes_equal_batch_bitwise(spark, tmp_path):
    emb = _emb(spark)
    state = str(tmp_path / "state")
    freeze_codebook(emb, state)
    want = _rows(batch_codes(spark, emb, state))
    assert want
    landing = tmp_path / "landing"
    landing.mkdir()
    # three uneven chunks, delivered out of id order
    for i, (lo, hi) in enumerate([(300, 10**9), (0, 120), (120, 300)]):
        chunk = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        chunk.coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"chunk{i}")
        )
        run_incremental_pqencode(
            spark,
            str(landing / f"chunk{i}"),
            str(tmp_path / f"ckpt{i}"),
            state,
        )
    assert _rows(encoded_codes(spark, state)) == want


def test_epoch_replay_is_idempotent(spark, tmp_path):
    emb = _emb(spark)
    state = str(tmp_path / "state")
    freeze_codebook(emb, state)
    first = emb.limit(50)
    apply_pqencode_batch(first, state, batch_tag="t-0")
    once = _rows(encoded_codes(spark, state))
    apply_pqencode_batch(first, state, batch_tag="t-0")  # crash replay
    assert _rows(encoded_codes(spark, state)) == once


def test_cross_drain_redelivery_collapses(spark, tmp_path):
    """The same vectors delivered again under a NEW batch tag (a
    different drain re-shipping history) yield byte-identical rows
    that the store read's DISTINCT collapses."""
    emb = _emb(spark)
    state = str(tmp_path / "state")
    freeze_codebook(emb, state)
    chunk = emb.filter(F.col("vec_id") < 80)
    apply_pqencode_batch(chunk, state, batch_tag="a-0")
    once = _rows(encoded_codes(spark, state))
    apply_pqencode_batch(chunk, state, batch_tag="b-0")
    assert _rows(encoded_codes(spark, state)) == once


def test_streamed_codes_serve_adc_search(spark, tmp_path):
    """The store is the index: ADC distances computed from streamed
    codes equal those from the batch-built index (operators/pq.py
    pq_codebooks) for the same corpus."""
    from convoy_spark.operators.pq import pq_codebooks

    emb = _emb(spark)
    state = str(tmp_path / "state")
    freeze_codebook(emb, state)
    apply_pqencode_batch(emb, state, batch_tag="t-0")
    got = _rows(encoded_codes(spark, state))
    _, codes, _ = pq_codebooks(emb)
    assert got == _rows(codes)


def test_adc_search_over_streamed_store(spark, tmp_path):
    """Searching the streamed store returns BIT-IDENTICAL top-k to
    the batch-built flat index over the same corpus — the store, not
    the vectors, is the search asset."""
    from convoy_spark.operators.pq import ann_pq_adc_topk, pq_codebooks
    from convoy_spark.streaming.pqencode import adc_search_over_store

    emb = _emb(spark)
    state = str(tmp_path / "state")
    freeze_codebook(emb, state)
    for i, (lo, hi) in enumerate([(0, 200), (200, 10**9)]):
        apply_pqencode_batch(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            state,
            batch_tag=f"t-{i}",
        )
    q = emb.filter(F.col("vec_id") < 8)
    want = sorted(
        (r.query_id, r.corpus_id, r.adist, r.rank)
        for r in ann_pq_adc_topk(q, pq_codebooks(emb), k=5).collect()
    )
    got = sorted(
        (r.query_id, r.corpus_id, r.adist, r.rank)
        for r in adc_search_over_store(spark, state, q, k=5).collect()
    )
    assert got == want
