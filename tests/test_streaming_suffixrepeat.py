"""Streaming suffix-repeat store: the accumulated position store fed
through the SAME crossdoc_repeat_profile definition must equal the
batch operator over the same corpus bitwise (any chunking); replays
overwrite their own delta partition; a torn batch (positions without
the docs commit marker) is excluded until its replay commits it."""

from __future__ import annotations

from pyspark.sql import functions as F

from convoy_spark.operators.suffix import crossdoc_repeat_profile
from convoy_spark.streaming.suffixrepeat import (
    apply_suffix_batch,
    run_incremental_suffix_store,
    suffix_repeat_over_store,
)
from convoy_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
N_CHUNKS = 3


def _rows(df):
    return sorted(
        (r.doc_id, r.n_windows, r.n_repeat_windows, r.n_crossdoc_windows)
        for r in df.collect()
    )


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


def test_stream_equals_batch_any_chunking(spark, tmp_path):
    docs = _docs(spark)
    want = _rows(crossdoc_repeat_profile(docs))
    assert want, "empty profile?"
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(N_CHUNKS):
        chunk = docs.filter(F.pmod(F.col("doc_id"), F.lit(N_CHUNKS)) == i)
        chunk.coalesce(1).write.mode("overwrite").parquet(
            str(landing / f"chunk{i}")
        )
        run_incremental_suffix_store(
            spark,
            str(landing / f"chunk{i}"),
            str(tmp_path / f"ckpt_{i}"),
            str(tmp_path / "state"),
        )
    got = _rows(suffix_repeat_over_store(spark, str(tmp_path / "state")))
    assert got == want


def test_replay_overwrites_own_delta(spark, tmp_path):
    docs = _docs(spark)
    state = str(tmp_path / "state_replay")
    b0 = docs.filter("doc_id < 50")
    b1 = docs.filter("doc_id >= 50")
    apply_suffix_batch(spark, b0, state, "t-0")
    apply_suffix_batch(spark, b1, state, "t-1")
    before = _rows(suffix_repeat_over_store(spark, state))
    apply_suffix_batch(spark, b0, state, "t-0")  # replay
    after = _rows(suffix_repeat_over_store(spark, state))
    assert after == before
    assert before == _rows(crossdoc_repeat_profile(docs))


def test_torn_batch_excluded_until_committed(spark, tmp_path):
    """Positions written, docs marker missing (crash between the two
    writes): the re-rank must not see the torn batch; the replay
    commits it and converges on the clean result."""
    import os

    from convoy_spark.operators.suffix import token_positions

    docs = _docs(spark)
    b0 = docs.filter("doc_id < 50")
    b1 = docs.filter("doc_id >= 50")
    state = str(tmp_path / "state_torn")
    apply_suffix_batch(spark, b0, state, "t-0")
    clean_b0 = _rows(suffix_repeat_over_store(spark, state))
    # torn write of b1: positions only, no docs marker
    token_positions(b1).select(
        F.lit(1).cast("long").alias("seq"),
        "doc_id",
        F.col("pos").cast("int"),
        "tok",
    ).write.mode("overwrite").parquet(
        os.path.join(state, "deltas", "batch-t-1", "positions")
    )
    assert _rows(suffix_repeat_over_store(spark, state)) == clean_b0
    apply_suffix_batch(spark, b1, state, "t-1")  # replay commits
    assert _rows(suffix_repeat_over_store(spark, state)) == _rows(
        crossdoc_repeat_profile(docs)
    )


def test_torn_batch_seq_collision_across_lineages(spark, tmp_path):
    """Two checkpoint lineages into one store can compute the SAME seq
    (max committed + 1). A committed batch from lineage A must not
    implicitly commit lineage B's torn positions that happen to carry
    the colliding seq — commit evidence is the sibling docs marker in
    the same batch-<tag> dir, never the seq value."""
    import os

    from convoy_spark.operators.suffix import token_positions

    docs = _docs(spark)
    b0 = docs.filter("doc_id < 50")
    b1 = docs.filter("doc_id >= 50")
    state = str(tmp_path / "state_collide")
    # lineage A commits b0 at seq 0
    apply_suffix_batch(spark, b0, state, "lineA-0")
    clean_b0 = _rows(suffix_repeat_over_store(spark, state))
    # lineage B crashes mid-batch: torn positions with the SAME seq 0
    torn = os.path.join(state, "deltas", "batch-lineB-0", "positions")
    token_positions(b1).select(
        F.lit(0).cast("long").alias("seq"),
        "doc_id",
        F.col("pos").cast("int"),
        "tok",
    ).write.mode("overwrite").parquet(torn)
    # lineage A's marker at seq 0 must NOT commit lineage B's positions
    assert _rows(suffix_repeat_over_store(spark, state)) == clean_b0
    apply_suffix_batch(spark, b1, state, "lineB-0")  # replay commits
    assert _rows(suffix_repeat_over_store(spark, state)) == _rows(
        crossdoc_repeat_profile(docs)
    )


def test_two_lineages_over_same_landing_files(spark, tmp_path):
    """Two checkpoint lineages draining the SAME landing files into one
    store each commit every doc: the re-rank must read each doc's
    positions from one committed batch, since the lead() rewrite needs
    unique (doc_id, pos)."""
    landing = str(tmp_path / "landing")
    _docs(spark).coalesce(1).write.mode("overwrite").parquet(landing)
    single = str(tmp_path / "state_single")
    run_incremental_suffix_store(spark, landing, str(tmp_path / "ckpt_s"), single)
    shared = str(tmp_path / "state_shared")
    for lineage in ("a", "b"):
        run_incremental_suffix_store(
            spark, landing, str(tmp_path / f"ckpt_{lineage}"), shared
        )
    want = _rows(suffix_repeat_over_store(spark, single))
    assert _rows(suffix_repeat_over_store(spark, shared)) == want
