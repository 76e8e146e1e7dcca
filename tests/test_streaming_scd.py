"""Streaming SCD2 maintenance: chunked delivery (ordered and
out-of-order, including chunks that split a run) produces a history
bit-identical to the batch scd2_snapshot over the union; replay
converges; the documented interleaved-timeline divergence diverges."""

from __future__ import annotations

from pyspark.sql import functions as F

from convoy_spark.queries.temporal import scd2_snapshot
from convoy_spark.streaming.scd import (
    apply_scd_batch,
    run_incremental_scd,
    scd_history,
)
from convoy_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _chunks(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
    )
    lo, hi = ev.agg(
        F.expr("percentile(ts_us, 0.3333)").alias("a"),
        F.expr("percentile(ts_us, 0.6667)").alias("b"),
    ).first()
    return [
        ev.filter(F.col("ts_us") < lo),
        ev.filter((F.col("ts_us") >= lo) & (F.col("ts_us") < hi)),
        ev.filter(F.col("ts_us") >= hi),
    ]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _drain(spark, tmp_path, order, tag):
    chunks = _chunks(spark)
    state = str(tmp_path / f"state-{tag}")
    for i, ci in enumerate(order):
        land = tmp_path / f"land-{tag}-{i}"
        chunks[ci].coalesce(1).write.parquet(str(land / "c"))
        run_incremental_scd(
            spark, str(land / "c"), str(tmp_path / f"ck-{tag}-{i}"), state
        )
    return scd_history(spark, state)


def test_ordered_chunks_equal_batch(spark, tmp_path):
    want = _rows(scd2_snapshot(spark, SF_DIR))
    got = _rows(_drain(spark, tmp_path, [0, 1, 2], "ord"))
    assert got == want


def test_out_of_order_chunks_equal_batch(spark, tmp_path):
    # ts-disjoint chunks delivered out of order: the view's sort
    # restores the timeline (the non-overlap contract, not arrival
    # order, is what matters)
    want = _rows(scd2_snapshot(spark, SF_DIR))
    got = _rows(_drain(spark, tmp_path, [2, 0, 1], "ooo"))
    assert got == want


def test_replay_idempotent(spark, tmp_path):
    ev = _chunks(spark)[0]
    state = str(tmp_path / "state-rp")
    apply_scd_batch(ev, state, "t-0")
    once = _rows(scd_history(spark, state))
    apply_scd_batch(ev, state, "t-0")  # redelivery of the same batch
    assert _rows(scd_history(spark, state)) == once


def test_stray_landing_file_is_skipped(spark, tmp_path):
    """A non-parquet file in the landing dir (a manifest beside the
    chunk files) is not a batch: the drain reads only ``*.parquet``."""
    ev = _chunks(spark)[0]
    land = tmp_path / "land"
    ev.coalesce(1).write.parquet(str(land))
    (land / "MANIFEST.txt").write_text("chunk 0 of 3\n")
    state = str(tmp_path / "state-stray")
    run_incremental_scd(spark, str(land), str(tmp_path / "ck-stray"), state)
    ref = str(tmp_path / "state-ref")
    apply_scd_batch(ev, ref, "t-0")
    assert _rows(scd_history(spark, state)) == _rows(scd_history(spark, ref))


def test_interleaved_timeline_diverges_as_documented(spark, tmp_path):
    # user 1: X@t1, Y@t2, X@t3 split as {t1,t3} then {t2} — the
    # fragment store cannot re-split batch A's X-run, so the streamed
    # history is 2 runs (X then Y) where the true history is 3. This
    # pins the DOCUMENTED contract boundary.
    a = spark.createDataFrame(
        [(1, 1_000_000, 1, "X"), (3, 3_000_000, 1, "X")],
        "event_id long, ts_us long, user_id long, event_type string",
    )
    b = spark.createDataFrame(
        [(2, 2_000_000, 1, "Y")],
        "event_id long, ts_us long, user_id long, event_type string",
    )
    state = str(tmp_path / "state-il")
    apply_scd_batch(a, state, "t-0")
    apply_scd_batch(b, state, "t-1")
    hist = scd_history(spark, state).orderBy("run_id").collect()
    assert [r.event_type for r in hist] == ["X", "Y"]
    assert [r.n_events for r in hist] == [2, 1]
