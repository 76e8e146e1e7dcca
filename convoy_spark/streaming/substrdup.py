"""Streaming incremental exact substring-overlap dedup — the
continuously-fed form of `operators/dedup.py::substring_dup_pairs`,
exactly parallel to `streaming/neardup.py`'s band store: the gram
store here plays the band store's role, with one extra piece of
state semantics — the stop-gram cap maintained incrementally.

State: two persisted, append-only keyed stores

- ``grams``: (doc_id, gh) — each historical doc's distinct sampled
  Horner char-k-gram hashes (operators.dedup.sampled_gram_hashes),
  LIVE grams only — bounded at ≤ cap posting rows per gram;
- ``dead_grams``: (gh) — grams whose cumulative doc count crossed the
  stop-gram cap; membership is permanent (counts are monotone).

Per micro-batch: sample the batch's grams (O(batch)) and drop DEAD
grams up front, count each touched live gram's historical postings
via a semi-join-pruned aggregation (≤ cap rows per gram by the store
bound — never the store's row set), drop grams whose cumulative count
(history + batch) exceeds the cap (appending those to the dead set),
equi-join batch × (batch ∪ pruned history) on the surviving grams,
count distinct shared grams per pair, emit pairs ≥ ``min_shared``,
append the surviving batch grams. The dead set is what keeps a
boilerplate gram from costing O(corpus-so-far) per batch forever.
Every join is keyed; per-batch work is O(batch + candidates).

Cap semantics, incremental: a gram is dead once its cumulative doc
count exceeds ``cap``, and counts only grow, so a gram that crosses
the cap mid-stream NEVER produces new pairs afterwards (tested).
This is the monotone restatement of the batch operator's global cap —
the two agree exactly whenever no pair's qualifying grams cross the
cap after the pair's later member arrives (draining the whole corpus
as ONE batch is bit-identical to the batch operator, tested). When a
gram does cross the cap later, the streaming result keeps pairs the
batch run would retroactively drop — first-crawl-wins applied to the
cap, the operationally correct choice for a pipeline that already
shipped those drops downstream.

Re-delivery: a doc_id already in the gram store is dropped before
sketching (anti-join), as in streaming/neardup.py — no self-pairs, no
double-appended postings, exactly-once pair emission by the batch
that delivers the later member (at-least-once if a crash lands
mid-batch — streaming/util.py crash-consistency contract; the
dead-set and gram appends are anti-join-fenced so replays converge).

100 TB posture: identical to the neardup stores — plain parquet here;
on a cluster write the gram store ``bucketBy(gh)`` (or a Delta table
with a Bloom index on gh) so the per-batch posting join co-locates
against history, and the doc-side anti-join gets the same layout on
doc_id. The dataflow is unchanged by the swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.operators.dedup import (
    SUBSTR_CAP,
    SUBSTR_MIN_SHARED,
    sampled_gram_hashes,
)
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    append_store,
    drain,
    load_store,
    stream_parquet,
)

GRAMS_SCHEMA = "doc_id long, gh long"
DEAD_SCHEMA = "gh long"
# layout="bucketed": gram postings cluster on gh so the per-batch
# posting join / count co-locates against history; the dead set too.
GRAMS_BUCKET = ("gh",)
DEAD_BUCKET = ("gh",)



def apply_substrdup_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    pairs_sink,
    cap: int = SUBSTR_CAP,
    min_shared: int = SUBSTR_MIN_SHARED,
    layout: str = "plain",
) -> None:
    """Fold one micro-batch of (doc_id, text): emit substring-overlap
    pairs against history + within the batch to ``pairs_sink(df)``,
    then append the batch's gram rows to the store.
    ``layout="bucketed"`` — see streaming/util.py; a store's layout is
    fixed at creation."""
    grams_path = os.path.join(state_dir, "grams")
    dead_path = os.path.join(state_dir, "dead_grams")
    gb = GRAMS_BUCKET if layout == "bucketed" else None
    db = DEAD_BUCKET if layout == "bucketed" else None
    hist = load_store(spark, grams_path, GRAMS_SCHEMA, bucket=gb)
    dead = load_store(spark, dead_path, DEAD_SCHEMA, bucket=db)

    # first-crawl-wins: drop re-delivered doc_ids before sketching
    batch = batch.join(hist.select("doc_id"), "doc_id", "left_anti")

    # Live grams only: a gram that crossed the cap is in the DEAD set
    # and can never produce pairs again (counts are monotone), so its
    # batch occurrences are dropped up front AND never appended — this
    # is what bounds the store at ≤ cap posting rows per gram and the
    # per-batch hist_touch pull at O(cap · touched grams) FOREVER;
    # without it a boilerplate gram's posting list (and the per-batch
    # cost of counting it) would grow linearly for the stream's whole
    # lifetime.
    b_g = (
        sampled_gram_hashes(batch)
        .join(dead, "gh", "left_anti")
        .localCheckpoint()
    )

    # Historical postings for ONLY the batch's live grams (semi-join
    # pruning — a pair's shared grams all occur in the batch member's
    # gram set, so nothing outside these keys can matter).
    hist_touch = hist.join(
        b_g.select("gh").distinct(), "gh", "left_semi"
    ).localCheckpoint()

    # Incremental stop-gram cap: cumulative count = history + batch.
    # Computed over touched grams only; an untouched gram's count
    # cannot change this batch.
    counts = (
        b_g.select("gh")
        .unionByName(hist_touch.select("gh"))
        .groupBy("gh")
        .agg(F.count("*").alias("_n"))
    ).localCheckpoint()
    ok = counts.filter(F.col("_n") <= cap).select("gh")
    b_ok = b_g.join(ok, "gh", "left_semi")
    h_ok = hist_touch.join(ok, "gh", "left_semi")

    # Within-batch pairs (a < b) + cross batch×history pairs
    # (min, max orientation), counted over distinct shared grams.
    a = b_ok.select(F.col("doc_id").alias("doc_a"), "gh")
    b = b_ok.select(F.col("doc_id").alias("doc_b"), "gh")
    within = a.join(b, "gh").filter(F.col("doc_a") < F.col("doc_b"))
    cross = (
        b_ok.select(F.col("doc_id").alias("batch_id"), "gh")
        .join(h_ok.select(F.col("doc_id").alias("hist_id"), "gh"), "gh")
        .select(
            F.least("batch_id", "hist_id").alias("doc_a"),
            F.greatest("batch_id", "hist_id").alias("doc_b"),
            "gh",
        )
    )
    pairs = (
        within.select("doc_a", "doc_b")
        .unionByName(cross.select("doc_a", "doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .localCheckpoint()
    )
    pairs_sink(pairs)

    # Grams crossing the cap THIS batch move to the dead set (anti-
    # joined so a replayed batch converges instead of duplicating);
    # only still-live grams append to the store, keeping it ≤ cap
    # rows per gram.
    newly_dead = counts.filter(F.col("_n") > cap).select("gh")
    append_store(
        newly_dead.join(dead, "gh", "left_anti"),
        dead_path,
        DEAD_SCHEMA,
        bucket=db,
    )
    append_store(
        b_ok.select("doc_id", "gh"), grams_path, GRAMS_SCHEMA, bucket=gb
    )


def run_incremental_substrdup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    pairs_sink,
    **kw,
) -> None:
    """Drain all document files present, substring-dup-checking each
    batch against the persisted gram store; stop when caught up.
    Re-running with the same checkpoint processes only new files.
    Pass ``layout="bucketed"`` through ``kw`` for the bucketed store
    layout."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, _tag: apply_substrdup_batch(
            spark, b, state_dir, pairs_sink, **kw
        ),
    )


__all__ = [
    "GRAMS_SCHEMA",
    "apply_substrdup_batch",
    "run_incremental_substrdup",
]
