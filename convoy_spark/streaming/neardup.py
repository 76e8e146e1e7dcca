"""Streaming incremental MinHash-LSH near-dup — the flagship dedup
path (`operators/dedup.py::minhash_lsh_neardup`) folded into the
continuously-fed-corpus shape, like `streaming/dedup.py` does for the
exact content-hash gate.

Batch LSH re-sketches the WHOLE corpus per run; a crawl pipeline
wants each micro-batch deduped against everything already seen
without re-scanning it. This module keeps two persisted, append-only
keyed stores:

- ``bands``: (doc_id, band, key) — every historical doc's LSH band
  keys (fixed number of rows per doc);
- ``shingles``: (doc_id, h) — every historical doc's distinct shingle
  hashes (the verification evidence).

Per micro-batch: sketch the batch (O(batch)), take candidates as
(within-batch band join) ∪ (batch bands ⋈ historical bands on
(band, key)), verify ONLY candidates with exact Jaccard over shingle
hashes (historical shingles are read join-pruned via a semi join on
the candidate ids), emit pairs ≥ threshold, append the batch's bands
and shingles to the stores. Every join is a keyed equi-join; nothing
is ever all-pairs, and the per-batch work is O(batch + candidates).

Emission is exactly-once per unordered pair in normal operation: a
pair is emitted by the batch that delivers its LATER member
(both-in-batch pairs by that same batch), so no cross-batch
duplicates are possible; re-delivery of a whole batch is fenced by
the streaming checkpoint (``trigger(availableNow=True)`` +
checkpointLocation, the same drain-and-resume contract as every
incremental stage here). A crash MID-batch replays that batch
(foreachBatch is at-least-once — streaming/util.py contract): store
appends are per-store fenced so state converges, and the replayed
pairs re-emit with identical deterministic keys for sink-side dedup.

Result parity: processing any chunking of a corpus in any order
yields EXACTLY the batch operator's pair set (tested stream==batch in
``tests/test_streaming_neardup.py``) — candidates are "share ≥1 band
key" and verification is the same exact-Jaccard count on both paths.

100 TB posture: the band/shingle stores are plain parquet here; each
batch's band join reads the band store through a (band, key) shuffle
— on a cluster the store should be written ``bucketBy(key)`` (or be a
Delta table with a Bloom index / Z-order on key) so the per-batch
join co-locates against history instead of re-shuffling it, and the
shingle store pruned by the candidate semi join benefits from the
same layout on doc_id. The dataflow is unchanged by either swap —
the same position as the Delta-MERGE note on the exact-dedup map
(COVERAGE.md S8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.operators.dedup import (
    lsh_band_keys_wide,
    minhash_signatures_wide,
    shingle_hashes,
)
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    append_store,
    drain,
    load_store,
    stream_parquet,
)

BANDS_SCHEMA = "doc_id long, band int, key string"
SHINGLES_SCHEMA = "doc_id long, h long"
# Bucket keys for layout="bucketed": bands cluster on the full band
# join key so the per-batch candidate join reads history WITHOUT an
# exchange; shingles cluster on doc_id for the verification reads.
BANDS_BUCKET = ("band", "key")
SHINGLES_BUCKET = ("doc_id",)



def apply_neardup_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    pairs_sink,
    min_jaccard: float = 0.8,
    layout: str = "plain",
) -> None:
    """Fold one micro-batch of (doc_id, text): emit near-dup pairs
    against history + within the batch to ``pairs_sink(df)``, then
    append the batch's sketch rows to the state stores.

    ``layout="bucketed"`` stores bands/shingles as catalog-registered
    bucketed tables (streaming/util.py) — the per-batch band join then
    reads history co-located on (band, key) with NO store-side
    exchange (plan-asserted in tests), which is the cluster layout the
    module docstring promises. A store's layout is fixed at creation;
    resume with the layout it was created with."""
    bands_path = os.path.join(state_dir, "bands")
    shingles_path = os.path.join(state_dir, "shingles")
    bands_bkt = BANDS_BUCKET if layout == "bucketed" else None
    sh_bkt = SHINGLES_BUCKET if layout == "bucketed" else None

    hist_bands = load_store(spark, bands_path, BANDS_SCHEMA, bucket=bands_bkt)
    hist_ids = hist_bands.select("doc_id").distinct()
    # First-crawl-wins: a doc_id re-delivered in a LATER file (the
    # checkpoint only fences re-processing of the SAME file) is
    # dropped before sketching — otherwise it band-joins its own
    # historical sketch into a jaccard-1.0 self-pair, re-emits pairs
    # already emitted at first delivery, and double-appends its
    # band/shingle rows (inflating n_sh for every future jaccard).
    # Completeness is preserved: its pairs vs older docs were emitted
    # at first delivery, and newer docs pair with it through the
    # store. (Pair emission is exactly-once per delivered FILE;
    # at-least-once if a crash lands mid-batch — streaming/util.py
    # crash-consistency contract. The store appends below are
    # per-store fenced so a replay converges the stores regardless.)
    batch = batch.join(hist_ids, "doc_id", "left_anti")

    b_sh = shingle_hashes(batch).localCheckpoint()
    b_bands = lsh_band_keys_wide(minhash_signatures_wide(sh=b_sh)).localCheckpoint()

    # Within-batch candidates (a < b), as in the batch operator.
    a = b_bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = b_bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    within = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # Cross candidates: batch × history on the band key; normalize to
    # (min, max) so the pair orientation matches the batch operator
    # regardless of id ordering between crawls.
    h = hist_bands.select(F.col("doc_id").alias("hist_id"), "band", "key")
    cross = (
        b_bands.select(F.col("doc_id").alias("batch_id"), "band", "key")
        .join(h, ["band", "key"])
        # defense-in-depth: batch is fresh-only, so no self-joins —
        # but a (x, x) pair would be silently wrong, so guard anyway.
        .filter(F.col("batch_id") != F.col("hist_id"))
        .select(
            F.least("batch_id", "hist_id").alias("doc_a"),
            F.greatest("batch_id", "hist_id").alias("doc_b"),
        )
    )
    cand = within.unionByName(cross).distinct().localCheckpoint()

    # Verification shingles: the batch's own + history rows for ONLY
    # the candidate historical docs (semi-join pruning — O(candidates)
    # of history is touched, never the whole store's row set).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Exclude the batch's OWN docs from the history read: after a
    # crash between the shingles append and the bands append, the
    # replayed batch passes the bands fence but its shingles are
    # already persisted — without this anti-join the union below
    # would double-count those docs' shingles (inflating n_sh and
    # n_common, so replayed pairs re-emit with WRONG jaccard values
    # and below-threshold pairs can cross min_jaccard).
    hist_sh = (
        load_store(spark, shingles_path, SHINGLES_SCHEMA, bucket=sh_bkt)
        .join(b_sh.select("doc_id").distinct(), "doc_id", "left_anti")
        .join(cand_ids, "doc_id", "left_semi")
    )
    sh = b_sh.unionByName(hist_sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "h")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "h")
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    pairs = (
        common.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}),
            "doc_a",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint()
    )
    pairs_sink(pairs)

    # Per-store-fenced appends, SHINGLES FIRST: the batch is already
    # fresh w.r.t. the bands store (the processing fence above), but a
    # crash between the two appends replays the batch — shingles-first
    # plus the shingle store's own fence means a replay re-processes
    # the doc (it is absent from bands) without duplicating its
    # shingle rows, and both stores converge to one row-set per doc.
    sh_seen = load_store(spark, shingles_path, SHINGLES_SCHEMA, bucket=sh_bkt).select(
        "doc_id"
    ).distinct()
    append_store(
        b_sh.join(sh_seen, "doc_id", "left_anti"),
        shingles_path,
        SHINGLES_SCHEMA,
        bucket=sh_bkt,
    )
    append_store(b_bands, bands_path, BANDS_SCHEMA, bucket=bands_bkt)


def run_incremental_neardup(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    pairs_sink,
    min_jaccard: float = 0.8,
    layout: str = "plain",
) -> None:
    """Drain all document files present, near-dup-checking each batch
    against the persisted sketch stores; stop when caught up.
    Re-running with the same checkpoint processes only new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, _tag: apply_neardup_batch(
            spark, b, state_dir, pairs_sink, min_jaccard, layout=layout
        ),
    )


__all__ = [
    "BANDS_SCHEMA",
    "SHINGLES_SCHEMA",
    "apply_neardup_batch",
    "run_incremental_neardup",
]
