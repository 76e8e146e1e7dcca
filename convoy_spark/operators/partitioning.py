"""Partition floors for intermediates that are input-MULTIPLES.

The session sizes ``spark.sql.shuffle.partitions`` to the INPUT data
(session._sized_shuffle_partitions — one partition per ~64 MB of
parquet, capped at core count locally). That is the right default for
queries whose frames are input-proportional, but a handful of
operators build intermediates that are a large MULTIPLE of the input
— the co-purchase edge frame (items-per-order² fan-out), the oriented
triangle adjacency, the dim-exploded embedding frame (64× the vector
count). Materializing such a frame through ``localCheckpoint`` at
input-sized partitioning unrolls huge DESERIALIZED blocks
concurrently: the round-9 sfg10 run demonstrated the failure exactly
— 32 tasks × ~1/32nd of a 100× co-purchase graph each OOMed the 48g
single JVM at the LPA edge-frame checkpoint, while a hand-set
256-partition config completed (BENCH_NOTES round-9 graph section).

AQE cannot repair this case: coalescing only merges DOWN from the
initial partition count — it never splits an under-partitioned
shuffle — and raising the session-wide initial count would tax every
small input-proportional stage with near-empty tasks (the measured
~30% task-launch overhead that motivated data-sized partitioning in
the first place). So the floor is applied PER OPERATOR, exactly at
the frames whose size the operator knows to be a blow-up, via an
explicit repartition on the frame's downstream join/group key — which
both bounds the checkpoint unroll AND lets every iteration reuse the
partitioning (the checkpointed LogicalRDD preserves outputPartitioning
/ outputOrdering, so per-round joins skip the big side's exchange and
sort entirely — the "bucket the edge table" posture the docstrings
promise, realized in local mode).

On a 1000-executor cluster the same helper scales by the configured
shuffle parallelism (thousands), keeping per-task state bounded by
construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# Intermediate-to-input blow-up allowance: how many times larger than
# the input a flagged intermediate may be before per-partition state
# matters. 8× the data-sized count bounds small inputs while costing
# only sub-second task-launch tax at sf0.1.
BLOWUP_FACTOR = 8
BLOWUP_MIN_PARTITIONS = 64
# ENGAGEMENT gate (round-10 verdict #2): below this SOURCE size the
# floor is a no-op — even a 100× blow-up of a 64 MB input is ~6 GB of
# deserialized rows, which the default MEMORY_AND_DISK checkpoint
# absorbs on any sane executor, so the repartition+sortWithinPartitions
# exchange the floor inserts is pure overhead there. Round 10 paid
# that exchange at sf0.1 on every floored path (_shared_lpa_labels
# 8.1 → 13.1 s, knng 9.4 → 11.2 s) for zero safety benefit; the sfg10
# decade that NEEDS the floor has a 1.09 GB lineitem, far above the
# gate.
BLOWUP_ENGAGE_BYTES = 64 << 20
# For LARGE inputs the floor must be INPUT-proportional, not
# session-proportional: one partition per ~2 MB of the frame's source
# parquet. Calibrated against the sfg10 decade (1.09 GB lineitem):
# the 176-partition session-scaled floor still OOMed the 48g JVM at
# 32 threads (32 concurrent tasks × ~1/176th of the blown-up frame in
# deserialized block rows), while 256 partitions at 16 threads — half
# the concurrent live bytes — completed; 2 MB/partition puts the
# 32-thread config at ~520 partitions, at or below the measured-good
# per-task live size. sf0.1 inputs (~11 MB lineitem) stay on the
# 64-partition floor, so small-SF plans are untouched.
BLOWUP_BYTES_PER_PARTITION = 2 << 20


def _input_bytes(df: DataFrame) -> int:
    """Best-effort size of the frame's source parquet (the same
    signal session._sized_shuffle_partitions reads, but scoped to
    THIS frame's lineage via inputFiles)."""
    total = 0
    try:
        for uri in df.inputFiles():
            path = uri[7:] if uri.startswith("file://") else uri
            try:
                total += os.path.getsize(path)
            except OSError:
                pass
    except Exception:
        return 0
    return total


def blowup_partitions(df: DataFrame) -> int:
    """Partition count for an input-multiple intermediate: the larger
    of (a) the session's shuffle partitioning scaled by the blow-up
    allowance — clamped to the actual execution parallelism first, so
    a vanilla session's static 200 doesn't scale to 1600 near-empty
    tasks — and (b) the input-byte-proportional count that keeps
    per-task deserialized state bounded no matter how large the
    source grows (the sfg10 lesson: the session signal saturates at
    core count, but the blow-up keeps growing with the data)."""
    spark = df.sparkSession
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    par = spark.sparkContext.defaultParallelism
    session_scaled = max(BLOWUP_MIN_PARTITIONS, min(base, par) * BLOWUP_FACTOR)
    return max(
        session_scaled, _input_bytes(df) // BLOWUP_BYTES_PER_PARTITION
    )


# Above this SOURCE size, a blow-up frame's materialized blocks go
# straight to disk (StorageLevel.DISK_ONLY) instead of the default
# MEMORY_AND_DISK: at the sfg10 decade even ~520 partitions left the
# 48g/32-thread config marginal — the materialization raced the
# unified-memory pool's eviction (GCLocker-choked 128 MB allocation
# bursts, intermittent heap OOM). Disk-backed blocks take the heap
# out of the equation entirely; the per-round re-reads ride the OS
# page cache, and small-SF frames stay memory-resident (unchanged
# bench profile).
BLOWUP_DISK_ONLY_BYTES = 256 << 20


def blowup_storage_level(df: DataFrame):
    """The storage level a blow-up materialization derived from ``df``
    should use: DISK_ONLY above the source-size threshold, None (the
    localCheckpoint default, MEMORY_AND_DISK) below it."""
    from pyspark import StorageLevel

    if _input_bytes(df) > BLOWUP_DISK_ONLY_BYTES:
        return StorageLevel.DISK_ONLY
    return None


def blowup_checkpoint(df: DataFrame, *keys: str) -> DataFrame:
    """``keyed_blowup_frame`` + a LAZY localCheckpoint whose storage
    level is chosen by source size (DISK_ONLY above
    ``BLOWUP_DISK_ONLY_BYTES``). The one entry point the blow-up
    operators (LPA/pagerank/triangles edge frames, the dim-exploded
    vector frame) should use. Below the engagement gate this is a
    plain lazy localCheckpoint — the round-9 plan shape, bit-for-bit."""
    return keyed_blowup_frame(df, *keys).localCheckpoint(
        eager=False, storageLevel=blowup_storage_level(df)
    )


def blowup_engaged(df: DataFrame) -> bool:
    """Whether the floor should engage for a frame derived from
    ``df``: yes when the frame's source parquet exceeds
    ``BLOWUP_ENGAGE_BYTES`` (the only regime where an input-multiple
    unroll can actually threaten the executor — see the gate note
    above)."""
    return _input_bytes(df) > BLOWUP_ENGAGE_BYTES


def keyed_blowup_frame(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition an input-multiple frame on its downstream
    join/group key at the blow-up floor and sort within partitions —
    the materialized (checkpointed) frame then satisfies BOTH the
    distribution and ordering requirements of every later sort-merge
    join / aggregation on ``keys``, so iterated consumers (LPA rounds,
    PageRank iterations, the triangle wedge join) re-exchange only
    their |V|-sized side.

    GATED on source size (round-10 verdict #2): for small sources the
    added exchange+sort costs more than it saves — round 10 shipped it
    unconditionally and every floored sf0.1 path regressed (LPA build
    0.61×, knng 0.84×) — so below ``BLOWUP_ENGAGE_BYTES`` the frame is
    returned untouched and the small-SF plan keeps the round-9 shape."""
    if not blowup_engaged(df):
        return df
    return df.repartition(blowup_partitions(df), *keys).sortWithinPartitions(
        *keys
    )
