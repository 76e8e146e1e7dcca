"""Scale techniques (SURVEY §4, pyspark_guide): bucketed co-located
joins and salted skew aggregation — the two knobs that matter most
when a 100 TB join/groupBy key misbehaves.

- **Bucketing** pre-shuffles a table once at write time
  (``bucketBy(n, key)`` + ``saveAsTable``): every later equi-join or
  aggregation on that key reads co-located buckets and skips its
  exchange entirely. The warehouse's answer to the reference's
  clustered/covering indexes (`1_initial_load.py:184-185`) — pay the
  shuffle once, amortize it over every downstream query.
- **Salting** splits a skewed key across ``N_SALTS`` sub-keys for a
  partial aggregate, then merges the partials — two small shuffles
  instead of one stuck straggler task. AQE's skew-join handling
  covers joins automatically; salting is for the aggregation side,
  where AQE cannot split a single giant hash-agg group.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan produces fewer
    partitions than the cluster has slots — and a no-op otherwise.

    Why this exists: parquet splits by row group, so a small table
    written as ONE file with ONE row group scans as ONE task no matter
    how many cores exist. Any CPU-heavy per-row stage downstream
    (tokenize/explode/hash pipelines over ``documents``) then runs
    single-threaded — at sf0.1 this was the dominant cost of winnow /
    simhash / lang-ID, hiding as "slope" (one 4 s task on a 32-core
    box). The guard makes it scale-safe: at 100 TB the scan already
    yields orders of magnitude more partitions than slots, the
    condition is false, and NO shuffle is added — this only ever
    trades one tiny-table shuffle for full parallelism on the
    compute-bound stage that follows.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Materialize as a bucketed, bucket-sorted table (external when
    ``path`` is given — the warehouse dir is a static config)."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


N_SALTS = 16


def salted_agg(df: DataFrame, key: str, aggs: list[tuple[str, str]]) -> DataFrame:
    """Two-phase salted aggregation: ``aggs`` is a list of
    (col, 'sum'|'count') specs — the decomposable aggregates, which
    are the only ones salting can merge exactly.

    Phase 1 groups on (key, salt) — the giant key's rows spread over
    ``N_SALTS`` tasks; phase 2 merges the per-salt partials on the key
    alone, now at most ``N_SALTS`` rows per key."""
    salt = (F.rand(seed=42) * N_SALTS).cast("int").alias("_salt")
    phase1_aggs = []
    phase2_aggs = []
    for col, kind in aggs:
        part = f"_p_{kind}_{col}"
        if kind == "sum":
            phase1_aggs.append(F.sum(col).alias(part))
            phase2_aggs.append(F.sum(part).alias(f"sum_{col}"))
        elif kind == "count":
            phase1_aggs.append(F.count(col).alias(part))
            phase2_aggs.append(F.sum(part).alias(f"count_{col}"))
        else:
            raise ValueError(f"non-decomposable agg: {kind}")
    partial = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(*phase1_aggs)
    return partial.groupBy(key).agg(*phase2_aggs)


def explain_str(df: DataFrame) -> str:
    """Formatted physical plan as a string (for plan assertions)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Ids that differ from run to run: expression ``#N`` ids, RDD ids and
# ``plan_id``.
RUN_IDS = re.compile(r"(#|RDD\[|plan_id=)\d+")


def normalize_plan(plan: str) -> str:
    """``plan`` with its run-dependent ids replaced by ``N``, so two
    dumps of the same plan ``diff`` clean."""
    return RUN_IDS.sub(r"\1N", plan)


# --- Z-order (Morton) layout -------------------------------------------------
# The third layout knob after bucketing and salting: interleave the
# bits of two filter dimensions so RANGE-partitioning by the combined
# key keeps every partition tight on BOTH dimensions at once — parquet
# min/max row-group stats then skip files for predicates on either
# column (single-column sort is tight on one dimension and useless on
# the other). This is what table formats run under "OPTIMIZE ZORDER
# BY"; here it is a plain column expression + range write, nothing
# format-specific.

ZORDER_BITS = 16


def zorder_key(c1: Column, c2: Column) -> Column:
    """Morton interleave of the low ``ZORDER_BITS`` bits of two
    non-negative long columns (c1 in even positions, c2 in odd). Pure
    integer shifts/masks — bit-identical in any engine, hence
    oracle-exact. Callers range-normalize wider domains first (div to
    fit ``ZORDER_BITS``); 16+16 bits = 4·10^9 cells, plenty for file-level
    skipping."""
    expr = None
    for i in range(ZORDER_BITS):
        even = F.shiftleft(F.shiftright(c1, i).bitwiseAND(F.lit(1)), 2 * i)
        odd = F.shiftleft(
            F.shiftright(c2, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        piece = even + odd
        expr = piece if expr is None else expr + piece
    return expr


def sql_zorder_key(e1: str, e2: str) -> str:
    """DuckDB fragment identical to :func:`zorder_key`."""
    # every piece fully parenthesized: DuckDB's << binds LOOSER than +
    pieces = []
    for i in range(ZORDER_BITS):
        pieces.append(f"(((({e1}) >> {i}) & 1) << {2 * i})")
        pieces.append(f"(((({e2}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(pieces) + ")"


def zorder_bucket_stats(
    df: DataFrame,
    c1: str,
    c2: str,
    n_bucket_bits: int = 10,
) -> DataFrame:
    """(bucket, n_rows, min/max of both dims): the per-bucket min/max
    envelope a Z-order layout yields — the exact numbers a scan
    planner's file-skipping decision reads. Bucket = the Morton key's
    top ``n_bucket_bits`` bits, i.e. the range-partition id a
    ``repartitionByRange(zkey)`` write would produce, computed
    deterministically so the whole layout is oracle-checkable. One
    map + one keyed aggregation."""
    z = zorder_key(F.col(c1), F.col(c2))
    b = df.select(
        F.col(c1), F.col(c2),
        F.shiftright(z, 2 * ZORDER_BITS - n_bucket_bits).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(c1).alias(f"min_{c1}"),
        F.max(c1).alias(f"max_{c1}"),
        F.min(c2).alias(f"min_{c2}"),
        F.max(c2).alias(f"max_{c2}"),
    )


def range_rank(
    df: DataFrame,
    key_cols: list[str],
    out_col: str = "rank",
    checkpoint: bool = True,
) -> DataFrame:
    """``df`` + ``out_col`` = the 1-based GLOBAL rank of each row in
    ``key_cols`` order — without a single-task global sort.

    ``Window.orderBy(key)`` with no partitionBy funnels the whole
    table through one task; ``block_prefix_sum`` needs a NUMERIC
    order column to derive block ids. This is the string-key (or
    any-key) form: repartitionByRange puts each partition in a
    disjoint key range, a window per partition computes the local
    row_number, and the exclusive prefix of per-partition counts
    (a partition-count-sized frame) broadcasts back as offsets.

    The rank is DETERMINISTIC for unique keys even though the range
    boundaries are sampled (and therefore are not): a row's global
    rank is its position in the total order, independent of where
    the partition cuts land. Non-unique keys get a nondeterministic
    tie order — pass a tiebreaking column in ``key_cols``."""
    n = df.sparkSession.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(n, *[F.col(c) for c in key_cols])
    keyed = keyed.withColumn("_pid", F.expr("spark_partition_id()"))
    # Materialize the range exchange ONCE (round-6 ADVICE #5): the
    # offsets aggregation and the row_number window below consume
    # `keyed` as two plan subtrees, and _pid alignment between them
    # must not depend on exchange reuse or the range sampler re-seeding
    # identically under recomputation. The checkpoint pins one physical
    # partitioning both consumers read (the repo's shared-frame
    # pattern, operators/dedup.py:411). ``checkpoint=False`` exposes
    # the full lineage for plan audits (the setsim pattern).
    if checkpoint:
        keyed = keyed.localCheckpoint(eager=False)
    from pyspark.sql import Window

    w_in = Window.partitionBy("_pid").orderBy(*key_cols)
    within = keyed.withColumn("_rn", F.row_number().over(w_in))
    counts = keyed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_p = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_cnt").over(w_p), F.lit(0)).alias("_off")
    )
    return (
        within.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
