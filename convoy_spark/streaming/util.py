"""Shared helpers for the incremental streaming stores: the drain
protocol, the tagged-fragment layout and the store read/append layouts.

Crash-consistency contract (applies to every store module here):
``foreachBatch`` gives AT-LEAST-ONCE execution of the batch function —
the checkpoint fences re-processing of already-committed files, but a
crash mid-batch replays the whole batch on restart. Two store shapes
make that replay safe:

- FRAGMENT stores write each micro-batch to its own partition,
  ``<state_dir>/<kind>/batch-<tag>`` (:func:`fragment_path`), with
  overwrite of that one path, and read every partition back at once
  (:func:`read_fragments`). A store that writes several files per
  batch puts them inside the partition (``batch-<tag>/<file>``, read
  by :func:`read_fragment_kind`) and writes its commit file last. A
  replayed batch overwrites only its own partition, never double-adds.
  :func:`drain` hands each batch its tag,
  ``f"{blake2s(abspath(checkpoint_dir), digest_size=8)}-{epoch_id}"``:
  Structured Streaming restarts epoch numbering per checkpoint, so the
  checkpoint-dir hash keeps two drains into one state dir from
  overwriting each other's ``batch-0``. Stores already on disk are
  keyed by this exact format; changing it would turn the replay of an
  old epoch into a second partition, which is a double count.
- KEYED stores (dedup, funnel, graph, index, neardup, substrdup)
  ignore the tag and fence every write on that same store's own keys
  (content hashes, node ids, doc ids): a replay re-writes only what its
  crash lost, so each store converges to exactly one row-set per key
  no matter where the crash landed.

Pair/result emission is at-least-once under a mid-batch crash
(exactly-once per delivered FILE in normal operation); sinks that need
stronger semantics deduplicate on the emitted key, which every emitter
here makes deterministic.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Default bucket count for the bucketed store layout. Local testing
# value; on a cluster size it so each bucket's history fits one task
# comfortably (buckets are FIXED for a store's lifetime — appends must
# match the spec the store was created with).
STORE_BUCKETS = 8


def _bucket_table_name(path: str) -> str:
    """Deterministic catalog name for a bucketed store at ``path`` —
    bucketing metadata lives in the session catalog (a plain parquet
    path read loses the bucket spec), so every store path gets a
    stable table identity derived from its absolute location."""
    h = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
    return f"convoy_store_{h}"


def _ddl_columns(spark: SparkSession, schema: str) -> str:
    fields = spark.createDataFrame([], schema).schema.fields
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)


def _register_bucketed(
    spark: SparkSession,
    path: str,
    schema: str,
    keys: tuple[str, ...],
    n_buckets: int,
) -> str:
    """Ensure the catalog knows ``path`` as an external bucketed table
    (idempotent). Needed on session restart: the files carry the
    bucket layout but only the catalog entry tells Catalyst about it."""
    name = _bucket_table_name(path)
    if not spark.catalog.tableExists(name):
        key_list = ", ".join(f"`{k}`" for k in keys)
        spark.sql(
            f"CREATE TABLE {name} ({_ddl_columns(spark, schema)}) "
            f"USING parquet CLUSTERED BY ({key_list}) "
            f"SORTED BY ({key_list}) INTO {n_buckets} BUCKETS "
            f"LOCATION '{os.path.abspath(path)}'"
        )
    return name


def load_store(
    spark: SparkSession,
    path: str,
    schema: str,
    bucket: tuple[str, ...] | None = None,
) -> DataFrame:
    """Read a persisted store, or an empty typed frame if the store
    does not exist yet. With ``bucket`` (the store's bucket-key
    columns), the read goes through the catalog so Catalyst sees the
    HashPartitioning the files were written with — history-side joins
    keyed on those columns then run WITHOUT re-shuffling the store
    (the 100 TB layout every store module's docstring promises; plain
    parquet reads re-shuffle history every batch)."""
    if bucket is not None:
        name = _bucket_table_name(path)
        if spark.catalog.tableExists(name) or os.path.isdir(path):
            name = _register_bucketed(
                spark, path, schema, bucket, STORE_BUCKETS
            )
            # Catalog tables cache their file listing per session; an
            # append from the streaming thread does not reliably
            # invalidate a listing this thread already holds, and a
            # STALE read here is not just wrong results — these reads
            # are the crash-consistency FENCES (a fence that misses
            # committed rows re-appends them). Refresh is metadata-only
            # (re-list on next scan), paid once per batch.
            spark.catalog.refreshTable(name)
            return spark.table(name)
        return spark.createDataFrame([], schema)
    if os.path.isdir(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema)


def append_store(
    df: DataFrame,
    path: str,
    schema: str,
    bucket: tuple[str, ...] | None = None,
) -> None:
    """Append a batch's rows to a store in the chosen layout: plain
    parquet (default), or bucketed-by-``bucket`` via the catalog —
    every append re-clusters ONLY the batch's own rows (O(batch)
    shuffle into the fixed bucket count); history files are never
    rewritten, so the append stays O(batch) forever."""
    if bucket is None:
        df.write.mode("append").parquet(path)
        return
    spark = df.sparkSession
    name = _register_bucketed(spark, path, schema, bucket, STORE_BUCKETS)
    (
        df.write.mode("append")
        .format("parquet")
        .bucketBy(STORE_BUCKETS, *bucket)
        .sortBy(*bucket)
        .option("path", os.path.abspath(path))
        .saveAsTable(name)
    )


def stream_parquet(
    spark: SparkSession, landing_dir: str, schema: StructType | str
) -> DataFrame:
    """File-stream of the ``*.parquet`` drops in ``landing_dir``; any
    other file there (a manifest, an editor's temp file) is skipped."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(landing_dir)
    )


def batch_tag(checkpoint_dir: str, epoch_id: int) -> str:
    """The fragment tag of epoch ``epoch_id`` of the drain
    checkpointed at ``checkpoint_dir`` (format: module docstring)."""
    ck = hashlib.blake2s(
        os.path.abspath(checkpoint_dir).encode(), digest_size=8
    ).hexdigest()
    return f"{ck}-{epoch_id}"


# The memory-sink drivers (incremental.py, stateful_graph.py's
# run_stateful_closure) stay off drain: their output mode and sink differ.
def drain(
    source: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, str], None],
) -> None:
    """Drain every file present in the streaming ``source`` through
    ``batch_fn(batch_df, tag)``; stop when caught up. Re-running with
    the same checkpoint processes only new files."""
    q = (
        source.writeStream.foreachBatch(
            lambda b, eid: batch_fn(b, batch_tag(checkpoint_dir, eid))
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def fragment_path(state_dir: str, kind: str, tag: str) -> str:
    """The partition one batch of a fragment store writes."""
    return os.path.join(state_dir, kind, f"batch-{tag}")


def read_fragments(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Every fragment under ``path`` as one frame, or an empty typed
    frame if the store does not exist yet."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(path)
    )


def read_fragment_kind(
    spark: SparkSession,
    path: str,
    kind: str,
    schema: str,
    commit: str | None = None,
) -> DataFrame:
    """The ``kind`` file of every fragment under ``path``, for stores
    that write several files per batch (``batch-<tag>/<kind>``), or an
    empty typed frame. With ``commit``, a fragment counts only once its
    sibling ``commit`` file (the batch's last write) exists."""
    parts = [
        os.path.join(path, b, kind)
        for b in (sorted(os.listdir(path)) if os.path.isdir(path) else [])
        if os.path.isdir(os.path.join(path, b, kind))
        and (commit is None or os.path.isdir(os.path.join(path, b, commit)))
    ]
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*parts)


def fragment_seq(
    spark: SparkSession,
    state_dir: str,
    kind: str,
    tag: str,
    files: tuple[tuple[str, str], ...],
) -> int:
    """The logical clock of a multi-file fragment store: the ``seq``
    that batch ``tag`` writes into ``<state_dir>/<kind>``. ``files``
    are the batch's (file, schema) pairs, its commit marker first.

    A replayed batch reuses the seq its own partition already carries;
    any of its files records it, since a crash can leave the earlier
    files without the commit marker. A new batch takes max(committed
    seq)+1, or 0 in an empty store. Micro-batches drain sequentially,
    so the clock is total-ordered even across drains sharing the state
    dir."""
    own = fragment_path(state_dir, kind, tag)
    for name, schema in files:
        if os.path.isdir(os.path.join(own, name)):
            row = (
                spark.read.schema(schema)
                .parquet(os.path.join(own, name))
                .select("seq")
                .first()
            )
            if row is not None:
                return row.seq
    commit, schema = files[0]
    prev = (
        read_fragment_kind(spark, os.path.join(state_dir, kind), commit, schema)
        .agg(F.max("seq").alias("m"))
        .first()
        .m
    )
    return 0 if prev is None else prev + 1


__all__ = [
    "STORE_BUCKETS",
    "append_store",
    "batch_tag",
    "drain",
    "fragment_path",
    "fragment_seq",
    "load_store",
    "read_fragment_kind",
    "read_fragments",
    "stream_parquet",
]
