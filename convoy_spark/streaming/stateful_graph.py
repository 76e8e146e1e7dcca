"""State-store-native incremental ur-closure enrichment
(``transformWithStateInPandas``) — the streaming twin of
``operators/closure.py`` with per-batch IO proportional to the BATCH,
not the corpus.

``streaming/graph.py`` (the foreachBatch variant) re-reads the whole
persisted node→root map every micro-batch and rewrites it whole — the
dataflow is right but the IO is O(|map|) per batch. This module keeps
the map INSIDE Spark's keyed state store (RocksDB-backed in a real
deployment): each batch performs point lookups/upserts against exactly
the entries it touches, which is the at-scale form the round-2 review
asked for (`transformWithState`, Spark 4 StatefulProcessor API).

Algorithm: streaming union-find with deferred healing. Two state
variables per grouping key:

- ``roots``   — MapState node_id → root_id. Invariant: every stored
  root is *terminal* — either a resolved root (``roots[r] == r``) or a
  dangling node (no entry yet).
- ``pending`` — MapState dangling_node → array of nodes currently
  rooted at it. When the dangling node finally arrives as a child, its
  waiters are re-pointed to its freshly resolved root in one pass (the
  same out-of-order healing `operators/closure.py::
  incremental_closure_update` does with a join — here it is O(waiters)
  point writes instead of a map-wide join).

Every ``roots`` upsert — including heals — is also EMITTED downstream,
so any sink can maintain an external mirror of the map incrementally
(output volume per batch = number of changed nodes). First-wins
semantics match the reference's INSERT IGNORE
(`2_enrich_ur_conversation_ids.py`, `1_initial_load.py:218-224`):
re-parenting an already-seen child is ignored. Edges within a batch
are processed in (child_id, parent_id) order so results do not depend
on partition arrival order.

Honest scale note: the processor runs under ONE grouping key, so edge
ingestion serializes through one task — the price of cross-key pointer
chasing, which per-key state cannot express. The heavy subgraph
resolution work is O(α) per edge (union-find with path compression via
terminal-root invariant), so the serialized stage is cheap
bookkeeping; deployments whose edge RATE outgrows one task shard the
stream upstream (e.g. by crawl partition) and reconcile cross-shard
portals with the foreachBatch variant.

ENVIRONMENT-BLOCKED (verified, like Delta MERGE — COVERAGE.md S8):
PySpark's transformWithState driver-worker protocol imports
``google.protobuf`` (``pyspark/sql/streaming/proto/StateMessage_pb2``),
and the protobuf package is not in this container (no pip install
allowed). The processor LOGIC is fully unit-tested against an
in-memory MapState double (tests/test_stateful_graph.py) — first-wins,
healing, random arrival order vs the batch closure — and the Spark
wiring tests auto-skip until the environment grows protobuf. The
working end-to-end incremental variant remains ``streaming/graph.py``
(foreachBatch), whose stream==batch tests run green here.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from convoy_spark.streaming.graph import EDGE_STREAM_SCHEMA
from convoy_spark.streaming.util import stream_parquet

UPSERT_SCHEMA = "node_id long, root_id long"


class ClosureProcessor(StatefulProcessor):
    """Streaming union-find over (child_id, parent_id) edges; emits
    every node→root upsert (including heals) as an output row."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.roots = handle.getMapState("roots", "node_id long", "root_id long")
        self.pending = handle.getMapState(
            "pending", "node_id long", "waiters array<bigint>"
        )

    def close(self) -> None:
        pass

    # -- union-find core ---------------------------------------------------

    def _emit(self, out: list, node: int, root: int) -> None:
        self.roots.updateValue((node,), (root,))
        out.append((node, root))

    def _add_edge(self, out: list, child: int, parent: int | None) -> None:
        if self.roots.containsKey((child,)):
            return  # first-wins (INSERT IGNORE parity)
        if parent is None or parent == child:
            root = child
        elif self.roots.containsKey((parent,)):
            # invariant: stored roots are terminal, no chasing needed
            root = self.roots.getValue((parent,))[0]
        else:
            root = parent  # dangling parent = provisional root
        self._emit(out, child, root)
        if root != child and not self.roots.containsKey((root,)):
            self._enqueue_waiter(root, child)
        # heal: nodes that were provisionally rooted at `child` now
        # re-point to child's freshly resolved terminal root
        if self.pending.containsKey((child,)):
            waiters = list(self.pending.getValue((child,))[0])
            for n in waiters:
                self._emit(out, int(n), root)
            if root != child and not self.roots.containsKey((root,)):
                for n in waiters:
                    self._enqueue_waiter(root, int(n))
            self.pending.removeKey((child,))

    def _enqueue_waiter(self, dangling: int, node: int) -> None:
        if self.pending.containsKey((dangling,)):
            cur = list(self.pending.getValue((dangling,))[0])
        else:
            cur = []
        cur.append(node)
        self.pending.updateValue((dangling,), (cur,))

    # -- StatefulProcessor hook --------------------------------------------

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: Any
    ) -> Iterator[pd.DataFrame]:
        edges: list[tuple[int, int | None]] = []
        for pdf in rows:
            for child, parent in zip(pdf["child_id"], pdf["parent_id"]):
                edges.append(
                    (int(child), None if pd.isna(parent) else int(parent))
                )
        # deterministic within-batch order regardless of partition
        # arrival order (NULL parents first via the -1 sentinel)
        edges.sort(key=lambda e: (e[0], -1 if e[1] is None else e[1]))
        out: list[tuple[int, int]] = []
        for child, parent in edges:
            self._add_edge(out, child, parent)
        if out:
            yield pd.DataFrame(out, columns=["node_id", "root_id"])


def closure_upserts(edges: DataFrame) -> DataFrame:
    """(node_id, root_id) upsert stream from an edge stream — all
    edges route to one grouping key (see module scale note)."""
    return (
        edges.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .transformWithStateInPandas(
            statefulProcessor=ClosureProcessor(),
            outputStructType=UPSERT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_stateful_closure(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink,
) -> None:
    """Drain all edge files present through the stateful processor,
    delivering each batch's upserts to ``sink(batch_df, batch_id)``;
    stop when caught up. Re-running with the same checkpoint processes
    only new files, and the node→root state SURVIVES in the state
    store across runs — nothing is re-read, nothing reprocessed."""
    from convoy_spark.session import ensure_executor_imports

    ensure_executor_imports(spark)
    upserts = closure_upserts(
        stream_parquet(spark, landing_dir, EDGE_STREAM_SCHEMA)
    )
    q = (
        upserts.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


__all__ = ["ClosureProcessor", "closure_upserts", "run_stateful_closure"]
