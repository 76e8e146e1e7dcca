"""Streaming hard-negative mining — the online half of the ANCE-style
negative miner (queries/similarity.py::hard_negative_mine): as corpus
vectors stream in, each query's "most confusable non-neighbors" set
drifts, and contrastive-training pipelines refresh their negatives
from exactly this state (the asynchronous index-refresh loop of ANCE,
Xiong et al. 2021). The codebook is frozen offline (the
streaming/pqencode.py contract — retraining per batch would re-key
every stored code) and the QUERY set is frozen alongside it (the
probe set a negative refresh serves is fixed between encoder
updates).

State layout (fragment stores — the streaming/util.py contract):

- ``hn_queries/`` — the frozen (vec_id, embedding) query table,
  written once by :func:`freeze_queries`;
- ``hn_short/batch-<tag>`` — this batch's LOCAL ADC top-``k_short``
  per query over the batch's vectors only: (query_id, corpus_id,
  adist);
- ``hn_truth/batch-<tag>`` — this batch's local exact-L2
  top-``k_truth`` per query: (query_id, corpus_id, dnum). Written
  LAST: the batch's commit marker.

Mergeability: a global top-k under a deterministic TOTAL order
((adist, corpus_id) / (dnum, corpus_id) — both exact: floor-scaled
sums) is contained in the union of per-batch local top-ks, so the
store read re-ranks the union and gets BIT-IDENTICAL results to the
one-pass batch miner over the same corpus, for any chunking in any
delivery order (tested). Re-delivered vectors produce byte-identical
rows that one DISTINCT collapses.

100 TB posture: per batch, the ADC table (|Q|·n_sub·ks doubles)
broadcasts against only the BATCH's codes, and the exact-L2 truth leg
is |Q|×batch — both batch-proportional, independent of store size.
The store read ranks |batches|·|Q|·k rows — shortlist-proportional,
never corpus-proportional: the miner's query-time cost does not grow
with ingested volume, which is the point of keeping per-batch tops
instead of raw scores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from convoy_spark.operators.pq import (
    _assign,
    _sub_exploded,
    ann_pq_adc_topk,
    exact_l2_topk,
)
from convoy_spark.streaming.embstats import EMB_STREAM_SCHEMA
from convoy_spark.streaming.pqencode import _load_codebook
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

HN_SHORT_SCHEMA = "query_id long, corpus_id long, adist double"
HN_TRUTH_SCHEMA = "query_id long, corpus_id long, dnum long"

K_SHORT = 20  # = queries/similarity.py::HN_SHORTLIST
K_TRUTH = 5  # = TOP_K: the exact neighbors excluded from negatives
K_NEG = 10  # = HN_PER_QUERY


def freeze_queries(queries: DataFrame, state_dir: str) -> None:
    """Persist the fixed probe/query set next to the frozen codebook."""
    queries.select("vec_id", "embedding").write.mode("overwrite").parquet(
        os.path.join(state_dir, "hn_queries")
    )


def _load_queries(spark: SparkSession, state_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(state_dir, "hn_queries"))


def apply_hardneg_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
) -> None:
    """Fold one micro-batch of (vec_id, embedding) corpus vectors:
    write its local ADC shortlist and exact-truth tops to the batch's
    own partitions (idempotent under replay)."""
    if batch.isEmpty():
        return
    cb, ds, ks = _load_codebook(spark, state_dir)
    queries = _load_queries(spark, state_dir)
    # the search counts the codes for its shape choice, then scans
    # them: checkpointed so the batch is encoded once
    codes = (
        _assign(_sub_exploded(batch, ds), cb, ks)
        .select("vec_id", F.col("sub").cast("int"), F.col("code").cast("int"))
        .localCheckpoint(eager=False)
    )
    short = ann_pq_adc_topk(queries, (cb, codes, None), k=K_SHORT).select(
        "query_id", "corpus_id", "adist"
    )
    truth = exact_l2_topk(queries, batch, k=K_TRUTH).select(
        "query_id", "corpus_id", "dnum"
    )
    short.write.mode("overwrite").parquet(
        fragment_path(state_dir, "hn_short", batch_tag)
    )
    # truth last — the batch's commit marker
    truth.write.mode("overwrite").parquet(
        fragment_path(state_dir, "hn_truth", batch_tag)
    )


def run_incremental_hardneg(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all embedding files present into the negative-mining
    store; stop when caught up (availableNow)."""
    drain(
        stream_parquet(spark, landing_dir, EMB_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_hardneg_batch(spark, b, state_dir, tag),
    )


def _negatives_from(
    short: DataFrame, truth: DataFrame, k_neg: int
) -> DataFrame:
    """(query_id, corpus_id, adist, neg_rank) — the ONE derivation
    shared by the store reader and the batch twin (and mirroring
    queries/similarity.py::hard_negative_mine): shortlist survivors
    anti-joined against the exact neighbors, re-ranked."""
    negs = short.join(
        truth.select("query_id", "corpus_id"),
        ["query_id", "corpus_id"],
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("corpus_id").asc()
    )
    return (
        negs.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= k_neg)
        .select("query_id", "corpus_id", "adist", "neg_rank")
    )


def _rerank_top(
    rows: DataFrame, order_col: str, k: int
) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col(order_col).asc(), F.col("corpus_id").asc()
    )
    return rows.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    ).drop("_rk")


COMPACT_MARKER = "_compacted_k.json"


def compacted_k_bounds(state_dir: str) -> dict:
    """The per-store k bounds written by compact_hardneg's marker
    (streaming/compact.py) — {} when the store was never compacted."""
    import json

    p = os.path.join(state_dir, COMPACT_MARKER)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def mined_negatives(
    spark: SparkSession,
    state_dir: str,
    k_short: int = K_SHORT,
    k_truth: int = K_TRUTH,
) -> DataFrame:
    """Hard negatives from the persisted store alone: re-rank the
    union of per-batch local tops (global top-k ⊆ union of local
    top-ks under the deterministic total order), then the shared
    anti-join derivation.

    A compacted store (streaming/compact.py::compact_hardneg) has
    discarded every row beyond its compaction-time k per kind; asking
    for a larger k would silently return short results, so the marker
    the compactor writes is enforced here — a runtime guard, not a
    prose contract."""
    bounds = compacted_k_bounds(state_dir)
    for kind, k in (("hn_short", k_short), ("hn_truth", k_truth)):
        if kind in bounds and k > bounds[kind]:
            raise ValueError(
                f"store {kind} was compacted at k={bounds[kind]}; "
                f"rows beyond that are gone — asked for k={k}. "
                "Re-mine from the landing data for a larger k."
            )
    short = _rerank_top(
        read_fragments(
            spark, os.path.join(state_dir, "hn_short"), HN_SHORT_SCHEMA
        ).distinct(),
        "adist",
        k_short,
    )
    truth = _rerank_top(
        read_fragments(
            spark, os.path.join(state_dir, "hn_truth"), HN_TRUTH_SCHEMA
        ).distinct(),
        "dnum",
        k_truth,
    )
    return _negatives_from(short, truth, K_NEG)


def batch_negatives(
    spark: SparkSession,
    corpus: DataFrame,
    state_dir: str,
) -> DataFrame:
    """One-pass batch twin over the same frozen codebook + query set:
    encode the whole corpus, ADC-rank, exact-truth anti-join — the
    result :func:`mined_negatives` must equal bit-for-bit."""
    cb, ds, ks = _load_codebook(spark, state_dir)
    queries = _load_queries(spark, state_dir)
    # the search counts the codes for its shape choice, then scans
    # them: checkpointed so the corpus is encoded once
    codes = (
        _assign(_sub_exploded(corpus, ds), cb, ks)
        .select("vec_id", F.col("sub").cast("int"), F.col("code").cast("int"))
        .localCheckpoint(eager=False)
    )
    short = ann_pq_adc_topk(queries, (cb, codes, None), k=K_SHORT).select(
        "query_id", "corpus_id", "adist"
    )
    truth = exact_l2_topk(queries, corpus, k=K_TRUTH).select(
        "query_id", "corpus_id", "dnum"
    )
    return _negatives_from(short, truth, K_NEG)


__all__ = [
    "HN_SHORT_SCHEMA",
    "HN_TRUTH_SCHEMA",
    "apply_hardneg_batch",
    "batch_negatives",
    "freeze_queries",
    "mined_negatives",
    "run_incremental_hardneg",
]
