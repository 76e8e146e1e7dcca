"""Streaming incremental inverted index + BM25 over the persisted
index — the retrieval analog of the dedup state stores
(`streaming/dedup.py`, `streaming/neardup.py`, `streaming/
substrdup.py`): a crawl pipeline that wants ranked retrieval cannot
re-tokenize the corpus per query, so each micro-batch folds its
postings into a persisted index and queries run against the INDEX
alone.

State: two persisted, append-only keyed stores

- ``postings``: (token, doc_id, tf) — term frequencies per doc;
- ``doclens``: (doc_id, dl) — per-doc token counts (the BM25 length
  normalizer).

Per micro-batch: tokenize the batch (O(batch)), aggregate its
(doc, token) term frequencies and doc lengths, append both — EACH
append fenced on its OWN store's doc membership (streaming/util.py
crash-consistency contract: foreachBatch replays a crashed batch, and
per-store fences make the replay append exactly what the crash lost,
never a second copy — a doclens-keyed fence alone would double a
doc's postings if the crash landed between the two appends). Docs
already present in both stores are dropped up front
(first-crawl-wins). Nothing is re-read at ingest time — ingest cost
is O(batch) plus the store-membership key scans.

Query time: :func:`bm25_over_index` computes the same scores as
``operators/textops.py::bm25_search_multi`` run over the full corpus
— it delegates to the SAME ``bm25_score_postings`` scoring chain
(one definition, no drift), feeding it the query-vocabulary slice of
the postings store (a token-keyed filter, never a corpus scan) and
the doclens store — and is tested index==corpus equal.

100 TB posture: plain parquet here; on a cluster the postings store
is written partitioned/bucketed BY TOKEN (so a query's posting lists
are a few partition reads — the distributed restatement of an
inverted index's seek) and doclens bucketed by doc_id. The dataflow
is unchanged by the layout swap, same position as the other stores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.operators.dedup import doc_tokens
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    append_store,
    drain,
    load_store,
    stream_parquet,
)

POSTINGS_SCHEMA = "token string, doc_id long, tf long"
DOCLENS_SCHEMA = "doc_id long, dl long"
# layout="bucketed": postings cluster on token (a query's posting
# lists land in a fixed bucket subset — the distributed seek), doclens
# on doc_id (the posting-pruned length join co-locates).
POSTINGS_BUCKET = ("token",)
DOCLENS_BUCKET = ("doc_id",)


def apply_index_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    layout: str = "plain",
) -> None:
    """Fold one micro-batch of (doc_id, text) into the index stores.
    ``layout="bucketed"`` — see streaming/util.py; a store's layout is
    fixed at creation."""
    postings_path = os.path.join(state_dir, "postings")
    doclens_path = os.path.join(state_dir, "doclens")
    pb = POSTINGS_BUCKET if layout == "bucketed" else None
    db = DOCLENS_BUCKET if layout == "bucketed" else None

    p_seen = load_store(
        spark, postings_path, POSTINGS_SCHEMA, bucket=pb
    ).select("doc_id").distinct()
    d_seen = load_store(
        spark, doclens_path, DOCLENS_SCHEMA, bucket=db
    ).select("doc_id")

    tk = doc_tokens(
        batch.join(
            p_seen.join(d_seen, "doc_id", "left_semi"), "doc_id", "left_anti"
        )
    ).localCheckpoint()
    tf = (
        tk.groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dl = tk.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    # per-store fences (see module docstring): a replayed batch
    # re-appends only to the store the crash left incomplete.
    append_store(
        tf.join(p_seen, "doc_id", "left_anti").select(
            "token", "doc_id", "tf"
        ),
        postings_path,
        POSTINGS_SCHEMA,
        bucket=pb,
    )
    append_store(
        dl.join(d_seen, "doc_id", "left_anti").select("doc_id", "dl"),
        doclens_path,
        DOCLENS_SCHEMA,
        bucket=db,
    )


def run_incremental_index(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    layout: str = "plain",
) -> None:
    """Drain all document files present into the index stores; stop
    when caught up. Re-running with the same checkpoint processes
    only new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, _tag: apply_index_batch(spark, b, state_dir, layout=layout),
    )


def bm25_over_index(
    spark: SparkSession,
    state_dir: str,
    queries: DataFrame,
    top_k: int = 20,
    layout: str = "plain",
) -> DataFrame:
    """(query_id, doc_id, score, n_hit_terms) — BM25 top-k per query
    computed from the persisted index ALONE, via the shared
    :func:`~convoy_spark.operators.textops.bm25_score_postings`
    scoring chain (tested equal to the corpus-pass operator)."""
    from convoy_spark.operators.textops import bm25_score_postings

    pb = POSTINGS_BUCKET if layout == "bucketed" else None
    postings = load_store(
        spark, os.path.join(state_dir, "postings"), POSTINGS_SCHEMA, bucket=pb
    )
    db = DOCLENS_BUCKET if layout == "bucketed" else None
    doclens = load_store(
        spark, os.path.join(state_dir, "doclens"), DOCLENS_SCHEMA, bucket=db
    )
    q = queries.select(
        "query_id", F.lower(F.col("term")).alias("token")
    ).distinct()
    tf = postings.join(
        F.broadcast(q.select("token").distinct()), "token", "left_semi"
    )
    return bm25_score_postings(tf, doclens, q, top_k)


__all__ = [
    "DOCLENS_SCHEMA",
    "POSTINGS_SCHEMA",
    "apply_index_batch",
    "bm25_over_index",
    "run_incremental_index",
]
