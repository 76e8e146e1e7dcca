"""Streaming ε-heavy-hitters — the online form of
``operators/heavyhitters.py``: as document batches arrive, fold each
batch through per-partition Misra-Gries summaries and persist them as
immutable per-batch delta partitions; the heavy-hitter view merges the
summaries (mergeable-sketch sum, Agarwal et al. "Mergeable Summaries")
without ever re-scanning corpus history.

Honest-approximation contract (unlike the batch operator, the stream
cannot recount the corpus, so the answer carries its error bounds
instead of pretending exactness):

- each store row (token, c) undercounts the token's true stream
  frequency by at most D = Σ d_p, where d_p is the partition's ACTUAL
  total subtracted shrink mass — persisted in the marker rows, so the
  bound is data-measured, not the worst-case N/(m+1);
- the view returns (token, c_lower, c_upper=c_lower+D) for every
  token with c_upper·K > N: since c_upper ≥ true freq, this is a
  guaranteed SUPERSET of the true 1/K-heavy hitters (tested against
  the exact batch operator under arbitrary chunking);
- rows with c_lower·K > N are GUARANTEED heavy (c_lower ≤ true freq)
  — the certain/candidate split downstream consumers filter on.

State layout: a fragment store ``summaries/batch-<tag>`` (the
streaming/util.py contract); data rows (token, c, 0, 0)
plus one marker row per batch partition (NULL, 0, n_p, d_p) carrying
the token total and shrink mass. Store size is partitions × (m+1)
rows per batch — compactable offline (streaming/compact.py pattern);
nothing is ever corpus-proportional.

100 TB posture: per batch ONE Arrow mapInPandas pass over the batch's
tokens and a ≤(m+1)-rows-per-partition write; the view reads
batches × partitions × m rows and does one keyed sum — the vocabulary
never shuffles, the corpus is never re-read.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import WS_SPLIT
from convoy_spark.operators.heavyhitters import HH_K, HH_SUMMARY
from convoy_spark.streaming.dedup import DOC_STREAM_SCHEMA
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

SUMMARY_SCHEMA = "token string, c long, n long, d long"


def _mg_summary_partition(m: int):
    """Per-partition MG fold over token strings; emits the surviving
    (token, counter) rows plus ONE marker row (token NULL) carrying
    the partition's token total n_p and its exact total shrink mass
    d_p — the measured undercount bound."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n_part = 0
        d_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for tok, cnt in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(cnt)
            if len(counters) > m:
                delta = sorted(counters.values(), reverse=True)[m]
                d_part += delta
                counters = {
                    t: c - delta for t, c in counters.items() if c > delta
                }
        toks = list(counters.keys())
        yield pd.DataFrame(
            {
                "token": toks + [None],
                "c": [counters[t] for t in toks] + [0],
                "n": [0] * len(toks) + [n_part],
                "d": [0] * len(toks) + [d_part],
            }
        )

    return fold


def apply_hh_batch(
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
    summary_size: int = HH_SUMMARY,
) -> None:
    """Fold one micro-batch of documents into its own summary delta
    partition. Overwrites the batch's own path — replay-idempotent
    (the summary is a pure function of the batch's rows)."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), WS_SPLIT), lambda t: t != F.lit("")
    )
    tokens = batch.select(F.explode(toks).alias("token"))
    summary = tokens.mapInPandas(
        _mg_summary_partition(summary_size), SUMMARY_SCHEMA
    )
    summary.write.mode("overwrite").parquet(
        fragment_path(state_dir, "summaries", batch_tag)
    )


def run_incremental_hh(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    summary_size: int = HH_SUMMARY,
) -> None:
    """Drain all document files present through the summary fold;
    stop when caught up. Re-running with the same checkpoint processes
    only new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_hh_batch(b, state_dir, tag, summary_size),
    )


def heavy_hitters_over_stream(
    spark: SparkSession, state_dir: str, k_inv: int = HH_K
) -> DataFrame:
    """(token, c_lower, c_upper, guaranteed): every token whose upper
    frequency bound clears the 1/k_inv threshold — a proven superset
    of the stream's true heavy hitters, with ``guaranteed`` marking
    the rows whose LOWER bound already clears it. All threshold
    comparisons are integer (freq·K vs N) — exact on both engines."""
    st = read_fragments(
        spark, os.path.join(state_dir, "summaries"), SUMMARY_SCHEMA
    )
    tot = st.where(F.col("token").isNull()).agg(
        F.sum("n").alias("n_total"), F.sum("d").alias("d_total")
    )
    merged = (
        st.where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("c").alias("c_lower"))
    )
    k = F.lit(int(k_inv))
    return (
        merged.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "c_lower",
            (F.col("c_lower") + F.col("d_total")).alias("c_upper"),
            (F.col("c_lower") * k > F.col("n_total")).alias("guaranteed"),
            "n_total",
        )
        .where(F.col("c_upper") * k > F.col("n_total"))
        .drop("n_total")
    )
