"""Streaming target-mixture quota sampler — the online form of
``operators/loader.py::mixture_sample``: as document batches arrive,
maintain per-domain cumulative counts and decide, per batch,
deterministically and immutably, which docs enter the training sample
so the accepted corpus tracks a TARGET domain mixture.

Semantics: each batch's acceptance rates are
``mixture_rates(cumulative counts INCLUDING the batch)`` — the SAME
shared definition the batch operator uses, so a single-batch drain is
bit-identical to ``mixture_sample`` (tested), and a multi-batch stream
adapts its rates as the observed domain proportions move (a domain
arriving slower than its target weight binds the cap and samples at
1.0; an over-represented domain's rate falls). The default is
rate-targeting: past acceptances are never revoked (a decision is a
training-manifest row), and by construction the accepted mixture
converges to the target as cumulative counts grow — but realized
drift decays only as 1/n. ``feedback=True`` switches to the
ERROR-FEEDBACK rule (``operators/loader.py::mixture_rates_feedback``:
rate = clamp((w_d·C − already_accepted_d)/batch_d)), which accepts
exactly enough of each batch to pull the running accepted totals back
onto target — drift self-corrects within a batch rather than decaying
(tested: under adversarially skewed arrival order the feedback
manifest lands nearer the target mixture than rate-targeting). On a
first batch the clamp is inactive and the rule reduces to the shared
rate-targeting expression, so the single-batch drain == batch-operator
twin holds for BOTH variants (tested).

State layout: two fragment stores (the streaming/util.py contract) —
``counts/batch-<tag>`` (domain, n) and ``decisions/batch-<tag>`` (doc
rows) — so a replayed batch overwrites ITS OWN partitions instead of
double-adding (crash between the two writes: the replay recomputes
rates from the same counts — the counts delta is already its own —
and rewrites identical decisions; convergent, tested).

100 TB posture: per batch, one keyed count aggregation over the batch
(map-side combined), a read of domains × batches count rows (tiny,
compactable offline), broadcast rates, and a map-side threshold on the
batch — nothing corpus-proportional, no history re-scan ever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from convoy_spark.operators.loader import (
    mixture_decide,
    mixture_rates,
    mixture_rates_feedback,
)
from convoy_spark.streaming.util import (
    drain,
    fragment_path,
    read_fragments,
    stream_parquet,
)

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
    ]
)

COUNTS_SCHEMA = "domain string, n long"
DECISIONS_SCHEMA = (
    "batch_tag string, doc_id long, domain string,"
    " accept_rate double, sampled boolean"
)
ACC_SCHEMA = "batch_tag string, domain string, n_acc long"


def apply_mixture_batch(
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
    targets: dict[str, float],
    feedback: bool = False,
) -> None:
    """Fold one micro-batch of (doc_id, source): persist its domain
    counts, compute rates from the cumulative counts (including this
    batch), decide and persist this batch's manifest rows. Every write
    overwrites the batch's own partition — replay-idempotent.

    ``feedback=True`` switches the rate rule to
    :func:`mixture_rates_feedback` — accept exactly enough of this
    batch to pull each domain's running ACCEPTED total back to its
    target share (drift self-corrects instead of decaying as 1/n).
    It needs one extra tiny store: per-batch accepted-count deltas
    (``acc/batch-<tag>``, domains × batches rows). The prior-accepted
    read EXCLUDES this batch's own tag, so a crash after the acc
    write replays with the same inputs and rewrites identical
    decisions — the same fence discipline as every delta store
    here."""
    spark = batch.sparkSession
    b = batch.select("doc_id", F.col("source").alias("domain"))
    bcounts = b.groupBy("domain").agg(F.count("*").cast("long").alias("n"))
    bcounts.write.mode("overwrite").parquet(
        fragment_path(state_dir, "counts", batch_tag)
    )
    counts = (
        read_fragments(spark, os.path.join(state_dir, "counts"), COUNTS_SCHEMA)
        .groupBy("domain")
        .agg(F.sum("n").alias("n_d"))
    )
    if feedback:
        prior_acc = read_fragments(
            spark, os.path.join(state_dir, "acc"), ACC_SCHEMA
        ).filter(F.col("batch_tag") != batch_tag)
        rates = mixture_rates_feedback(
            counts,
            bcounts.withColumnRenamed("n", "n_b"),
            prior_acc,
            targets,
        )
    else:
        rates = mixture_rates(counts, targets)
    dec = mixture_decide(b, rates)
    dec.select(F.lit(batch_tag).alias("batch_tag"), "*").write.mode(
        "overwrite"
    ).parquet(fragment_path(state_dir, "decisions", batch_tag))
    if feedback:
        dec.filter("sampled").groupBy("domain").agg(
            F.count("*").cast("long").alias("n_acc")
        ).select(F.lit(batch_tag).alias("batch_tag"), "domain", "n_acc").write.mode(
            "overwrite"
        ).parquet(fragment_path(state_dir, "acc", batch_tag))


def run_incremental_mixture(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    targets: dict[str, float],
    feedback: bool = False,
) -> None:
    """Drain all document files present through the quota sampler;
    stop when caught up. Re-running with the same checkpoint processes
    only new files."""
    drain(
        stream_parquet(spark, landing_dir, DOC_STREAM_SCHEMA),
        checkpoint_dir,
        lambda b, tag: apply_mixture_batch(b, state_dir, tag, targets, feedback),
    )


def mixture_decisions(spark: SparkSession, state_dir: str) -> DataFrame:
    """(batch_tag, doc_id, domain, accept_rate, sampled) — the full
    persisted training manifest; empty frame if no state yet."""
    return read_fragments(
        spark, os.path.join(state_dir, "decisions"), DECISIONS_SCHEMA
    )


def cumulative_mixture(spark: SparkSession, state_dir: str) -> DataFrame:
    """(domain, n_seen, n_sampled) from the manifest alone — the
    monitoring rollup a mixture dashboard reads."""
    return (
        mixture_decisions(spark, state_dir)
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_seen"),
            F.sum(F.col("sampled").cast("long")).cast("long").alias(
                "n_sampled"
            ),
        )
    )


__all__ = [
    "ACC_SCHEMA",
    "COUNTS_SCHEMA",
    "DECISIONS_SCHEMA",
    "DOC_STREAM_SCHEMA",
    "apply_mixture_batch",
    "cumulative_mixture",
    "mixture_decisions",
    "run_incremental_mixture",
]
