"""Training-data loader preparation — the last mile between a curated
corpus and a pretraining run: concatenate-and-chunk sequence packing,
deterministic epoch shuffling, and target-mixture sampling. These are
the operators a 100 TB pipeline runs AFTER dedup/quality/contamination
(the rest of this package) to emit what the training job actually
reads.

The common scale problem here is the GLOBAL running total: packing
needs the cumulative token count in corpus order, shuffling needs a
global rank in hash order — and a Spark window with ``orderBy`` but no
``partitionBy`` computes either in ONE task. Every operator here uses
the textbook two-phase distributed scan instead
(:func:`block_prefix_sum`): a per-block window (parallel, keyed
shuffle) plus an exclusive prefix over the per-block totals (a frame
of n_blocks rows — bounded and broadcast). Same numbers, no
single-task stage.

Determinism contracts (the functions/hashing rules): ordering keys
are exact integers or the cross-engine hash60, so every output
reproduces bit-for-bit on DuckDB — every operator here carries a full
value-hash oracle (packing, shuffle, mixture, shards), and the write
path (:func:`write_training_shards`) materializes the shard manifest
as the actual partitioned layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import WS_SPLIT, hash60

# Block width for the distributed prefix scan, in units of the order
# column. Local testing value; on a cluster size it so blocks ≈ task
# count × small constant (the offsets frame is n_blocks rows and must
# broadcast — 1e10 docs / 1e6-wide blocks = 1e4 offset rows).
SCAN_BLOCK = 4096


def block_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    block_size: int = SCAN_BLOCK,
    out_col: str = "cum",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = INCLUSIVE cumulative sum of ``value_col``
    in ``order_col`` order. A non-unique order column needs
    ``tiebreak_col`` (a unique key) or the within-block ordering — and
    therefore the result — is nondeterministic. Two-phase scan:

    1. within-block running sum — a window PARTITIONED by
       ``floor(order/block_size)``, parallel across blocks;
    2. exclusive prefix of per-block totals — a window over the block
       TOTALS frame only (n_blocks rows; the one ordered-unpartitioned
       window in this module, bounded by construction), broadcast back.

    Equivalent to a global ordered window, never single-task over the
    data."""
    blk = F.floor(F.col(order_col) / F.lit(block_size)).alias("_blk")
    b = df.withColumn("_blk", blk)
    order = (
        [order_col] if tiebreak_col is None else [order_col, tiebreak_col]
    )
    w_in = (
        Window.partitionBy("_blk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = b.withColumn("_cum_in", F.sum(value_col).over(w_in))
    totals = b.groupBy("_blk").agg(F.sum(value_col).alias("_tot"))
    w_blk = Window.orderBy("_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_blk", F.coalesce(F.sum("_tot").over(w_blk), F.lit(0)).alias("_off")
    )
    return (
        within.join(F.broadcast(offsets), "_blk")
        .withColumn(out_col, (F.col("_cum_in") + F.col("_off")).cast("long"))
        .drop("_blk", "_cum_in", "_off")
    )


def pack_sequences(docs: DataFrame, seq_len: int = 1024) -> DataFrame:
    """(doc_id, n_tokens, start_offset, pack_id, crosses_boundary) —
    GPT-style concatenate-and-chunk packing: documents are laid out in
    doc_id order as one token stream and cut into fixed ``seq_len``
    training sequences. ``start_offset`` is the doc's first-token
    position in the stream, ``pack_id`` the sequence containing that
    first token, ``crosses_boundary`` whether the doc spans a cut
    (i.e. contributes to more than one training sequence — the
    packing-quality statistic loaders track).

    Token counts are exact whitespace-token integers; the stream
    offset is the block prefix sum, so the whole table is
    deterministic and oracle-checkable. One keyed shuffle (the
    per-block window) + one broadcast — no single-task scan."""
    n_tok = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), WS_SPLIT),
            lambda t: t != F.lit(""),
        )
    ).cast("long")
    counted = docs.select("doc_id", n_tok.alias("n_tokens"))
    cum = block_prefix_sum(counted, "doc_id", "n_tokens", out_col="_cum")
    # integer DIV, not floor(double division): offsets are exact longs
    # and must stay exact past 2^53 tokens
    return cum.selectExpr(
        "doc_id",
        "n_tokens",
        "CAST(_cum - n_tokens AS BIGINT) AS start_offset",
        f"CAST((_cum - n_tokens) DIV {int(seq_len)} AS BIGINT) AS pack_id",
        "CASE WHEN n_tokens > 0 THEN"
        f" ((_cum - 1) DIV {int(seq_len)})"
        f" > ((_cum - n_tokens) DIV {int(seq_len)})"
        " ELSE FALSE END AS crosses_boundary",
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """(doc_id, chunk_id, start_token, n_chunk_tokens, chunk_text) —
    RAG-style overlapping token-window chunking: each document's
    whitespace token stream cut into windows of ``chunk_size`` tokens
    every ``stride`` tokens (overlap = chunk_size - stride), the unit
    a retrieval index or context-window-bounded consumer ingests.

    Start positions are ``0, stride, 2*stride, …`` up to the last
    start that still begins a non-empty window and covers the tail
    (``ceil((n - chunk_size) / stride)`` strides for n > chunk_size,
    exactly one chunk otherwise), so every token lands in ≥1 chunk
    and the final chunk may be short. Empty docs (no tokens) emit
    nothing.

    Scale: pure per-document Generate work — tokenize once, one
    ``sequence`` + ``explode`` + ``slice``; zero shuffle, zero Python.
    Fan-out is bounded at ~n_tokens/stride rows per doc, so output
    volume is O(corpus tokens × chunk_size/stride) regardless of
    document skew."""
    if not (0 < stride <= chunk_size):
        raise ValueError("need 0 < stride <= chunk_size")
    toks = F.filter(
        F.split(F.col("text"), WS_SPLIT), lambda t: t != F.lit("")
    )
    base = (
        docs.select("doc_id", toks.alias("_toks"))
        .withColumn("n_tokens", F.size("_toks").cast("long"))
        .filter(F.col("n_tokens") > 0)
    )
    # last start, in stride units: 0 when the doc fits in one chunk,
    # else ceil((n - chunk_size)/stride) — integer DIV so the starts
    # stay exact longs at any document length.
    c, s = int(chunk_size), int(stride)
    starts = F.expr(
        "sequence(CAST(0 AS BIGINT), "
        f"(CASE WHEN n_tokens <= {c} THEN CAST(0 AS BIGINT) "
        f"ELSE (n_tokens - {c} + {s} - 1) DIV {s} END) * {s}, "
        f"CAST({s} AS BIGINT))"
    )
    return (
        base.select(
            "doc_id",
            "_toks",
            "n_tokens",
            F.explode(starts).alias("start_token"),
        )
        .select(
            "doc_id",
            (F.col("start_token") / s).cast("long").alias("chunk_id"),
            "start_token",
            F.least(F.lit(c).cast("long"), F.col("n_tokens") - F.col("start_token"))
            .alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("start_token").cast("int") + 1, c),
                " ",
            ).alias("chunk_text"),
        )
    )


def epoch_shuffle(docs: DataFrame, epoch: int) -> DataFrame:
    """(doc_id, shuffle_key, shuffle_pos) — the deterministic global
    shuffle a training loader applies per epoch: order by
    ``hash60(epoch || ':' || doc_id)`` (a new pseudorandom permutation
    each epoch, reproducible across engines and runs), with
    ``shuffle_pos`` the 0-based global rank in that order.

    The rank is the block prefix COUNT over the hash order — the same
    two-phase scan as packing, never a single-task global
    row_number."""
    keyed = docs.select(
        "doc_id",
        hash60(F.concat(F.lit(f"ep{epoch}:"), F.col("doc_id").cast("string")))
        .alias("shuffle_key"),
    )
    # hash60 is uniform over [0, 2^60); scale blocks accordingly.
    # doc_id tiebreak: 60-bit keys collide at corpus scale, and an
    # untied rank would be partition-order-dependent.
    ranked = block_prefix_sum(
        keyed.withColumn("_one", F.lit(1)),
        "shuffle_key",
        "_one",
        block_size=1 << 50,
        out_col="_rk",
        tiebreak_col="doc_id",
    )
    return ranked.select(
        "doc_id",
        "shuffle_key",
        (F.col("_rk") - 1).cast("long").alias("shuffle_pos"),
    )


def shard_assignment(
    docs: DataFrame,
    epoch: int = 0,
    shard_tokens: int = 1 << 20,
) -> DataFrame:
    """(doc_id, shuffle_pos, n_tokens, shard_id) — the write plan for
    training shards: documents in deterministic per-epoch shuffle
    order, greedily packed into shards of ~``shard_tokens`` tokens (a
    doc belongs to the shard containing its first token; shards are
    contiguous runs of the shuffled stream, so a shard file is written
    by one range partition). This is the manifest a 100 TB pipeline
    computes before `write.partitionBy(shard_id)` — the actual write
    rides the warehouse sinks.

    Composition of the two proven scans: the epoch-shuffle rank, then
    the block prefix sum of token counts in RANK order. Both are
    two-phase keyed scans; the only new shuffle is re-keying by rank
    block. Deterministic, so the full assignment is oracle-checkable.
    """
    shuffled = epoch_shuffle(docs, epoch)
    n_tok = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), WS_SPLIT),
            lambda t: t != F.lit(""),
        )
    ).cast("long")
    counted = docs.select("doc_id", n_tok.alias("n_tokens"))
    ordered = shuffled.join(counted, "doc_id")
    cum = block_prefix_sum(ordered, "shuffle_pos", "n_tokens", out_col="_cum")
    return cum.selectExpr(
        "doc_id",
        "shuffle_pos",
        "n_tokens",
        f"CAST((_cum - n_tokens) DIV {int(shard_tokens)} AS BIGINT)"
        " AS shard_id",
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    epoch: int = 0,
    shard_tokens: int = 1 << 20,
) -> DataFrame:
    """Materialize the :func:`shard_assignment` manifest as the actual
    training-shard layout: one ``shard_id=<k>`` parquet directory per
    shard, rows within each shard stored in shuffle order (the order
    the loader reads). The write clusters by shard_id and sorts within
    partitions by (shard_id, shuffle_pos) — at cluster scale each
    shard's rows land contiguously in one task's output, so a shard
    directory is one file of ~``shard_tokens`` tokens, exactly the
    unit a data-loader worker maps. Returns the manifest (the write is
    the side effect); overwrite mode keeps re-runs idempotent (the S8
    contract)."""
    manifest = shard_assignment(docs, epoch=epoch, shard_tokens=shard_tokens)
    rows = docs.select("doc_id", "text").join(manifest, "doc_id")
    (
        rows.repartition(F.col("shard_id"))
        .sortWithinPartitions("shard_id", "shuffle_pos")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    return manifest


def mixture_rates(
    counts: DataFrame, targets: dict[str, float]
) -> DataFrame:
    """(domain, accept_rate) from a ``(domain, n_d)`` counts frame:
    the largest sample keeping every target domain at its exact
    weight takes ``C = min_d(n_d / w_d)`` rows, so domain d accepts
    at ``r_d = w_d · C / n_d`` (the binding domain at 1.0; domains
    absent from ``targets`` at 0). Shared by the batch operator and
    the streaming quota sampler (streaming/mixture.py), which feeds
    CUMULATIVE counts — one definition, no drift."""
    spark = counts.sparkSession
    tgt = spark.createDataFrame(
        [(d, float(w)) for d, w in targets.items()],
        "domain string, w double",
    )
    rated = counts.join(tgt, "domain", "left").withColumn(
        "w", F.coalesce("w", F.lit(0.0))
    )
    cap = rated.filter(F.col("w") > 0).agg(
        F.min(F.col("n_d") / F.col("w")).alias("c")
    )
    return rated.crossJoin(F.broadcast(cap)).select(
        "domain",
        F.when(F.col("w") > 0, F.col("w") * F.col("c") / F.col("n_d"))
        .otherwise(F.lit(0.0))
        .alias("accept_rate"),
    )


MIX_SALT = "mix0"


def mixture_decide(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """(doc_id, domain, accept_rate, sampled) — apply per-domain
    acceptance rates to ``(doc_id, domain)`` rows via the
    deterministic salted-hash threshold (map-side: rates broadcast,
    nothing about the corpus shuffles)."""
    thresh = F.floor(F.col("accept_rate") * F.lit(1_000_000.0)).cast("long")
    bucket = F.pmod(
        hash60(F.concat(F.lit(MIX_SALT + ":"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    return docs.join(F.broadcast(rates), "domain").select(
        "doc_id",
        "domain",
        "accept_rate",
        (bucket < thresh).alias("sampled"),
    )


def mixture_sample(docs: DataFrame, targets: dict[str, float]) -> DataFrame:
    """(doc_id, domain, accept_rate, sampled) — sample the corpus to a
    TARGET domain mixture (the data-mixture step of every pretraining
    recipe): given target weights w_d, the largest achievable sample
    keeping every domain at its exact weight takes
    ``C = min_d(n_d / w_d)`` total rows, i.e. per-domain acceptance
    rate ``r_d = w_d * C / n_d`` (the binding domain samples at rate
    1.0). Acceptance is the deterministic salted-hash threshold
    ``hash60(MIX_SALT:doc_id) % 10^6 < r_d * 10^6`` — reproducible,
    engine-independent, and exactly the split/sample machinery the
    dedup family already proves. Domains absent from ``targets`` get
    rate 0. Counts ride one keyed aggregation; rates broadcast."""
    base = docs.select("doc_id", F.col("source").alias("domain"))
    counts = base.groupBy("domain").agg(F.count("*").alias("n_d"))
    return mixture_decide(base, mixture_rates(counts, targets))


def mixture_rates_feedback(
    counts: DataFrame,
    batch_counts: DataFrame,
    accepted: DataFrame,
    targets: dict[str, float],
) -> DataFrame:
    """(domain, accept_rate) — the ERROR-FEEDBACK form of
    :func:`mixture_rates` for the streaming sampler: given cumulative
    counts ``(domain, n_d)`` INCLUDING the current batch, the batch's
    own counts ``(domain, n_b)``, and prior accepted counts
    ``(domain, n_acc)`` from already-committed batches, the batch
    rate is

        r_d = clamp((w_d·C − n_acc_d) / n_b_d, 0, 1),  C = min_d n_d/w_d

    i.e. accept exactly enough of THIS batch to bring domain d's
    running total back to its target share of the current achievable
    sample — past under/over-acceptance self-corrects instead of
    persisting (rate-targeting's drift decays only as 1/n). For a
    FIRST batch (no prior acceptances, n_d = n_b_d) the clamp is
    inactive and the expression reduces to w_d·C/n_d — identical to
    :func:`mixture_rates` — so the single-batch-drain == batch-twin
    contract survives the variant (tested). One broadcast-scalar cap
    + two tiny domain-keyed joins; nothing corpus-proportional."""
    spark = counts.sparkSession
    tgt = spark.createDataFrame(
        [(d, float(w)) for d, w in targets.items()],
        "domain string, w double",
    )
    rated = counts.join(tgt, "domain", "left").withColumn(
        "w", F.coalesce("w", F.lit(0.0))
    )
    cap = rated.filter(F.col("w") > 0).agg(
        F.min(F.col("n_d") / F.col("w")).alias("c")
    )
    raw = (
        rated.crossJoin(F.broadcast(cap))
        .join(
            F.broadcast(
                accepted.groupBy("domain").agg(
                    F.sum("n_acc").cast("long").alias("a_d")
                )
            ),
            "domain",
            "left",
        )
        .join(F.broadcast(batch_counts), "domain", "left")
        .withColumn("a_d", F.coalesce("a_d", F.lit(0)))
    )
    want = F.col("w") * F.col("c") - F.col("a_d")
    return raw.select(
        "domain",
        F.when(
            (F.col("w") > 0) & (F.col("n_b") > 0),
            F.least(
                F.lit(1.0), F.greatest(F.lit(0.0), want / F.col("n_b"))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("accept_rate"),
    )


PRIORITY_SALT = "ps1"


def priority_sample(
    docs: DataFrame, n: int, salt: str = PRIORITY_SALT
) -> DataFrame:
    """(doc_id, weight, priority): Duffield-Lund-Thorup priority
    sampling — weighted sampling WITHOUT replacement of ``n`` docs
    with inclusion probability increasing in weight (here weight =
    whitespace token count, so the sampled token budget is
    length-unbiased). Priority q_i = w_i / u_i with u_i derived from
    the salted cross-engine hash60 (uniform over [1, 2^60]); take the
    top n by (q, doc_id).

    Determinism: w is an exact long, u an exact long, and q one IEEE
    double DIVISION of the two — correctly rounded, hence identical
    in any engine (no transcendental in sight: the classic
    u^(1/w)-key formulation would hinge on pow(), which differs
    between libm implementations; DLT priorities need only the
    division). Re-salting draws a fresh sample.

    Scale: a pure map (hash + divide) feeding TakeOrderedAndProject —
    per-partition partial top-n, no global sort, no shuffle of the
    corpus. This is the whole point vs. ORDER BY random() LIMIT n.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), WS_SPLIT), lambda t: t != F.lit("")
    )
    w = F.size(toks).cast("long")
    u = hash60(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))) + 1
    q = w.cast("double") / u.cast("double")
    return (
        docs.select("doc_id", w.alias("weight"), q.alias("priority"))
        .orderBy(F.desc("priority"), F.col("doc_id"))
        .limit(n)
    )


CURRICULUM_BINS = 10
# quality_score ranges over roughly [-1, 3]; 1/8-wide blocks give the
# block prefix scan a few dozen range-blocks. At a skewed 100 TB
# distribution you would space blocks by approx-quantile cutpoints
# instead; correctness is unaffected by block sizing, only balance.
CURRICULUM_BLOCK = 0.125


def curriculum_order(
    quality: DataFrame, n_bins: int = CURRICULUM_BINS
) -> DataFrame:
    """(doc_id, bin, within_rank, curriculum_pos): quality-binned
    round-robin curriculum over ``quality`` = (doc_id, quality_score).
    Docs are globally ranked by (quality_score, doc_id), cut into
    ``n_bins`` contiguous quality bins, and scheduled round-robin
    across bins (i-th doc of bin 0, i-th of bin 1, ...) — the
    easy-to-hard interleave curriculum-training loaders consume,
    ordered by ``curriculum_pos = within_rank * n_bins + bin``.

    The global rank is the two-phase block prefix scan over SCORE
    -range blocks (per-block window + broadcast block offsets — the
    corpus never crosses a single-task exchange); bin starts are a
    ``n_bins``-row aggregate broadcast back. Everything after the
    rank is integer arithmetic, so the full table is oracle-exact.
    """
    ranked = block_prefix_sum(
        quality.withColumn("_one", F.lit(1)),
        order_col="quality_score",
        value_col="_one",
        block_size=CURRICULUM_BLOCK,
        out_col="rank",
        tiebreak_col="doc_id",
    ).select("doc_id", "rank")
    total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    binned = ranked.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "rank",
        F.expr(f"((rank - 1) * {int(n_bins)}) div _n").alias("bin"),
    )
    starts = binned.groupBy("bin").agg(F.min("rank").alias("_bstart"))
    return (
        binned.join(F.broadcast(starts), "bin")
        .select(
            "doc_id",
            "bin",
            (F.col("rank") - F.col("_bstart")).alias("within_rank"),
            (
                (F.col("rank") - F.col("_bstart")) * n_bins + F.col("bin")
            ).alias("curriculum_pos"),
        )
    )


__all__ = [
    "SCAN_BLOCK",
    "curriculum_order",
    "priority_sample",
    "block_prefix_sum",
    "epoch_shuffle",
    "mixture_decide",
    "mixture_rates",
    "mixture_rates_feedback",
    "mixture_sample",
    "pack_sequences",
    "shard_assignment",
    "write_training_shards",
]
