"""ε-heavy-hitters over the token stream: Misra-Gries sketch, then
exact verify — the frequent-vocabulary primitive (stop-list mining,
boilerplate detection, tokenizer seeding) that must NOT be computed
as a full-vocabulary ``GROUP BY token`` at corpus scale.

Why not plain groupBy: at 100 TB the distinct-token cardinality is
O(10^9..10^11) (typos, ids, urls); a full hash aggregate shuffles the
entire vocabulary every run to answer a question about the top few
thousand tokens. Instead:

1. **Sketch pass** — each partition folds its token stream through a
   bounded Misra-Gries summary of ``m`` counters (Arrow-batched
   ``mapInPandas``; the per-batch update is a vectorized
   ``value_counts`` merge + quantile shrink). MG guarantee: any token
   with partition frequency > n_p/(m+1) survives the partition's
   summary; by weighted pigeonhole any token with GLOBAL frequency
   > N/(m+1) survives in ≥1 partition. Output is ≤ m rows per
   partition — the vocabulary never shuffles.
2. **Verify pass** — exact recount of ONLY the candidate tokens
   (broadcast semi-join before the count agg, so the shuffle carries
   ≤ |candidates| rows per partition after map-side combine), then
   the exact integer threshold ``freq * K > N``.

With m+1 ≥ K the candidate set provably contains every true
1/K-heavy hitter, so the verified output EQUALS the exact answer —
which is why this approximate-by-construction operator still carries
a full value-hash DuckDB oracle (the oracle just does the naive
GROUP BY; it runs at sf0.01, not 100 TB).

The threshold is integer arithmetic (``freq * K > N``), never a float
fraction — exact and engine-independent.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import WS_SPLIT, hash60

# 1/K is the heaviness threshold; m the per-partition summary size.
HH_K = 2000
HH_SUMMARY = 8192  # m+1 >= K with 4x slack for fewer shrink passes


def _tokens_exploded(docs: DataFrame) -> DataFrame:
    toks = F.filter(
        F.split(F.lower(F.col("text")), WS_SPLIT), lambda t: t != F.lit("")
    )
    return docs.select(F.explode(toks).alias("token"))


def _mg_partition(m: int):
    """Fold a partition's 64-bit token-hash stream through an m-counter
    Misra-Gries summary. Sketching over hashes, not strings, keeps the
    Arrow transfer and the dict keys compact; a hash collision merges
    two tokens' counters, which only ADDS mass to each — survival is
    monotone in counted mass, so the superset guarantee is preserved
    and the exact recount discards any collision-born false candidate.
    Emits the surviving hashes plus one marker row (th NULL) carrying
    the partition's total token count, so N needs no extra pass."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[int, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for th, cnt in pdf["th"].value_counts().items():
                counters[th] = counters.get(th, 0) + int(cnt)
            if len(counters) > m:
                # subtract the (m+1)-th largest from everything and
                # drop the non-positive — each shrink removes >=
                # delta*(m+1) mass, so total undercount <= n_p/(m+1)
                delta = sorted(counters.values(), reverse=True)[m]
                counters = {
                    t: c - delta for t, c in counters.items() if c > delta
                }
        yield pd.DataFrame(
            {
                "th": pd.array(
                    list(counters.keys()) + [None], dtype="Int64"
                ),
                "n": pd.array(
                    [0] * len(counters) + [n_part], dtype="Int64"
                ),
            }
        )

    return fold


def heavy_hitters(
    docs: DataFrame,
    k_inv: int = HH_K,
    summary_size: int = HH_SUMMARY,
    checkpoint: bool = True,
) -> DataFrame:
    """(token, freq) for every token with freq * k_inv > N, exactly.

    Two corpus passes total — sketch (which also accumulates N via
    per-partition marker rows) and verify; zero full-vocabulary
    shuffles. ``summary_size + 1 >= k_inv`` is asserted — it is the
    superset guarantee the exactness rests on.
    """
    assert summary_size + 1 >= k_inv, "MG summary too small for threshold"
    tokens = _tokens_exploded(docs)
    hashed = tokens.select(F.xxhash64("token").alias("th"))
    sketch = hashed.mapInPandas(_mg_partition(summary_size), "th long, n long")
    if checkpoint:
        # materialized once, read twice (candidates + total); pass
        # checkpoint=False to see the full pipeline in .explain()
        sketch = sketch.localCheckpoint(eager=False)
    candidates = (
        sketch.where(F.col("th").isNotNull()).select("th").distinct()
    )
    total = sketch.where(F.col("th").isNull()).agg(
        F.sum("n").alias("n_total")
    )
    counts = (
        tokens.withColumn("th", F.xxhash64("token"))
        .join(F.broadcast(candidates), "th", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("freq") * F.lit(int(k_inv)) > F.col("n_total"))
        .select("token", "freq")
    )


# Count-Min sketch geometry: d independent rows of w counters.
# ε = e/w ≈ 0.0027, δ = e^-d ≈ 0.018 — point-estimate error ≤ εN
# with probability 1−δ. Small enough to be a real sketch, large
# enough that the tolerance test below is non-vacuous at sf0.01.
CM_DEPTH = 4
CM_WIDTH = 1024


def count_min_cells(docs: DataFrame) -> DataFrame:
    """(row, bucket, c) — the Count-Min sketch (Cormode &
    Muthukrishnan 2005) of the corpus token stream: for each token
    OCCURRENCE, row i increments bucket ``perm_hash_i(hash60(token))
    mod w``. The complement of the Misra-Gries pass above: MG answers
    "which tokens are frequent", CM answers "how frequent is THIS
    token" for any token, in d·w integers, mergeable by cell-wise sum
    across partitions/batches/days by construction (the aggregation
    IS the merge).

    Plan: the d bucket ids are computed per occurrence as a codegen
    array (no per-row Python, no d-way scan), exploded, then ONE
    map-side-combined count on (row, bucket) — the shuffle carries at
    most d·w rows per partition no matter the corpus size. Hashes are
    the cross-engine family (hash60 → perm_hash), so the sketch —
    and every estimate derived from it — is bit-identical in the
    DuckDB oracle."""
    from convoy_spark.functions.hashing import minhash_params, perm_hash

    toks = _tokens_exploded(docs).select(
        hash60(F.col("token")).alias("h")
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (perm_hash(F.col("h"), F.lit(a), F.lit(b)) % CM_WIDTH).alias(
                    "bucket"
                ),
            )
            for i, a, b in minhash_params(CM_DEPTH)
        ]
    )
    return (
        toks.select(F.explode(cells).alias("c"))
        .select("c.row", "c.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_estimates(docs: DataFrame) -> DataFrame:
    """(token, exact, cm_estimate, overestimate, within_bound) — every
    distinct token's exact occurrence count next to its Count-Min
    point estimate (min over the d rows of the token's cells), plus
    the sketch's two contracts as integer-exact booleans:
    ``overestimate`` (CM never underestimates — must be true for ALL
    rows) and ``within_bound`` (estimate ≤ exact + ceil(2N/w), the
    standard εN bound with ε = 2/w — true w.h.p.; the testdata's
    vocabulary is far below w, so here it holds everywhere and the
    driver hash pins it). Probing every distinct token is
    vocab-proportional — the probe-set form a production caller uses
    is the same join against a chosen token table."""
    from convoy_spark.functions.hashing import minhash_params, perm_hash

    # materialize the d·w-row sketch ONCE before slicing it into the
    # per-depth broadcast legs below (round-6 ADVICE #3: without this
    # the full tokenize+explode+agg pipeline re-executed CM_DEPTH
    # times — the setsim/minhash shared-frame pattern applies here too)
    sketch = count_min_cells(docs).localCheckpoint(eager=False)
    exact = (
        _tokens_exploded(docs)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    n_total = exact.agg(F.sum("exact").alias("n_total"))
    probes = exact.select(
        "token", "exact", hash60(F.col("token")).alias("h")
    )
    est = None
    for i, a, b in minhash_params(CM_DEPTH):
        leg = (
            probes.withColumn(
                "bucket", perm_hash(F.col("h"), F.lit(a), F.lit(b)) % CM_WIDTH
            )
            .join(
                F.broadcast(sketch.filter(F.col("row") == i)),
                "bucket",
            )
            .select("token", "exact", F.col("c").alias(f"e{i}"))
        )
        est = leg if est is None else est.join(
            leg.select("token", f"e{i}"), "token"
        )
    mins = F.least(*[F.col(f"e{i}") for i in range(CM_DEPTH)])
    return (
        est.withColumn("cm_estimate", mins)
        .crossJoin(F.broadcast(n_total))
        .select(
            "token",
            "exact",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("exact")).alias("overestimate"),
            (
                CM_WIDTH * (F.col("cm_estimate") - F.col("exact"))
                <= 2 * F.col("n_total")
            ).alias("within_bound"),
        )
    )
