"""Product quantization (PQ) vector index: per-subspace codebook
training and asymmetric-distance (ADC) top-k search.

PQ (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) cuts a ``dim``-dimensional vector into ``n_sub``
contiguous subvectors and vector-quantizes each subspace independently
with its own ``ks``-centroid codebook, so a corpus vector is stored as
``n_sub`` small integer codes (here 16 five-bit codes ≈ 10 bytes vs
256 bytes of float32 — the memory compression that makes billion-scale
indexes fit in RAM). Search is asymmetric: the UNquantized query precomputes a
(sub, cell) → squared-distance table against the codebooks, and each
corpus vector's approximate distance is just ``n_sub`` table lookups
summed — no float vector is ever touched at scan time.

Spark-first shape (NOT a translation of the usual single-node loop):

- **Training is ONE k-means dataflow for all subspaces at once.** The
  exploded (vec_id, d, x) frame gains ``sub = d div ds`` /
  ``dsub = d mod ds`` keys, and every Lloyd step — distance aggregate,
  argmin assignment, centroid mean — simply carries ``sub`` in its
  grouping key. M independent quantizers train in the SAME jobs with
  the same shuffle count as one: assignment is one broadcast join +
  one keyed aggregate per round, never a per-subspace loop.
- **Codebooks broadcast, codes shuffle once.** The codebook is
  n_sub·ks·ds doubles (tiny, always broadcast); the code table is
  |N|·n_sub small-int rows, the compressed index a 100 TB corpus
  actually materializes.
- **ADC is a broadcast-join scan.** The per-query distance table
  (Q·n_sub·ks rows) broadcasts; approximate distances come from one
  map-side-combined aggregate over the code table. The scan is linear
  in |N| — PQ's contract is compression, not pruning; compose with the
  IVF coarse quantizer (operators/similarity.py::ivf_index) for the
  pruned IVF-PQ layout — see :func:`ann_ivfpq_topk`.
- **Ranking is the two-phase top-k** (the bm25_multi_query lesson,
  round 6): local rank within (query_id, salt) prunes to
  ≤ salts·k rows per query before the final per-query rank, so no
  single task ever ranks a whole query's candidate set.

Exactness (what makes the whole iterative index value-hash
oracle-able, like ann_ivf_topk): every squared-distance sum — the
Lloyd assignment fan-out, the ADC distance table, and the final
per-vector fold — runs through the floor-scaled-long trick
(similarity.SCORE_SCALE: each (x−m)² is one deterministic double op,
power-of-two scaling and floor are exact, long sums are exact and
associative); argmins tiebreak on (dist, cell); centroid means are
decimal-exact sums over exact counts; the re-rank distances are
decimal-exact. No engine-dependent rounding anywhere, so codes,
tables, distances and ranks reproduce bit-for-bit across engines and
partitionings.
Reference parity: the reference's engine has no vector index at all
(SURVEY §2 north-star extensions); the training-data role is the
embedding-side analogue of its dedup/search stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from convoy_spark.operators.similarity import (
    SCORE_SCALE,
    _infer_dim,
    exploded_vectors,
)

PQ_SUB = 16  # subspaces (dim 64 -> 4 dims per subspace)
PQ_KS = 32  # centroids per subspace codebook
PQ_ITERS = 2  # Lloyd update rounds (then one final assignment pass)
PQ_TOPK_SALTS = 32  # phase-1 groups per query in the two-phase top-k
PQ_RERANK = 10  # ADC shortlist size = PQ_RERANK * k for the re-ranked path
# Geometry choice, measured at sf0.001 (500 vecs, 64 dims): 8×16
# codebooks gave 0.80 shortlist-recall@50 of the exact top-5; 16×32
# gives 0.99 — and 16 five-bit codes (~10 B) still compress float32
# vectors ~25×. Pure-ADC top-5 recall is ~0.3 either way (quantization
# error ≈ neighbor-gap on this synthetic corpus), which is WHY the
# production path is shortlist-then-rerank (ann_pq_rerank_topk), the
# same sketch-then-verify discipline as the MinHash/SimHash dedup.


def _sub_exploded(
    vectors: DataFrame,
    ds: int,
    dim_map: DataFrame | None = None,
    raw_ex: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, sub, dsub, x) — the exploded frame keyed by subspace.

    Default mapping is contiguous blocks (sub = d div ds). Pass
    ``dim_map`` — a (d, sub, dsub) frame, e.g. from
    :func:`balanced_dim_map` — to quantize under a dimension
    permutation instead; the dim-count-sized map broadcasts. Pass
    ``raw_ex`` — an already-materialized (vec_id, d, x) frame — to
    skip the corpus explode entirely (the shared-frame amortization:
    two quantizers trained on the same corpus pay the explode
    once)."""
    ex = raw_ex if raw_ex is not None else exploded_vectors(vectors)
    if dim_map is not None:
        return ex.join(F.broadcast(dim_map), "d").select(
            "vec_id", "sub", "dsub", "x"
        )
    return ex.select(
        "vec_id",
        F.expr(f"d div {ds}").cast("int").alias("sub"),
        (F.col("d") % ds).cast("int").alias("dsub"),
        "x",
    )


def balanced_dim_map(corpus: DataFrame, ex: DataFrame | None = None) -> DataFrame:
    """(d, sub, dsub) — variance-balanced dimension permutation, the
    non-parametric OPQ initialization (Ge et al., OPQ CVPR'13 §4's
    balance goal; FAISS's pre-rotation heuristic): rank dimensions by
    variance descending and DEAL them round-robin across subspaces,
    so no codebook is starved of signal while another carries all of
    it — the failure mode that makes contiguous-block PQ sensitive to
    dimension ordering. A full learned OPQ rotation is a dense
    dim×dim matmul per vector; the permutation captures the balance
    objective with zero extra per-vector cost and keeps every stage
    oracle-exact.

    Exactness: the ranking statistic is the integer variance proxy
    n·Σfloor(x²·2⁴⁰) − (Σfloor(x·2²⁰))² computed in DECIMAL(38,0)
    (long sums overflow at corpus scale) with the deterministic
    (score desc, d) tiebreak — bit-identical across engines, so the
    permutation, the codebooks and the codes all stay value-hash
    oracle-able. One map-side-combined agg over the exploded corpus;
    the result is a dim-count-sized frame (broadcast by every
    consumer). Pass ``ex`` — an already-materialized (vec_id, d, x)
    frame — to skip the corpus explode (shared-frame amortization)."""
    if ex is None:
        ex = exploded_vectors(corpus)
    stats = ex.groupBy("d").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * F.lit(SCORE_SCALE)).cast(
                "decimal(38,0)"
            )
        ).alias("ss"),
        F.sum(
            F.floor(F.col("x") * F.lit(float(1 << 20))).cast("decimal(38,0)")
        ).alias("s1"),
    )
    score = F.col("n") * F.col("ss") - F.col("s1") * F.col("s1")
    # dim-count rows: the single-partition window is free here
    w = Window.orderBy(score.desc(), F.col("d").asc())
    return stats.select(
        "d", (F.row_number().over(w) - 1).alias("rk")
    ).select(
        "d",
        (F.col("rk") % PQ_SUB).cast("int").alias("sub"),
        F.expr(f"rk div {PQ_SUB}").cast("int").alias("dsub"),
    )


# Corpus-size threshold for the pivoted assign. Measured builds
# (quiet host): the wide plan has a ~24 s FIXED floor (ks-column
# codegen compile + pivot stages per Lloyd round) and near-flat
# compute (24.1 s at 20k vectors, 24.5 s at 60k), while the
# row-shaped plan is linear in the corpus (10.5 s at 2k, 18.8 s at
# 20k, ~43 s at 60k) — crossover ≈ 40k vectors, and at real scale
# the ks× shuffle-input saving makes wide the only sane shape. Both
# shapes produce BIT-IDENTICAL codes (same per-(vec,sub,cell) long
# sums, same (dist, cell) argmin), so this is a pure physical-plan
# choice — the AQE spirit, decided from one metadata-cheap count.
PQ_WIDE_MIN_ROWS = 40_000


def _nearest(ex: DataFrame, cent: DataFrame, ks: int, wide: bool) -> DataFrame:
    """(vec_id, sub, dd, cell) — per-subspace nearest centroid ``cell``
    and its distance ``dd``, with the deterministic (dd, cell)
    tiebreak: the one distance computation behind :func:`_assign` (which
    keeps ``cell``) and :func:`quant_error` (which sums ``dd``).

    Distances are floor-scaled LONG sums (similarity.SCORE_SCALE —
    each (x−m)² is one deterministic double op, scaling and floor are
    exact, long sums exact and associative), so both physical shapes
    below yield identical longs and the row-shaped SQL oracle covers
    either:

    - ``wide=False`` (small corpora): the codebook broadcast fans each
      exploded row out ×ks into a (vec, sub, cell)-keyed aggregate —
      more shuffle input, trivially small plans.
    - ``wide=True`` (the 100 TB shape, chosen by PQ_WIDE_MIN_ROWS):
      the PIVOTED codebook (the srp_signatures comps_wide lesson)
      broadcasts one row per (sub, dsub) carrying all ``ks``
      components; the join fans out ×1, one groupBy(vec, sub) feeds
      ks sum columns with map-side combine, and the argmin is a fold
      of ks (dd, cell) struct comparisons in codegen. A cell emptied
      by a Lloyd round yields NULL columns, excluded via a +inf
      sentinel (the row form simply lacks those candidate rows)."""
    if not wide:
        dist = (
            ex.join(F.broadcast(cent), ["sub", "dsub"])
            .groupBy("vec_id", "sub", "cell")
            .agg(
                F.sum(
                    F.floor(
                        ((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
                        * F.lit(SCORE_SCALE)
                    )
                ).alias("dd")
            )
        )
        best = dist.groupBy("vec_id", "sub").agg(
            F.min(F.struct(F.col("dd"), F.col("cell"))).alias("_best")
        )
        return best.select("vec_id", "sub", "_best.dd", "_best.cell")
    cw = F.broadcast(
        cent.groupBy("sub", "dsub")
        .pivot("cell", list(range(ks)))
        .agg(F.first("m"))
        .select(
            "sub", "dsub", *[F.col(str(c)).alias(f"m{c}") for c in range(ks)]
        )
    )
    dd = ex.join(cw, ["sub", "dsub"]).groupBy("vec_id", "sub").agg(
        *[
            F.sum(
                F.floor(
                    ((F.col("x") - F.col(f"m{c}")) * (F.col("x") - F.col(f"m{c}")))
                    * F.lit(SCORE_SCALE)
                )
            ).alias(f"dd{c}")
            for c in range(ks)
        ]
    )
    sentinel = F.lit(1 << 62).cast("long")
    cands = [
        F.struct(
            F.coalesce(F.col(f"dd{c}"), sentinel).alias("dd"),
            F.lit(c).cast("int").alias("cell"),
        )
        for c in range(ks)
    ]
    best = dd.select("vec_id", "sub", F.least(*cands).alias("_best"))
    return best.select("vec_id", "sub", "_best.dd", "_best.cell")


def _assign(
    ex: DataFrame, cent: DataFrame, ks: int = PQ_KS, wide: bool = False
) -> DataFrame:
    """(vec_id, sub, code) — per-subspace nearest-centroid argmin with
    the deterministic (dist, cell) tiebreak (:func:`_nearest`)."""
    return _nearest(ex, cent, ks, wide).select(
        "vec_id", "sub", F.col("cell").alias("code")
    )


def _update(codes: DataFrame, ex: DataFrame) -> DataFrame:
    """(sub, cell, dsub, m) — per-subspace centroid means in the
    floor-scaled LONG discipline: m = (Σ ⌊x·2⁴⁰⌋ as double) / 2⁴⁰ /
    count. The long sum is exact, the long→double cast and the /2⁴⁰
    are deterministic (the latter exact — power of two), and /count is
    one rounded op — bit-identical across engines. A DECIMAL cast of
    raw x would be a cross-engine TIE hazard: float32-derived values
    are coarse dyadics whose decimal expansion can end exactly on a
    half (e.g. 0.1871337890625), which Spark rounds HALF_UP and DuckDB
    half-to-even (caught by the sf0.1 n_cells∝N SemDeDup parity test);
    floors have no tie. Cell populations are corpus-proportional →
    scaled_sum_guard."""
    from convoy_spark.operators.similarity import scaled_sum_guard

    term = F.floor(F.col("x") * F.lit(SCORE_SCALE))
    g = (
        codes.withColumnRenamed("code", "cell")
        .join(ex, ["vec_id", "sub"])
        .groupBy("sub", "cell", "dsub")
        .agg(
            F.sum(term).alias("_s"),
            F.count("*").alias("_n"),
            F.max(F.abs(term)).alias("_mx"),
        )
    )
    return g.select(
        "sub",
        "cell",
        "dsub",
        scaled_sum_guard(
            F.col("_n"),
            F.col("_mx"),
            F.col("_s").cast("double") / F.lit(SCORE_SCALE) / F.col("_n"),
            "pq._update",
        ).alias("m"),
    )


def lloyd(
    ex: DataFrame, ids: DataFrame, ks: int, iters: int, wide: bool
) -> tuple[DataFrame, DataFrame]:
    """The one deterministic k-means (Lloyd) loop of the engine, over
    the exploded (vec_id, sub, dsub, x) frame: every subspace trains in
    the same keyed dataflow. Seeds are the first ``ks`` vectors of
    ``ids`` (vec_id) by id; then ``iters`` rounds of
    assign → update; then one final assignment against the last
    codebook. The IVF coarse quantizer is this loop at ONE subspace
    spanning all dimensions (sub = 0, dsub = d — see
    operators/similarity.ivf_index).

    Returns ``(cent, codes)``: cent (sub, cell, dsub, m) is the codebook
    the final assignment was made against; codes (vec_id, sub, code).

    Checkpoint discipline: ``ex`` is read every round, so the caller
    passes it checkpointed. Each round's centroid frame (n_sub·ks·ds
    rows) takes a lazy localCheckpoint that truncates the loop lineage
    (the materialization it triggers is the round's own compute, paid
    exactly once either way), and the final assignment takes one so
    every consumer reads the materialized codes instead of re-running
    the loop."""
    seeds = (
        ids.orderBy("vec_id")
        .limit(ks)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cell"),
        )
    )
    cent = seeds.join(ex, "vec_id").select(
        "sub", "cell", "dsub", F.col("x").alias("m")
    )
    for _ in range(iters):
        cent = _update(_assign(ex, cent, ks, wide), ex).localCheckpoint(
            eager=False
        )
    codes = _assign(ex, cent, ks, wide).localCheckpoint(eager=False)
    return cent, codes


def pq_codebooks(
    corpus: DataFrame,
    n_sub: int = PQ_SUB,
    ks: int = PQ_KS,
    iters: int = PQ_ITERS,
    dim_map: DataFrame | None = None,
    raw_ex: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the PQ index: :func:`lloyd` over all ``n_sub`` subspaces
    at once (``iters`` rounds, then one final assignment against the
    final codebook).

    Returns ``(codebook, codes, ex)``:

    - codebook: (sub, cell, dsub, m) — exploded, broadcast-sized;
    - codes: (vec_id, sub, code) — the compressed corpus;
    - ex: the (vec_id, sub, dsub, x) exploded frame (checkpointed),
      for callers that score queries against the same corpus.
    """
    dim = _infer_dim(corpus)
    ds = dim // n_sub
    wide = corpus.count() >= PQ_WIDE_MIN_ROWS  # physical-shape choice
    ex = _sub_exploded(corpus, ds, dim_map, raw_ex).localCheckpoint(eager=False)
    cent, codes = lloyd(ex, corpus.select("vec_id"), ks, iters, wide)
    return cent, codes, ex


def adc_table(queries_ex: DataFrame, codebook: DataFrame) -> DataFrame:
    """(query_id, sub, cell, dd) — the per-query asymmetric distance
    table: exact squared distance from each query subvector to every
    codebook centroid. Q·n_sub·ks rows — broadcast-sized for any sane
    query batch."""
    return (
        queries_ex.withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(codebook), ["sub", "dsub"])
        .groupBy("query_id", "sub", "cell")
        .agg(
            (
                F.sum(
                    F.floor(
                        ((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
                        * F.lit(SCORE_SCALE)
                    )
                ).cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("dd")
        )
    )


def _adc_scored(
    codes: DataFrame,
    dtab: DataFrame,
    n_sub: int = PQ_SUB,
    batched: bool = True,
) -> DataFrame:
    """(query_id, corpus_id, adist) — the flat ADC scan in the BATCHED
    queries-as-arrays shape (round-8 verdict #1: the row form pushed
    |N|·n_sub·|Q| rows through one aggregate whose key contains
    query_id, so map-side combine reduced nothing — 146 s at sf10).

    ``batched=False`` keeps the row shape — the broadcast distance
    table fans each code row out ×|Q| into one keyed aggregate. Both
    shapes sum the same floor-scaled longs, so results are
    BIT-IDENTICAL (the _assign wide/row precedent); the gate is
    PQ_WIDE_MIN_ROWS at the call sites because the batched shape's
    fixed tax (n_sub broadcast joins + the code pivot) loses at small
    N (measured sf0.1, 20k vectors: row 5.0 s vs batched 7.2 s) while
    the row shape's query-proportional aggregate collapses at large N
    (measured sf10, 200k vectors: row 146 s vs batched 15.6 s).

    Shape: the code table pivots to ONE wide row per vector (the only
    corpus shuffle, |N| rows of n_sub small ints, map-side combined);
    the distance table pivots to per-(sub, cell) LONG ARRAYS over the
    canonical query order (broadcast-sized: n_sub·ks rows × |Q|
    longs); n_sub broadcast joins attach each vector's n_sub arrays
    with ×1 fan-out, and one zip_with fold sums them in codegen — the
    per-vector distance-to-every-query array. Only the final explode
    materializes (query, vector) pairs, feeding the two-phase top-k
    directly. Nothing query-proportional ever crosses an aggregate
    exchange.

    Exactness: the fold sums the SAME floor-scaled longs the row form
    summed (dd = L/2⁴⁰ with L < 2⁵³, so floor(dd·2⁴⁰) recovers L
    exactly; power-of-two scaling is exact in double) in a different
    association order — long addition is associative, so adist is
    bit-identical to the row form's and the SQL oracle covers both
    physical shapes (the _assign wide/row precedent)."""
    if not batched:
        return (
            codes.join(
                F.broadcast(dtab),
                (codes["sub"] == dtab["sub"])
                & (codes["code"] == dtab["cell"]),
            )
            .filter(F.col("query_id") != F.col("vec_id"))
            .groupBy("query_id", F.col("vec_id").alias("corpus_id"))
            .agg(
                (
                    F.sum(F.floor(F.col("dd") * F.lit(SCORE_SCALE))).cast(
                        "double"
                    )
                    / F.lit(SCORE_SCALE)
                ).alias("adist")
            )
        )
    darr = (
        dtab.select(
            "sub",
            "cell",
            F.struct(
                F.col("query_id"),
                F.floor(F.col("dd") * F.lit(SCORE_SCALE))
                .cast("long")
                .alias("ddl"),
            ).alias("s"),
        )
        .groupBy("sub", "cell")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "sub",
            "cell",
            F.col("ss.query_id").alias("qids"),
            F.col("ss.ddl").alias("dds"),
        )
        # n_sub·ks rows; checkpointed so the n_sub broadcast builds
        # below don't each re-derive the distance-table pipeline
        .localCheckpoint(eager=False)
    )
    wide = codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub") == i, F.col("code"))).alias(f"_c{i}")
            for i in range(n_sub)
        ]
    )
    # Fold INCREMENTALLY between joins: each join attaches one |Q|-long
    # array and the projection immediately sums it into the accumulator
    # and drops it, so row width through the join chain stays one array
    # (carrying all n_sub arrays to a final fold copies ~n_sub/2× more
    # bytes through every join's UnsafeRow — measured 1.7× slower at
    # sf0.1).
    cur = wide
    for i in range(n_sub):
        side = darr.filter(F.col("sub") == i)
        cols = [F.col("cell").alias(f"_c{i}"), F.col("dds").alias(f"_a{i}")]
        if i == 0:
            cols.append(F.col("qids").alias("_qids"))
        cur = cur.join(F.broadcast(side.select(*cols)), f"_c{i}")
        keep = [F.col("vec_id"), F.col("_qids")] + [
            F.col(f"_c{j}") for j in range(i + 1, n_sub)
        ]
        acc = (
            F.col(f"_a{i}")
            if i == 0
            else F.zip_with(
                F.col("_acc"), F.col(f"_a{i}"), lambda a, b: a + b
            )
        )
        cur = cur.select(*keep, acc.alias("_acc"))
    folded = cur.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("_qids").alias("qids"),
        F.col("_acc").alias("tot"),
    )
    return (
        folded.select(
            "corpus_id", F.explode(F.arrays_zip("qids", "tot")).alias("z")
        )
        .select(
            F.col("z.qids").alias("query_id"),
            "corpus_id",
            (F.col("z.tot").cast("double") / F.lit(SCORE_SCALE)).alias(
                "adist"
            ),
        )
        .filter(F.col("query_id") != F.col("corpus_id"))
    )


def _topk_by_adist(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase per-query top-k by (adist asc, corpus_id asc)."""
    order = (F.col("adist").asc(), F.col("corpus_id").asc())
    w_local = Window.partitionBy("query_id", "_salt").orderBy(*order)
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn(
            "_salt", F.pmod(F.hash("corpus_id"), F.lit(PQ_TOPK_SALTS))
        )
        .withColumn("_lrk", F.row_number().over(w_local))
        .filter(F.col("_lrk") <= k)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "corpus_id", "adist", F.col("rank").cast("int").alias("rank")
        )
    )


def _geometry(codebook: DataFrame) -> tuple[int, int]:
    """(n_sub, ds) of a trained codebook, read off its last (sub, dsub)
    row, so a search can never disagree with the geometry its index was
    trained at. Every subspace carries all ``ds`` components. A top-1
    is one job with no exchange, where an aggregate would be two."""
    row = (
        codebook.select("sub", "dsub")
        .orderBy(F.col("sub").desc(), F.col("dsub").desc())
        .first()
    )
    return row.sub + 1, row.dsub + 1


def ann_pq_adc_topk(
    queries: DataFrame,
    index: tuple[DataFrame, DataFrame, DataFrame | None],
    k: int = 5,
    dim_map: DataFrame | None = None,
) -> DataFrame:
    """Flat PQ-ADC top-k over a trained index (:func:`pq_codebooks`):
    rank every encoded corpus vector per query by the table-lookup
    approximate distance. Returns (query_id, corpus_id, adist, rank).
    Pass the ``dim_map`` the index was trained under, if any.

    The scan is linear over the CODE table (|N|·n_sub small-int rows —
    the compressed index), never the float vectors: the distance table
    broadcasts and the per-vector distance is one map-side-combined
    long aggregate. Queries are assumed drawn from the corpus id space;
    self-pairs are excluded.
    """
    codebook, codes, _ = index
    n_sub, ds = _geometry(codebook)
    dtab = adc_table(_sub_exploded(queries, ds, dim_map), codebook)
    # physical-shape choice: codes hold n_sub rows per corpus vector
    batched = codes.count() >= PQ_WIDE_MIN_ROWS * n_sub
    return _topk_by_adist(_adc_scored(codes, dtab, n_sub, batched), k)


def ivfpq_candidates(
    queries: DataFrame,
    coarse_index: tuple[DataFrame, DataFrame],
    n_probe: int = 4,
) -> DataFrame:
    """(query_id, vec_id) — the IVF-pruned candidate pairs: for each
    query, every corpus vector assigned to one of its ``n_probe``
    nearest cells of ``coarse_index`` (operators/similarity.ivf_index),
    self excluded. THE candidate stage of :func:`ann_ivfpq_topk`, split
    out so the recall-vs-n_probe sweep harness
    (queries/similarity.py::pq_recall_sweep) measures exactly the
    candidate set the search runs on — shared-by-construction, cannot
    drift. It is also the probe stage of
    operators/similarity.ann_ivf_topk.

    Probe ranking is the exact floor-scaled query→centroid distance
    with the deterministic (d, cell) tiebreak; candidates come from one
    equi-join on cell — candidate volume is n_probe/n_cells of the
    corpus, no Q×N anywhere."""
    from convoy_spark.operators.similarity import _sq_dist

    centroids, assignment = coarse_index
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("cell").asc()
    )
    probes = (
        q.join(F.broadcast(centroids))
        .select(
            "query_id", "cell", _sq_dist(F.col("qv"), F.col("centroid")).alias("d")
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "cell")
    )
    return (
        probes.join(assignment, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
    )


def ann_ivfpq_topk(
    queries: DataFrame,
    pq_index: tuple[DataFrame, DataFrame, DataFrame | None],
    coarse_index: tuple[DataFrame, DataFrame],
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ: the coarse quantizer prunes the scan to the ``n_probe``
    nearest cells per query, and PQ-ADC ranks only those candidates —
    the canonical billion-scale index layout (FAISS IVFPQ; residual
    encoding omitted: codes quantize raw vectors, which keeps every
    stage decimal-exact and oracle-able while preserving the plan
    shape). Candidate volume is n_probe/n_cells of the corpus; the
    ADC stage never touches float vectors — it joins the probed cells'
    code rows against the broadcast distance table.

    Both indexes come from the one Lloyd loop (:func:`lloyd`: the IVF
    coarse quantizer at one subspace, PQ at ``n_sub``), and the
    candidate pruning is an equi-join on cell — no Q×N anywhere.
    """
    codebook, codes, _ = pq_index
    _, ds = _geometry(codebook)
    dtab = adc_table(_sub_exploded(queries, ds), codebook)
    cand_codes = ivfpq_candidates(queries, coarse_index, n_probe).join(
        codes, "vec_id"
    )
    dt = dtab.select(
        F.col("query_id").alias("_dq"),
        F.col("sub").alias("_dsub"),
        F.col("cell").alias("_dcell"),
        "dd",
    )
    scored = (
        cand_codes.join(
            F.broadcast(dt),
            (cand_codes["sub"] == dt["_dsub"])
            & (cand_codes["code"] == dt["_dcell"])
            & (cand_codes["query_id"] == dt["_dq"]),
        )
        .groupBy("query_id", F.col("vec_id").alias("corpus_id"))
        .agg(
            (
                F.sum(F.floor(F.col("dd") * F.lit(SCORE_SCALE))).cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("adist")
        )
    )
    return _topk_by_adist(scored, k)


def ann_pq_rerank_topk(
    queries: DataFrame,
    index: tuple[DataFrame, DataFrame, DataFrame],
    k: int = 5,
) -> DataFrame:
    """The production PQ pipeline: ADC over the compressed code table
    shortlists ``PQ_RERANK · k`` candidates per query, then ONLY those
    candidates' float vectors are fetched for an exact L2 re-rank —
    sketch-then-verify, same discipline as the MinHash dedup. Returns
    (query_id, corpus_id, dist, rank) with exact distances.

    Scale: the scan stage reads codes only (the 25×-compressed index);
    the verify stage touches PQ_RERANK·k·|Q| float vectors — candidate-
    proportional, never corpus-proportional. Measured recall@5 vs
    exact L2 at sf0.001: 0.99 (pure ADC: ~0.3 — the shortlist is what
    makes PQ usable, not the raw code ranks). Exactness: the re-rank
    distance is the decimal-exact squared L2 over the index's exploded
    frame, so the final ranks carry a full value-hash oracle."""
    ex = index[2]
    short = ann_pq_adc_topk(queries, index, PQ_RERANK * k).select(
        "query_id", "corpus_id"
    )
    ea = ex.select(
        F.col("vec_id").alias("query_id"), "sub", "dsub", F.col("x").alias("xa")
    )
    eb = ex.select(
        F.col("vec_id").alias("corpus_id"), "sub", "dsub", F.col("x").alias("xb")
    )
    exact = (
        short.join(ea, "query_id")
        .join(eb, ["corpus_id", "sub", "dsub"])
        .groupBy("query_id", "corpus_id")
        .agg(
            (
                F.sum(
                    F.floor(
                        ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
                        * F.lit(SCORE_SCALE)
                    )
                ).cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("dist")
        )
    )
    order = (F.col("dist").asc(), F.col("corpus_id").asc())
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "dist", F.col("rank").cast("int"))
    )


# ---------------------------------------------------------------------------
# Persisted index layout: the artifact a 100 TB corpus actually ships
# between the (expensive, run-once) index build and the (cheap,
# run-forever) search path. The code and coarse-assignment tables are
# written BUCKETED by vec_id through the session catalog
# (streaming/util.py's store machinery — plain parquet loses the
# bucket spec), so search-side equi-joins and per-vector aggregations
# on vec_id read co-located buckets and skip their exchange entirely;
# the codebook and coarse centroids are broadcast-sized plain parquet.

CODES_STORE_SCHEMA = "vec_id long, sub int, code int"
ASSIGN_STORE_SCHEMA = "vec_id long, cell int"
PQ_INDEX_BUCKET = ("vec_id",)


def exact_l2_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """(query_id, corpus_id, dnum, rank) — exact squared-L2 top-k,
    the ground truth every PQ/IVF-PQ recall number is stated against
    (PQ approximates L2, so the truth metric is L2, not cosine).

    dnum is the scaled-long distance Σ floor((xq−x)²·2⁴⁰) — exact,
    order-free, bit-identical across engines — so the top-k set AND
    the (dnum, corpus_id) tiebreak are oracle-mirrorable. Plan: the
    |Q|·dim query expansion broadcasts against the corpus expansion
    (one map-side join on d), then one map-side-combined keyed agg —
    Q×N work by definition (it is the truth baseline), embarrassingly
    parallel, never all-pairs over the corpus alone."""
    from convoy_spark.operators.similarity import exploded_vectors

    q_ex = exploded_vectors(queries).select(
        F.col("vec_id").alias("query_id"), "d", F.col("x").alias("xq")
    )
    c_ex = exploded_vectors(corpus)
    dist = (
        c_ex.join(F.broadcast(q_ex), "d")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("corpus_id"),
            ((F.col("xq") - F.col("x")) * (F.col("xq") - F.col("x"))).alias("p"),
        )
        .groupBy("query_id", "corpus_id")
        .agg(
            F.sum(F.floor(F.col("p") * F.lit(SCORE_SCALE)))
            .cast("long")
            .alias("dnum")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dnum").asc(), F.col("corpus_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def write_pq_index(corpus: DataFrame, base_path: str) -> None:
    """Build and persist the full IVF-PQ index: PQ codebook + bucketed
    code table + coarse centroids + bucketed cell assignment.
    Overwrites any index at ``base_path`` (an index REBUILD — the
    incremental path is streaming/pqencode.py)."""
    import os
    import shutil

    from convoy_spark.operators.similarity import ivf_index
    from convoy_spark.streaming.util import append_store

    codebook, codes, _ = pq_codebooks(corpus)
    centroids, assignment = ivf_index(corpus)
    for sub in ("codes", "assignment"):
        p = os.path.join(base_path, sub)
        if os.path.isdir(p):
            shutil.rmtree(p)
    codebook.write.mode("overwrite").parquet(
        os.path.join(base_path, "codebook")
    )
    centroids.write.mode("overwrite").parquet(
        os.path.join(base_path, "centroids")
    )
    append_store(
        codes.select(
            "vec_id", F.col("sub").cast("int"), F.col("code").cast("int")
        ),
        os.path.join(base_path, "codes"),
        CODES_STORE_SCHEMA,
        bucket=PQ_INDEX_BUCKET,
    )
    append_store(
        assignment.select("vec_id", F.col("cell").cast("int")),
        os.path.join(base_path, "assignment"),
        ASSIGN_STORE_SCHEMA,
        bucket=PQ_INDEX_BUCKET,
    )


def load_pq_index(
    spark, base_path: str
) -> dict[str, DataFrame]:
    """Load a persisted index. ``codes`` and ``assignment`` come back
    through the catalog as BUCKETED scans (Catalyst sees the
    HashPartitioning the files carry — vec_id-keyed joins and
    aggregations over them run without a store-side exchange,
    plan-asserted in tests); codebook/centroids are broadcast-sized."""
    import os

    from convoy_spark.streaming.util import load_store

    return {
        "codebook": spark.read.parquet(os.path.join(base_path, "codebook")),
        "centroids": spark.read.parquet(os.path.join(base_path, "centroids")),
        "codes": load_store(
            spark,
            os.path.join(base_path, "codes"),
            CODES_STORE_SCHEMA,
            bucket=PQ_INDEX_BUCKET,
        ),
        "assignment": load_store(
            spark,
            os.path.join(base_path, "assignment"),
            ASSIGN_STORE_SCHEMA,
            bucket=PQ_INDEX_BUCKET,
        ),
    }


# --- Learned OPQ rotation (iterative orthogonal Procrustes) ----------
OPQ_ITERS = 2  # Procrustes alternations after the permutation init


def _rotate(raw_ex: DataFrame, rot: DataFrame) -> DataFrame:
    """(vec_id, d, x) — apply the broadcast rotation matrix ``rot``
    (rows (do, di, r)) to the exploded frame: xr[do] = Σ_di r·x[di].
    One broadcast join + one keyed aggregate; the sum is floor-scaled
    long (deterministic under any partitioning). Unguarded BY BOUND:
    each (vec_id, do) group has exactly dim ≤ 64 terms, so the sum
    cannot approach the int64 envelope (see scaled_sum_guard)."""
    from convoy_spark.operators.similarity import SCORE_SCALE

    return (
        raw_ex.select(F.col("vec_id"), F.col("d").alias("di"), "x")
        .join(F.broadcast(rot), "di")
        .groupBy("vec_id", F.col("do").alias("d"))
        .agg(
            (
                F.sum(F.floor(F.col("r") * F.col("x") * F.lit(SCORE_SCALE)))
                .cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("x")
        )
    )


def opq_rotation_train(
    corpus: DataFrame,
    n_queries: int = 16,
    k: int = 5,
) -> DataFrame:
    """Learned OPQ rotation, non-parametric alternation (Ge et al.,
    "Optimized Product Quantization", CVPR 2013 §4): starting from the
    variance-balanced permutation (:func:`balanced_dim_map` — the init
    heuristic pq_opq_compare A/Bs), alternate (a) train/encode a PQ
    quantizer in the rotated space, (b) update R by the closed-form
    orthogonal Procrustes solution R = U·Vᵀ from the SVD of the
    reconstruction cross-covariance M = Σ ŷ·xᵀ. Emits one row per
    iteration: (iteration, quant_err, adc_recall) — iteration 0 IS the
    balanced permutation, so the curve reads init → learned directly.

    Spark-first decomposition: the rotation apply and the ŷ·xᵀ
    accumulation are broadcast-join + keyed-aggregate dataflows over
    the exploded frame (floor-scaled long sums — deterministic under
    any partitioning); the ONLY driver-side state is the dim×dim
    cross-covariance (64×64 = 4096 floats, the bounded-collect
    contract of the BM25 vocab probe) whose SVD is a numpy call on a
    matrix the size of one codebook row — model state, not data. The
    recall leg scores the rotated-space ADC against the ORIGINAL-space
    exact-L2 truth (orthogonal R preserves L2, so the truth set needs
    no re-ranking).

    Oracle status: rows-only BY NATURE — the SVD has no cross-engine
    bit contract (LAPACK vs anything), which is exactly the
    float-hash-hostility the round-7 verdict #7 anticipated; the
    measured decline is recorded in BENCH_NOTES and the monotone
    quant-err + recall floors are pytest-asserted (the ann_srp
    recall-assert precedent)."""
    import numpy as np

    from convoy_spark.operators.similarity import SCORE_SCALE

    spark = corpus.sparkSession
    dim = _infer_dim(corpus)
    ds = dim // PQ_SUB
    raw = exploded_vectors(corpus).localCheckpoint(eager=False)
    adc_batched = corpus.count() >= PQ_WIDE_MIN_ROWS
    truth = exact_l2_topk(
        corpus.filter(F.col("vec_id") < n_queries), corpus, k=k
    ).select("query_id", "corpus_id").localCheckpoint(eager=False)
    denom = float(n_queries * k)

    # R0 = the balanced permutation as a matrix: slot(d) = sub·ds + dsub
    dm = balanced_dim_map(corpus, ex=raw)
    rot = dm.select(
        (F.col("sub") * ds + F.col("dsub")).cast("int").alias("do"),
        F.col("d").cast("int").alias("di"),
        F.lit(1.0).alias("r"),
    ).localCheckpoint()

    from convoy_spark.operators.similarity import scaled_sum_guard

    def _gsum(df, gb, c, alias, what):
        # guarded floor-scaled long sum: these groups are corpus-
        # proportional (qerr: |N|·dim terms; cross-covariance: |N|
        # terms per (dy, dx)) — the scaled_sum_guard envelope applies.
        term = F.floor(c * F.lit(SCORE_SCALE))
        aggs = [
            F.sum(term).alias("_s"),
            F.count("*").alias("_n"),
            F.max(F.abs(term)).alias("_mx"),
        ]
        g = df.groupBy(*gb).agg(*aggs) if gb else df.agg(*aggs)
        val = scaled_sum_guard(
            F.col("_n"),
            F.col("_mx"),
            F.col("_s").cast("double") / F.lit(SCORE_SCALE),
            what,
        )
        return g.select(*gb, val.alias(alias))

    rows = []
    for it in range(OPQ_ITERS + 1):
        xr = _rotate(raw, rot).localCheckpoint(eager=False)
        cent, codes, _ = pq_codebooks(corpus, raw_ex=xr)
        # decode: ŷ[d] = codebook centroid component of the assigned cell
        yhat = codes.join(
            F.broadcast(cent), (codes["sub"] == cent["sub"]) & (codes["code"] == cent["cell"])
        ).select(
            "vec_id",
            (codes["sub"] * ds + F.col("dsub")).alias("d"),
            F.col("m").alias("y"),
        )
        joined = xr.join(yhat, ["vec_id", "d"]).localCheckpoint(eager=False)
        qerr = _gsum(
            joined,
            [],
            (F.col("x") - F.col("y")) * (F.col("x") - F.col("y")),
            "e",
            "opq quant_err",
        ).first()["e"]
        # rotated-space ADC recall vs the original-space exact truth
        q_exr = (
            xr.filter(F.col("vec_id") < n_queries)
            .select(
                "vec_id",
                F.expr(f"d div {ds}").cast("int").alias("sub"),
                (F.col("d") % ds).cast("int").alias("dsub"),
                "x",
            )
        )
        dtab = adc_table(q_exr, cent)
        hits = (
            _topk_by_adist(_adc_scored(codes, dtab, batched=adc_batched), k)
            .join(truth, ["query_id", "corpus_id"], "left_semi")
            .count()
        )
        rows.append((it, float(qerr), hits / denom))
        if it == OPQ_ITERS:
            break
        # Procrustes update: M = Σ ŷ·xᵀ (dy, dx), R_new = U·Vᵀ
        m_rows = _gsum(
            joined.select("vec_id", F.col("d").alias("dy"), "y").join(
                raw.select(
                    "vec_id", F.col("d").alias("dx"), F.col("x").alias("xo")
                ),
                "vec_id",
            ),
            ["dy", "dx"],
            F.col("y") * F.col("xo"),
            "m",
            "opq cross-covariance",
        ).collect()  # bounded: dim² rows (64×64), model state
        M = np.zeros((dim, dim))
        for r0 in m_rows:
            M[r0["dy"], r0["dx"]] = r0["m"]
        u, _s, vt = np.linalg.svd(M)
        R = u @ vt
        rot = spark.createDataFrame(
            [
                (int(o), int(i), float(R[o, i]))
                for o in range(dim)
                for i in range(dim)
            ],
            "do int, di int, r double",
        ).localCheckpoint()
    return spark.createDataFrame(
        rows, "iteration int, quant_err double, adc_recall double"
    )


def quant_error(
    ex: DataFrame, cent: DataFrame, ks: int = PQ_KS, wide: bool = False
) -> DataFrame:
    """(vec_id, err) — per-vector total quantization error under a
    FROZEN codebook: the sum over subspaces of the min-cell
    floor-scaled-LONG distance (the exact quantity ``_assign``
    argmins over, kept instead of discarded). This is the health
    metric of a production PQ index: when the arriving distribution
    drifts away from the training epoch, the reconstruction error of
    new vectors under the frozen quantizer rises — the re-train
    trigger's decision variable (queries/similarity.py::
    pq_retrain_trigger, streaming/pqretrain.py).

    Exactness: every per-(vec, sub, cell) distance is a long, min and
    the n_sub-bounded sum are exact, so the per-vector err is
    bit-identical across engines, physical shapes, and any chunking
    of the corpus — which is what makes the per-epoch error
    aggregates mergeable (the streaming twin's whole contract)."""
    # n_sub-bounded sum of longs: exact, no population-sized envelope
    return (
        _nearest(ex, cent, ks, wide)
        .groupBy("vec_id")
        .agg(F.sum("dd").alias("err"))
    )
