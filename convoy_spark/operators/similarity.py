"""Similarity search over embedding columns (north-star extensions,
SURVEY §7 M6): brute-force cosine top-k as the exact baseline, and a
deterministic random-hyperplane (SRP) LSH variant as the scale path.

Vectors are ``array<float>`` columns; all arithmetic runs JVM-side
through array built-ins (``zip_with`` / ``aggregate`` /
``transform``) — no Python in the scoring loop. Dot products and
norms accumulate as floor-scaled LONGS (Σ ⌊t·2⁴⁰⌋, see _scaled_sum):
float32 inputs widen to double exactly, each product is one
deterministic double op, scaling/floor are exact, and the long sum is
exact and associative — so scores are bit-identical across engines,
runs, and cluster sizes, with no decimal rounding-tie exposure
anywhere (round-9: the last DECIMAL(28,12) casts of float32-derived
values were converted; the DuckDB oracles mirror the floors).

Scale shape:

- **Brute force** is Q×N work by definition. The plan keeps it
  embarrassingly parallel: the (small) query set is broadcast, each
  corpus partition scores locally, and only the per-(query, candidate)
  score rows shuffle once for the per-query top-k window. For modest
  Q this is the right exact baseline even at 100 TB of corpus.
- **SRP-LSH** replaces the Q×N scoring with equi-joins on banded
  signature keys: the 16 hyperplane sign bits are cut into 4 bands of
  4 bits (the same S-curve construction as MinHash banding — one full
  16-bit bucket would need all 16 signs to agree, which for cos ≈ 0.5
  neighbors happens with probability 0.67¹⁶ ≈ 0.002, i.e. never);
  a pair is a candidate if *any* band matches (≈ 0.6 for true
  neighbors here), and only candidates are scored. The hyperplanes
  are not RNG-drawn — component signs come from the deterministic md5
  hash of (plane, dim) — so signatures reproduce across engines (full
  oracle parity) and across cluster topologies. Recall is tested
  against the brute-force baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import hash60
from convoy_spark.operators.partitioning import (
    blowup_engaged,
    blowup_partitions,
    blowup_storage_level,
)

N_PLANES = 16
SRP_ROWS = 4  # planes per band -> 4 bands of 4-bit keys


def _scaled_sum(arr: Column) -> Column:
    """Floor-scaled LONG fold of a double-term array, surfaced as
    double: (Σ ⌊t·2⁴⁰⌋) / 2⁴⁰. Each term is one deterministic double
    op, power-of-two scaling and floor are exact, and the long sum is
    exact and associative — NO rounding tie anywhere, unlike the
    previous DECIMAL(28,12) fold (float32-derived dyadics can end
    exactly on a half at scale 12, where Spark rounds HALF_UP and
    DuckDB half-to-even — the round-8 SemDeDup lesson, made
    structural here per round-8 verdict #4). Array length is dim ≤ 64,
    so the long sum is bounded far under the int64 envelope."""
    return (
        F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.floor(t * F.lit(SCORE_SCALE)).cast("long"),
        ).cast("double")
        / F.lit(SCORE_SCALE)
    )


def dot(a: Column, b: Column) -> Column:
    """Floor-scaled-exact dot product of two float-array columns."""
    return _scaled_sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm(v: Column) -> Column:
    return F.sqrt(
        _scaled_sum(
            F.transform(v, lambda x: x.cast("double") * x.cast("double"))
        )
    )


def with_norm(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Precompute the norm once per vector — never per pair."""
    return vectors.withColumn("_norm", norm(F.col(vec_col)))


def cosine_scores(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """(query_id, corpus_id, sim) for every query × corpus pair.

    The query side is broadcast (queries are the small side by
    assumption); scoring is partition-local over the corpus scan."""
    q = with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    c = with_norm(corpus).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .withColumn(
            "sim", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
        )
        .select("query_id", "corpus_id", "sim")
    )


def topk(scores: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k by (sim desc, corpus_id asc) — the id
    tiebreak keeps results deterministic under any partitioning."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "sim", F.col("rank").cast("int"))
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Brute-force exact cosine top-k — the baseline every ANN variant
    is measured against."""
    return topk(cosine_scores(queries, corpus), k)


def srp_plane_components(spark, n_planes: int, dim: int) -> DataFrame:
    """(plane, d, w) — ±1 hyperplane components derived from
    md5(plane:dim) parity: deterministic, engine-independent, and
    regenerable anywhere (no stored model state)."""
    planes = spark.range(n_planes).select(F.col("id").cast("int").alias("plane"))
    dims = spark.range(dim).select(F.col("id").cast("int").alias("d"))
    return planes.crossJoin(dims).select(
        "plane",
        "d",
        (
            (hash60(F.concat_ws(":", F.col("plane"), F.col("d"))) % 2) * 2 - 1
        ).alias("w"),
    )


SRP_SCALE = 1 << 20  # power of two: x·2²⁰ is an exact double op
# Candidate-scoring scale: products of float32 components are exact in
# double (24+24 < 53 mantissa bits), ×2⁴⁰ is exact (power of two),
# floor is exact, and the long sum is exact — the whole scaled dot
# product has NO engine-dependent rounding anywhere, so it is
# oracle-mirrorable like the DECIMAL(28,12) path but runs in primitive
# codegen arithmetic (measured ~1 µs per decimal agg op vs ~ns for
# longs: the decimal `dots` aggregate was a 1.9 s stage at sf0.1).
# Headroom: |term| ≤ max|x|²·2⁴⁰; at dim 64 and |x| ≤ 16 the sum stays
# under 2⁵³ (exact long→double cast) and far under 2⁶³.
SCORE_SCALE = float(1 << 40)


def exploded_vectors(vectors: DataFrame) -> DataFrame:
    """(vec_id, d, x double) — the element-wise expansion every
    vector op (signatures, norms, pair dots) reads. Callers that feed
    it to more than one consumer should localCheckpoint it once.

    Widened first: a single-row-group embeddings file scans as one
    task, serializing the |V|·dim posexplode and everything until the
    first shuffle (scale.widen_narrow_scan — no-op at real scale)."""
    from convoy_spark.operators.scale import widen_narrow_scan

    return widen_narrow_scan(vectors).select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).withColumn("x", F.col("x").cast("double"))


def srp_signatures(vectors: DataFrame) -> DataFrame:
    return srp_signatures_from_exploded(
        exploded_vectors(vectors), _infer_dim(vectors)
    )


def srp_signatures_from_exploded(
    exploded: DataFrame,
    dim: int,
    n_planes: int = N_PLANES,
    rows_per_band: int = SRP_ROWS,
) -> DataFrame:
    """(vec_id, band, key) — hyperplane sign bits grouped into bands;
    the key packs each band's ``rows_per_band`` bits into an int.

    The projection Σ_d w·⌊x·2²⁰⌋ runs in pure LONG arithmetic:
    ``floor(x·2²⁰)`` is deterministic on both engines (power-of-two
    scaling is an exact double op, floor is exact), each ±1·long term
    is exact, and the long sum is exact and associative — so the
    signs, and hence the keys, reproduce bit-for-bit across engines
    and partitionings, same as the previous DECIMAL(28,12)
    formulation but ~10× cheaper: decimal sum-merge of 16 aggregate
    columns across map partials was a measured 1.7 s single-task
    stage at sf0.1; long merges are plain codegen adds. The 2⁻²⁰
    quantization only perturbs signs of near-zero projections —
    irrelevant to LSH quality, and the oracle mirrors the identical
    construction. The plane components broadcast PIVOTED — one row
    per dim carrying all ``n_planes`` weights — so a single pass over
    the exploded (vec, dim, x) rows feeds ``n_planes`` sum aggregates
    in one groupBy(vec_id): shuffle input is |V|·dim rows (not
    |V|·dim·planes — the per-(vec, plane) formulation pushed 16× the
    rows through the shuffle, a measured ~2× on the whole ANN query
    at sf0.1), and map-side combine reduces it to one 16-column row
    per vector per partition. Band keys assemble in a projection;
    the (vec_id, band, key) posting rows come from one Generate.
    No Q×N anywhere."""
    comps_wide = F.broadcast(
        srp_plane_components(exploded.sparkSession, n_planes, dim)
        .groupBy("d")
        .pivot("plane", list(range(n_planes)))
        .agg(F.first("w"))
        .select(
            "d", *[F.col(str(p)).alias(f"w{p}") for p in range(n_planes)]
        )
    )
    proj = (
        exploded.withColumn("sx", F.floor(F.col("x") * F.lit(float(SRP_SCALE))))
        .join(comps_wide, "d")
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(F.col(f"w{p}") * F.col("sx")).alias(f"p{p}")
                for p in range(n_planes)
            ]
        )
    )
    n_bands = n_planes // rows_per_band
    band_structs = []
    for b in range(n_bands):
        key = F.lit(0).cast("long")
        for r in range(rows_per_band):
            key = key + F.when(
                F.col(f"p{b * rows_per_band + r}") > 0, F.lit(1 << r).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        band_structs.append(
            F.struct(F.lit(b).cast("int").alias("band"), key.alias("key"))
        )
    return proj.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("_bk")
    ).select("vec_id", F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key"))


def _infer_dim(vectors: DataFrame) -> int:
    return vectors.select(F.size("embedding").alias("n")).first().n


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance in the floor-scaled-long discipline
    (surfaced as double). Each squared difference is one deterministic
    double op; the long fold makes the SUM exact and order-insensitive
    with NO decimal rounding tie, so centroid assignments — argmin
    with a (dist, cell) tiebreak — are bit-identical across engines,
    partitionings and cluster sizes. That is what lets the whole
    iterative IVF index carry a DuckDB oracle
    (`queries/similarity.py::ann_ivf_topk`)."""
    return _scaled_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: the PQ Lloyd loop (operators/pq.lloyd) at
    ONE subspace spanning all dimensions (sub = 0, dsub = d), in the
    row shape — the first ``n_cells`` vectors by id seed the
    centroids, then ``iters`` rounds with floor-scaled-long elementwise
    means. Returns

    - centroids: (cell, centroid array<double>)
    - assignment: (vec_id, cell)

    The centroids are the means of the FINAL assignment — one update
    past the codebook that assignment was made against — which is what
    every IVF consumer (priority distances, probe scoring) and the
    unrolled oracle (queries/similarity.py _ivf_kmeans_ctes) read.

    Each Lloyd round is one broadcast join (centroids are tiny) + one
    min-struct aggregation + one elementwise-mean aggregation — no
    pairwise corpus work anywhere, which is the point of IVF: the
    index build is O(N · n_cells), the search probes a few cells.
    """
    from convoy_spark.operators.pq import _update, lloyd

    one = (
        exploded_vectors(corpus)
        .localCheckpoint(eager=False)
        .select("vec_id", F.lit(0).alias("sub"), F.col("d").alias("dsub"), "x")
    )
    _, codes = lloyd(one, corpus.select("vec_id"), n_cells, iters, wide=False)
    centroids = (
        _update(codes, one)
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dsub", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )
    return centroids, codes.select("vec_id", F.col("code").alias("cell"))


def scaled_sum_guard(n_col, mx_col, value, what: str):
    """``value``, gated on the floor-scaled-long no-overflow envelope
    (the CART_NODE_ROWS_MAX discipline — raise instead of wrapping):
    |Σ terms| ≤ n·max|term|, so n·max|term| < 2⁶¹ (double-compared,
    the 2²-wide margin absorbing the cast rounding) proves the int64
    sum cannot have wrapped. The guard is a scalar projection over
    aggregates the group already computes — zero extra shuffle I/O.
    Corpus-population-sized groups (k-means cell means, OPQ
    reconstruction sums) cross the envelope near 2²³ rows·|x| (round-8
    ADVICE); dim-bounded groups (assignment distances, ADC folds,
    rotation applies) cannot and stay unguarded."""
    return F.when(
        (n_col.cast("double") * mx_col.cast("double"))
        < F.lit(float(1 << 61)),
        value,
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"floor-scaled long sum in {what} exceeds the "
                "int64-safe envelope: n=%s max|term|=%s — shard the "
                "group or widen the sum to decimal(38,0)",
                n_col,
                mx_col,
            )
        )
    )


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    coarse_index: tuple[DataFrame, DataFrame],
    k: int = 5,
) -> DataFrame:
    """IVF search over ``coarse_index`` (an :func:`ivf_index` of
    ``corpus``): rank cells per query by centroid distance, score only
    vectors in the nearest cells. The probe count trades recall for the
    fraction of the corpus touched (n_probe/n_cells) — tested against
    the brute-force baseline. The probe stage is
    operators/pq.ivfpq_candidates, the one shared with IVF-PQ search."""
    from convoy_spark.operators.pq import ivfpq_candidates

    # each vector sits in exactly one cell, so the pairs are distinct
    cand = ivfpq_candidates(queries, coarse_index).withColumnRenamed(
        "vec_id", "corpus_id"
    )
    qv = with_norm(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
        ),
        "_qv",
    ).withColumnRenamed("_norm", "_qn")
    cv = with_norm(
        corpus.select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("_cv")
        ),
        "_cv",
    ).withColumnRenamed("_norm", "_cn")
    scores = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "corpus_id")
        .withColumn(
            "sim", dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
        )
        .select("query_id", "corpus_id", "sim")
    )
    return topk(scores, k)


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    queries_within_corpus: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing any SRP
    band key with the query's probe set, scored exactly, deduped,
    ranked.

    Multi-probe: per band, the query's own key PLUS every
    Hamming-1 neighbor key (each single sign bit flipped) — the
    classic multi-probe LSH trick. A pair becomes a candidate if any
    band key is within Hamming ≤ 1, which for cos ≈ 0.5 neighbors
    lifts per-band hit probability from ~0.20 to ~0.59 and overall
    candidate recall from ~0.59 to ~0.97 (measured ≥ 0.9 top-k recall
    in tests/test_similarity.py vs 0.46 single-probe). The expansion
    is query-side only — Q × bands × (rows+1) probe rows; the corpus
    posting table is untouched, so the 100 TB shape (equi-join on
    (band, key), no Q×N) is preserved."""
    # ``queries_within_corpus`` skips the union+dedup shuffle when the
    # caller guarantees every query vector is a corpus row (the
    # catalog query selects its queries FROM the corpus) — one fewer
    # stage on the critical path.
    sig_input = (
        corpus
        if queries_within_corpus
        else queries.unionByName(corpus).dropDuplicates(["vec_id"])
    )
    # ONE element-wise expansion feeds everything downstream —
    # signatures, norms, and candidate-pair dot products — and is
    # materialized once (lazy localCheckpoint, so blocks are released
    # by the ContextCleaner with the result DataFrame). Without the
    # barrier Spark re-derives the expansion per consumer — no
    # cross-subplan elimination — exactly the lesson
    # operators/dedup.py::minhash_lsh_neardup already encodes; the
    # un-shared variant re-ran the most expensive stage twice per
    # query (the only round-2 bench regression).
    ex = exploded_vectors(sig_input).localCheckpoint(eager=False)
    all_sigs = srp_signatures_from_exploded(
        ex, _infer_dim(corpus), n_planes
    ).localCheckpoint(eager=False)
    q_ids = queries.select(F.col("vec_id").alias("query_id"))
    flips = F.array(
        F.lit(0),  # 0 = no flip (the original key)
        *[F.lit(1 << r) for r in range(SRP_ROWS)],
    )
    q_sigs = all_sigs.join(
        F.broadcast(q_ids), all_sigs.vec_id == q_ids.query_id
    ).select("query_id", "band", "key").select(
        "query_id",
        "band",
        F.explode(flips).alias("_m"),
        "key",
    ).select(
        "query_id",
        "band",
        F.col("key").bitwiseXOR(F.col("_m").cast("long")).alias("key"),
    )
    c = corpus.join(all_sigs, "vec_id").select(
        F.col("vec_id").alias("corpus_id"), "band", "key"
    )
    cand = (
        q_sigs.join(c, ["band", "key"])
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .distinct()
    )
    # Exact scoring of candidates only, in the oracle's own shape:
    # join the candidate pairs back to the exploded elements and sum
    # the exactly-scaled per-dim products in codegen LONG aggregates
    # (see SCORE_SCALE). The per-row higher-order-function dot
    # (zip_with + aggregate lambdas) evaluates INTERPRETED (~85 µs
    # per 64-dim pair — a measured ~1 s at sf0.1's 25k candidates);
    # the explode shape trades one extra |cand|·dim shuffle for
    # whole-stage codegen, and map-side combine collapses it back to
    # |cand| rows.
    norms = ex.groupBy("vec_id").agg(
        F.sqrt(
            F.sum(F.floor((F.col("x") * F.col("x")) * F.lit(SCORE_SCALE)))
            .cast("double")
            / F.lit(SCORE_SCALE)
        ).alias("nrm")
    )
    ea = ex.select(F.col("vec_id").alias("query_id"), "d", F.col("x").alias("xa"))
    eb = ex.select(F.col("vec_id").alias("corpus_id"), "d", F.col("x").alias("xb"))
    dots = (
        cand.join(ea, "query_id")
        .join(eb, ["corpus_id", "d"])
        .groupBy("query_id", "corpus_id")
        .agg(
            (
                F.sum(
                    F.floor((F.col("xa") * F.col("xb")) * F.lit(SCORE_SCALE))
                ).cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("dp")
        )
    )
    q_norms = norms.join(
        F.broadcast(q_ids), norms.vec_id == q_ids.query_id
    ).select("query_id", F.col("nrm").alias("_qn"))
    scores = (
        dots.join(F.broadcast(q_norms), "query_id")
        .join(
            norms.select(
                F.col("vec_id").alias("corpus_id"), F.col("nrm").alias("_cn")
            ),
            "corpus_id",
        )
        .withColumn("sim", F.col("dp") / (F.col("_qn") * F.col("_cn")))
        .select("query_id", "corpus_id", "sim")
    )
    return topk(scores, k)


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    target_cell: int = 64,
    min_cells: int = 16,
) -> DataFrame:
    """(src, dst, sim, rank) — the k-nearest-neighbor GRAPH over an
    embedding corpus: every vector's top-``k`` cosine neighbors among
    its IVF-cell candidates. The graph is the standard curation asset
    downstream of embedding pipelines — semantic clustering
    (queries/similarity.py::semantic_communities = LPA over this
    graph), graph-based dedup, and neighborhood label propagation all
    consume it.

    Candidate generation is the SemDeDup cost contract applied to
    graph building (NOT fixed-width LSH bands, whose bucket
    populations — hence candidate volume — grow quadratically at
    fixed key width): cluster with the deterministic k-means coarse
    quantizer at n_cells = max(min_cells, N // target_cell), then
    each vector's candidates are the members of its ``n_probe``
    nearest cells — candidate volume ≈ N·n_probe·target_cell, LINEAR
    in the corpus by construction. Probe ranking is the exact
    floor-scaled centroid distance with the (dist, cell) tiebreak
    (ivfpq_candidates' probe ranking); scoring touches candidates only.
    A vector isolated from its probed cells' members (cell of size 1,
    no second probe) gets no out-edges; it can still appear as a dst.

    Exactness: the k-means build, probe distances, dots and norms are
    the floor-scaled-long discipline end to end, and the (sim desc,
    dst) rank tiebreak is deterministic — the whole graph
    value-hash-checks against the SQL mirror (the shared
    scaled-cells k-means unroll + a probe/candidate/score tail)."""
    n_cells = max(min_cells, corpus.count() // target_cell)
    centroids, assignment = ivf_index(corpus, n_cells=n_cells)
    # The exploded frame is dim× the corpus — an input-multiple whose
    # checkpoint unroll must not ride the input-sized partitioning
    # (the sfg10 OOM class; operators/partitioning.py). Repartition
    # the CORPUS by id BEFORE the narrow explode: the cheap pre-blowup
    # exchange bounds the materialized blocks, and since Generate
    # preserves its child's hash partitioning, every downstream
    # vec_id-keyed stage (probe groupBy, norms, the src dot join)
    # reuses it exchange-free. GATED on source size (round-10 verdict
    # #2): below the engagement gate the pre-exchange costs more than
    # it saves (sf0.1 build 9.4 → 11.2 s in round 10) and the plain
    # round-9 checkpoint shape is kept.
    src = (
        corpus.repartition(blowup_partitions(corpus), "vec_id")
        if blowup_engaged(corpus)
        else corpus
    )
    ex = exploded_vectors(src).localCheckpoint(
        eager=False, storageLevel=blowup_storage_level(corpus)
    )
    # Probe distances over the EXPLODED frame in whole-stage codegen —
    # the Lloyd assignment's own shape. The array-fold form (_sq_dist
    # per (vector, centroid) row) evaluates its higher-order lambdas
    # INTERPRETED at N·n_cells rows — with n_cells∝N that is the
    # quadratic/target_cell term in the slowest possible mode
    # (measured: the sf0.1 build dropped ~2× moving it here).
    cent_ex = centroids.select(
        "cell", F.posexplode("centroid").alias("d", "m")
    )
    probe_w = Window.partitionBy("src").orderBy(
        F.col("_pd").asc(), F.col("cell").asc()
    )
    probes = (
        ex.join(F.broadcast(cent_ex), "d")
        .groupBy(F.col("vec_id").alias("src"), F.col("cell"))
        .agg(
            F.sum(
                F.floor(
                    ((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))
                    * F.lit(SCORE_SCALE)
                )
            ).alias("_pd")
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= n_probe)
        .select("src", "cell")
    )
    cand = (
        probes.join(
            assignment.select(F.col("vec_id").alias("dst"), "cell"), "cell"
        )
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    # Zero-norm guard: an all-zero embedding makes sim = 0/0 — NaN in
    # Spark (which sorts ABOVE all values in a DESC rank, so NaN edges
    # would WIN) vs NULL in the SQL mirror — a silent cross-engine
    # divergence. Zero vectors carry no direction, so they score no
    # edges on either endpoint; the oracle's gsim CTE filters nrm > 0
    # identically (inner joins, so one filter here covers src and dst).
    norms = (
        ex.groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum(F.floor((F.col("x") * F.col("x")) * F.lit(SCORE_SCALE)))
                .cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("nrm")
        )
        .filter(F.col("nrm") > 0)
    )
    ea = ex.select(F.col("vec_id").alias("src"), "d", F.col("x").alias("xa"))
    eb = ex.select(F.col("vec_id").alias("dst"), "d", F.col("x").alias("xb"))
    dots = (
        cand.join(ea, "src")
        .join(eb, ["dst", "d"])
        .groupBy("src", "dst")
        .agg(
            (
                F.sum(
                    F.floor((F.col("xa") * F.col("xb")) * F.lit(SCORE_SCALE))
                ).cast("double")
                / F.lit(SCORE_SCALE)
            ).alias("dp")
        )
    )
    scores = (
        dots.join(
            norms.select(F.col("vec_id").alias("src"), F.col("nrm").alias("_sn")),
            "src",
        )
        .join(
            norms.select(F.col("vec_id").alias("dst"), F.col("nrm").alias("_dn")),
            "dst",
        )
        .select(
            "src",
            "dst",
            (F.col("dp") / (F.col("_sn") * F.col("_dn"))).alias("sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("sim").desc(), F.col("dst").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "sim", F.col("rank").cast("int").alias("rank"))
    )


def semantic_dedup(
    corpus: DataFrame,
    index: tuple[DataFrame, DataFrame],
    eps: float = 0.3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate REMOVAL over an embedding corpus — cluster with the
    deterministic k-means coarse quantizer (``index``, an
    :func:`ivf_index` of ``corpus``), then within each cluster drop
    every vector whose cosine similarity to a higher-priority cluster
    member is ≥ ``eps``. Priority follows the
    paper's keep-the-outlier rule: members rank by distance to their
    own centroid DESCENDING (farthest kept first, vec_id tiebreak), so
    of a duplicate group the most centroid-atypical copy survives.

    Returns (vec_id, cell, cdist, is_kept) for every corpus vector.

    Scale shape — the published algorithm's cost, expressed as joins:
    the index build is O(N·n_cells) broadcast work (ivf_index); the
    pairwise stage is confined WITHIN cells — candidate pairs =
    Σ_c |cell_c|², the SemDeDup contract (n_cells scales ~N/m for a
    target cell size m, keeping per-cell work bounded; the paper runs
    50k clusters for 600M docs). Pair dots run in the PER-PAIR shape
    (the setsim per-pair verify pattern): the two materialized vector
    arrays join onto the pair frame (moved once per side), one side
    posexplodes against element_at of the other, and a map-side-
    combined keyed agg collapses — no |pairs|·dim two-sided exploded
    shuffle, no interpreted per-row lambdas. Nothing is collected;
    centroids are the only broadcast (n_cells·dim doubles).

    Exactness: floor-scaled long sums for cdist, pair dots, and norms
    (deterministic and order-free), so cluster assignment, priority
    rank, and the keep decision are bit-identical across engines and
    partitionings — full value-hash oracle in queries/similarity.py.
    """
    # ONE exploded frame feeds the priority distances and the norms
    centroids, assignment = index
    cent_ex = centroids.select("cell", F.posexplode("centroid").alias("d", "m"))
    ex = exploded_vectors(corpus).localCheckpoint(eager=False)
    scaled = lambda c: (  # noqa: E731
        F.sum(F.floor(c * F.lit(SCORE_SCALE))).cast("double")
        / F.lit(SCORE_SCALE)
    )
    cd = (
        assignment.join(ex, "vec_id")
        .join(F.broadcast(cent_ex), ["cell", "d"])
        .groupBy("vec_id", "cell")
        .agg(
            scaled(
                (F.col("x") - F.col("m")) * (F.col("x") - F.col("m"))
            ).alias("cdist")
        )
    )
    rk_w = Window.partitionBy("cell").orderBy(
        F.col("cdist").desc(), F.col("vec_id").asc()
    )
    ranked = cd.withColumn("rk", F.row_number().over(rk_w)).localCheckpoint(
        eager=False
    )
    pairs = (
        ranked.select("cell", F.col("vec_id").alias("a_id"), F.col("rk").alias("a_rk"))
        .join(
            ranked.select(
                "cell", F.col("vec_id").alias("b_id"), F.col("rk").alias("b_rk")
            ),
            "cell",
        )
        .filter(F.col("a_rk") < F.col("b_rk"))
        .select("a_id", "b_id")
    )
    norms = ex.groupBy("vec_id").agg(
        F.sqrt(scaled(F.col("x") * F.col("x"))).alias("nrm")
    )
    # Pair dots in the PER-PAIR shape (the setsim_prefix_join verify
    # lesson, operators/dedup.py:164, applied here per the round-6
    # verdict #4): join the two materialized vector ARRAYS onto the
    # pair frame — the pair frame moves ONCE per side (and the array
    # side is vector-count-sized, broadcastable) — then expand one
    # side with posexplode and read the other by index, collapsing
    # with a map-side-combined keyed agg. Measured at sf0.1 (125k
    # pairs, dim 64, BENCH_NOTES round-7 table): 0.61 s vs 1.34 s for
    # the old pairs⋈ea⋈eb exploded join, 0.84 s for the
    # zip_with/aggregate HOF form (interpreted), and 3.6 s (!) for a
    # 64-term unrolled element_at projection (codegen blowup) — the
    # Generate+combine keeps whole-stage codegen AND the minimal data
    # motion. Identical integers to the exploded form: floor per
    # term, long sum, order-free.
    varr = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dots = (
        pairs.join(
            varr.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va")),
            "a_id",
        )
        .join(
            varr.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb")),
            "b_id",
        )
        .select("a_id", "b_id", F.posexplode("va").alias("d", "xa"), F.col("vb"))
        .select(
            "a_id",
            "b_id",
            (F.col("xa") * F.expr("element_at(vb, d + 1)")).alias("p"),
        )
        .groupBy("a_id", "b_id")
        .agg(scaled(F.col("p")).alias("dp"))
    )
    dropped = (
        dots.join(norms.select(F.col("vec_id").alias("a_id"), F.col("nrm").alias("_an")), "a_id")
        .join(norms.select(F.col("vec_id").alias("b_id"), F.col("nrm").alias("_bn")), "b_id")
        .filter(F.col("dp") / (F.col("_an") * F.col("_bn")) >= F.lit(eps))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        ranked.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "cdist",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("is_kept"),
        )
    )


def cosine_ranks_fast(corpus: DataFrame, n_queries: int, k: int) -> DataFrame:
    """(query_id, doc_id, sim, rank) — exact cosine top-``k`` for the
    first ``n_queries`` corpus vectors, in the exploded scaled-long
    codegen shape (SCORE_SCALE): the per-row zip_with/aggregate dot
    evaluates INTERPRETED (~85 µs per 64-dim pair — 7 s of the
    hybrid query's sf1.0 vector leg before this form), while the
    explode trades one |Q|·N·dim broadcast join for whole-stage
    codegen with map-side combine. Same exactness contract as the
    SRP candidate scorer (floor-scaled long sums — bit-identical
    across engines), shared by the hybrid-RRF vector leg and the
    retrieval-metrics harness."""
    ex = exploded_vectors(corpus).localCheckpoint(eager=False)
    scaled_sum = lambda c: (  # noqa: E731
        F.sum(F.floor(c * F.lit(SCORE_SCALE))).cast("double")
        / F.lit(SCORE_SCALE)
    )
    nrm = ex.groupBy("vec_id").agg(
        F.sqrt(scaled_sum(F.col("x") * F.col("x"))).alias("nrm")
    )
    ea = ex.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "d", F.col("x").alias("xa")
    )
    eb = ex.select(F.col("vec_id").alias("doc_id"), "d", F.col("x").alias("xb"))
    dots = (
        eb.join(F.broadcast(ea), "d")
        .filter(F.col("query_id") != F.col("doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(scaled_sum(F.col("xa") * F.col("xb")).alias("dp"))
    )
    qn = nrm.select(F.col("vec_id").alias("query_id"), F.col("nrm").alias("_qn"))
    cn = nrm.select(F.col("vec_id").alias("doc_id"), F.col("nrm").alias("_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("doc_id").asc()
    )
    return (
        dots.join(F.broadcast(qn), "query_id")
        .join(cn, "doc_id")
        .withColumn("sim", F.col("dp") / (F.col("_qn") * F.col("_cn")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "sim", F.col("rank").cast("int").alias("rank"))
    )
