"""Top-principal-component extraction over an embedding column —
distributed power iteration, cross-engine exact.

Embedding pipelines need the leading PCA component(s) for whitening,
anisotropy diagnosis (the "dominant direction" of encoder output
spaces), and dimensionality triage. The classic algorithm is power
iteration on the scatter matrix S = YᵀY (Y = mean-centered data):
``v ← S·v / ‖S·v‖``. The Spark-first restatement never materializes
S (dim×dim) OR collects data to the driver: each iteration computes

    s_i = Σ_d y_id · v_d      (one aggregation keyed on vec_id)
    w_d = Σ_i y_id · s_i      (one aggregation keyed on d)
    v   = w / ‖w‖             (tiny per-dimension frame)

— i.e. S·v as Yᵀ(Y·v), two keyed shuffles over the |V|·dim exploded
frame per iteration, with the exploded+centered frame checkpointed
once. At 100 TB both shuffles are plain hash aggregations with
map-side combine; the v/μ frames (dim rows) ride broadcasts.

Cross-engine exactness (what makes an ITERATIVE float algorithm
value-hash oracle-able, like the IVF index):

- FIXED iteration count — no convergence test, so the loop unrolls
  to SQL CTEs.
- Every sum is an exact scaled-long sum: Σ ⌊t·2⁴⁰⌋ accumulated in
  DECIMAL(38,0). Multiplying a double by 2⁴⁰ only shifts its
  exponent (exact), floor is exact, integer sums are exact and
  associative, and the final decimal→double conversion of an integer
  is correctly rounded — every step bit-identical on both engines.
  double→DECIMAL(p,s) casts are deliberately NOT used anywhere on
  this path: the two engines' decimal-rounding implementations were
  measured to disagree by one final-digit unit on ~1 of 64 values
  (enough to derail an iterative computation), whereas the floor
  chain has no decimal rounding at all.
- ‖w‖ is computed max-normalized — m = max|w_d| (comparison only,
  deterministic), then m·√(Σ⌊(w/m)²·2⁴⁰⌋/2⁴⁰) — so the scaled
  squares stay within int64 for ANY data magnitude (raw w grows with
  corpus size; (w/m)² ≤ 1 by construction).
- Remaining scalar ops (+,−,×,÷,sqrt) are IEEE-correctly-rounded on
  both engines (sqrt included; ln/exp are NOT and are avoided).

The 2⁻⁴⁰ quantization per term is ~1e-12 relative — far below the
power-iteration convergence error. Convergence is the power method's:
the iterate approaches the top eigenvector at rate (λ2/λ1)^t, so 4
iterations nail data with a real dominant direction (planted-signal
test: cos > 0.999) but near-isotropic spectra (the synthetic test
corpus measures λ2/λ1 ≈ 0.987) would need proportionally more budget
for the exact eigenvector — as for ANY power method. What the
fixed-budget output always guarantees: it is exactly the t-step
power iterate (differentially tested against numpy running identical
steps, tests/test_pca.py), bit-reproducible across engines and
cluster sizes, with ‖S·v‖ a monotone-improving lower-bound estimate
of λ1. Callers needing tighter tolerance raise ``n_iterations``
(each +1 = two more shuffles, and the oracle unrolls to match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from convoy_spark.operators.similarity import exploded_vectors

PCA_ITERATIONS = 4
PCA_PROJECT_ITERATIONS = 2
PSCALE = 1 << 40


def _xsum(col):
    """Exact scaled-long sum of a double expression → double.
    Deterministic on any engine / any partitioning / any order.

    Honors the ``CONVOY_EXACT_AGG`` production profile
    (functions/numeric.py contract note): under the fast profile the
    PCA family accumulates plain doubles — the iterate is then only
    float-reproducible, not bit-identical across engines (the oracle
    always runs the exact profile; profile agreement is pytest-gated
    within float tolerance like the other numeric aggregates)."""
    from convoy_spark.functions import numeric

    if not numeric.EXACT_DEFAULT:
        return F.sum(col)
    q = F.floor(col * PSCALE).cast("decimal(38,0)")
    return F.sum(q).cast("double") / PSCALE


def sql_xsum(expr: str) -> str:
    """DuckDB fragment identical to :func:`_xsum`."""
    return (
        f"CAST(SUM(CAST(CAST(FLOOR(({expr}) * {PSCALE}) AS BIGINT)"
        f" AS DECIMAL(38,0))) AS DOUBLE) / {PSCALE}"
    )


def _centered(vectors: DataFrame):
    """(centered, mu): the checkpointed mean-centered exploded frame
    (vec_id, d, y) and the per-dimension mean frame (reused as the
    dim list for the v seed — no extra shuffle)."""
    ex = exploded_vectors(vectors).localCheckpoint(eager=False)
    mu = ex.groupBy("d").agg(
        (_xsum(F.col("x")) / F.count("*")).alias("mu")
    )
    centered = (
        ex.join(F.broadcast(mu), "d")
        .select("vec_id", "d", (F.col("x") - F.col("mu")).alias("y"))
        .localCheckpoint(eager=False)
    )
    return centered, mu


def _power_iterate(centered: DataFrame, dims: DataFrame, n_iterations: int):
    """Run the S·v-as-Yᵀ(Y·v) loop; return (v, nrm) — the unit
    iterate (d, v) and its ‖S·v‖ one-row frame. ``dims`` is any
    one-row-per-dimension frame (the mu frame — already derived)."""
    v = dims.select("d", F.lit(1.0).alias("v"))
    nrm = None
    for _ in range(n_iterations):
        s = (
            centered.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(_xsum(F.col("y") * F.col("v")).alias("s"))
        )
        w = (
            centered.join(s, "vec_id")
            .groupBy("d")
            .agg(_xsum(F.col("y") * F.col("s")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        nrm = (
            w.crossJoin(F.broadcast(m))
            .agg(
                F.when(F.max("m") == 0.0, F.lit(0.0))
                .otherwise(
                    F.max("m")
                    * F.sqrt(
                        _xsum(
                            (F.col("w") / F.col("m"))
                            * (F.col("w") / F.col("m"))
                        )
                    )
                )
                .alias("nrm")
            )
        )
        v = (
            w.crossJoin(F.broadcast(nrm))
            .select("d", (F.col("w") / F.col("nrm")).alias("v"))
            .localCheckpoint(eager=False)
        )
    return v, nrm


def pca_top_component(
    vectors: DataFrame,
    n_iterations: int = PCA_ITERATIONS,
) -> DataFrame:
    """(d, loading, eigenvalue, explained_variance_ratio) — one row
    per dimension; ``loading`` is the unit top eigenvector of the
    scatter matrix, ``eigenvalue`` its ‖S·v‖ estimate, and the ratio
    is eigenvalue / trace(S) (fraction of total variance captured)."""
    centered, mu = _centered(vectors)
    v, nrm = _power_iterate(centered, mu, n_iterations)
    trace = centered.agg(_xsum(F.col("y") * F.col("y")).alias("trace"))
    return (
        v.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(trace))
        .select(
            "d",
            F.col("v").alias("loading"),
            F.col("nrm").alias("eigenvalue"),
            (F.col("nrm") / F.col("trace")).alias(
                "explained_variance_ratio"
            ),
        )
    )


def _deflation_iterates(centered: DataFrame, mu: DataFrame, k: int, n_iterations: int):
    """Yield ``(comp, v, nrm, s)`` for components 0..k−1: the power
    iterate and norm over the comp-times-deflated frame, plus ``s`` —
    the exact-sum projection scores (vec_id, s) of that deflated
    frame onto v. Deflation (y ← y − s·v, checkpointed) happens
    between yields. The SINGLE definition of the deflation loop —
    :func:`pca_topk_components` (components) and
    :func:`pca_project_topk` (scores) both consume it; ``s`` is a
    lazy frame, so a consumer that ignores the last component's
    scores never pays for them."""
    y = centered
    for comp in range(k):
        v, nrm = _power_iterate(y, mu, n_iterations)
        s = (
            y.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(_xsum(F.col("y") * F.col("v")).alias("s"))
        )
        yield comp, v, nrm, s
        if comp < k - 1:
            y = (
                y.join(s, "vec_id")
                .join(F.broadcast(v), "d")
                .select(
                    "vec_id",
                    "d",
                    (F.col("y") - F.col("s") * F.col("v")).alias("y"),
                )
                .localCheckpoint(eager=False)
            )


def pca_topk_components(
    vectors: DataFrame,
    k: int = 3,
    n_iterations: int = PCA_ITERATIONS,
) -> DataFrame:
    """(component, d, loading, eigenvalue, explained_variance_ratio)
    — the top-``k`` principal components by power iteration with
    Hotelling deflation.

    Component 0 is exactly :func:`pca_top_component`'s iterate; for
    each next component the data is deflated by the previous iterate,
    ``y ← y − (Σ_d y·v_d)·v_d`` (subtract the projection onto v — one
    keyed aggregation producing the per-vector score s, then a
    broadcast-v map step), and the same fixed-step power loop runs on
    the deflated frame. Each deflated frame is checkpointed, so at
    100 TB the cost is k·(2·n_iterations + 1) keyed aggregations over
    the exploded frame — no scatter matrix, nothing collected, every
    v/μ frame a broadcast.

    Exactness contract: identical to the module header — s is an
    exact scaled-long sum, and ``y − s·v`` is two IEEE-correctly-
    rounded scalar ops on deterministic inputs, so the whole deflation
    chain stays bit-identical across engines and the full component
    matrix remains value-hash oracle-able (the oracle unrolls k·n
    CTE blocks). The components are the deflated-iterate basis — for
    a fixed budget t they approach the true top-k eigenvectors at the
    power method's (λ_{i+1}/λ_i)^t rate, exactly as k=1 does.
    """
    centered, mu = _centered(vectors)
    trace = centered.agg(_xsum(F.col("y") * F.col("y")).alias("trace"))
    outs = [
        v.crossJoin(F.broadcast(nrm)).select(
            F.lit(comp).alias("component"),
            "d",
            F.col("v").alias("loading"),
            F.col("nrm").alias("eigenvalue"),
        )
        for comp, v, nrm, _s in _deflation_iterates(
            centered, mu, k, n_iterations
        )
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.crossJoin(F.broadcast(trace)).select(
        "component",
        "d",
        "loading",
        "eigenvalue",
        (F.col("eigenvalue") / F.col("trace")).alias(
            "explained_variance_ratio"
        ),
    )


def pca_project_topk(
    vectors: DataFrame,
    k: int = 3,
    n_iterations: int = PCA_ITERATIONS,
) -> DataFrame:
    """(vec_id, component, score, whitened) — every vector's
    coordinates in the k-component deflation basis of
    :func:`pca_topk_components`, plus the √λ̂-whitened form: subspace
    whitening / anisotropy removal over MULTIPLE directions, the
    multi-component generalization of :func:`pca_project`.

    Component c's score is the projection of the c-times-DEFLATED
    centered data onto iterate v_c — exactly the Gram-Schmidt
    coordinate in the deflation basis, and exactly the ``s`` frame
    the deflation step already computes, so components 0..k-2 reuse
    the loop's own aggregation and only the last adds one. Same
    exactness chain as the component extraction (the oracle appends
    one sc CTE per component to the same unrolled deflation chain).
    """
    centered, mu = _centered(vectors)
    outs = [
        s.crossJoin(F.broadcast(nrm)).select(
            "vec_id",
            F.lit(comp).alias("component"),
            F.col("s").alias("score"),
            F.when(F.col("nrm") == 0.0, F.lit(0.0))
            .otherwise(F.col("s") / F.sqrt(F.col("nrm")))
            .alias("whitened"),
        )
        for comp, _v, nrm, s in _deflation_iterates(
            centered, mu, k, n_iterations
        )
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def pca_project(
    vectors: DataFrame,
    n_iterations: int = PCA_PROJECT_ITERATIONS,
) -> DataFrame:
    """(vec_id, score, whitened) — every vector's projection onto the
    ``n_iterations``-step top-component iterate, and the
    variance-normalized ("whitened") form ``score / √λ̂``.

    The apply-step of PCA: anisotropy removal (drop or shrink the
    dominant direction of encoder output spaces, cf. the
    all-but-the-top family of embedding post-processing) and
    decile-bucketing embeddings by their principal score both start
    exactly here. One extra keyed aggregation after the iteration
    loop — the same s-step shape as inside it — so the whole query
    stays two-shuffles-per-iteration + one. Defaults to a 2-step
    iterate: the projection inherits the power method's contract (it
    is EXACTLY the t-step iterate's projection, bit-reproducible;
    more steps → closer to the true eigenvector and a ~2× costlier
    unrolled oracle).

    λ̂ = ‖S·v‖ of the final step; ``whitened`` guards the degenerate
    zero-variance corpus to 0.0 on both engines.
    """
    centered, mu = _centered(vectors)
    v, nrm = _power_iterate(centered, mu, n_iterations)
    score = (
        centered.join(F.broadcast(v), "d")
        .groupBy("vec_id")
        .agg(_xsum(F.col("y") * F.col("v")).alias("score"))
    )
    return score.crossJoin(F.broadcast(nrm)).select(
        "vec_id",
        "score",
        F.when(F.col("nrm") == 0.0, F.lit(0.0))
        .otherwise(F.col("score") / F.sqrt(F.col("nrm")))
        .alias("whitened"),
    )
