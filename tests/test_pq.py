"""Product-quantization tests: oracle parity for the flat-ADC and
IVF-PQ catalog queries, code-table invariants, partitioning
determinism, and ADC recall vs the exact L2 baseline."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from convoy_spark.operators.pq import (
    PQ_KS,
    PQ_SUB,
    ann_pq_rerank_topk,
    pq_codebooks,
)
from convoy_spark.tables import load_table
from tests.conftest import run_parity

SF_DIR = "/root/testdata/sf0.001"


def test_pq_adc_topk_parity(spark, duck):
    run_parity(spark, duck, "pq_adc_topk")


def test_ann_ivfpq_topk_parity(spark, duck):
    run_parity(spark, duck, "ann_ivfpq_topk")


def test_pq_codes_cover_corpus(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    _, codes, _ = pq_codebooks(emb)
    rows = codes.agg(
        F.count("*").alias("cnt"),
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
        F.countDistinct("vec_id").alias("vecs"),
    ).first()
    assert rows.cnt == n * PQ_SUB
    assert 0 <= rows.lo and rows.hi < PQ_KS
    assert rows.vecs == n


def test_pq_codes_partitioning_independent(spark):
    """Codes are argmins over decimal-exact sums — identical under any
    input partitioning (the contract that makes the oracle possible)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = {(r.vec_id, r.sub): r.code for r in pq_codebooks(emb)[1].collect()}
    c2 = {
        (r.vec_id, r.sub): r.code
        for r in pq_codebooks(emb.repartition(7))[1].collect()
    }
    assert c1 == c2


def test_wide_and_row_shapes_agree(spark):
    """The two physical shapes PQ_WIDE_MIN_ROWS selects between give
    identical results; no fixture reaches the threshold, so both are
    forced here. _assign at the PQ geometry and at one subspace with
    16 cells (the IVF coarse quantizer's shape), also with a cell
    missing from the codebook (the wide form's NULL-column sentinel);
    _adc_scored batched and unbatched."""
    from convoy_spark.operators.pq import (
        _adc_scored,
        _assign,
        _sub_exploded,
        adc_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for n_sub, ks in ((PQ_SUB, PQ_KS), (1, 16)):
        cent, _, ex = pq_codebooks(emb, n_sub=n_sub, ks=ks)
        for cb in (cent, cent.filter(F.col("cell") != 3)):
            assert rows(_assign(ex, cb, ks, wide=True)) == rows(
                _assign(ex, cb, ks, wide=False)
            )
    cent, codes, _ = pq_codebooks(emb)
    ds = len(emb.first().embedding) // PQ_SUB
    q_ex = _sub_exploded(emb.filter(F.col("vec_id") < 8), ds)
    dtab = adc_table(q_ex, cent)
    assert rows(_adc_scored(codes, dtab, batched=True)) == rows(
        _adc_scored(codes, dtab, batched=False)
    )


def test_adc_search_reads_the_index_geometry(spark):
    """An index trained at a non-default geometry (8 subspaces of 8
    dims) is searched at the geometry of its own codebook: every ADC
    distance, and the top-5 it ranks, equals the table-lookup distance
    recomputed here from that codebook and those codes."""
    from convoy_spark.operators.pq import ann_pq_adc_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    index = pq_codebooks(emb, n_sub=8)
    codebook, codes, _ = index
    got = sorted(
        (r.query_id, r.corpus_id, r.adist, r.rank)
        for r in ann_pq_adc_topk(q, index, k=5).collect()
    )

    scale = float(1 << 40)
    m = np.zeros((8, PQ_KS, 8))
    for r in codebook.collect():
        m[r.sub, r.cell, r.dsub] = r.m
    code = {}
    for r in codes.collect():
        code.setdefault(r.vec_id, np.zeros(8, dtype=np.int64))[r.sub] = r.code
    vec = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    want = []
    for qid in range(8):
        xq = vec[qid].reshape(8, 1, 8)
        # (sub, cell) table of floor-scaled long sums, as adc_table
        table = np.floor(((xq - m) * (xq - m)) * scale).astype(np.int64).sum(axis=2)
        dist = sorted(
            (float(table[np.arange(8), c].sum()) / scale, cid)
            for cid, c in code.items()
            if cid != qid
        )
        want += [(qid, cid, d, rank) for rank, (d, cid) in enumerate(dist[:5], 1)]
    assert got == sorted(want)


def test_one_ivf_training_per_session(spark, monkeypatch):
    """Every IVF search in the catalog reads the session's one shared
    coarse index: constructing all four consumers trains the 16-cell
    k-means (a one-subspace Lloyd loop) exactly once."""
    import convoy_spark.operators.pq as pq
    import convoy_spark.queries.similarity as simq
    from convoy_spark.queries import QUERIES

    monkeypatch.setattr(simq, "_IVF_INDEX_CACHE", {})
    one_sub = []
    real = pq.lloyd

    def counting(ex, ids, ks, iters, wide):
        if ex.agg(F.max("sub")).first()[0] == 0:
            one_sub.append(ks)
        return real(ex, ids, ks, iters, wide)

    monkeypatch.setattr(pq, "lloyd", counting)
    for name in ("ann_ivf_topk", "ann_ivfpq_topk", "pq_recall_sweep", "semantic_dedup"):
        QUERIES[name](spark, SF_DIR)
    assert one_sub == [simq.IVF_CELLS]


def test_pq_rerank_parity(spark, duck):
    run_parity(spark, duck, "pq_rerank_topk")


def test_pq_rerank_recall_vs_exact_l2(spark):
    """The shortlist-then-rerank path is the production PQ pipeline;
    its recall@5 vs exact L2 measured 0.99 at sf0.001 (pure ADC ranks:
    ~0.3 — quantization error ≈ neighbor gap on this synthetic corpus,
    which is exactly why the re-rank stage exists)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    exact = set()
    for qi in range(16):
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        order = np.lexsort((ids, d2))[:5]
        exact |= {(int(ids[qi]), int(ids[j])) for j in order}
    q = emb.filter(F.col("vec_id") < 16)
    approx = {
        (r.query_id, r.corpus_id)
        for r in ann_pq_rerank_topk(q, pq_codebooks(emb), k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.85, f"PQ re-rank recall collapsed: {recall:.2f}"


def test_persisted_index_serves_search_identically(spark, tmp_path):
    """write_pq_index → load_pq_index → ann_ivfpq_topk over the loaded
    frames returns BIT-IDENTICAL results to the in-memory build (the
    index is a pure deterministic artifact); the bucketed code/
    assignment stores answer vec_id-keyed joins and aggregations
    without a store-side exchange (the 100 TB search layout)."""
    from pyspark.sql import functions as F

    from convoy_spark.operators.pq import (
        ann_ivfpq_topk,
        load_pq_index,
        write_pq_index,
    )
    from convoy_spark.operators.similarity import ivf_index

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    want = sorted(
        (r.query_id, r.corpus_id, r.adist, r.rank)
        for r in ann_ivfpq_topk(q, pq_codebooks(emb), ivf_index(emb), k=5).collect()
    )
    base = str(tmp_path / "pqindex")
    write_pq_index(emb, base)
    idx = load_pq_index(spark, base)
    got = sorted(
        (r.query_id, r.corpus_id, r.adist, r.rank)
        for r in ann_ivfpq_topk(
            q,
            (idx["codebook"], idx["codes"], None),
            (idx["centroids"], idx["assignment"]),
            k=5,
        ).collect()
    )
    assert got == want

    # bucketed layout: vec_id-keyed agg and join read co-located
    # buckets — no Exchange anywhere in either plan
    agg = idx["codes"].groupBy("vec_id").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    assert "Exchange" not in plan, plan
    joined = idx["codes"].hint("merge").join(idx["assignment"], "vec_id")
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in jplan, jplan


def test_pq_recall_sweep_parity(spark, duck):
    run_parity(spark, duck, "pq_recall_sweep")


def test_pq_recall_sweep_invariants(spark):
    """The operating curve's contracts: candidate volume and candidate
    recall are monotone non-decreasing in n_probe; probing every cell
    puts every true neighbor in the candidate set (cand_recall = 1);
    the final ADC recall can never exceed the candidate ceiling; the
    exact-L2 numpy truth agrees with exact_l2_topk."""
    import numpy as np

    from convoy_spark.operators.pq import exact_l2_topk
    from convoy_spark.queries import QUERIES
    from convoy_spark.queries.similarity import IVF_CELLS

    rows = sorted(
        (
            (r.n_probe, r.n_cand, r.cand_recall, r.recall)
            for r in QUERIES["pq_recall_sweep"](spark, SF_DIR).collect()
        )
    )
    assert [p for p, *_ in rows] == [1, 2, 4, 8, 16]
    for (p0, c0, cr0, _r0), (p1, c1, cr1, _r1) in zip(rows, rows[1:]):
        assert c1 >= c0, f"candidate volume shrank {p0}->{p1}"
        assert cr1 >= cr0 - 1e-12, f"cand_recall fell {p0}->{p1}"
    assert rows[-1][0] == IVF_CELLS and rows[-1][2] == 1.0
    for p, _c, cr, r in rows:
        assert r <= cr + 1e-12, f"recall above candidate ceiling at {p}"

    # exact_l2_topk vs numpy ground truth
    emb = load_table(spark, SF_DIR, "embeddings")
    pdf = emb.orderBy("vec_id").toPandas()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    want = set()
    for qi in range(16):
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        d2[qi] = np.inf
        order = np.lexsort((ids, d2))[:5]
        want |= {(int(ids[qi]), int(ids[j])) for j in order}
    q = emb.filter(F.col("vec_id") < 16)
    got = {
        (r.query_id, r.corpus_id)
        for r in exact_l2_topk(q, emb, k=5).collect()
    }
    assert got == want


def test_hard_negative_mine_parity(spark, duck):
    run_parity(spark, duck, "hard_negative_mine")


def test_hard_negative_mine_semantics(spark):
    """Mined negatives must be disjoint from the exact top-k truth,
    come from the ADC shortlist, and be the shortlist's best-ranked
    non-positives (contiguous neg_rank starting at 1, ≤ the cap)."""
    from convoy_spark.operators.pq import ann_pq_adc_topk, exact_l2_topk
    from convoy_spark.queries import QUERIES
    from convoy_spark.queries.similarity import (
        HN_PER_QUERY,
        HN_SHORTLIST,
        TOP_K,
        shared_pq_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 16)
    pos = {
        (r.query_id, r.corpus_id)
        for r in exact_l2_topk(q, emb, k=TOP_K).collect()
    }
    short = {
        (r.query_id, r.corpus_id)
        for r in ann_pq_adc_topk(
            q, shared_pq_index(spark, SF_DIR), k=HN_SHORTLIST
        ).collect()
    }
    got = QUERIES["hard_negative_mine"](spark, SF_DIR).collect()
    per_q: dict = {}
    for r in got:
        key = (r.query_id, r.corpus_id)
        assert key not in pos, f"positive leaked into negatives: {key}"
        assert key in short, f"negative not from the shortlist: {key}"
        per_q.setdefault(r.query_id, []).append(r.neg_rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= HN_PER_QUERY


def test_pq_opq_compare_parity(spark, duck):
    run_parity(spark, duck, "pq_opq_compare")


def test_balanced_dim_map_is_a_balanced_permutation(spark):
    """The OPQ-init map must be a PERMUTATION of the dims (bijective:
    every d exactly once, every (sub, dsub) slot exactly once) with
    subspace sizes equal (round-robin deal), and quantizing under it
    must yield a complete code table (every vector gets n_sub codes)."""
    from convoy_spark.operators.pq import (
        PQ_SUB,
        balanced_dim_map,
        pq_codebooks,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    dm = balanced_dim_map(emb)
    rows = dm.collect()
    dim = len(rows)
    assert sorted(r.d for r in rows) == list(range(dim))
    slots = [(r.sub, r.dsub) for r in rows]
    assert len(set(slots)) == dim
    per_sub = {}
    for s, _ in slots:
        per_sub[s] = per_sub.get(s, 0) + 1
    assert set(per_sub) == set(range(PQ_SUB))
    assert len(set(per_sub.values())) == 1  # equal-size subspaces

    _, codes, _ = pq_codebooks(emb, dim_map=dm)
    counts = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == PQ_SUB for r in counts)
    assert len(counts) == emb.count()


def test_knn_adc_label_eval_parity(spark, duck):
    run_parity(spark, duck, "knn_adc_label_eval")


def test_knn_adc_neighbor_recall_vs_exact(spark):
    """The production kNN composition's neighbor sets (ADC shortlist →
    exact re-rank of train survivors → top-5) must recover nearly all
    of the exact train-restricted 5-NN truth on the same capped query
    set — the pq_rerank_topk recall discipline applied to the
    classifier's neighbor stage."""
    from convoy_spark.functions.hashing import hash60
    from convoy_spark.operators.pq import ann_pq_adc_topk, exact_l2_topk
    from convoy_spark.queries.similarity import (
        KNN_ADC_QUERIES,
        KNN_ADC_SHORTLIST,
        KNN_K,
        PROBE_SPLIT_SALT,
        PROBE_TRAIN_PCT,
        shared_pq_index,
    )
    from pyspark.sql import Window

    emb = load_table(spark, SF_DIR, "embeddings")
    is_train = (
        hash60(F.concat(F.lit(f"{PROBE_SPLIT_SALT}:"), F.col("vec_id")))
        % 100
        < PROBE_TRAIN_PCT
    )
    sp = emb.select("vec_id", is_train.alias("is_train"))
    kq = (
        sp.filter(~F.col("is_train"))
        .select("vec_id")
        .orderBy("vec_id")
        .limit(KNN_ADC_QUERIES)
    )
    q = emb.join(kq, "vec_id")
    train = emb.join(sp.filter(F.col("is_train")).select("vec_id"), "vec_id")
    truth = {
        (r.query_id, r.corpus_id)
        for r in exact_l2_topk(q, train, k=KNN_K).collect()
    }
    idx = shared_pq_index(spark, SF_DIR)
    short = ann_pq_adc_topk(q, idx, k=KNN_ADC_SHORTLIST).join(
        sp.filter(F.col("is_train")).select(
            F.col("vec_id").alias("corpus_id")
        ),
        "corpus_id",
    )
    # re-rank survivors by exact distance (mirrors the catalog query)
    ex = idx[2]
    ea = ex.select(
        F.col("vec_id").alias("query_id"), "sub", "dsub",
        F.col("x").alias("xa"),
    )
    eb = ex.select(
        F.col("vec_id").alias("corpus_id"), "sub", "dsub",
        F.col("x").alias("xb"),
    )
    exact = (
        short.select("query_id", "corpus_id")
        .join(ea, "query_id")
        .join(eb, ["corpus_id", "sub", "dsub"])
        .groupBy("query_id", "corpus_id")
        .agg(
            F.sum(
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            ).alias("dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("corpus_id").asc()
    )
    got = {
        (r.query_id, r.corpus_id)
        for r in exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_K)
        .collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_opq_rotation_learns_or_holds(spark):
    """The Procrustes alternation must (a) keep R orthogonal in effect
    — quantization error is finite and comparable across iterations
    only if the rotation preserves norms, (b) not degrade the
    quantizer: final reconstruction error <= init error (the paper's
    alternation guarantee, allowing Lloyd-reseed slack), and (c) keep
    ADC recall at or above the balanced-permutation floor minus noise."""
    from convoy_spark.queries import QUERIES

    rows = {
        r.iteration: r
        for r in QUERIES["opq_rotation_train"](spark, SF_DIR).collect()
    }
    from convoy_spark.operators.pq import OPQ_ITERS

    assert set(rows) == set(range(OPQ_ITERS + 1))
    e0, ef = rows[0].quant_err, rows[OPQ_ITERS].quant_err
    assert ef <= e0 * 1.02, (e0, ef)
    for r in rows.values():
        assert 0.0 <= r.adc_recall <= 1.0
    assert rows[OPQ_ITERS].adc_recall >= rows[0].adc_recall - 0.1, rows
