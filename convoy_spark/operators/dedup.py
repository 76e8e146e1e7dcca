"""Document deduplication operators (north-star extensions, SURVEY §7
M6): exact, n-gram Jaccard, MinHash+LSH, SimHash.

These extend the reference's key-dedup surface (INSERT IGNORE / PK
semantics, `1_initial_load.py:218-224` — covered by the relational
``dedup_first_wins`` query) to content-level near-duplicate detection,
the bread and butter of a 100 TB training-data pipeline.

Design notes, 100 TB first:

- **Exact**: one hash aggregation on a 60-bit content hash; map-side
  partial agg means the shuffle carries one row per distinct hash.
- **n-gram Jaccard** is exact but all-pairs: the shingle self-join
  explodes on common shingles. It is the *verifier*, not the scale
  path.
- **MinHash+LSH** is the scale path: signatures are a fixed 16 longs
  per doc regardless of doc size; banding turns all-pairs into
  equi-joins on (band, key) — only docs sharing a band bucket ever
  meet, and with b=4 bands × r=4 rows the S-curve puts the match
  probability knee at J ≈ (1/4)^(1/4) ≈ 0.71, right for a 0.8
  threshold. Candidates are then verified with exact Jaccard — the
  standard sketch-then-verify shape.
- **SimHash**: one 60-bit fingerprint per doc; near-dup pairs found by
  the pigeonhole block join (hamming ≤ t pairs must share one of t+1
  exact blocks) — again equi-joins, no all-pairs.
- Every hash is the cross-engine deterministic
  :mod:`convoy_spark.functions.hashing` family, so the DuckDB oracle
  reproduces signatures bit-for-bit: even the sketch operators get
  full value-hash parity instead of a weaker rows-only check.

Skew: stopword-like shingles make (band, key) and shingle joins
skewed; AQE skew-join splitting handles moderate cases, and the
``max_shingle_freq`` guard drops degenerate buckets (a shingle in >1%
of docs carries no dedup signal but quadratic join cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from convoy_spark.functions.hashing import (
    MERSENNE31,
    WS_SPLIT,
    hash60,
    minhash_params,
    perm_hash,
)

# Explicit char class, not '\s+' — Java and RE2 disagree on \x0b;
# shared verbatim with every DuckDB oracle (see hashing.WS_SPLIT).
TOKEN_SPLIT = WS_SPLIT
NUM_HASHES = 16
SHINGLE_N = 3  # word n-gram length of the near-dup shingles
LSH_BANDS = 4
LSH_ROWS = 4
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 5  # pigeonhole: finds all pairs with hamming <= 4


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(id, token) — lowercased whitespace tokens, one row each.

    The input is widened first: a single-row-group parquet file scans
    as one task, serializing the entire tokenize+hash pipeline that
    follows (see scale.widen_narrow_scan — no-op at real scale)."""
    from convoy_spark.operators.scale import widen_narrow_scan

    return widen_narrow_scan(docs).select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), TOKEN_SPLIT)).alias("token"),
    ).filter(F.col("token") != "")


def doc_shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams. Built with array
    built-ins (transform/sequence/slice/array_join): whole-stage
    codegen, no Python in the loop, zero shuffle before the distinct.

    The token array is projected into its own column FIRST: inlining
    the ``split`` into the transform lambda makes Catalyst re-evaluate
    it per output element — O(len²) per document, a measured 3×
    slowdown at sf0.1."""
    from convoy_spark.operators.scale import widen_narrow_scan

    tokens = widen_narrow_scan(docs).select(
        "doc_id", F.split(F.lower(F.col("text")), TOKEN_SPLIT).alias("toks")
    )
    shingle_expr = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.array_join(F.slice(F.col("toks"), i, n), " "),
        ),
    ).otherwise(F.array())
    # Per-doc dedup happens ON the scan row (array_distinct before the
    # explode): (doc_id, shingle) duplicates can only occur WITHIN a
    # doc, so this is exactly equivalent to a post-explode .distinct()
    # — minus the corpus-wide exchange the distinct costs (a measured
    # 25% of the whole shingle build at sf1.0).
    return tokens.select(
        "doc_id", F.explode(F.array_distinct(shingle_expr)).alias("shingle")
    )


def shingle_hashes(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, h) — 60-bit hash per distinct shingle."""
    return doc_shingles(docs, n).select(
        "doc_id", hash60(F.col("shingle")).alias("h")
    )


def jaccard_pairs(docs: DataFrame, min_jaccard: float) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard).

    Shingle-set self-join: |A∩B| by counting shared shingles, sizes
    from a per-doc aggregate, J = ∩ / (|A|+|B|−∩)."""
    sh = shingle_hashes(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


# Exact-Jaccard threshold for the prefix-filtered join, as a rational
# (4/5 = 0.8) so ceil(t·n) is integer arithmetic on both engines —
# float ceil(0.8·n) rounds up spuriously at n ≡ 0 (mod 5) (0.8·5 =
# 4.000000000000001 in binary64), which would SHORTEN the prefix and
# silently drop pairs.
SETSIM_NUM = 4
SETSIM_DEN = 5


def setsim_prefix_join(docs: DataFrame, checkpoint: bool = True) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (the
    All-Pairs/PPJoin candidate scheme of Bayardo et al. / Xiao et al.;
    the MapReduce formulation is Vernica et al., SIGMOD'10): all doc
    pairs with n-gram-shingle Jaccard ≥ 4/5, computed EXACTLY but
    without the all-pairs shingle self-join of :func:`jaccard_pairs`.

    The pruning identity: order every doc's shingle set by a global
    total order (ascending document frequency, ties by hash — rare
    shingles first, so prefixes land in the emptiest join buckets).
    For J(A,B) ≥ t the overlap must reach α(x) = ceil(t·|x|) for each
    side, and any pair with overlap ≥ α must share a token inside both
    docs' first |x| − α(x) + 1 ordered tokens (pigeonhole on the
    smallest common token). So joining only the PREFIXES — for t=0.8,
    ~20% of each set, and the 20% with the rarest tokens — yields a
    candidate superset, then one candidate-proportional join verifies
    exact Jaccard. Lossless by construction; the catalog oracle is the
    all-pairs form, so the driver check proves candidate completeness.

    100 TB posture: df table is vocab-sized (one map-side-combined
    agg); the prefix join's buckets are per rare-shingle, orders of
    magnitude smaller than the full shingle join's; the length filter
    (5·min ≥ 4·max) drops cross-size candidates before the distinct.
    Verification is per-PAIR codegen array work: each candidate pair
    joins the two docs' materialized shingle arrays and takes
    ``size(array_intersect(...))`` — cost bounded by doc length per
    candidate, zero pair×shingle shuffle. (The first formulation
    verified via a cand⋈shingles equi-join — candidate-proportional
    in ROWS but it shuffled |cand|·|doc| join tuples: 16 s of the
    24 s total at sf1.0. The array form is the simhash/substring
    per-row-verify pattern and measured ~1 s for identical output.)

    The shingle frame is localCheckpointed once (the
    minhash_lsh_neardup pattern below): the df table and the ordered
    sets both read it, and the sets frame — which both verify sides
    read — is checkpointed too. ``checkpoint=False`` exposes the full
    lineage for plan audits (the heavy_hitters pattern)."""
    ckpt = (
        (lambda d: d.localCheckpoint(eager=False))
        if checkpoint
        else (lambda d: d)
    )
    sh = ckpt(shingle_hashes(docs))
    df_tab = sh.groupBy("h").agg(F.count("*").alias("df"))
    sets = ckpt(
        sh.join(df_tab, "h")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "h"))).alias("toks"),
            F.count("*").alias("n_sh"),
        )
    )
    # alpha = ceil(4·n/5) = (4n + 4) div 5; prefix = n − alpha + 1
    prefix_len = (
        F.col("n_sh")
        - F.floor((SETSIM_NUM * F.col("n_sh") + (SETSIM_DEN - 1)) / SETSIM_DEN)
        + 1
    ).cast("int")
    pref = sets.select(
        "doc_id",
        "n_sh",
        F.explode(F.slice("toks", F.lit(1), prefix_len)).alias("t"),
    ).select("doc_id", "n_sh", F.col("t.h").alias("h"))
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "h"
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "h"
    )
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                SETSIM_DEN * F.least("na", "nb")
                >= SETSIM_NUM * F.greatest("na", "nb")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    harr = sets.select(
        "doc_id", "n_sh", F.expr("transform(toks, t -> t.h)").alias("hs")
    )
    union_sz = F.col("na") + F.col("nb") - F.col("c")
    return (
        cand.join(
            harr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_sh").alias("na"),
                F.col("hs").alias("ha"),
            ),
            "doc_a",
        )
        .join(
            harr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_sh").alias("nb"),
                F.col("hs").alias("hb"),
            ),
            "doc_b",
        )
        .withColumn("c", F.size(F.array_intersect("ha", "hb")).cast("long"))
        .filter(SETSIM_DEN * F.col("c") >= SETSIM_NUM * union_sz)
        .select(
            "doc_a",
            "doc_b",
            (F.col("c").cast("double") / union_sz.cast("double")).alias(
                "jaccard"
            ),
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, i, v) — MinHash signature in long format: v =
    min over shingles of the i-th permuted hash.

    Built by unpivoting the wide form — the wide aggregation computes
    all 16 mins in ONE shuffle pass with no row expansion (16 agg
    expressions over the shingle rows, map-side partial mins), then
    ``stack`` reshapes 1 row × 16 cols into 16 rows. The naive
    params-cross-join formulation multiplies the shingle table 16×
    through the shuffle — measurably 10× slower at sf0.1."""
    wide = minhash_signatures_wide(docs)
    stack_expr = ", ".join(f"{i}, mh{i}" for i in range(NUM_HASHES))
    return wide.selectExpr(
        "doc_id",
        f"stack({NUM_HASHES}, {stack_expr}) AS (i, v)",
    )


def minhash_signatures_wide(
    docs: DataFrame | None = None, sh: DataFrame | None = None
) -> DataFrame:
    """(doc_id, mh0..mh{H-1}) — one row per doc, one min-agg
    expression per permutation; single shuffle, zero expansion.
    Pass ``sh`` to reuse an already-computed (cached) shingle-hash
    frame."""
    if sh is None:
        sh = shingle_hashes(docs)
    aggs = [
        F.min(
            perm_hash(F.col("h"), F.lit(a), F.lit(b))
        ).alias(f"mh{i}")
        for i, a, b in minhash_params(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(
    signatures: DataFrame, rows_per_band: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, key) — signature rows grouped into bands; the key
    is the in-band value sequence (order fixed by sorting on i, so the
    key is deterministic under any partitioning)."""
    return (
        signatures.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "v"))),
                    lambda s: s["v"].cast("string"),
                ),
                "-",
            ).alias("key")
        )
    )


def lsh_band_keys_wide(wide: DataFrame) -> DataFrame:
    """(doc_id, band, key) straight from the wide signature — band
    keys are string-concats of in-band columns (identical strings to
    the long-format path), produced by one explode of a per-row
    array: no groupBy at all."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{b * LSH_ROWS + r}")
                        for r in range(LSH_ROWS)
                    ],
                ).alias("key"),
            )
            for b in range(NUM_HASHES // LSH_ROWS)
        ]
    )
    return wide.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = LSH_ROWS
) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing at least one band bucket
    (long-format signature input)."""
    bands = lsh_band_keys(signatures, rows_per_band)
    return _band_join(bands)


def _band_join(bands: DataFrame) -> DataFrame:
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_neardup(docs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Sketch-then-verify near-dup: LSH candidates → exact Jaccard
    filter. Only candidate pairs (a vanishing fraction of all pairs)
    pay the verification join.

    The shingle-hash frame is materialized once via localCheckpoint:
    signatures, sizes, and both sides of the verification join all
    read it — without a barrier Spark re-derives the shingle pipeline
    four times (no common-subplan elimination across joins).
    localCheckpoint (not ``.cache()``) so the blocks are released by
    the ContextCleaner when the result DataFrame is garbage-collected,
    instead of pinning executor memory in the cache manager for the
    session lifetime (round-1 advisor finding)."""
    sh = shingle_hashes(docs).localCheckpoint(eager=False)
    cand = _band_join(lsh_band_keys_wide(minhash_signatures_wide(sh=sh)))
    # Semi-join-prune the verification inputs to CANDIDATE docs (the
    # same pruning streaming/neardup.py applies to its history store):
    # candidates are a vanishing fraction of the corpus, so without
    # this both verification joins and the sizes agg shuffle EVERY
    # doc's shingles — candidate-proportional beats corpus-
    # proportional at any scale (round-5 sf1.0 slope profiling showed
    # the full-sh verification shuffle dominating the build).
    cand = cand.localCheckpoint(eager=False)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_ids, "doc_id", "left_semi")
    sizes = sh_c.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # Verification: count common shingle hashes per candidate pair.
    a = sh_c.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh_c.select(F.col("doc_id").alias("doc_b"), "h")
    common = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}), "doc_a"
        )
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — frequency-weighted SimHash over unigram
    tokens: bit j of the fingerprint is the sign of
    Σ_tokens count·(2·bit_j(hash)−1), i.e. bit j is set iff more than
    half the token occurrences have bit j set in their hash
    (2·c_j > n ⟺ s_j > 0; ties → 0, matching the oracle).

    One shuffle, all whole-stage codegen: token occurrences explode,
    each token hashes ONCE, and the 60 per-bit counters ride the
    shuffle bit-packed into 30 longs (2 fields × 30 bits — a field
    counts up to 2^30 ≈ 1.07e9 token occurrences per doc before
    carrying into its neighbor; million-token documents — books,
    concatenated crawls — exist in pretraining corpora, so the
    earlier 3×20-bit packing's 2^20 ceiling was real exposure, per
    round-2 advice). The groupBy is 30 packed SUMs + a COUNT with
    map-side partial aggregation, so the shuffled volume is one
    31-column row per doc per map partition. Bit j of the fingerprint
    is then set iff 2·c_j > n (⟺ s_j > 0; ties → 0, matching the
    oracle).

    Two earlier formulations measured worse at sf0.1: 60 independent
    per-bit SUM aggregates (blows JVM codegen limits → interpreted
    agg, 15.6 s) and a zero-shuffle array-fold over the token array
    (higher-order functions don't enter codegen → interpreted lambda
    per token × 60, 3.7 s). The packed form is ~1 s for identical
    output.

    Docs with zero tokens produce no rows (explode semantics): an
    empty doc has no fingerprint, rather than 0, which would
    spuriously pair all empty docs at hamming 0."""
    n_longs = (SIMHASH_BITS + 1) // 2
    packed_sums = []
    for k in range(n_longs):
        fields = []
        for i in range(2):
            j = 2 * k + i
            if j >= SIMHASH_BITS:
                break
            bit = F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1).cast("long"))
            fields.append(F.shiftleft(bit, 30 * i) if i else bit)
        packed = fields[0]
        for f_ in fields[1:]:
            packed = packed + f_
        packed_sums.append(F.sum(packed).alias(f"p{k}"))
    per_doc = (
        doc_tokens(docs)
        .select("doc_id", hash60(F.col("token")).alias("h"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), *packed_sums)
    )
    fingerprint = None
    for j in range(SIMHASH_BITS):
        k, i = divmod(j, 2)
        c = F.shiftright(F.col(f"p{k}"), 30 * i).bitwiseAND(
            F.lit((1 << 30) - 1).cast("long")
        )
        term = F.when(2 * c > F.col("n"), F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return per_doc.select("doc_id", fingerprint.alias("simhash"))


def simhash_neardup(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with hamming ≤ ``max_hamming``.

    Pigeonhole blocking: fingerprints are cut into ``SIMHASH_BLOCKS``
    equal bit-blocks; any pair within ``SIMHASH_BLOCKS−1`` hamming
    distance shares at least one identical block, so candidates come
    from ``SIMHASH_BLOCKS`` equi-joins (unioned via an exploded block
    table) instead of a cross join. Requires
    ``max_hamming < SIMHASH_BLOCKS``."""
    if max_hamming >= SIMHASH_BLOCKS:
        raise ValueError("pigeonhole needs max_hamming < blocks")
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    # The fingerprint table feeds BOTH sides of the self-join below;
    # without a materialization barrier Spark recomputes the whole
    # tokenize+hash+aggregate branch twice (a measured 2× on the
    # dominant stage). One row per doc — the checkpoint is tiny.
    # Lazy: the pair job materializes it (both join sides share the
    # cached blocks), saving the separate checkpoint job — the same
    # count-as-materializer pattern as the iterative loops (~-0.2 s
    # of fixed overhead at any SF, round-4 measurement).
    fp = simhash_signature(docs).localCheckpoint(eager=False)
    blocked = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(k) for k in range(SIMHASH_BLOCKS)])
        ).alias("blk"),
    ).withColumn(
        "blk_val",
        F.expr(f"shiftright(simhash, blk * {width})").bitwiseAND(F.lit(mask)),
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "blk", "blk_val"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"), "blk", "blk_val"
    )
    return (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def exact_dedup_map(df: DataFrame) -> DataFrame:
    """(doc_id, content_hash, canonical_id) — exact content dedup by
    hash group; the lowest id in each group is canonical (deterministic
    first-wins, unlike partition-order-dependent dropDuplicates —
    SURVEY §2.6 T3).

    Plan: a partition-wide min WINDOW over content_hash — ONE shuffle
    of the (id, hash) rows. The groupBy-then-rejoin formulation
    shuffles the same rows twice (once into the agg, once into the
    join); measured 0.59 → 0.24 s at sf1.0. Groups are dup clusters
    (tiny), so the window's per-group buffering is bounded; a
    pathological everyone-identical corpus skews ONE task either way."""
    hashed = df.select("doc_id", hash60(F.col("text")).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return hashed.select(
        "doc_id",
        "content_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
    )


# --- Exact substring-overlap dedup (duplicate passage detection) ----
#
# Winnowing answers "do these docs share ANY ≥(k+w−1)-char substring"
# via fingerprint overlap; training-data dedup also wants the
# STRENGTH of exact overlap between doc pairs — how many distinct
# shared passages — to drive keep/drop decisions on partially-copied
# documents (cf. Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL 2022, whose ExactSubstr dedup uses a
# corpus suffix array; a suffix array is not a distributed-friendly
# structure, so this restates the same evidence with hashes + joins).
SUBSTR_K = 24  # passage unit: char k-gram length
SUBSTR_MOD = 8  # content-defined sampling: keep grams with h % MOD == 0
SUBSTR_CAP = 64  # stop-gram cap: grams in more docs are boilerplate
SUBSTR_MIN_SHARED = 3  # pair threshold: distinct shared sampled grams


def sampled_gram_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, gh) — distinct content-sampled Horner char-k-gram
    hashes per doc (stages 1–2 of :func:`substring_dup_pairs`; also
    the per-batch sketch of the streaming form)."""
    from convoy_spark.operators.scale import widen_narrow_scan
    from convoy_spark.operators.textops import winnow_gram_hash_sql

    codes = F.expr(
        "transform(sequence(1, length(_low)),"
        " i -> cast(ascii(substring(_low, i, 1)) as bigint))"
    )
    hashes = F.expr(
        f"transform(sequence(1, size(_codes) - {SUBSTR_K - 1}),"
        f" i -> {winnow_gram_hash_sql('_codes', 'i', SUBSTR_K)})"
    )
    sampled = F.expr(f"filter(_h, h -> h % {SUBSTR_MOD} = 0)")
    return (
        widen_narrow_scan(docs.filter(F.length("text") >= SUBSTR_K))
        .select("doc_id", F.lower(F.col("text")).alias("_low"))
        .select("doc_id", F.explode(F.array(codes)).alias("_codes"))
        .select("doc_id", hashes.alias("_h"))
        .select("doc_id", F.explode(sampled).alias("gh"))
        .distinct()
    )


def substring_dup_pairs(
    docs: DataFrame, min_shared: int = SUBSTR_MIN_SHARED
) -> DataFrame:
    """(doc_a, doc_b, n_shared) — pairs of documents sharing at least
    ``min_shared`` distinct sampled exact k-char passages.

    Shape, all linear in corpus size:

    1. Per row, hash every char k-gram with the Horner codepoint
       polynomial (the winnowing machinery, textops.py — one codepoint
       array per doc, k integer ops per position, no md5).
    2. **Content-defined sampling**: keep hashes ≡ 0 (mod
       ``SUBSTR_MOD``). Unlike strided sampling, selection depends
       only on passage CONTENT, so the same passage at different
       offsets in two docs samples the same grams — offset-invariant
       by construction, the property winnowing gets from window-minima
       and suffix arrays get for free.
    3. Distinct (doc_id, gram) + **stop-gram cap**: grams present in
       more than ``SUBSTR_CAP`` docs are boilerplate (headers, licence
       text); dropping them bounds every bucket of the join below
       ``SUBSTR_CAP`` — a skew guard the LSH band join does not have —
       making the worst-case join cost cap²·|grams| instead of
       |corpus|².
    4. Equi-join on gram hash, count distinct shared grams per
       ordered pair, threshold.

    Expected shared-gram count for an L-char exact overlap is
    ~L/SUBSTR_MOD k-grams, so ``min_shared=3`` with mod 8 needs
    roughly a 24+3·8-char true overlap — tune per corpus.
    """
    g = sampled_gram_hashes(docs)
    ok = g.groupBy("gh").agg(F.count("*").alias("_n")).filter(
        F.col("_n") <= SUBSTR_CAP
    )
    gg = g.join(ok.select("gh"), "gh", "left_semi")
    a = gg.select(F.col("doc_id").alias("doc_a"), "gh")
    b = gg.select(F.col("doc_id").alias("doc_b"), "gh")
    return (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- Span-level dedup (duplicated-passage REMOVAL, C4-style) --------
#
# The pair detectors above answer "which documents overlap"; curation
# recipes also REWRITE documents by cutting the duplicated span and
# keeping the rest (C4 drops repeated three-sentence spans; RefinedWeb
# and Lee et al.'s ExactSubstr cut the duplicated bytes). The
# distributed-friendly restatement: chunk each doc's token stream into
# fixed SPAN_K-token spans, keep the globally FIRST occurrence of each
# distinct full span, drop the rest, and reassemble the survivors in
# document order.
SPAN_K = 8  # span unit, in whitespace tokens


def span_dedup(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, clean_text, spans_kept, spans_dropped) — corpus-wide
    duplicated-span removal: the token stream of each document is cut
    into consecutive ``k``-token spans; every span that textually
    equals an EARLIER span anywhere in the corpus (order: (doc_id,
    position), deterministic first-wins) is dropped, and
    ``clean_text`` is the surviving spans rejoined in order with
    single spaces (token-level reconstruction — original inter-token
    whitespace is normalized, the standard contract for token-stream
    rewrites). A trailing short span (< ``k`` tokens) is never
    dedup-eligible: cutting a partial span would split tokens'
    context arbitrarily, and C4-style recipes only drop full units.

    Scale shape: one Generate (span explode), then ONE keyed shuffle
    on the span's md5 — a fixed-16-byte dedup key regardless of span
    text length, so shuffle rows stay narrow at any k — for the
    first-occurrence rank window, then the per-document reassembly
    aggregation (keyed on doc_id). Both shuffles are inherent: global
    span identity needs a content-keyed exchange, reassembly a
    doc-keyed one. Skew: a span repeated across a large fraction of
    the corpus lands in one rank-window task; those are exactly the
    boilerplate spans the rank window handles by keeping one copy, and
    the window buffers only (doc_id, pos, chunk) rows of that single
    span value. Eligibility is a function of span CONTENT (its token
    count), so every row of a window partition shares it — the
    CASE-wrapped rank stays consistent within a partition."""
    toks = F.filter(
        F.split(F.col("text"), TOKEN_SPLIT), lambda t: t != F.lit("")
    )
    base = docs.select("doc_id", toks.alias("_toks")).select(
        "doc_id",
        "_toks",
        F.size("_toks").alias("_n"),
        F.greatest(
            F.lit(1), F.expr(f"(size(_toks) + {k - 1}) div {k}")
        ).alias("_nch"),
    )
    spans = base.select(
        "doc_id",
        "_n",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, _nch - 1),"
                f" i -> array_join(slice(_toks, i * {k} + 1, {k}), ' '))"
            )
        ).alias("pos", "chunk"),
    ).withColumn("_full", (F.col("pos") + 1) * k <= F.col("_n"))
    w = Window.partitionBy(F.md5(F.col("chunk"))).orderBy("doc_id", "pos")
    ranked = spans.withColumn(
        "_kept",
        F.when(F.col("_full"), F.row_number().over(w) == 1).otherwise(
            F.lit(True)
        ),
    )
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_kept"), F.struct("pos", "chunk"))
                    )
                ),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.col("_kept").cast("long")).alias("spans_kept"),
        F.sum((~F.col("_kept")).cast("long")).alias("spans_dropped"),
    )


def fuzzy_pairs_dist1(names: DataFrame) -> DataFrame:
    """(name_a, name_b): all distinct unordered pairs at Levenshtein
    distance EXACTLY 1 — FastSS (Bocek et al. 2007) restated as
    equi-joins: index every name under itself plus each single-
    deletion variant; any dist-1 pair shares a key (substitution at i
    → both delete i; insertion/deletion → the shorter IS a variant of
    the longer), so the variant join is a complete candidate set
    (it admits some dist-2 pairs, which the exact verify drops).

    The entity-resolution primitive (author/domain canonicalization):
    never all-pairs — candidates are variant-bucket joins, quadratic
    only within a bucket. NO bucket cap here, unlike the n-gram
    detectors' stop-gram cap: a dist-1 pair is witnessed by exactly
    one shared deletion in the substitution case, so dropping hot
    buckets would lose pairs; a pathological bucket (10^6 names one
    deletion apart) is real skew the verify join handles via AQE
    skew-split, not a shortcut.
    """
    base = names.select(F.col("name").alias("n")).where(
        F.col("n").isNotNull()
    ).distinct()
    variants = F.expr(
        "transform(sequence(1, length(n), 1),"
        " i -> concat(substring(n, 1, i - 1),"
        "             substring(n, i + 1, length(n) - i)))"
    )
    # (n, k) rows are UNIQUE by construction — array_union is a set
    # union, so the per-name key array carries no duplicates and base
    # is distinct — hence no .distinct() here: the round-6..10 form
    # paid a full exchange+aggregate of the variant frame (names ×
    # (len+1) string keys) to dedup rows that had no duplicates
    # (round-11, §2.4 remove shuffles outright).
    keys = base.select(
        "n",
        F.explode(F.array_union(F.array(F.col("n")), variants)).alias("k"),
    )
    a = keys.withColumnRenamed("n", "name_a")
    b = keys.withColumnRenamed("n", "name_b")
    cands = (
        a.join(b, "k")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return cands.where(F.levenshtein("name_a", "name_b") == 1)


SNM_WINDOW = 4  # sorted-neighborhood window (rank distance < SNM_WINDOW)


def sorted_neighborhood_pairs(
    names: DataFrame, checkpoint: bool = True
) -> DataFrame:
    """(name_a, name_b, dist): Levenshtein ≤ 1 pairs found by
    multi-pass sorted-neighborhood blocking (Hernández & Stolfo,
    SIGMOD 1995) — the OTHER classic entity-resolution blocking
    strategy next to :func:`fuzzy_pairs_dist1`'s FastSS variants:
    sort the records by a key, compare only records within a fixed
    window of neighbors, run several passes with different keys to
    cover what one ordering misses. Two passes here: the name itself
    and its reverse (catches edits near the string head that break
    the forward ordering). DELIBERATELY heuristic — SNM can miss
    pairs two edits apart in both orderings — so the catalog oracle
    mirrors the rank-window definition exactly rather than an
    all-pairs form (the completeness-proving all-pairs check is
    fuzzy_name_pairs' job).

    Scale shape: each pass is one range_rank (repartitionByRange +
    per-partition row_number + broadcast offsets — never a
    single-task sort), one explode of the window offsets 1..w−1, and
    one equi-join on the offset rank — candidates are exactly
    (w−1)·n rows per pass regardless of skew, the property that made
    SNM the production ER blocker."""
    from convoy_spark.operators.scale import range_rank

    base = (
        names.select(F.col("name").alias("n"))
        .where(F.col("n").isNotNull())
        .distinct()
    )
    passes = [F.col("n"), F.reverse(F.col("n"))]
    cands = None
    for i, key in enumerate(passes):
        ranked = range_rank(
            base.withColumn("_k", key),
            ["_k"],
            out_col="r",
            checkpoint=checkpoint,
        ).select("n", "r")
        probe = ranked.select(
            F.col("n").alias("_na"),
            F.explode(
                F.expr(f"sequence(1, {SNM_WINDOW - 1})")
            ).alias("_d"),
            (F.col("r") + F.col("_d")).alias("r"),
        )
        c = (
            probe.join(ranked, "r")
            .select(
                F.least("_na", "n").alias("name_a"),
                F.greatest("_na", "n").alias("name_b"),
            )
        )
        cands = c if cands is None else cands.unionByName(c)
    return (
        cands.distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 1)
    )


# --- Bloom-filter decontamination prune -----------------------------
#
# ngram_contamination (queries/dedup.py) is the exact 13-gram overlap
# check; its cost center at 100 TB is the hash equi-join that SHUFFLES
# every train-side n-gram. But decontamination is asymmetric: the eval
# side is a fixed benchmark suite (n-grams in the millions — it does
# not grow with the corpus) while the train side is the 100 TB corpus.
# The production shape (Bloom 1970; the form every large-scale
# pretraining decontamination job uses) is therefore: build a Bloom
# bitset over the EVAL n-grams once, broadcast it, and probe every
# train n-gram map-side — the corpus-sized frame never shuffles its
# grams; only the tiny candidate fraction (true hits + the bounded
# false-positive tail) needs exact verification. Bloom filters have no
# false negatives, so the verified answer is EXACT — the filter is a
# prune, not an approximation, the same sketch-then-verify contract as
# minhash_lsh_neardup and the Misra-Gries recount.
#
# Every bit of the filter is deterministic cross-engine: probe
# positions come from the universal-hash family in functions/hashing
# (the MinHash parameter table), and the bitset is a bit_or aggregate
# of 63-bit words — 63, not 64, because DuckDB's BIGINT << raises on
# 1 << 63 while Spark wraps, so the shared-arithmetic contract caps
# shifts at 62. The DuckDB oracle rebuilds the filter bit-for-bit and
# counts the SAME candidates, so the driver's value hash checks the
# false-positive arithmetic itself, not just the exact tail.
BLOOM_K = 3  # probes per key
BLOOM_BITS_PER_KEY = 16  # m = 16n bits -> FP ~ (1-e^{-3/16})^3 ~ 0.5%
BLOOM_WORD = 63  # usable bits per int64 word (see note above)


def bloom_decontaminate(
    train_grams: DataFrame,
    eval_grams: DataFrame,
    train_docs: DataFrame | None = None,
) -> DataFrame:
    """(train_doc, n_grams, n_bloom_candidates, n_true_hits,
    contaminated) — per-train-doc decontamination funnel: distinct
    n-grams scanned, grams passing the eval-set Bloom filter, and
    grams actually present in the eval set (exact; Bloom admits no
    false negatives). ``n_bloom_candidates - n_true_hits`` is the
    false-positive tail the exact verify pays for — the measurable
    cost of sizing the filter at BLOOM_BITS_PER_KEY.

    Inputs are (doc_id, h) frames with per-doc-distinct 60-bit gram
    hashes (shingle_hashes output). The filter is sized off the data:
    m = BLOOM_BITS_PER_KEY * |distinct eval grams|, rounded up to
    whole 63-bit words (integer arithmetic only, mirrored in SQL).

    A train doc contributing ZERO grams (shorter than the gram width,
    or every gram stop-capped away) has no ``train_grams`` row, so by
    default it is ABSENT from the output — absence means "no grams to
    scan", not "clean". Pass ``train_docs`` (a doc_id universe frame)
    to make that explicit: absent docs then emit
    (n_grams=0, 0, 0, contaminated=false) via one left join from the
    universe, so downstream verdict joins never silently drop them.

    Plan shape: the eval side collapses to two broadcast singletons
    (the size row and the word->bits map aggregated via bit_or); the
    train side is scan -> per-gram probe array -> forall over map
    lookups, all inside whole-stage codegen, then ONE doc-keyed
    aggregate. The eval-membership verify is a broadcast hash join.
    Nothing corpus-sized ever shuffles by gram."""
    ev_h = eval_grams.select("h").distinct()
    m_row = ev_h.agg(
        F.expr(
            f"greatest(cast(1 as bigint), "
            f"(({BLOOM_BITS_PER_KEY} * count(*) + {BLOOM_WORD - 1})"
            f" div {BLOOM_WORD})) * {BLOOM_WORD}"
        ).alias("m")
    )
    probes = ", ".join(
        f"(({a} * (h % {MERSENNE31}) + {b}) % {MERSENNE31}) % m"
        for _i, a, b in minhash_params(BLOOM_K)
    )
    filt = (
        ev_h.join(F.broadcast(m_row))
        .selectExpr(f"explode(array({probes})) AS p")
        .selectExpr(
            f"p div {BLOOM_WORD} AS w",
            f"shiftleft(cast(1 as bigint), cast(p % {BLOOM_WORD} as int))"
            " AS bit",
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .localCheckpoint()
    )
    # Probe via k BROADCAST HASH JOINS on the word index — one leg per
    # probe, O(1) lookups. (First shape tried: the whole bitset as a
    # one-row map + forall(try_element_at) — Spark's ArrayBasedMapData
    # has NO hash index, so each lookup linear-scans the map: at sf1.0
    # the filter is ~48k words and the probe stage went quadratic,
    # 1.96 s → 49.6 s for 10× data. The join legs keep the zero-
    # shuffle train side AND constant-time probes; k is a small fixed
    # constant, so "k joins" is a constant plan width, not a scale
    # knob.)
    probed = train_grams.join(F.broadcast(m_row))
    hit_tests = []
    for i, (_i, a, b) in enumerate(minhash_params(BLOOM_K)):
        probed = probed.withColumn(
            f"_p{i}",
            F.expr(
                f"(({a} * (h % {MERSENNE31}) + {b}) % {MERSENNE31}) % m"
            ),
        ).join(
            F.broadcast(
                filt.select(
                    F.col("w").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
                )
            ),
            F.expr(f"_p{i} div {BLOOM_WORD} = _w{i}"),
            "left",
        )
        hit_tests.append(
            f"(coalesce(_b{i}, cast(0 as bigint))"
            f" & shiftleft(cast(1 as bigint),"
            f" cast(_p{i} % {BLOOM_WORD} as int))) != 0"
        )
    flagged = probed.selectExpr(
        "doc_id", "h", " AND ".join(hit_tests) + " AS cand"
    ).join(
        F.broadcast(ev_h.select(F.col("h").alias("h_ev"))),
        F.col("h") == F.col("h_ev"),
        "left",
    )
    agg = flagged.groupBy(F.col("doc_id").alias("train_doc")).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.col("cand").cast("long")).alias("n_bloom_candidates"),
        F.sum(
            (F.col("cand") & F.col("h_ev").isNotNull()).cast("long")
        ).alias("n_true_hits"),
    )
    if train_docs is not None:
        agg = (
            train_docs.select(F.col("doc_id").alias("train_doc"))
            .distinct()
            .join(agg, "train_doc", "left")
            .select(
                "train_doc",
                *[
                    F.coalesce(c, F.lit(0).cast("long")).alias(c)
                    for c in ("n_grams", "n_bloom_candidates", "n_true_hits")
                ],
            )
        )
    return agg.withColumn("contaminated", F.col("n_true_hits") > 0)
