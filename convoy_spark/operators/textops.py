"""Text-analysis operators (north-star extensions, SURVEY §7 M6):
token statistics, quality scoring, corpus-trained n-gram language
identification, and winnowing document fingerprints.

These extend the reference's string surface (§2.8 — replace/concat/
substring and the FULLTEXT-index search intent of
`4_create_tweets_a.py:35`) into the text-side toolkit of a
training-data pipeline. Everything is built-in expression work —
``split`` / ``regexp_extract_all`` / ``transform`` / ``sequence`` /
window functions — inside whole-stage codegen; there is no Python UDF
anywhere, so the hot path stays JVM-side and Arrow never enters the
picture.

Scale notes: all per-document projections are embarrassingly parallel
scan work (zero shuffle). The language-ID trainer aggregates trigram
counts (one shuffle on (lang, trigram), map-side combined) into a
profile of top-K trigrams per language — a few hundred rows —
broadcast back for scoring. Fingerprints shuffle once on doc_id for
the winnowing window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from convoy_spark.functions.hashing import MERSENNE31, WS_SPLIT

# BPE-ish tokenization: letter runs, digit runs, single punctuation.
# Whitespace spelled out, not `\s`: Java includes \x0b in \s, RE2
# (the DuckDB oracle) does not — see hashing.WS_SPLIT.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0b\\f\\r]"

STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
)

# Gopher-flavored pass-filter thresholds (shared with every oracle
# that re-states the rule in SQL — one source of truth, no drift).
QF_MIN_CHARS = 50
QF_MIN_TOKENS = 10
QF_MIN_MEAN_LEN = 2.0
QF_MAX_MEAN_LEN = 12.0

LANGID_NGRAM = 3
LANGID_TOP_K = 20
WINNOW_K = 5  # char k-gram length
WINNOW_W = 8  # winnowing window (k-grams per window)
# Winnow k-gram hash: Horner polynomial over character codepoints,
# mod the Mersenne prime — the same cross-engine-exact arithmetic
# family as the MinHash permutations. Replaces one md5-hex-parse per
# k-gram (the round-2 cost driver: string alloc + digest + hex conv
# per position) with k integer ops over a per-doc codepoint array.
# Spark's ascii() and DuckDB's ascii() both return the Unicode
# codepoint of the first character (verified incl. non-ASCII), so the
# hash is bit-identical on both engines. 31-bit fingerprints: ~1e-3
# birthday-collision rate per million fingerprints — the standard
# winnowing trade (MOSS uses 32-bit hashes).
WINNOW_B = 1000003  # < 2^20, so every Horner step stays under 2^51


def winnow_gram_hash_sql(codes: str, i: str, k: int = WINNOW_K) -> str:
    """SQL fragment: Horner hash of ``codes[i .. i+k-1]`` (1-based
    array of BIGINT codepoints) — valid in both Spark SQL and DuckDB
    (element_at is 1-based in Spark; DuckDB list indexing is 1-based
    via list_extract, but the oracle uses direct ascii() calls — see
    queries/textops.py)."""
    expr = f"element_at({codes}, {i})"
    for j in range(1, k):
        expr = (
            f"(({expr}) * {WINNOW_B} + element_at({codes}, ({i}) + {j}))"
            f" % {MERSENNE31}"
        )
    return expr


def _tokens():
    return F.split(F.lower(F.col("text")), WS_SPLIT)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counting: whitespace tokens, BPE-ish regex
    tokens, distinct tokens, char count, mean token length.

    The token array is materialized ONCE per row behind a Generate
    barrier (``explode(array(...))`` emitting exactly one row):
    Catalyst's CollapseProject would otherwise inline the
    split+filter expression into each of its four downstream uses —
    four tokenizations per row, a measured ~2× slowdown at sf0.1.
    Projections do not collapse through Generate, so every stat reads
    the bound ``_toks`` attribute instead of re-deriving it."""
    base = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.explode(
            F.array(F.filter(_tokens(), lambda t: t != ""))
        ).alias("_toks"),
    )
    toks = F.col("_toks")
    return base.select(
        "doc_id",
        "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
        "n_bpe_tokens",
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        (
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            ).cast("double")
            / F.size(toks)
        ).alias("mean_token_len"),
    )


def text_quality(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic quality signals + a composite score (the standard
    length/punctuation/stopword-ratio family of pretraining filters).

    ``passes_filter`` encodes a Gopher-flavored rule set; the score is
    a transparent linear combination so downstream consumers can
    re-threshold without recomputing. ``keep`` passes extra input
    columns through untouched (single-scan consumers like the
    community text profile carry lang/source without a self-join)."""
    toks = F.filter(_tokens(), lambda t: t != "")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.length(
        F.regexp_replace(F.col("text"), "[a-zA-Z0-9 \\t\\n\\x0b\\f\\r]", "")
    )
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    mean_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double") / n_tokens
    out = docs.select(
        "doc_id",
        *keep,
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (n_punct.cast("double") / F.length("text")).alias("punct_ratio"),
        (n_alpha.cast("double") / F.length("text")).alias("alpha_ratio"),
        mean_len.alias("mean_token_len"),
    )
    return out.withColumns(
        {
            "quality_score": (
                F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
                + F.col("alpha_ratio")
                + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
                - F.col("punct_ratio")
            ),
            "passes_filter": (
                (F.col("n_chars") >= QF_MIN_CHARS)
                & (F.col("n_tokens") >= QF_MIN_TOKENS)
                & (F.col("mean_token_len") >= QF_MIN_MEAN_LEN)
                & (F.col("mean_token_len") <= QF_MAX_MEAN_LEN)
            ),
        }
    )


# PII / URL scrubbing patterns. Cross-engine parity rules: character
# classes + explicit quantifiers only — no \s (Java/RE2 disagree on
# \x0b), no \b/lookaround (RE2 has no lookaround), no \d (equivalent
# everywhere but spelled [0-9] for uniformity). Leftmost-longest vs
# leftmost-first doesn't diverge for these patterns (no alternation
# with shared prefixes).
PII_URL_RE = r"https?://[^ \t\n\x0b\f\r]+"
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE_RE = r"[0-9]{7,}"
# applied in this order, each over the PREVIOUS step's output, so a
# digit run inside a URL is counted once as URL, not again as phone
PII_STEPS = [
    ("url", PII_URL_RE, "<URL>"),
    ("email", PII_EMAIL_RE, "<EMAIL>"),
    ("ip", PII_IP_RE, "<IP>"),
    ("phone", PII_PHONE_RE, "<PHONE>"),
]


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Per-doc PII/URL redaction — the decontamination pass a
    pretraining pipeline runs before training: URLs, emails, IPv4s and
    long digit runs replaced by typed placeholder tokens, with a count
    per category. Counts are taken on the progressively scrubbed text
    (URL first), so entities nested in an earlier category are not
    double-counted; the whole thing is scan-side regexp work — zero
    shuffle, whole-stage codegen, and the identical patterns run in
    the DuckDB oracle (see PII_* parity notes above)."""
    cur = F.col("text")
    counts = {}
    for name, pat, token in PII_STEPS:
        # regexp_count, not size(regexp_extract_all): same number, but
        # no per-match substring array is materialized (measured ~25%
        # of the query at sf1.0 was extract_all allocation).
        counts[f"n_{name}s"] = F.regexp_count(cur, F.lit(pat)).cast("long")
        cur = F.regexp_replace(cur, pat, token)
    return docs.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        cur.alias("scrubbed_text"),
    )


REP_TOP_TOKEN_MAX = 0.20
REP_DUP_2GRAM_MAX = 0.35
REP_DUP_3GRAM_MAX = 0.25


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-doc repetition statistics — the Gopher/C4 family of
    repetition filters that catches boilerplate, keyword-stuffing and
    degenerate generations in pretraining corpora:

    - ``top_token_ratio`` — occurrences of the most frequent token /
      total tokens (a single token dominating the doc);
    - ``dup_2gram_ratio`` / ``dup_3gram_ratio`` — fraction of word
      n-grams that are repeats of an earlier n-gram
      (``1 − distinct/total``);
    - ``passes_repetition_filter`` — all three under their thresholds.

    All ratios are exact-integer divisions materialized as doubles, so
    they reproduce bit-for-bit on any engine — no float accumulation
    anywhere. Shape: token occurrences explode once (the widened scan,
    see doc_tokens) into a (doc, token) count, map-side combined; the
    n-gram dup counts ride the SAME exploded pass via per-row array
    expressions (zero extra shuffle); one doc_id join assembles the
    row. At 100 TB every shuffle here is keyed on doc_id or
    (doc_id, token) — no global state, no skew beyond AQE's reach."""
    from convoy_spark.operators.dedup import doc_tokens

    tok_counts = (
        doc_tokens(docs)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.max("cnt").alias("max_cnt"),
        )
    )

    def _dup_ratio(n: int):
        grams = F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}),"
            f" i -> concat_ws(' ', slice(_toks, i, {n})))"
        )
        total = F.size("_toks") - (n - 1)
        return F.when(
            total <= 0, F.lit(0.0)
        ).otherwise(
            (total - F.size(F.array_distinct(grams))).cast("double")
            / total.cast("double")
        )

    gram_stats = docs.select(
        "doc_id",
        F.explode(
            F.array(F.filter(_tokens(), lambda t: t != ""))
        ).alias("_toks"),
    ).select(
        "doc_id",
        _dup_ratio(2).alias("dup_2gram_ratio"),
        _dup_ratio(3).alias("dup_3gram_ratio"),
    )

    return (
        tok_counts.join(gram_stats, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("max_cnt").cast("double") / F.col("n_tokens").cast("double")).alias(
                "top_token_ratio"
            ),
            "dup_2gram_ratio",
            "dup_3gram_ratio",
        )
        .withColumn(
            "passes_repetition_filter",
            (F.col("top_token_ratio") <= REP_TOP_TOKEN_MAX)
            & (F.col("dup_2gram_ratio") <= REP_DUP_2GRAM_MAX)
            & (F.col("dup_3gram_ratio") <= REP_DUP_3GRAM_MAX),
        )
    )


VOCAB_TOP_K = 100


def vocab_top_terms(docs: DataFrame) -> DataFrame:
    """Corpus vocabulary profile: the ``VOCAB_TOP_K`` most frequent tokens
    with total occurrences, document frequency, and cumulative corpus
    coverage — the first artifact a tokenizer-training or
    vocabulary-pruning pass computes over a pretraining corpus.

    One (token) shuffle with map-side combine carries (count, df)
    together; the top-k selection is ``orderBy().limit()`` — Spark's
    TakeOrderedAndProject, a distributed per-partition top-k merged at
    the driver, NOT a single-partition global sort (an unpartitioned
    rank window would funnel the whole vocabulary through one task —
    the exact trap this avoids at billion-token vocabularies). The
    rank/coverage window then runs over the tiny k-row frame only.
    Coverage is an exact-integer cumulative sum divided as double —
    bit-reproducible across engines. At 100 TB the token key is
    Zipf-skewed by definition; the partial aggregation absorbs it
    (each mapper emits one row per distinct token)."""
    from convoy_spark.operators.dedup import doc_tokens

    counts = doc_tokens(docs).groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("doc_id").alias("doc_freq"),
    )
    total = counts.agg(F.sum("n_occurrences").alias("_t"))
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(VOCAB_TOP_K)
    w_rank = Window.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    )
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(w_rank).alias("rank"),
            "token",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            (
                F.sum("n_occurrences").over(w_cum).cast("double")
                / F.col("_t").cast("double")
            ).alias("cum_coverage"),
        )
    )


TFIDF_TOP_TERMS = 3


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_TOP_TERMS) -> DataFrame:
    """Per-doc top-``k`` characteristic terms by the BM25-flavored
    RATIONAL idf: ``score = tf · (N − df + 0.5) / (df + 0.5)``.

    Log-free on purpose: ``ln`` differs in final ulps between libm
    and the JVM, which would make an oracle hash-compare flaky; every
    quantity here is a product/quotient of exactly-representable
    values (ints and halves), so scores are bit-reproducible across
    engines. Unlike the naive rational ``N/df`` (which still awards
    ``tf`` to a term present in EVERY doc), the BM25 form sends
    df → N scores to ~0.5/(N+0.5) — ubiquitous stopwords rank last,
    matching log-idf's behavior. Shape: one (doc, token) count
    shuffle, a df table aggregated from the same pass, a broadcast
    N-docs scalar, and a per-doc top-k window — no all-pairs, nothing
    driver-side."""
    from convoy_spark.operators.dedup import doc_tokens

    tk = doc_tokens(docs)
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count_distinct("doc_id").alias("_n")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        tf.join(df_tbl, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (
                F.col("tf").cast("double")
                * (F.col("_n") - F.col("df") + F.lit(0.5))
            )
            / (F.col("df") + F.lit(0.5)),
        )
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(
            "doc_id",
            "term_rank",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "score",
        )
    )


COOC_MIN_PAIR = 5  # min docs containing both tokens (support)


def token_cooccurrence(
    docs: DataFrame, min_pair: int = COOC_MIN_PAIR
) -> DataFrame:
    """Collocation mining: token pairs co-occurring (document-level)
    in ≥ ``min_pair`` docs AND more often than independence predicts —
    lift = P(a,b)/(P(a)·P(b)) > 1, tested as the exact integer
    cross-multiplication ``n_ab·N > n_a·n_b`` so the keep decision is
    engine-deterministic (the anomaly_zscore division-free pattern);
    the reported lift itself is one IEEE division of exact ints.

    Plan, 100 TB first: the per-doc distinct sorted token set is pure
    array work ON the scan row (array_distinct + array_sort — no
    tokenize shuffle, no collect_set exchange), and pair expansion is
    a codegen array transform behind the explode, so the ONLY
    corpus-proportional exchanges are the two map-side-combined
    counting aggs (pair key, token key). Per-doc cost is k² with k
    bounded by doc length — the standard frequent-pair shape (a-priori
    pass 2). Sub-support tokens' expansion rows die inside the pair
    agg's map-side combine (a pair below support contributes at most
    one partial row per partition to the shuffle, and the
    ``n_ab >= min_pair`` filter kills it before any join), so the
    naive-looking unpruned expansion shuffles LESS than a df-pruned
    token pipeline would — the prune was measured as 2 extra
    corpus-proportional exchanges for no wire savings. No collect, no
    driver loop. The scan is widened first (scale.widen_narrow_scan):
    the k² pair expansion runs ON the scan task, and a single-row-
    group local parquet file would serialize it onto one core — a
    measured 2× at sf1.0; no-op at real scale."""
    from convoy_spark.operators.scale import widen_narrow_scan

    sets = widen_narrow_scan(docs).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.filter(_tokens(), lambda t: t != ""))
        ).alias("ts"),
    )
    df_tab = (
        sets.select(F.explode("ts").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_t"))
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    # Index-pair expansion: element_at per (i, j), never slice — a
    # slice inside the outer transform COPIES the suffix array per
    # outer element (O(k³) element copies per doc; measured 55× slower
    # at sf3.0 for identical output).
    # The size guard is load-bearing: sequence(0, -1) DESCENDS in
    # Spark, so an empty/one-token doc would generate negative
    # indices instead of no pairs.
    pair_expr = (
        "CASE WHEN size(ts) >= 2 THEN "
        "flatten(transform(sequence(0, size(ts) - 2), i -> "
        "transform(sequence(i + 1, size(ts) - 1), j -> "
        "struct(element_at(ts, i + 1) AS token_a, "
        "element_at(ts, j + 1) AS token_b)))) "
        "ELSE array() END"
    )
    pairs = (
        sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.token_a", "p.token_b")
        .groupBy("token_a", "token_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair)
    )
    return (
        pairs.join(
            df_tab.withColumnsRenamed({"token": "token_a", "n_t": "n_a"}),
            "token_a",
        )
        .join(
            df_tab.withColumnsRenamed({"token": "token_b", "n_t": "n_b"}),
            "token_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("n_ab") * F.col("n_docs") > F.col("n_a") * F.col("n_b"))
        .select(
            "token_a",
            "token_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


def char_ngrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, gram) — all char n-grams of the lowered text.

    ``substring`` with a *column* start index needs the SQL form (the
    PySpark wrapper takes int literals only). The lowered text is
    projected first so the transform lambda indexes a column instead
    of re-lowering per element (O(len²) otherwise)."""
    from convoy_spark.operators.scale import widen_narrow_scan

    low = widen_narrow_scan(docs).select(
        "doc_id", "lang", F.lower(F.col("text")).alias("_low")
    )
    n = LANGID_NGRAM
    return low.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.length("_low") >= n,
                F.expr(
                    f"transform(sequence(1, length(_low) - {n - 1}),"
                    f" i -> substring(_low, i, {n}))"
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    )


def langid_predict(docs: DataFrame) -> DataFrame:
    """(doc_id, true_lang, pred_lang, n_hits) — score each doc's
    distinct trigrams against every language profile; argmax hits with
    (hits desc, lang asc) tiebreak. The profile join is a broadcast
    (|langs|·LANGID_TOP_K rows); scoring is one shuffle on (doc_id, lang).

    The gram frame feeds both the trainer and the scorer; it is
    deliberately NOT cached — regenerating trigrams is cheap codegen
    scan work, while materializing the multi-million-row gram cache
    costs ~3× the recompute (measured at sf0.1), and at 100 TB it
    would not fit anyway."""
    grams = char_ngrams(docs)
    counts = grams.groupBy("lang", "gram").agg(F.count("*").alias("c"))
    w_prof = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("gram").asc()
    )
    profiles = F.broadcast(
        counts.withColumn("rk", F.row_number().over(w_prof))
        .filter(F.col("rk") <= LANGID_TOP_K)
        .select(F.col("lang").alias("cand_lang"), "gram")
    )
    doc_grams = grams.select("doc_id", "lang", "gram").distinct()
    hits = (
        doc_grams.join(profiles, "gram")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("cand_lang").asc()
    )
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("cand_lang").alias("pred_lang"),
            "n_hits",
        )
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — winnowing fingerprint set (Schleimer et al.,
    SIGMOD 2003, public algorithm): hash every char k-gram, slide a
    w-window over the hash sequence, keep each window's minimum,
    dedup. Guarantees any shared substring of length ≥ k+w−1 yields a
    shared fingerprint — the standard near-copy detection index.

    Computed entirely inside per-row array expressions — k-gram hash
    array, then a window-min per position via slice+array_min — so the
    ONLY shuffle is the final distinct. (The explode-then-window
    formulation shuffles every k-gram row to sort it by position; the
    data is already in position order inside the row. ~2× faster at
    sf0.1 and no giant intermediate.)

    The k-gram hash is the Horner codepoint polynomial (WINNOW_B /
    MERSENNE31, mirrored exactly in the DuckDB oracle): one codepoint
    array per doc, then k integer mul-add-mods per position. The
    round-2 form paid an md5 per k-gram — digest + 32-hex string +
    base-16 parse per position, the measured cost driver of the whole
    query (3.8 s at sf0.1, 4.6× baseline). The codepoint array is
    bound behind a Generate barrier (explode of a 1-element array):
    CollapseProject would otherwise inline the array-builder into all
    k element_at reads — k codepoint passes per position, the same
    O(len²) trap doc_shingles documents."""
    k, w = WINNOW_K, WINNOW_W
    codes = F.expr(
        "transform(sequence(1, length(_low)),"
        " i -> cast(ascii(substring(_low, i, 1)) as bigint))"
    )
    hashes = F.expr(
        f"transform(sequence(1, size(_codes) - {k - 1}),"
        f" i -> {winnow_gram_hash_sql('_codes', 'i', k)})"
    )
    # Only FULL w-windows are minimized (positions 1 .. |h|−(w−1)):
    # sliding past the end would emit w−1 truncated suffix windows,
    # making every doc's final k-gram hash a guaranteed fingerprint
    # and inflating tail matches — a deviation from Schleimer et al.
    # §4 caught in round-1 review. Docs with fewer than w k-grams
    # emit one (clamped) window so short docs still fingerprint.
    fps = F.expr(
        f"transform(sequence(1, greatest(1, size(_h) - {w - 1})),"
        f" i -> array_min(slice(_h, i, {w})))"
    )
    from convoy_spark.operators.scale import widen_narrow_scan

    return (
        widen_narrow_scan(docs.filter(F.length("text") >= k))
        .select("doc_id", F.lower(F.col("text")).alias("_low"))
        .select("doc_id", F.explode(F.array(codes)).alias("_codes"))
        .select("doc_id", hashes.alias("_h"))
        .select("doc_id", F.explode(fps).alias("fp"))
        .distinct()
    )


# --- BM25 ranked retrieval ------------------------------------------
#
# The reference declares a FULLTEXT index on the wide tweets table
# (`4_create_tweets_a.py:35`) — a boolean/ranked text-search surface.
# fulltext_search covers the boolean form; this is the ranked form: a
# fixed multi-term query scored with BM25 (Robertson/Sparck Jones;
# public algorithm) over the documents corpus — the retrieval step a
# training-data pipeline runs for targeted corpus slicing and for
# quality probes ("find docs about X").
BM25_K1 = 1.2
BM25_B = 0.75
# bm25_search_multi vocabulary-filter strategy threshold: vocabularies
# up to this size inline as an isin predicate (scan-stage codegen);
# larger ones use the broadcast semi join. Module-level so tests can
# force the fallback path.
BM25_ISIN_MAX = 256
# fan-out of the two-phase per-query top-k's local stage: candidates
# are ranked in (query_id, hash(doc_id) % N) groups first, so the
# ranking work spreads over N tasks per query instead of one.
BM25_TOPK_SALTS = 32


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int = 50,
) -> DataFrame:
    """(doc_id, score, n_hit_terms) — top-``top_k`` docs by BM25.

    Cross-engine exactness choices (the same contracts as
    tfidf_top_terms / functions.numeric):

    - idf is the log-free RATIONAL form ``(N − df + 0.5)/(df + 0.5)``
      — products/quotients of exactly-representable values, so
      per-term scores are bit-identical across engines (ln() differs
      in final ulps between libm and the JVM); ubiquitous terms still
      rank last. Documented divergence from textbook BM25's ln().
    - dl/avgdl enter as doubles derived from exact integers (token
      counts), deterministic on both engines; k1/b parse to the same
      IEEE doubles everywhere.
    - the per-doc score SUM over query terms goes through
      decimal-exact dsum — float addition is not associative, and the
      term visit order differs by partitioning.

    Shape: delegates to :func:`bm25_search_multi` with a one-row
    query table — ONE corpus tokenization feeding both postings and
    doc lengths (:func:`bm25_tf_dl`), broadcast df/N/avgdl, two-phase
    top-k. Never a global sort, nothing driver-side; shuffled volume
    is posting-proportional, not corpus-proportional.
    """
    spark = docs.sparkSession
    q = spark.createDataFrame(
        [(0, t) for t in query_terms], "query_id int, term string"
    )
    return bm25_search_multi(docs, q, top_k).select(
        "doc_id", "score", "n_hit_terms"
    )


def bm25_tf_dl(
    docs: DataFrame,
    vocab_tokens: list[str] | None = None,
    vocab: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(tf, dl) — the posting table (doc_id, token, tf) restricted to
    the query vocabulary and the doc-length table (doc_id, dl) over
    ALL tokens, built from ONE corpus tokenization. Computing them
    independently tokenizes + scans the corpus twice (the dominant
    cost at scale: two full explodes of every document); instead the
    token stream aggregates once by (doc_id, vocab-token-or-NULL) —
    the NULL group absorbs all non-vocabulary tokens, so per-doc
    lengths are the group-count sums and postings are the non-NULL
    groups. The aggregated frame (|postings| + one NULL row per doc —
    posting-proportional, exactly what any BM25 index materializes) is
    localCheckpointed so both derivations read it instead of
    re-tokenizing. Vocabulary membership: ``vocab_tokens`` inlines an
    isin predicate (codegen, scan-stage); ``vocab`` falls back to a
    broadcast mark join for vocabularies too large to inline."""
    from convoy_spark.operators.dedup import doc_tokens

    tk = doc_tokens(docs)
    if vocab_tokens is not None:
        marked = tk.withColumn(
            "_vtok",
            F.when(F.col("token").isin(list(vocab_tokens)), F.col("token")),
        )
    else:
        marked = tk.join(
            F.broadcast(vocab.withColumn("_v", F.lit(True))), "token", "left"
        ).withColumn("_vtok", F.when(F.col("_v"), F.col("token")))
    grouped = (
        marked.groupBy("doc_id", "_vtok")
        .agg(F.count("*").alias("_cnt"))
        .localCheckpoint()
    )
    dl = grouped.groupBy("doc_id").agg(F.sum("_cnt").alias("dl"))
    tf = grouped.filter(F.col("_vtok").isNotNull()).select(
        "doc_id",
        F.col("_vtok").alias("token"),
        F.col("_cnt").alias("tf"),
    )
    return tf, dl


def bm25_score_postings(
    tf: DataFrame,
    dl: DataFrame,
    q: DataFrame,
    top_k: int,
) -> DataFrame:
    """(query_id, doc_id, score, n_hit_terms) — the BM25 scoring
    chain from prepared frames: ``tf`` (doc_id, token, tf) already
    restricted to the query vocabulary, ``dl`` (doc_id, dl) over ALL
    docs, ``q`` (query_id, token) lowercased-distinct. The SINGLE
    definition of the scoring math — corpus-pass callers
    (:func:`bm25_search_multi`) and index-backed callers
    (streaming/index.py::bm25_over_index) both delegate here, so the
    formula cannot drift between them. Exactness contracts per
    :func:`bm25_search`; df/N/avgdl broadcast, doc-length table
    semi-join-pruned to posting docs, two-phase per-query top-k
    (salted local rank then final rank — no single-task straggler
    when one query matches most of the corpus)."""
    from convoy_spark.functions.numeric import dsum

    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    dl_p = dl.join(tf.select("doc_id").distinct(), "doc_id", "left_semi")
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_tbl), "token")
        .join(dl_p, "doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "_idf",
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)),
        )
        .withColumn(
            "_norm",
            F.col("tf").cast("double") * (1.0 + BM25_K1)
            / (
                F.col("tf").cast("double")
                + BM25_K1
                * (
                    1.0
                    - BM25_B
                    + BM25_B
                    * (
                        F.col("dl").cast("double")
                        * F.col("n_docs").cast("double")
                        / F.col("total_len").cast("double")
                    )
                )
            ),
        )
    )
    per_query = (
        scored.join(F.broadcast(q), "token")
        .groupBy("query_id", "doc_id")
        .agg(
            dsum(F.col("_idf") * F.col("_norm")).alias("score"),
            F.count("*").cast("long").alias("n_hit_terms"),
        )
    )
    # Two-phase top-k. A plain row_number window over query_id
    # concentrates EVERY scored candidate into <=|queries| tasks — with
    # 8 probe queries that is 8 tasks ranking the whole candidate set,
    # and a query matching most of the corpus is a straggler. Phase 1
    # ranks within (query_id, hash(doc_id) % BM25_TOPK_SALTS) groups —
    # the shuffle volume is the same candidate set the single window
    # already paid, but spread over SALTS tasks per query — and keeps
    # each group's local top_k (the global top_k per query is a subset
    # of the union of local top_ks). Phase 2 ranks the surviving
    # <= SALTS*top_k rows per query: a trivially small keyed shuffle.
    # Deterministic regardless of partitioning: the salt derives from
    # doc_id, scores are decimal-exact sums, ties break on doc_id.
    order = (F.col("score").desc(), F.col("doc_id").asc())
    w_local = Window.partitionBy("query_id", "_salt").orderBy(*order)
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        per_query.withColumn(
            "_salt", F.pmod(F.hash("doc_id"), F.lit(BM25_TOPK_SALTS))
        )
        .withColumn("_lrk", F.row_number().over(w_local))
        .filter(F.col("_lrk") <= top_k)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .select("query_id", "doc_id", "score", "n_hit_terms")
    )


def bm25_search_multi(
    docs: DataFrame,
    queries: DataFrame,
    top_k: int = 20,
) -> DataFrame:
    """(query_id, doc_id, score, n_hit_terms) — top-``top_k`` docs per
    query by BM25, for a query TABLE (query_id, term): the
    pipeline-shaped form of :func:`bm25_search` that scores MANY
    probes in one corpus pass instead of one fixed Python term list
    per job.

    Same exactness contracts as bm25_search (rational idf,
    decimal-exact per-(query, doc) score sums, integer-derived
    dl/avgdl). Shape at 100 TB:

    - the corpus is tokenized ONCE (:func:`bm25_tf_dl`): postings and
      doc lengths come out of a single (doc_id, vocab-token-or-NULL)
      aggregation, so the shuffled volume is the posting lists plus
      one row per doc — never the corpus token stream — regardless of
      how many queries ride along;
    - df/avgdl stats ride broadcasts; the doc-length table is
      semi-join-PRUNED to posting docs before its join (the round-4
      verdict's unpruned-dl finding, fixed here and in bm25_search);
    - per-(term → query) expansion is a broadcast join against the
      tiny query table;
    - ranking is a TWO-PHASE top-k: a local rank within
      (query_id, hash(doc_id) % BM25_TOPK_SALTS) groups prunes to
      <= SALTS*top_k rows per query, then a final per-query rank over
      that residue — so no single task ever ranks a whole query's
      candidate set (the scoring chain itself is
      :func:`bm25_score_postings`, shared with the streaming index's
      query path).
    """
    q = queries.select(
        "query_id", F.lower(F.col("term")).alias("token")
    ).distinct()
    vocab = q.select("token").distinct()

    # Vocabulary filter, adaptively: a SMALL vocabulary (the common
    # probe-set case) is collected and inlined as an isin predicate —
    # codegen evaluates it inside the scan stage, measurably cheaper
    # than a broadcast-hash-join probe per token row (sf1.0: 2.2 s vs
    # 2.8 s). A large query table falls back to the broadcast mark
    # join, which scales to any vocabulary. The limit(N+1) probe
    # touches N+1 rows of a tiny distinct frame, same scalar-probe
    # pattern as the closure convergence check.
    head = [r.token for r in vocab.limit(BM25_ISIN_MAX + 1).collect()]
    if len(head) <= BM25_ISIN_MAX:
        tf, dl = bm25_tf_dl(docs, vocab_tokens=head)
    else:
        tf, dl = bm25_tf_dl(docs, vocab=vocab)
    return bm25_score_postings(tf, dl, q, top_k)


def bpe_train_steps(docs: DataFrame, n_steps: int = 4) -> DataFrame:
    """(step, left, right, n_occurrences) — ``n_steps`` rounds of the
    BPE trainer inner loop (Sennrich et al., ACL 2016): count adjacent
    pairs, pick the most frequent (deterministic (count desc, left,
    right) tie-break), APPLY the merge greedily left-to-right across
    every row's token sequence, re-count. :func:`bpe_merge_candidates`
    is one round's counting step; this iterates it, testing that the
    pair statistic composes under application — the actual
    tokenizer-training loop.

    The merge application is a per-row ``aggregate`` fold (JVM
    higher-order function, zero shuffle): append each token unless the
    accumulator ends with ``left`` and the token is ``right``, in
    which case replace the tail with the merged symbol. Because the
    merged symbol is ``left || ' ' || right`` (tokens are
    whitespace-split, so a space can never occur inside one) it can
    itself be merged in later rounds without collision. Greedy
    left-to-right equals odd-parity selection within each run of
    overlapping occurrences — the window formulation the unrolled
    oracle uses; runs only arise when left == right.

    Per round: one map-side-combined pair-count shuffle + a top-1
    TakeOrdered probe (a scalar, like the closure convergence probe)
    + a scan-side fold, with the re-tokenized frame lazily
    checkpointed — O(n_steps · corpus), never quadratic. The returned
    frame is n_steps driver-assembled scalar rows (the learned merge
    table — the ARTIFACT of training, inherently tiny)."""
    from convoy_spark.operators.scale import widen_narrow_scan

    spark = docs.sparkSession
    cur = (
        widen_narrow_scan(docs)
        .select(F.filter(_tokens(), lambda t: t != "").alias("toks"))
        .localCheckpoint(eager=False)
    )
    pairs_expr = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1),"
        " (a, b) -> struct(a AS left, b AS right))"
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_steps):
        top = (
            cur.filter(F.size("toks") >= 2)
            .select(F.explode(pairs_expr).alias("p"))
            .groupBy(
                F.col("p.left").alias("left"),
                F.col("p.right").alias("right"),
            )
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy(
                F.col("n").desc(), F.col("left").asc(), F.col("right").asc()
            )
            .limit(1)
            .first()
        )
        if top is None:
            break
        merges.append((step, top.left, top.right, top.n))
        if step < n_steps - 1:
            l, r = F.lit(top.left), F.lit(top.right)
            m = F.lit(f"{top.left} {top.right}")
            cur = cur.select(
                F.aggregate(
                    "toks",
                    F.expr("cast(array() as array<string>)"),
                    lambda acc, x: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == l)
                        & (x == r),
                        F.concat(
                            F.slice(acc, F.lit(1), F.size(acc) - 1),
                            F.array(m),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ).alias("toks")
            ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "step int, left string, right string, n_occurrences long"
    )


def bpe_train_vocab(docs: DataFrame, n_merges: int = 6) -> DataFrame:
    """(step, left, right, n_occurrences) — ``n_merges`` rounds of
    the CLASSIC BPE trainer (Sennrich et al., ACL 2016, the
    word-frequency formulation): ONE corpus pass aggregates tokens to
    a (word, freq) vocabulary, each word becomes its character-symbol
    sequence, and every merge round counts adjacent symbol pairs
    WEIGHTED BY WORD FREQUENCY, picks the max ((count desc, left,
    right) tie-break), and greedily applies it inside each word.

    This is the scalable trainer shape: :func:`bpe_train_steps` walks
    the corpus token stream every round (its symbols are whitespace
    tokens — the composition check for the pair statistic), while
    here the corpus is touched ONCE and all ``n_merges`` rounds
    iterate over the vocabulary table — at 100 TB that is the
    difference between N corpus scans and one corpus scan plus N
    vocab-table scans. Divergence from the reference Sennrich code:
    no ``</w>`` end-of-word marker (merges may span the whole word;
    documented, deterministic on both engines).

    Per round: one SUM(freq) pair-count shuffle over the vocab + a
    top-1 TakeOrdered probe + a scan-side greedy fold (identical
    semantics to bpe_train_steps: greedy left-to-right == odd-parity
    run selection — char symbols concatenate WITHOUT a joiner, which
    is collision-safe because BPE symbols are just strings). Output
    is the learned merge table (n_merges scalar rows)."""
    merges, _ = _bpe_vocab_loop(docs, n_merges, apply_all=False)
    return docs.sparkSession.createDataFrame(
        merges, "step int, left string, right string, n_occurrences long"
    )


def _bpe_vocab_loop(
    docs: DataFrame, n_merges: int, apply_all: bool
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The word-frequency trainer inner loop shared by
    :func:`bpe_train_vocab` (which discards the vocab state —
    ``apply_all=False`` skips the post-final-count application) and
    :func:`bpe_encode_docs` (which needs every learned merge APPLIED
    to the vocab — ``apply_all=True``). Returns (merge table, final
    (syms, freq) vocab frame); since merged symbols concatenate
    without a joiner, ``array_join(syms, '')`` always reassembles the
    original word, which is how the encoder joins back to tokens."""
    from convoy_spark.operators.dedup import doc_tokens

    vocab = doc_tokens(docs).groupBy("token").agg(
        F.count("*").cast("long").alias("freq")
    )
    cur = vocab.select(
        F.expr(
            "transform(sequence(1, length(token)),"
            " i -> substring(token, i, 1))"
        ).alias("syms"),
        "freq",
    ).localCheckpoint(eager=False)
    pairs_expr = F.expr(
        "zip_with(slice(syms, 1, size(syms) - 1),"
        " slice(syms, 2, size(syms) - 1),"
        " (a, b) -> struct(a AS left, b AS right))"
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        top = (
            cur.filter(F.size("syms") >= 2)
            .select(F.explode(pairs_expr).alias("p"), "freq")
            .groupBy(
                F.col("p.left").alias("left"),
                F.col("p.right").alias("right"),
            )
            .agg(F.sum("freq").alias("n"))
            .orderBy(
                F.col("n").desc(), F.col("left").asc(), F.col("right").asc()
            )
            .limit(1)
            .first()
        )
        if top is None:
            break
        merges.append((step, top.left, top.right, top.n))
        if apply_all or step < n_merges - 1:
            l, r = F.lit(top.left), F.lit(top.right)
            m = F.lit(top.left + top.right)
            cur = cur.select(
                F.aggregate(
                    "syms",
                    F.expr("cast(array() as array<string>)"),
                    lambda acc, x: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, -1) == l)
                        & (x == r),
                        F.concat(
                            F.slice(acc, F.lit(1), F.size(acc) - 1),
                            F.array(m),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ).alias("syms"),
                "freq",
            ).localCheckpoint(eager=False)
    return merges, cur


def bpe_encode_docs(docs: DataFrame, n_merges: int = 6) -> DataFrame:
    """(doc_id, n_tokens, n_symbols, n_chars, chars_per_symbol) — the
    corpus ENCODED with the tokenizer :func:`bpe_train_vocab` learns:
    train ``n_merges`` merges, apply every one to the word vocabulary
    (``apply_all=True`` — the trainer itself skips the application
    after its final count), then charge each document the symbol
    count of its words. This is the apply/consumer half of tokenizer
    training — the pass a loader actually runs over 100 TB once the
    merge table is fixed.

    Scale shape: the corpus is touched TWICE (once to build the word
    vocabulary inside the trainer, once to join tokens back to their
    encoded symbol counts); all ``n_merges`` greedy-apply folds
    iterate over the distinct-word VOCAB table only. The final join
    is token-keyed (broadcastable when the vocab is small; AQE
    decides), and the per-doc rollup is one map-side-combined keyed
    agg. ``chars_per_symbol`` (the compression diagnostic fertility⁻¹
    tokenizer evals report) is ONE IEEE division of two exact longs,
    so the double column hash-checks."""
    _, final_vocab = _bpe_vocab_loop(docs, n_merges, apply_all=True)
    from convoy_spark.operators.dedup import doc_tokens

    enc = final_vocab.select(
        F.array_join("syms", "").alias("word"),
        F.size("syms").cast("long").alias("n_syms"),
    )
    return (
        doc_tokens(docs)
        .join(enc, F.col("token") == F.col("word"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_syms").alias("n_symbols"),
            F.sum(F.length("token")).alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_symbols",
            "n_chars",
            (F.col("n_chars").cast("double") / F.col("n_symbols"))
            .alias("chars_per_symbol"),
        )
    )


def bpe_merge_candidates(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """(rank, left, right, n_occurrences) — the corpus's most frequent
    ADJACENT token pairs: the statistic a BPE/WordPiece tokenizer
    trainer computes to pick its next merge (Sennrich et al., ACL
    2016; each training iteration re-counts pairs after applying the
    previous merge — this operator is that counting step, the part
    that touches the corpus and therefore the part that must scale).

    Pairs are built per-row with zip_with over two array slices (no
    posexplode self-join — the naive formulation joins the exploded
    token table to itself on (doc, pos+1), shuffling the corpus
    twice); the only shuffle is the map-side-combined pair count, and
    top-k is TakeOrderedAndProject with a (count desc, pair asc)
    deterministic tiebreak — the same no-global-sort discipline as
    vocab_top_terms, which profiles single tokens where this profiles
    adjacencies."""
    from convoy_spark.operators.scale import widen_narrow_scan

    toks = widen_narrow_scan(docs).select(
        F.filter(_tokens(), lambda t: t != "").alias("toks")
    )
    pairs = F.expr(
        "zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1),"
        " (a, b) -> struct(a AS left, b AS right))"
    )
    counted = (
        toks.filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(
            F.col("n_occurrences").desc(),
            F.col("left").asc(),
            F.col("right").asc(),
        )
        .limit(top_k)
    )
    w = Window.orderBy(
        F.col("n_occurrences").desc(), F.col("left").asc(), F.col("right").asc()
    )
    return counted.select(
        F.row_number().over(w).alias("rank"), "left", "right", "n_occurrences"
    )


# --- Model-based quality filter (CCNet / fastText-style) ------------
#
# Heuristic filters (text_quality above) catch structural junk; the
# second stage of CCNet/GPT-style curation is a MODEL score — a linear
# classifier over hashed n-gram features (fastText's architecture).
# The Spark-side shape is what matters at 100 TB: feature hashing to a
# fixed dimension, a sparse dot product folded per-row inside
# whole-stage codegen, zero shuffles. Trained weights would arrive as
# a broadcast dim-row table; this container has no training corpus, so
# weights derive deterministically from the bucket id (same Knuth
# multiplicative scheme as the MinHash parameter table) — the
# PLUMBING is the component, the weights are a stand-in, and the
# determinism makes the whole scorer value-hash-checkable.
MODEL_DIM = 4096
_MW_A = 2654435761  # Knuth multiplicative constant
_MW_B = 12345
# integer weight numerators in [-1000, 1000]; score sign is exact
_MW_SQL = "((({h}) % {dim}) * 2654435761 + 12345) % 2001 - 1000"


def model_quality_score(
    docs: DataFrame, production_hash: bool = False
) -> DataFrame:
    """(doc_id, n_features, score_num, logit, model_keep) —
    fastText-style linear quality scorer: word unigram + bigram
    features hashed into ``MODEL_DIM`` buckets, per-doc score = mean bucket
    weight; keep iff the logit is non-negative.

    Exactness: bucket weights are integer NUMERATORS, so ``score_num``
    is an exact order-free integer sum (no float-accumulation-order
    hazard between engines or cluster sizes) and the keep decision
    ``score_num >= 0`` is exact; only the reported logit/prob divide
    into doubles. Plan: one Generate barrier binding the token array
    (the token_stats trick), then a per-row JVM aggregate fold — a
    pure scan with zero shuffles at any corpus size.

    ``production_hash=True`` swaps the oracle-parity md5 bucket hash
    for Spark-native ``xxhash64`` — same plan, measured 2.0× faster
    at sf3.0 (11.0 vs 21.9 s; the md5-parity form is a Java-md5
    engine floor, BENCH_NOTES round 6). Deployments without a
    cross-engine-check requirement should use it; buckets (hence
    scores) differ, which is why the catalog query keeps md5."""
    if production_hash:
        w = f"(pmod(xxhash64(f), {MODEL_DIM}) * {_MW_A} + {_MW_B}) % 2001 - 1000"
    else:
        h = "cast(conv(substring(md5(f), 1, 15), 16, 10) as bigint)"
        w = _MW_SQL.format(h=h, dim=MODEL_DIM)
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.filter(_tokens(), lambda t: t != ""))).alias(
            "_toks"
        ),
    )
    feats = (
        "concat(_toks, CASE WHEN size(_toks) >= 2 THEN"
        " transform(sequence(1, size(_toks) - 1),"
        "   i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
        " ELSE slice(_toks, 1, 0) END)"
    )
    scored = base.select(
        "doc_id",
        F.expr(f"cast(size({feats}) as bigint)").alias("n_features"),
        F.expr(
            f"aggregate({feats}, cast(0 as bigint),"
            f" (acc, f) -> acc + ({w}))"
        ).alias("score_num"),
    )
    logit = F.when(
        F.col("n_features") > 0,
        F.col("score_num").cast("double")
        / (F.lit(1000.0) * F.col("n_features").cast("double")),
    ).otherwise(F.lit(0.0))
    # no sigmoid column: prob = 1/(1+exp(-logit)) is monotone in the
    # logit, so it adds no information, and Java's and DuckDB's exp
    # differ in the last ulp — the one transcendental would break the
    # repo-wide bit-identical float discipline (conftest._values_equal
    # compares floats exactly; the driver's 12-digit hash is looser,
    # but bit-identity is the bar every other query meets).
    return scored.select(
        "doc_id",
        "n_features",
        "score_num",
        logit.alias("logit"),
        (F.col("score_num") >= 0).alias("model_keep"),
    )


# --- Corpus-trained trigram LM quality score (CCNet-style) ----------
#
# CCNet's third filter (after heuristics and the hashed-feature
# classifier above) scores text with a language model trained on a
# trusted corpus and keeps the low-perplexity tail. The distributed
# restatement: train the trigram MLE on the corpus itself (the same
# corpus-trained trick as lang_id's char-trigram profiles), score each
# doc by its mean trigram probability — count ratios, so the whole
# statistic is rational and (under the decimal-exact sum) value-hash
# oracle-able; log-free by the repo's discipline (a monotone transform
# adds no information to a filter threshold).


def trigram_lm_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, lm_score) — mean MLE trigram probability
    P(w3 | w1 w2) = c(w1 w2 w3)/c(w1 w2) over the doc's word
    trigrams, with counts trained on the WHOLE corpus (self-trained:
    every doc trigram has count ≥ 1, so no smoothing is needed and
    the score is always positive; docs with < 3 tokens score 0 with
    0 trigrams). Typical text scores high; out-of-distribution /
    machine-garbled text scores low — the LM-filtering signal.

    Scale shape: one corpus aggregation keyed on the trigram (c3),
    a tiny aggregation of c3 down to contexts (c2), then two
    posting-style equi-joins back to the doc trigram stream and one
    doc-keyed mean — corpus-linear, no all-pairs, hot boilerplate
    trigrams handled by AQE skew splitting like every posting join
    here."""
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.filter(_tokens(), lambda t: t != ""))).alias(
            "_toks"
        ),
    )
    tri = (
        base.filter(F.size("_toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 2),"
                    " i -> struct("
                    "   concat(element_at(_toks, i), ' ',"
                    "          element_at(_toks, i + 1)) AS ctx,"
                    "   element_at(_toks, i + 2) AS nxt))"
                )
            ).alias("t"),
        )
        .select("doc_id", "t.ctx", "t.nxt")
    )
    # Derive everything from the DISTINCT (doc, trigram) counts, not
    # the raw occurrence stream: the corpus-count branch then re-
    # derives an aggregated frame instead of a second full explode,
    # and the per-occurrence mean folds as the k-weighted mean over
    # distinct rows — sum(k · dec(p)) == summing k copies of dec(p),
    # so the decimal-exact statistic and the oracle are unchanged.
    # Measured at sf3.0: 55.0 → 29.5 s (localCheckpoint was tried and
    # is WORSE at scale — materializing the 10^8-row frame costs more
    # than recomputing its map-side-combined aggregation; BENCH_NOTES
    # round 6).
    from convoy_spark.functions.numeric import DEC

    dtri = tri.groupBy("doc_id", "ctx", "nxt").agg(
        F.count("*").cast("long").alias("k")
    )
    c3 = dtri.groupBy("ctx", "nxt").agg(F.sum("k").cast("long").alias("n3"))
    c2 = c3.groupBy("ctx").agg(F.sum("n3").cast("long").alias("n2"))
    p_dec = (F.col("n3").cast("double") / F.col("n2")).cast(DEC)
    scored = (
        dtri.join(c3, ["ctx", "nxt"])
        .join(c2, "ctx")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_trigrams"),
            (
                F.sum(p_dec * F.col("k")).cast("double") / F.sum("k")
            ).alias("lm_score"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0).cast("long")).alias(
                "n_trigrams"
            ),
            F.coalesce("lm_score", F.lit(0.0)).alias("lm_score"),
        )
    )


# --- Stupid Backoff LM score (Brants et al. 2007) -------------------
#
# "Large Language Models in Machine Translation" introduced Stupid
# Backoff PRECISELY for distributed MapReduce-scale LMs: no discount
# mass bookkeeping (which needs global normalization passes), just
# relative frequencies with a constant backoff multiplier — S(w3|w1w2)
# = f(w1w2w3)/f(w1w2), backing off to α·f(w2w3)/f(w2), then
# α²·f(w3)/N, α = 0.4. Unlike the self-trained trigram MLE above
# (every doc trigram has count ≥ 1, so backoff would never fire), this
# scorer trains counts on a TRAIN split and scores the whole corpus —
# the CCNet deployment shape, and eval-split docs genuinely exercise
# all three backoff levels.

SB_ALPHA = 0.4  # the paper's backoff multiplier
SB_SCALE = float(1 << 40)  # power-of-two floor-scaling (exact)


def stupid_backoff_score(docs: DataFrame, train_ids: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, n_hit3, n_hit2, sb_score) — per-doc mean
    Stupid Backoff trigram score with counts trained on ``train_ids``
    docs only. n_hit3/n_hit2 count occurrences resolved at the
    trigram/bigram level (the remainder hit the unigram floor) —
    integer-exact diagnostics of OOD-ness.

    Exactness: each occurrence's score is a fixed chain of IEEE ops
    (one count ratio, at most two constant multiplies), floor-scaled
    by 2⁴⁰ and summed as longs (order-free); the mean is two mirrored
    divisions. Scale shape: three train-side count tables (trigram /
    bigram / unigram — map-side-combined aggs), each equi-joined back
    to the distinct doc-trigram stream posting-style; one doc-keyed
    rollup. Corpus-linear, no all-pairs; hot boilerplate n-grams are
    AQE-skew-split like every posting join here."""
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.filter(_tokens(), lambda t: t != ""))).alias(
            "_tk"
        ),
    )
    tri = (
        base.filter(F.size("_tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tk) - 2),"
                    " i -> struct("
                    "   element_at(_tk, i) AS w1,"
                    "   element_at(_tk, i + 1) AS w2,"
                    "   element_at(_tk, i + 2) AS w3))"
                )
            ).alias("t"),
        )
        .select("doc_id", "t.w1", "t.w2", "t.w3")
    )
    train = train_ids.select("doc_id")
    tri_tr = tri.join(train, "doc_id", "left_semi")
    big_tr = (
        base.filter(F.size("_tk") >= 2)
        .join(train, "doc_id", "left_semi")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_tk) - 1),"
                    " i -> struct(element_at(_tk, i) AS w1,"
                    "             element_at(_tk, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    uni_tr = (
        base.join(train, "doc_id", "left_semi")
        .select(F.explode("_tk").alias("w"))
    )
    t3 = tri_tr.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("long").alias("n3")
    )
    b2 = big_tr.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    u1 = uni_tr.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("nu"))
    ntot = uni_tr.agg(F.count(F.lit(1)).cast("long").alias("ntot"))

    dtri = tri.groupBy("doc_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    joined = (
        dtri.join(t3, ["w1", "w2", "w3"], "left")
        .join(
            b2.select(
                F.col("w1"), F.col("w2"), F.col("nb").alias("c12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            b2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("nb").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            u1.select(F.col("w").alias("w2"), F.col("nu").alias("cu2")),
            ["w2"],
            "left",
        )
        .join(
            u1.select(F.col("w").alias("w3"), F.col("nu").alias("cu3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(ntot))
    )
    # the expression SHAPE is mirrored token-for-token in the oracle:
    # multiply-then-divide, left-associated constants
    score = F.expr(
        "CASE WHEN n3 IS NOT NULL THEN CAST(n3 AS DOUBLE) / c12 "
        f"WHEN c23 IS NOT NULL THEN ({SB_ALPHA} * CAST(c23 AS DOUBLE)) / cu2 "
        f"ELSE (({SB_ALPHA} * {SB_ALPHA}) * CAST(COALESCE(cu3, 0) AS DOUBLE))"
        " / ntot END"
    )
    scored = (
        joined.select(
            "doc_id",
            "k",
            (F.col("k") * F.floor(score * F.lit(SB_SCALE))).alias("snum"),
            (F.col("k") * F.col("n3").isNotNull().cast("long")).alias("h3"),
            (
                F.col("k")
                * (F.col("n3").isNull() & F.col("c23").isNotNull()).cast(
                    "long"
                )
            ).alias("h2"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_trigrams"),
            F.sum("h3").cast("long").alias("n_hit3"),
            F.sum("h2").cast("long").alias("n_hit2"),
            (
                (F.sum("snum").cast("double") / F.lit(SB_SCALE))
                / F.sum("k")
            ).alias("sb_score"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0).cast("long")).alias(
                "n_trigrams"
            ),
            F.coalesce("n_hit3", F.lit(0).cast("long")).alias("n_hit3"),
            F.coalesce("n_hit2", F.lit(0).cast("long")).alias("n_hit2"),
            F.coalesce("sb_score", F.lit(0.0)).alias("sb_score"),
        )
    )


# --- DSIR importance weights (hashed n-gram target-vs-raw) ----------
#
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# fit bag-of-hashed-n-grams models on a small TARGET corpus and the
# large RAW corpus, weight every raw document by how target-like its
# feature distribution is, and select the top-weighted documents.
# The distributed restatement below keeps the paper's feature space
# (word unigrams + bigrams hashed into a fixed bucket table, add-1
# smoothing) and swaps the log-likelihood-ratio SUM for the k-weighted
# MEAN of per-feature likelihood ratios — the same geometric→arithmetic
# log-free trade trigram_lm_score documents (ln differs in final ulps
# across engines; count ratios + decimal-exact sums are value-hash
# checkable). Selection is top-n by weight (the paper's non-stochastic
# variant; Gumbel resampling would add a salted-hash noise column).

DSIR_DIM = 4096


def dsir_importance(
    docs: DataFrame, target_ids: DataFrame, dim: int = DSIR_DIM
) -> DataFrame:
    """(doc_id, n_features, importance) for every RAW (non-target)
    document: importance = Σ_f k_f·r_b(f) / Σ_f k_f where
    r_b = p̂_target(b) / p̂_raw(b) over hashed unigram+bigram buckets
    with add-1 smoothing (p̂(b) = (n_b + 1)/(N + dim)).

    Scale shape: ONE corpus tokenization feeds both models and the
    scoring pass — per-(doc, bucket) counts aggregate with map-side
    combine, bucket tables are ≤ ``dim`` rows (broadcast back), and
    the totals are 1-row broadcast scalars. No all-pairs, no
    collect; the target membership probe is a broadcast-able semi
    join. The bucket hash is the md5-parity hash60 (cross-engine
    checkable); production deployments would swap xxhash64 exactly as
    model_quality_score's ``production_hash`` documents."""
    h_b = f"(cast(conv(substring(md5(f), 1, 15), 16, 10) as bigint)) % {dim}"
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.filter(_tokens(), lambda t: t != ""))).alias(
            "_toks"
        ),
    )
    feats = (
        "concat(_toks, CASE WHEN size(_toks) >= 2 THEN"
        " transform(sequence(1, size(_toks) - 1),"
        "   i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
        " ELSE slice(_toks, 1, 0) END)"
    )
    fb = base.select(
        "doc_id",
        F.explode(F.expr(f"transform({feats}, f -> {h_b})")).alias("b"),
    )
    tgt = target_ids.select("doc_id").distinct()
    dfeat = (
        fb.groupBy("doc_id", "b")
        .agg(F.count("*").cast("long").alias("k"))
        .join(
            F.broadcast(tgt.withColumn("_is_tgt", F.lit(True))),
            "doc_id",
            "left",
        )
        .withColumn("_is_tgt", F.coalesce("_is_tgt", F.lit(False)))
        .localCheckpoint(eager=False)
    )
    counts = dfeat.groupBy("b").agg(
        F.sum(F.when(F.col("_is_tgt"), F.col("k")).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(~F.col("_is_tgt"), F.col("k")).otherwise(0))
        .cast("long")
        .alias("nr"),
    )
    totals = counts.agg(
        F.sum("nt").cast("long").alias("tot_t"),
        F.sum("nr").cast("long").alias("tot_r"),
    )
    # r = p̂_t(b)/p̂_r(b), evaluated as two smoothed-probability
    # divisions then one division — three deterministic double ops
    # the oracle mirrors token-for-token.
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            (
                (F.col("nt") + 1).cast("double")
                / (F.col("tot_t") + F.lit(dim)).cast("double")
            )
            / (
                (F.col("nr") + 1).cast("double")
                / (F.col("tot_r") + F.lit(dim)).cast("double")
            )
        ).alias("r"),
    )
    from convoy_spark.functions.numeric import DEC

    scored = (
        dfeat.filter(~F.col("_is_tgt"))
        .join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_features"),
            (
                F.sum(F.col("r").cast(DEC) * F.col("k")).cast("double")
                / F.sum("k")
            ).alias("importance"),
        )
    )
    raw_docs = docs.select("doc_id").join(tgt, "doc_id", "left_anti")
    return raw_docs.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_features", F.lit(0).cast("long")).alias("n_features"),
        F.coalesce("importance", F.lit(0.0)).alias("importance"),
    )


def dsir_select(
    docs: DataFrame,
    target_ids: DataFrame,
    n_select: int,
    dim: int = DSIR_DIM,
) -> DataFrame:
    """DSIR's selection step: rank raw documents by importance and
    mark the top ``n_select`` (deterministic (importance desc,
    doc_id) order). The top-n id set is computed with TakeOrdered
    (per-partition partial top-n, no global sort shuffle — the
    bm25_multi_query lesson) and broadcast back as a membership
    flag, so the full scored table keeps its partitioning."""
    scored = dsir_importance(docs, target_ids, dim).localCheckpoint(
        eager=False
    )
    top = (
        scored.orderBy(F.col("importance").desc(), F.col("doc_id").asc())
        .limit(n_select)
        .select("doc_id")
        .withColumn("_sel", F.lit(True))
    )
    return scored.join(F.broadcast(top), "doc_id", "left").select(
        "doc_id",
        "n_features",
        "importance",
        F.coalesce("_sel", F.lit(False)).alias("selected"),
    )
