#!/usr/bin/env python
"""Physical-plan audit: capture `.explain("formatted")` for
representative catalog queries and assert the plan properties that
matter at 100 TB — predicate pushdown into the parquet scan, column
pruning (ReadSchema), broadcast selection for small sides, AQE
enablement, whole-stage codegen coverage.

Writes EXPLAIN.md at the repo root; exits non-zero if an expected
plan property is missing, so it can run as a gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from convoy_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> list of substrings that MUST appear in the formatted plan.
EXPECTATIONS = {
    # dim filter must reach the parquet scan; dims broadcast
    "broadcast_dim_rollup": ["PushedFilters: [IsNotNull", "BroadcastHashJoin"],
    # column pruning: the scan must not read full lineitem
    "pricing_summary": ["ReadSchema", "HashAggregate"],
    # flagship right-join rollup: shuffle agg + join
    "flagship_conversation_rollup": ["HashAggregate"],
    # window query: one exchange on the partition key
    "top_k_per_group": ["Window", "WindowGroupLimit"],
    # semi join should stay a join, not a subquery re-scan
    "semi_join_filter": ["LeftSemi"],
    # similarity: the query side must be broadcast
    "cosine_topk": ["BroadcastNestedLoopJoin", "Window"],
    # dedup sketch: hash agg for signatures, SMJ/shuffle join for bands
    "minhash_lsh_neardup": ["HashAggregate"],
    # scan-only text op: no exchange at all before the agg-free project
    "token_stats": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    # full-text search: generate (explode) feeding a filtered agg —
    # the posting-list filter must run BEFORE the exchange
    "fulltext_search": ["Generate", "HashAggregate"],
    # merged window suite: every window fn shares ONE sort+exchange
    "window_funcs": ["Window", "Exchange"],
    # simhash: packed-counter agg (map-side combine), no Python stage
    "simhash_neardup": ["HashAggregate"],
    # SRP ANN: pivoted plane components broadcast to the posting build
    "ann_srp_topk": ["BroadcastHashJoin", "HashAggregate"],
    # winnow: the narrow-scan widen must appear as a round-robin
    # exchange feeding the per-row hash pipeline (single-row-group
    # local file; at real scale the repartition no-ops away)
    "winnow_fingerprints": ["RoundRobinPartitioning", "Generate"],
    # vocab: top-k must be TakeOrderedAndProject (distributed
    # per-partition top-k), NEVER a single-partition global sort
    "vocab_top_terms": ["TakeOrderedAndProject", "HashAggregate"],
    # tf-idf: count agg + per-doc rank window
    "tfidf_topterms": ["HashAggregate", "Window"],
    # repetition: exploded token agg + per-row array ngram stats
    "repetition_filter": ["HashAggregate", "Generate"],
    # sampling: pure scan-side filter, columns pruned to the output
    "stratified_sample": ["Filter", "ReadSchema: struct<doc_id:bigint,lang:string>"],
    # PII scrub: scan-only regexp projection, only (doc_id, text) read
    "pii_scrub": ["ReadSchema: struct<doc_id:bigint,text:string>"],
    # substring dedup: per-row gram pipeline behind Generate, hash agg
    # for the stop-gram cap + pair counting; only (doc_id, text) read
    "substring_dup_pairs": [
        "Generate",
        "HashAggregate",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # BM25: top-k must be TakeOrderedAndProject (never a global sort);
    # posting aggregation is a hash agg fed by the pre-filtered stream
    "bm25_search": ["Window", "HashAggregate"],  # delegates to the multi form: two-phase top-k windows
    # BPE pairs: per-row zip_with behind Generate; distributed top-k
    "bpe_merge_candidates": ["TakeOrderedAndProject", "Generate"],
    # multi-probe BM25: query vocabulary and term->query expansion
    # ride broadcasts; per-query top-k is a rank window (keyed
    # exchange on query_id), never a global sort
    "bm25_multi_query": ["BroadcastHashJoin", "Window", "HashAggregate"],
    # multi-component PCA: the deflated frames are checkpoint scans,
    # but the final assembly must still broadcast the scalar
    # eigenvalue/trace frames into the component projection
    "pca_topk_components": ["BroadcastNestedLoopJoin", "Union"],
    # sequence packing: the global running total must be the two-phase
    # block scan — a window over the KEYED _blk exchange (parallel
    # across blocks) with the per-block offsets broadcast back; the
    # corpus-side rows must never cross a SinglePartition exchange
    "pack_sequences": [
        "hashpartitioning(_blk",
        "BroadcastHashJoin",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # mixture sampling: per-domain rates broadcast into a scan that
    # reads only (doc_id, source) — acceptance is map-side everywhere
    "mixture_sample": [
        "BroadcastHashJoin",
        "ReadSchema: struct<doc_id:bigint,source:string>",
    ],
    # span rewrite dedup: span explode behind Generate; first-wins is
    # a rank window keyed on the span's md5 (content-keyed exchange);
    # reassembly a doc-keyed hash aggregate; only (doc_id, text) read
    "span_dedup": [
        "Generate",
        "Window",
        "ObjectHashAggregate",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # model-based filter: a pure scan — the hashed-feature dot product
    # folds per row in codegen; no exchange, no Python stage
    "model_quality_filter": [
        "[codegen id :",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # trigram LM: trigram explode behind Generate; corpus counts are
    # map-side-combined hash aggs; scoring joins are shuffle equi-joins
    # on the trigram key; only (doc_id, text) read
    "trigram_lm_score": [
        "Generate",
        "HashAggregate",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # SemDeDup: exploded centroids broadcast into every k-means
    # distance pass and the priority-distance stage; pair dots are
    # map-side-combined hash aggs keyed within cells. The rank window
    # and the exploded-vector Generate sit behind the operator's lazy
    # checkpoints (the visible plan reads their materialized scans) —
    # asserted here is that NOTHING visible is a cartesian product or
    # single-partition exchange (probed at add time: 0 of each).
    "semantic_dedup": ["BroadcastHashJoin", "HashAggregate"],
    # DSIR: the ≤dim-row bucket-ratio table and the top-n id set ride
    # broadcasts; selection is TakeOrderedAndProject (per-partition
    # partial top-n merged on the driver), never a global sort
    "dsir_select": ["TakeOrderedAndProject", "BroadcastHashJoin"],
    # PageRank loop body (audited un-checkpointed via OVERRIDES — the
    # shipped operator truncates lineage each iteration, so the
    # catalog query's visible plan is a checkpoint scan): contribution
    # sum must be a map-side-combined hash agg keyed on dst (partial
    # agg + one hashpartitioning exchange on dst); AQE may broadcast
    # the |V|-row rank/degree side at this SF — at scale that side
    # exceeds the threshold and falls back to the keyed shuffle join
    "pagerank_scores": ["HashAggregate", "hashpartitioning(dst"],
    # triangles (round-7 edge-iterator form, round-11 one-pass corner
    # credit): per-edge codegen intersect of the two endpoints'
    # neighbor arrays — a Generate over array_intersect, NO wedge
    # materialization/semi join — and each triangle explodes to its
    # three corners in the SAME pass (no Union of three projections
    # of the wedge subtree), feeding one hash agg
    "triangle_part_counts": [
        "Generate",
        "array_intersect",
        "HashAggregate",
    ],
    # heavy hitters: the MG sketch is the one Arrow Python stage
    # (MapInPandas); candidates come back via broadcast semi join;
    # recount is a map-side-combined hash agg
    "heavy_hitters": ["MapInPandas", "BroadcastHashJoin", "HashAggregate"],
    # weighted draw: pure map feeding a distributed top-n — never a
    # global sort; only (doc_id, text) read
    "weighted_sample": [
        "TakeOrderedAndProject",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # curriculum: the global quality rank is the two-phase block scan
    # (keyed _blk exchange), bin starts broadcast back
    "curriculum_order": ["hashpartitioning(_blk", "BroadcastHashJoin"],
    # z-order envelope: one map + one keyed agg; the max frame rides a
    # broadcast
    "zorder_layout": ["HashAggregate", "BroadcastNestedLoopJoin"],
    # cohort retention: keyed aggs throughout; cohort sizes broadcast
    "cohort_retention": ["HashAggregate", "BroadcastHashJoin"],
    # fuzzy join: deletion variants behind Generate; candidate buckets
    # are an equi-join (shuffle or broadcast at this SF), never a
    # cartesian; the verify filter runs post-join
    "fuzzy_name_pairs": ["Generate", "levenshtein"],
    # SCD2: both windows + the run groupBy key on user_id — one
    # events exchange, one run-table exchange, nothing global
    "scd2_snapshot": ["Window", "hashpartitioning(user_id"],
    # interval merge: cumulative-max + prefix-sum windows share the
    # user_id partitioning
    "interval_merge": ["Window", "hashpartitioning(user_id"],
    # anomaly flags: ONE keyed window (bounded 100-row frame), scan
    # pruned to the four live columns
    "anomaly_zscore": [
        "hashpartitioning(event_type",
        "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string,value:double>",
    ],
    # attribution: keyed window feeding a 3-key final agg
    "last_touch_attribution": ["Window", "HashAggregate"],
    # column profile: stack behind Generate; two-level agg (distinct
    # values then per-column), both map-side combined
    "column_profile": ["Generate", "HashAggregate"],
    # resampling: bucket-last + count windows, the grid Generate, the
    # grid<->bucket join and the fill window all share the user_id
    # partitioning — keyed exchanges only, no global sort
    "resample_ffill": ["Window", "Generate", "hashpartitioning(user_id"],
    # BPE encode: token explode behind Generate; the encoded-vocab
    # join (broadcast at this SF, keyed at scale) feeds one map-side-
    # combined per-doc agg; the merge folds live behind the vocab
    # loop's checkpoints
    "bpe_encode_docs": ["Generate", "HashAggregate"],
    # RAG chunking: pure per-doc Generate (sequence explode + slice),
    # zero exchange; only (doc_id, text) read
    "chunk_documents": [
        "Generate",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # int8 quantization: map-only array transform/aggregate, zero
    # exchange, zero Python; only (vec_id, embedding) read
    "embed_quantize_int8": [
        "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
    ],
    # PQ search: the ADC distance table and the codebook ride
    # broadcasts (the k-means loop itself sits behind the index's
    # checkpoints); the per-vector ADC fold is a map-side-combined
    # hash agg over the CODE table; every rank window carries the
    # WindowGroupLimit pushdown (two-phase top-k, no global sort)
    "pq_rerank_topk": [
        "BroadcastHashJoin",
        "HashAggregate",
        "WindowGroupLimit",
    ],
    # IVF-PQ: coarse-cell pruning joins the probed cells' code rows
    # before any scoring; same broadcast/agg/window contracts
    "ann_ivfpq_topk": [
        "BroadcastHashJoin",
        "HashAggregate",
        "WindowGroupLimit",
    ],
    # hybrid retrieval: both legs keep their own shapes (BM25 chain's
    # broadcast vocabulary + two-phase windows; cosine's broadcast
    # query set); fusion is ONE join over rank survivors — a full
    # outer that never touches corpus-sized frames
    "hybrid_rrf_topk": ["FullOuter", "WindowGroupLimit", "BroadcastHashJoin"],
    # KMV distinct sketch: the min-k is the two-phase rank (local
    # top-k within (group, salt) before the final per-group rank —
    # WindowGroupLimit on both), never a full per-group value sort
    "kmv_distinct_rollup": ["WindowGroupLimit", "HashAggregate"],
    # retrieval metrics: the ranking leg is the shared codegen cosine
    # chain (broadcast query side); the metric stage is keyed aggs
    # over rank survivors only
    "retrieval_metrics": ["BroadcastHashJoin", "WindowGroupLimit", "HashAggregate"],
    # prefix-filtered exact set-similarity join: per-doc ordered sets
    # are an ObjectHashAggregate (collect_list) on the doc key; prefix
    # explode behind Generate; verification is per-PAIR codegen
    # array_intersect over the materialized shingle arrays — never a
    # pair×shingle join, never a cartesian (probed at add time:
    # 0 CartesianProduct, 0 SinglePartition)
    # (audited un-checkpointed via OVERRIDES — the shipped operator
    # truncates lineage at the shingle and sets frames)
    "setsim_prefix_join": [
        "ObjectHashAggregate",
        "Generate",
        "array_intersect",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    ],
    # collocation mining: the per-doc distinct sorted token set is
    # pure array work ON the scan row (no tokenize shuffle, no
    # collect_set exchange); pair expansion is a codegen array
    # transform behind Generate; the only corpus-proportional
    # exchanges are the two map-side-combined counting aggs; df
    # tables ride broadcasts into the final projection; only
    # (doc_id, text) read. The one SinglePartition exchange is the
    # 1-row corpus-count scalar.
    # (column pruning goes further than (doc_id, text): the pair
    # pipeline never reads doc_id at all, so the scan is text-only)
    "token_cooccurrence": [
        "Generate",
        "BroadcastHashJoin",
        "HashAggregate",
        "ReadSchema: struct<text:string>",
    ],
    # FK audit: 7 key-pruned left joins unioned, each one aggregate
    # pass; fixed-cardinality dims broadcast
    "fk_integrity_audit": ["Union", "BroadcastHashJoin", "HashAggregate"],
    # sorted-neighborhood ER blocking: the global name rank is
    # range_rank — a RANGE exchange + per-partition row_number window
    # (never an unpartitioned global sort over the data; the one
    # SinglePartition window is the partition-count-sized offsets
    # frame); window offsets behind Generate; exact verify in codegen
    "sorted_neighborhood_pairs": [
        "rangepartitioning(",
        "Window",
        "Generate",
        "levenshtein",
    ],
    # event funnel: every step is a user-keyed min aggregate + keyed
    # range-filtered join on the SAME user_id partitioning; the final
    # 3-row rollup rides broadcast scalar counts
    "event_funnel_conversion": [
        "hashpartitioning(user_id",
        "HashAggregate",
        "BroadcastNestedLoopJoin",
    ],
    # Q5-shape star join: both date bounds must reach the orders
    # scan; every dim rides a broadcast
    "local_supplier_volume": [
        "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate",
        "BroadcastHashJoin",
        "HashAggregate",
    ],
    # Q3-shape top-k: the limit must be a distributed top-k, never a
    # global sort; the segment filter prunes via a semi join
    "shipping_priority": [
        "TakeOrderedAndProject",
        "LeftSemi",
        "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate",
    ],
    # round-7 operating-curve harnesses, round-10 one-pass rewrite:
    # candidate volume and truth hits come from ONE left-outer join
    # against the unique checkpointed truth pairs (count(*) = n_cand,
    # count(_h) = hits — the candidate pipeline runs once per point,
    # not twice); per-point rows union, counts are map-side aggs
    "pq_recall_sweep": ["LeftOuter", "Union", "HashAggregate"],
    "lsh_band_sweep": ["LeftOuter", "Union", "HashAggregate"],
    # hard negatives: shortlist minus truth is a LEFT-ANTI join; the
    # re-rank is a per-query window
    "hard_negative_mine": ["LeftAnti", "Window", "HashAggregate"],
    # OPQ A/B: two independently trained quantizers (the balanced one
    # reads the broadcast dim map), rows union
    "pq_opq_compare": ["LeftSemi", "Union", "HashAggregate"],
    # Stupid Backoff: tokenize Generate; train-split prune is a semi
    # join; three count tables come back as posting joins
    "stupid_backoff_score": ["Generate", "LeftSemi", "HashAggregate"],
    # Bloom decontamination: the eval-membership verify and the
    # bitset/size singletons all ride broadcasts; train grams meet
    # only ONE exchange (the final doc-keyed agg) after the codegen
    # probe forall
    "bloom_decontaminate": ["BroadcastHashJoin", "HashAggregate"],
    # Linear probe: the |classes|-row weight frame rides a broadcast
    # nested-loop (cross) join, the per-(vec,class) dot folds in
    # codegen, argmax is one rank window over integer margins
    "linear_probe_train": [
        "BroadcastNestedLoopJoin",
        "Window",
        "HashAggregate",
    ],
    # CART: per-level split search = keyed count agg + cumulative
    # window over the bins-bounded grid; split rows ride a broadcast
    # back onto the docs frame for routing
    "cart_quality_tree": ["Window", "BroadcastHashJoin", "HashAggregate"],
    # forest: same plan shapes with tree in every key — ensemble size
    # widens keys, not plan depth
    "random_forest_train": ["Window", "BroadcastHashJoin", "HashAggregate"],
    # k-NN eval: the broadcast query-side L2 expansion + the
    # vote/argmax rank window
    "knn_label_eval": ["BroadcastHashJoin", "Window", "HashAggregate"],
    # isolation forest: the tiny leaf-size table broadcasts onto the
    # checkpointed docs frame; outlier rank is a distributed top-k
    "isoforest_outliers": [
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
        "HashAggregate",
    ],
    # round-8: the production kNN composition — fixed query set via
    # TakeOrderedAndProject, ADC scan as a broadcast join, vote window
    "knn_adc_label_eval": [
        "BroadcastHashJoin",
        "TakeOrderedAndProject",
        "Window",
    ],
    # round-8: the n_cells∝N SemDeDup — same dataflow as the pinned
    # form (broadcast centroids, keyed aggregates)
    "semantic_dedup_scaled": ["BroadcastHashJoin", "HashAggregate"],
    # round-11 prefix doubling: per round, the (r, r@pos+step) pair is
    # a lead() window on the doc-keyed exchange, and the equality-class
    # id is a map-side-combined min-struct aggregate + one join back on
    # the same key (no range exchange, no broadcast offsets, no
    # single-task sort — audited un-checkpointed via OVERRIDES so the
    # round body is visible behind the per-round pair barrier)
    "suffix_repeat_profile": [
        "Generate",
        "hashpartitioning(doc_id",
        "hashpartitioning(_ra",
    ],
    # round-8: synchronous LPA — keyed join + count aggregate per
    # round (the argmax window sits behind the per-round checkpoint)
    "label_propagation_communities": ["HashAggregate"],
    # round-9: LPA labels joined back to the fact stream — the label
    # side is pre-reduced (|parts| rows) so AQE broadcasts it; the
    # profile is one keyed agg (+ the two-phase distinct expand)
    "community_rollup": ["BroadcastHashJoin", "HashAggregate"],
    # round-10: knng LPA labels × per-doc quality stats — N:1
    # enrichment join + two-level agg; the corpus-mean rides in as a
    # broadcast one-row frame (nested-loop on a 1-row build side)
    "community_text_profile": [
        "BroadcastNestedLoopJoin",
        "HashAggregate",
    ],
    # round-10: re-train trigger — the epoch rollup (frozen-codebook
    # broadcast + keyed agg) sits behind the trigger_surface
    # checkpoint; the VISIBLE plan is the baseline one-row frame
    # riding a broadcast nested-loop onto the epoch rows
    "pq_retrain_trigger": ["BroadcastNestedLoopJoin", "BroadcastExchange"],
}


def main() -> int:
    spark = get_spark("explain-audit", cpus=8)
    from convoy_spark.operators.scale import explain_str, normalize_plan
    from convoy_spark.queries import QUERIES

    # Queries that serve a per-session materialized shared frame
    # (queries/dedup.py::shared_lsh_pairs) would explain as a bare
    # checkpoint scan; audit the underlying pipeline plan instead —
    # that plan is what executes at build time and at scale.
    from convoy_spark.operators.dedup import minhash_lsh_neardup as _mlsh
    from convoy_spark.queries.dedup import NEARDUP_J
    from convoy_spark.tables import load_table

    from pyspark.sql import functions as F  # noqa: E402

    from convoy_spark.operators.graph import bipartite_order_part_edges

    def _pagerank_body(s, d):
        # one un-checkpointed iteration — the plan each iteration runs
        edges = bipartite_order_part_edges(load_table(s, d, "lineitem"))
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("dg"))
        ed = edges.join(deg, "src")
        ranks = deg.select(
            F.col("src").alias("id"), F.lit(1000000).cast("long").alias("m")
        )
        return (
            ed.join(ranks.withColumnRenamed("id", "_rid"),
                    ed["src"] == F.col("_rid"))
            .groupBy("dst")
            .agg(F.sum(F.expr("m div dg").cast("decimal(20,0)")).alias("_s"))
        )

    from convoy_spark.operators.heavyhitters import heavy_hitters as _hh

    from convoy_spark.operators.dedup import setsim_prefix_join as _ssim
    from convoy_spark.operators.dedup import sorted_neighborhood_pairs as _snm

    from convoy_spark.operators.suffix import suffix_window_ranks as _swr
    from convoy_spark.operators.suffix import token_positions as _tpos

    def _suffix_round_body(s, d):
        # one un-checkpointed doubling round: lead() window + class
        # aggregate + join back (the plan every round runs)
        return _swr(
            _tpos(load_table(s, d, "documents")), window=2, checkpoint=False
        )

    OVERRIDES = {
        "minhash_lsh_neardup": lambda s, d: _mlsh(
            load_table(s, d, "documents"), min_jaccard=NEARDUP_J
        ),
        # audited un-checkpointed so the shingle/sets pipeline is
        # visible behind the lineage barriers
        "setsim_prefix_join": lambda s, d: _ssim(
            load_table(s, d, "documents"), checkpoint=False
        ),
        "pagerank_scores": _pagerank_body,
        # audited un-checkpointed so the sketch stage is visible
        "heavy_hitters": lambda s, d: _hh(
            load_table(s, d, "documents"), checkpoint=False
        ),
        # audited un-checkpointed so range_rank's range exchange is
        # visible (the shipped form pins it behind a localCheckpoint —
        # round-6 ADVICE #5)
        "sorted_neighborhood_pairs": lambda s, d: _snm(
            load_table(s, d, "customer").select(
                F.col("c_name").alias("name")
            ),
            checkpoint=False,
        ),
        # one un-checkpointed prefix-doubling round — the plan every
        # round of suffix_window_ranks runs (range exchange visible)
        "suffix_repeat_profile": _suffix_round_body,
    }

    failures: list[str] = []
    sections: list[str] = []
    for name, musts in EXPECTATIONS.items():
        plan = normalize_plan(explain_str(OVERRIDES.get(name, QUERIES[name])(spark, SF_DIR)))
        checks = []
        for m in musts:
            ok = m in plan
            checks.append(f"- {'PASS' if ok else 'FAIL'}: plan contains `{m}`")
            if not ok:
                failures.append(f"{name}: missing `{m}`")
        sections.append(
            f"## {name}\n\n" + "\n".join(checks) + "\n\n```\n" + plan.strip() + "\n```\n"
        )

    header = (
        "# EXPLAIN audit\n\n"
        f"Formatted physical plans at `{SF_DIR}` with the properties asserted\n"
        "for 100 TB readiness: predicate pushdown (PushedFilters), column\n"
        "pruning (ReadSchema), broadcast selection, window-group-limit\n"
        "pushdown, whole-stage codegen. Regenerate: `python tools/explain_audit.py`.\n\n"
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write(header + "\n".join(sections))

    print(f"audited {len(EXPECTATIONS)} plans; {len(failures)} failures")
    for x in failures:
        print(" FAIL", x)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
