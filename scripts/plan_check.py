"""Physical-plan invariant checker — the ".explain and iterate" gate.

Asserts the properties the engine's scale story depends on, so a regression
in plan shape fails loudly rather than silently costing a shuffle at 100 TB:

- EVERY registered query (202+): no CartesianProduct, no row-at-a-time
  Python (BatchEvalPython), no cogrouped-Pandas nodes, and no
  BroadcastNestedLoopJoin outside the explicit NLJ_ALLOWED set (exact
  baselines + bounded 1-row combine crossJoins);
- the vector-quantizer queries' nested loops are unconditioned codebook-row
  crossJoins (QUANTIZER_NLJ_CONDITIONS), apart from the recall queries'
  exact self-excluding baseline;
- every query additionally carries a RULES shape rule — the script fails
  if one is missing; every top_k rank keeps Spark's native two-stage
  shape (a partial WindowGroupLimit per group, TakeOrderedAndProject over
  the whole frame);
- a window with no partition key (one task sorts its whole input) sits
  directly on a TakeOrderedAndProject (its input is at most k rows) or is
  in BOUNDED_GLOBAL_WINDOW, which names the bound on that window's input;
- parquet scans carry PushedFilters + pruned ReadSchema where expected;
- dimension joins broadcast (revenue_by_nation, knn_cosine, repair_coalesce);
- the extraction pipeline has exactly one Exchange (the per-conversation
  regroup) — no pre-shuffle before the map stage — and no regexp_replace:
  its strips are btrims over the two ends of each text (py_strip), never
  an anchored whitespace regex that the JVM tries at every whitespace run.

Usage: python scripts/plan_check.py [sf_dir]
"""
from __future__ import annotations

import json
import re
import sys

sys.path.insert(0, ".")

FORBIDDEN_EVERYWHERE = ["CartesianProduct"]
PIPELINE_FORBIDDEN = FORBIDDEN_EVERYWHERE + ["regexp_replace"]

# query -> (must_contain regexes, must_not_contain regexes)
RULES = {
    "pricing_summary": ([r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate",
                         r"ReadSchema: [^\n]*l_returnflag"], []),
    "revenue_by_nation": ([r"BroadcastHashJoin"], []),
    # Q3 shape: both fact-side date predicates must reach the scans and
    # the filtered customer side must broadcast
    "shipping_priority": ([r"BroadcastHashJoin",
                           r"PushedFilters: \[.*o_orderdate",
                           r"PushedFilters: \[.*l_shipdate"], []),
    # knn brute force is intentionally a broadcast nested-loop: the query
    # side is 10 rows, and every candidate must be scored against each.
    "knn_cosine": ([r"BroadcastNestedLoopJoin"], []),
    # margin mining's exact baseline broadcasts the source shard over the
    # target stream (same intentional BNLJ as knn; the scale path swaps in
    # the trained-IVF candidate join)
    "margin_mining": ([r"BroadcastNestedLoopJoin"], []),
    "ann_ivf_cosine": ([r"BroadcastHashJoin"], [r"BroadcastNestedLoopJoin"]),
    "repair_coalesce": ([r"BroadcastHashJoin.*LeftOuter|LeftOuter.*BroadcastHashJoin"], []),
    "dedup_exact": ([r"HashAggregate"], [r"SortMergeJoin"]),
    "dedup_minhash_lsh": ([], [r"SortMergeJoin", r"BroadcastHashJoin"]),
    "token_count": ([], [r"Exchange", r"BatchEvalPython", r"ArrowEvalPython"]),
    "normalize_text": ([], [r"Exchange", r"ArrowEvalPython"]),
    # the range predicate must ride an equi-join on (user_id, bucket) — an
    # NLJ here means the binning fell out of the join keys
    "range_join_binned": ([r"Join"], [r"BroadcastNestedLoopJoin"]),
    "length_quantiles": ([], [r"BroadcastNestedLoopJoin", r"ArrowEvalPython"]),
    # the cascade is a pure map: scan -> filter -> ONE Arrow UDF, no shuffle
    "lattice_stream_cascade": ([r"ArrowEvalPython"], [r"Exchange"]),
    "token_windows": ([], [r"Exchange", r"ArrowEvalPython"]),
    # pure per-row transforms: a shuffle or Python node appearing here
    # means the map decomposed wrongly
    "fim_transform": ([], [r"Exchange", r"ArrowEvalPython"]),
    "unicode_anomalies": ([], [r"Exchange", r"ArrowEvalPython"]),
    # round-3 curation ops: thresholds/offsets must ride broadcast joins;
    # the repetition rollup must stay pure hash aggregation (no windows)
    "mixture_resample": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    "repetition_filters": ([], [r"\bWindow\b", r"ArrowEvalPython"]),
    "token_packing": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    "sequence_manifest": ([r"BroadcastHashJoin"], [r"SortMergeJoin"]),
    # epoch shuffle: bucket offsets ride a broadcast join; the per-bucket
    # rank must never fall back to a sort-merge join or a Python stage
    "sequence_shuffle": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"ArrowEvalPython"]),
    "paragraph_dedup": ([], [r"ArrowEvalPython"]),
    # the trigram model and the bench shingle set are bounded -> broadcast
    "lm_fluency": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"ArrowEvalPython"]),
    "decontaminate_spans": ([r"BroadcastHashJoin"], [r"ArrowEvalPython"]),
    # CDC is a per-row map + digest-keyed aggregation: no windows, no Python
    "cdc_chunk_dedup": ([], [r"\bWindow\b", r"ArrowEvalPython"]),
    # host stats are bounded by distinct hosts -> broadcast back; the keep
    # decision is a pure integer map (no windows, no Python)
    "url_host_filter": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"\bWindow\b", r"ArrowEvalPython"]),
    # DSIR: bucket weights are DSIR_BUCKETS-bounded -> broadcast onto the
    # gram stream; selection is windowless integer arithmetic
    "dsir_select": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"\bWindow\b", r"ArrowEvalPython"]),
    # PQ encode is a pure map after the fit (1-row broadcast codebook);
    # ADC recall must keep the broadcast LUT join (its shortlist is a top_k)
    "pq_codes": ([], [r"SortMergeJoin", r"\bWindow\b", r"ArrowEvalPython"]),
    "pq_adc_recall": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"ArrowEvalPython"]),
    "ann_ivfpq_recall": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"ArrowEvalPython"]),
    # train-once/serve-many: the serve path must keep the IVF-PQ shape —
    # broadcast LUT equi-join + top_k shortlist — with model/code inputs
    # read from the committed snapshot (a parquet scan, no refit in the
    # served plan)
    "ann_index_query": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"ArrowEvalPython"]),
    # the build inventory is committed-snapshot scans + hash aggregates
    "ann_index_build": ([r"HashAggregate"], [r"SortMergeJoin", r"ArrowEvalPython", r"\bWindow\b"]),
    # composed pair family: ONE fused linear plan (tagged bucket union ->
    # cap/marker explode -> pair count -> per-pair pivot -> conditional
    # aggregates) — zero joins of any kind
    "shingle_pair_suite": ([r"HashAggregate"],
                           [r"SortMergeJoin", r"ArrowEvalPython",
                            r"NestedLoopJoin", r"BroadcastHashJoin"]),
    # sketches: the HLL register frame is a pure two-level hash aggregate
    # (no windows, no Python); the Bloom word table (<= 64 rows) must ride
    # a broadcast join on the probe side
    "hll_distinct": ([r"HashAggregate"], [r"\bWindow\b", r"ArrowEvalPython", r"SortMergeJoin"]),
    # pagerank: every iteration is equi-keyed joins + hash aggregation;
    # a window or NLJ in the plan means the rank update lost its keys
    "pagerank": ([], [r"\bWindow\b", r"ArrowEvalPython", r"BroadcastNestedLoopJoin"]),
    # asof: one tagged union + one per-key window pass — a second Window
    # or any join means the construction degraded to a range search
    "asof_join_events": ([r"\bWindow\b"], [r"Join", r"ArrowEvalPython"]),
    # rollup: two pure hash aggregations (partial -> merge), nothing else
    "rollup_two_level": ([r"HashAggregate"], [r"\bWindow\b", r"Join", r"ArrowEvalPython"]),
    # logreg: the 65-row weight frame must broadcast onto the features;
    # the gradient/logit path is pure keyed aggregation. (The intentional
    # 1-row metrics crossJoin IS a broadcast NLJ, so no NLJ ban here.)
    "logreg_quality": ([r"BroadcastHashJoin"], [r"\bWindow\b", r"ArrowEvalPython"]),
    "bloom_semi_join": ([r"BroadcastHashJoin"], [r"\bWindow\b", r"ArrowEvalPython", r"BroadcastNestedLoopJoin"]),
    # count-min: the d*w counter matrix is constant-size -> broadcast probe
    "cm_sketch_words": ([r"BroadcastHashJoin"], [r"\bWindow\b", r"ArrowEvalPython", r"SortMergeJoin"]),
    "hll_merge": ([r"HashAggregate"], [r"\bWindow\b", r"ArrowEvalPython", r"SortMergeJoin"]),
    # zorder: pure map (the Morton code) + per-file hash aggregates; the
    # verdicts combine via bounded broadcast cross joins
    "zorder_skipping": ([r"HashAggregate"], [r"\bWindow\b", r"ArrowEvalPython", r"SortMergeJoin"]),
    # triangles: degree-oriented wedge join — equi-keyed throughout
    "triangle_count": ([], [r"\bWindow\b", r"ArrowEvalPython"]),
    # ppjoin: candidate join is keyed on PREFIX tokens; the only window is
    # the doc-keyed prefix rank (bounded by doc length) — never an NLJ
    "ppjoin_similar": ([r"\bWindow\b"], [r"ArrowEvalPython", r"BroadcastNestedLoopJoin"]),
    # scd2: per-user windows only, no joins at all
    "scd2_user_tiers": ([r"\bWindow\b"], [r"Join", r"ArrowEvalPython"]),
    # purge: the deletion list must broadcast (anti/semi) — the big side
    # never shuffles
    "purge_users": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"ArrowEvalPython", r"\bWindow\b"]),
    # OLAP surface: pivot is ONE hash aggregate (explicit value list — no
    # inference scan, no join); rollup levels expand inside one aggregate
    # over broadcast dim joins; ntile/range windows are user-partitioned
    # (never a global-order window) and join-free
    "pivot_weekday": ([r"HashAggregate"], [r"Join", r"\bWindow\b", r"ArrowEvalPython"]),
    "rollup_region_nation": ([r"BroadcastHashJoin", r"Expand"], [r"SortMergeJoin", r"\bWindow\b", r"ArrowEvalPython"]),
    "user_value_quartiles": ([r"\bWindow\b"], [r"Join", r"ArrowEvalPython"]),
    "rolling_week_spend": ([r"\bWindow\b"], [r"Join", r"ArrowEvalPython"]),
    # melt/grouping-sets ride one Expand + one aggregate, join-free;
    # session windows are user-partitioned (never a global sort)
    "unpivot_weekday": ([r"Expand"], [r"Join", r"\bWindow\b", r"ArrowEvalPython"]),
    "grouping_sets_activity": ([r"Expand"], [r"Join", r"\bWindow\b", r"ArrowEvalPython"]),
    "session_window_agg": ([], [r"Join", r"ArrowEvalPython"]),
    "cube_type_weekday": ([r"Expand"], [r"Join", r"\bWindow\b", r"ArrowEvalPython"]),
    # moments side is one row per type -> must broadcast; both aggregates
    # hash-based, no windows, no Python
    "outlier_zscore": ([r"BroadcastHashJoin"], [r"SortMergeJoin", r"\bWindow\b", r"ArrowEvalPython"]),
    # transition totals broadcast back onto the pair counts
    "markov_transitions": ([r"BroadcastHashJoin", r"\bWindow\b"], [r"SortMergeJoin", r"ArrowEvalPython"]),
    # the spine/fill window runs over the calendar-bounded spine, never
    # the raw corpus; no Python anywhere
    "hourly_spine_ffill": ([r"\bWindow\b"], [r"ArrowEvalPython"]),
    # trigram mining: per-user lag windows + one hash aggregate, join-free
    "sequential_patterns": ([r"\bWindow\b", r"HashAggregate"],
                            [r"Join", r"ArrowEvalPython"]),
    # hard negatives: the label filter must RIDE the bucket equi-join —
    # an NLJ here means the predicate displaced the equi-key
    "hard_negatives": ([r"BroadcastHashJoin"],
                       [r"BroadcastNestedLoopJoin", r"SortMergeJoin",
                        r"ArrowEvalPython"]),
    # triplets: same candidate shape as hard_negatives
    "training_triplets": ([r"BroadcastHashJoin"],
                          [r"BroadcastNestedLoopJoin", r"SortMergeJoin",
                           r"ArrowEvalPython"]),
    # fusion operates on the two bounded top-K lists; the corpus-sized
    # work stays inside each system (their own top_k ranks)
    "rrf_fusion": ([], [r"SortMergeJoin", r"ArrowEvalPython"]),
    # per-user window + hash aggregate, join-free (the sessionize layout)
    "time_weighted_avg": ([r"\bWindow\b", r"HashAggregate"],
                          [r"Join", r"ArrowEvalPython"]),
    "purchase_attribution": ([r"\bWindow\b", r"HashAggregate"],
                             [r"Join", r"ArrowEvalPython"]),
    # step chaining is user-keyed equi-joins + hash aggregates; the only
    # NLJ is the intentional 1-row count combine (logreg pattern)
    "funnel_steps": ([r"HashAggregate"],
                     [r"\bWindow\b", r"ArrowEvalPython"]),
    # df joins back on the TERM key; the per-doc rank window is bounded
    # by a doc's distinct terms. (The intentional 1-row n_docs crossJoin
    # IS a broadcast NLJ — the logreg pattern — so no NLJ ban here.)
    "doc_keywords": ([r"\bWindow\b"], [r"ArrowEvalPython"]),
    # the K-row result list must broadcast onto the documents scan
    "search_snippets": ([r"BroadcastHashJoin"],
                        [r"SortMergeJoin", r"ArrowEvalPython"]),
    # pair generation is a shifted-slice MAP (never a positional
    # self-join); the global top-K is a top_k
    "cooccurrence_pmi": ([], [r"ArrowEvalPython"]),
    # SemDeDup: the block-count and dropped-id joins are keyed broadcasts;
    # pair generation is groupBy+collect_list (no self-join, no window)
    "semantic_dedup": ([r"BroadcastHashJoin"],
                       [r"SortMergeJoin", r"\bWindow\b", r"ArrowEvalPython"]),
    # anchor aggregation: the rank window runs over the PRE-AGGREGATED
    # (target, anchor) counts. (The 1-row n_docs crossJoin IS a broadcast
    # NLJ — the logreg pattern — so no NLJ ban.)
    "anchor_text_agg": ([r"\bWindow\b", r"HashAggregate"],
                        [r"ArrowEvalPython"]),
    # CDC: ONE full-outer key-equi join + a digest-compare map
    "snapshot_diff": ([r"FullOuter"],
                      [r"\bWindow\b", r"ArrowEvalPython",
                       r"BroadcastNestedLoopJoin"]),
    # compaction: per-partition running-sum window + one aggregate, no joins
    "compaction_plan": ([r"\bWindow\b", r"HashAggregate"],
                        [r"Join", r"ArrowEvalPython"]),
    # k-anonymity: one hash aggregate over the quasi-id tuple, nothing else
    "k_anonymity": ([r"HashAggregate"],
                    [r"Join", r"\bWindow\b", r"ArrowEvalPython"]),
    # lift: keyed counts + term-keyed join-back; source totals broadcast.
    # (The 1-row corpus-total crossJoin IS a broadcast NLJ — logreg pattern.)
    "source_term_lift": ([r"HashAggregate", r"BroadcastHashJoin"],
                         [r"\bWindow\b", r"ArrowEvalPython"]),
    # Deequ pair: one aggregate pass + broadcast anti-join RI check; the
    # 1-row totals crossJoins are broadcast NLJs (allowed, logreg pattern).
    "expectation_suite": ([r"HashAggregate", r"BroadcastHashJoin"],
                          [r"SortMergeJoin", r"ArrowEvalPython"]),
    # RFM: 9 boundary values broadcast back; scoring is a comparison map.
    "rfm_features": ([r"BroadcastHashJoin"],
                     [r"SortMergeJoin", r"ArrowEvalPython"]),
    # backfill planner: spine anti-join + gap-run window, dims broadcast.
    "coverage_gaps": ([r"BroadcastHashJoin", r"\bWindow\b"],
                      [r"SortMergeJoin", r"ArrowEvalPython"]),
    # planner arithmetic: count frames only — the fact tables never meet
    # row-to-row (no SMJ pinned: at scale the key-frame join MAY sort-merge,
    # which is correct; what matters is aggregates-before-join).
    "join_cardinality_estimate": ([r"HashAggregate"], [r"ArrowEvalPython"]),
    "ab_uplift": ([r"HashAggregate"],
                  [r"SortMergeJoin", r"ArrowEvalPython"]),
    # --- round-4 individual rules (late-round-3 operator batch) ---------
    # post-rework shape: per-side ranks + ONE full-outer rank-match join +
    # one hash aggregate, zero Python nodes (the cogroup kernel is a test
    # twin, not the registered query)
    "cogroup_reconcile": ([r"FullOuter", r"\bWindow\b", r"HashAggregate"],
                          [r"ArrowEvalPython", r"FlatMapCoGroupsInPandas",
                           r"BatchEvalPython"]),
    # the custom Python Data Source: the level equality must be PUSHED
    # into the reader (PushedFilters on the BatchScan) and must NOT appear
    # in the residual JVM Filter's condition
    "custom_source_scan": ([r"PushedFilters: \[EqualTo\(level,error\)\]"],
                           [r"level#\d+ = error"]),
    # stats-gated strategy pick: at gate scale the decision must collapse
    # to broadcast (its stat gates are eager 1-row collects, not NLJs)
    "adaptive_join": ([r"BroadcastHashJoin"],
                      [r"BroadcastNestedLoopJoin", r"SortMergeJoin",
                       r"ArrowEvalPython"]),
    # wide-stats profile: one Expand-based pass, never a per-column loop
    # of joins
    "column_profile": ([r"Expand"], [r"Join", r"ArrowEvalPython"]),
    # exact-kNN baseline vs ANN shortlist: the exact side's broadcast NLJ
    # is the intentional baseline (the knn_cosine pattern)
    "ann_recall": ([r"BroadcastNestedLoopJoin"], [r"ArrowEvalPython"]),
    # iterative peel: keyed joins + hash aggregates; the NLJs are 1-row
    # convergence-count combines (logreg pattern)
    "kcore_peel": ([r"HashAggregate"],
                   [r"SortMergeJoin", r"ArrowEvalPython"]),
    # largest-remainder apportionment: windows + aggregates; 1-row totals
    # ride broadcast NLJs (logreg pattern)
    "budget_apportion": ([r"\bWindow\b", r"HashAggregate"],
                         [r"SortMergeJoin", r"ArrowEvalPython"]),
    "session_depth_histogram": ([r"\bWindow\b", r"HashAggregate"],
                                [r"SortMergeJoin", r"ArrowEvalPython"]),
    "survival_table": ([r"BroadcastHashJoin"],
                       [r"SortMergeJoin", r"ArrowEvalPython"]),
    "temperature_mixture": ([r"BroadcastHashJoin"],
                            [r"SortMergeJoin", r"ArrowEvalPython"]),
    "bitext_clean": ([r"BroadcastHashJoin"],
                     [r"SortMergeJoin", r"ArrowEvalPython"]),
    # assignment: the N_CENTROIDS seed-centroid rows broadcast as DATA into
    # a crossJoin (never a per-centroid plan literal forest) and the
    # per-vector argmax is a vec_id window
    "kmeans_assign": ([r"\bWindow\b"],
                      [r"SortMergeJoin", r"ArrowEvalPython"]),
    "dedup_pair_audit": ([r"BroadcastHashJoin"],
                         [r"SortMergeJoin", r"ArrowEvalPython"]),
    # per-page-group fold kernel IS the design (bounded group = one doc's
    # tables); anything join-shaped here would be a regression
    "table_merge_fold": ([r"FlatMapGroupsInPandas"],
                         [r"BroadcastNestedLoopJoin", r"SortMergeJoin"]),
    "simhash_buckets": ([r"ArrowEvalPython", r"HashAggregate"], [r"Join"]),
    "markdown_parse": ([r"ArrowEvalPython", r"HashAggregate"], [r"Join"]),
    # binary decode stays in MapInPandas; the bucket join broadcasts
    "image_ahash_dedup": ([r"MapInPandas", r"BroadcastHashJoin"],
                          [r"SortMergeJoin", r"BatchEvalPython"]),
    "minhash_signatures": ([], [r"Join", r"ArrowEvalPython"]),
    # cells and probes come from the codebook-row crossJoin (its NLJ is
    # pinned unconditioned by QUANTIZER_NLJ_CONDITIONS); candidates must
    # stay a broadcast equi-join on the cell id
    "ann_ivf_trained": ([r"BroadcastHashJoin"],
                        [r"SortMergeJoin", r"ShuffledHashJoin",
                         r"ArrowEvalPython"]),
    # final assignment = the codebook-row crossJoin + one hash aggregate;
    # the trained-centroid components join back onto the <= K cluster rows
    # by a broadcast; no shuffle join, no window
    "kmeans_fit": ([r"HashAggregate", r"BroadcastNestedLoopJoin"],
                   [r"SortMergeJoin", r"ShuffledHashJoin", r"\bWindow\b",
                    r"ArrowEvalPython"]),
    # round-4 ops: winnowing = per-doc bounded window + keyed join-backs;
    # shard_assign = pure map + one agg + a <=8-row share window
    "winnow_fingerprints": ([r"\bWindow\b", r"HashAggregate"],
                            [r"ArrowEvalPython",
                             r"BroadcastNestedLoopJoin"]),
    # simhash kernel -> banded buckets (window bucket-size for hot-bucket
    # sub-banding) -> in-bucket pair gen: the Arrow node IS the hash; a
    # join would mean either pair gen degraded to self-join or the hot-set
    # detection re-evaluating the Arrow subtree on a second side
    "simhash_hamming_pairs": ([r"ArrowEvalPython", r"HashAggregate",
                               r"\bWindow\b"],
                              [r"Join"]),
    "shard_assign": ([r"HashAggregate", r"\bWindow\b"],
                     [r"Join", r"ArrowEvalPython"]),
    # prefix rules equi-join the broadcast rule table on the exploded
    # directory prefixes — a prefix-predicate NLJ here is the regression
    # containment rides the same capped shingle buckets as ngram_jaccard —
    # joins would mean the in-bucket pair generation degraded to self-join
    "containment_pairs": ([r"HashAggregate"],
                          [r"Join", r"ArrowEvalPython", r"\bWindow\b"]),
    # (struct-max winner -> SortAggregate, so pin "Aggregate" generically)
    "robots_rules_filter": ([r"BroadcastHashJoin", r"Aggregate"],
                            [r"BroadcastNestedLoopJoin", r"SortMergeJoin",
                             r"ArrowEvalPython"]),
}

# --- Template rule groups (round 4): every registered query gets a shape
# rule. Groups encode the plan archetype; names were audited against the
# sf0.01 plans when the group was assigned.

# pure expression maps / bounded-model outputs: no shuffle, no Python
_PURE_EXPR_MAP = [
    "base64_roundtrip", "blocklist_filter", "detector_flags", "fingerprint",
    "gopher_quality", "page_header", "pii_redact", "quality_features",
    "safe_filename", "sampling_filter", "span_corruption", "workflow_router",
    "bpe_fit", "bradley_terry", "luhn_card_audit",
]
# one Arrow kernel, map-only (no shuffle)
_ARROW_MAP = ["bidi_display", "extract_numbers_roundtrip", "language_id",
              "parse_number_csv", "image_repair"]
# mapInPandas decode kernels, map-only (no shuffle)
_PANDAS_MAP = ["frame_sample", "multimodal_features", "wav_payload_stats"]
# keyed hash aggregation only: no joins, no windows, no Python
_AGG_ONLY = [
    "action_trie_profile", "column_inference", "corpus_merge",
    "corpus_report", "cusum_changepoint", "dedup_ngram_jaccard",
    "dispersion_index", "gate_attrition", "groupwise_trend",
    "hashed_tf_vectors", "holdout_split", "interval_overlap_join",
    "json_extract_profile", "markdown_render",
    "ordered_concat", "page_assembly", "partition_digest",
    "status_breakdown", "status_rollup", "tumbling_window",
    "validation_cost", "conv_window_pack", "kappa_agreement",
]
# per-key window ops: join-free, no Python
_KEYED_WINDOW = [
    "adjacent_dup_collapse", "asof_prev_signup", "balance_classify",
    "chunk_split", "daily_value_bands", "frequency_map", "lateness_audit",
    "lead_boundary", "outline_filter", "outline_sections",
    "position_attribution", "rate_spike_detect", "scd2_asof",
    "sequence_grammar", "sessionize", "source_quantile_norm",
    "table_merge_sessions", "token_budget_select", "tool_latency_quantiles",
    "tool_retry_stats", "type_share_drift", "length_bucket_batches",
    "context_truncate",
]
# broadcast-joined ops: the dim/model side must broadcast — a sort-merge
# or nested-loop fallback is a scale regression; no Python anywhere
_BROADCAST_OPS = [
    "bpe_encode", "classifier_calibration", "cohort_retention",
    "contamination_check", "dedup_embedding_cosine", "dedup_incremental",
    "funnel_conversion", "hist_percentiles", "jaccard_pairs",
    "join_view_delta", "levenshtein_pairs", "loss_mask_spans",
    "minhash_jaccard_estimate", "ngram_novelty", "number_freq_cosine",
    "preference_pairs", "prefix_dedup", "record_linkage",
    "salted_join_skew", "seasonal_anomaly", "seasonality_profile",
    "section_assembly", "similarity_dispatch", "source_overlap_matrix",
    "spatial_join", "split_leakage", "substring_dup_spans",
    "temporal_dim_join", "token_packing_incremental", "tokenizer_fertility",
    "url_canonicalize",
]
# keyed equi-join ops where a sort-merge join is the CORRECT scale shape
# (both sides corpus-sized); pin only no-NLJ / no-Python
_KEYED_EQUI = ["priority_merge", "rollup_incremental", "dedup_components",
               "dedup_components_incremental",
               "dedup_retention", "cluster_holdout_split"]

for _n in _PURE_EXPR_MAP:
    RULES[_n] = ([], [r"Exchange", r"ArrowEvalPython"])
for _n in _ARROW_MAP:
    RULES[_n] = ([r"ArrowEvalPython"], [r"Exchange"])
for _n in _PANDAS_MAP:
    RULES[_n] = ([r"MapInPandas"], [r"Exchange"])
for _n in _AGG_ONLY:
    RULES[_n] = ([r"HashAggregate"],
                 [r"Join", r"\bWindow\b", r"ArrowEvalPython"])
for _n in _KEYED_WINDOW:
    RULES[_n] = ([r"\bWindow\b"], [r"Join", r"ArrowEvalPython"])
for _n in _BROADCAST_OPS:
    RULES[_n] = ([r"BroadcastHashJoin"],
                 [r"SortMergeJoin", r"BroadcastNestedLoopJoin",
                  r"ArrowEvalPython"])
for _n in _KEYED_EQUI:
    RULES[_n] = ([], [r"BroadcastNestedLoopJoin", r"ArrowEvalPython"])

# Queries where a BroadcastNestedLoopJoin is INTENTIONAL: exact baselines
# (knn_cosine, margin_mining, ann_recall) or bounded 1-row combine
# crossJoins (the logreg pattern). Everywhere else an NLJ is a scale bug
# and fails the generic sweep.
NLJ_ALLOWED = {
    "knn_cosine", "margin_mining", "ann_recall", "logreg_quality",
    "doc_keywords", "anchor_text_agg", "source_term_lift",
    "expectation_suite", "funnel_steps", "join_cardinality_estimate",
    "bitext_clean", "budget_apportion", "dedup_pair_audit", "kcore_peel",
    "kmeans_assign", "session_depth_histogram", "survival_table",
    "temperature_mixture",
    # broadcast DATA-row crossJoins (the 1-row packed codebook of
    # similarity_search._quantize; plan stays O(1) in model size):
    "kmeans_fit", "ann_ivf_trained", "cluster_top_terms", "semantic_dedup",
    "pq_codes", "pq_adc_recall", "ann_ivfpq_recall", "ann_index_query",
    # 1-row corpus-stat / totals / boundary combines (logreg pattern),
    # audited sound in VERDICT r03's collect/NLJ sweep:
    "bm25_top_k", "cooccurrence_pmi", "coverage_gaps",
    "decayed_leaderboard", "dsir_select", "hll_merge",
    "join_key_skew_profile", "mixture_resample", "purge_users",
    "rfm_features", "search_snippets", "triangle_count",
    "url_host_filter", "zorder_skipping",
    # bounded top-K × top-K fusion lists (K=20 per system):
    "rrf_fusion",
}

# The vector-quantizer queries: their codebook-row crossJoins are the only
# nested loops allowed, and such a join has no condition. A conditioned NLJ
# is a candidate or assignment join that lost its equi-key (or an argmin
# copied into a join condition), which would loop every vector over every
# broadcast row. The recall queries also carry their exact baseline, the
# query set against the whole corpus minus the self-match. Query -> regex
# that every "Join condition:" of a BroadcastNestedLoopJoin must match.
_SELF_EXCLUSION = r"None|NOT \(vec_id#\d+L = q_id#\d+L\)"
QUANTIZER_NLJ_CONDITIONS = {
    "kmeans_fit": "None", "ann_ivf_trained": "None",
    "cluster_top_terms": "None", "semantic_dedup": "None",
    "pq_codes": "None", "ann_index_build": "None",
    "pq_adc_recall": _SELF_EXCLUSION, "ann_ivfpq_recall": _SELF_EXCLUSION,
    "ann_index_query": _SELF_EXCLUSION,
}


def nlj_condition_failures(name: str, plan: str) -> list:
    """Conditions of the BroadcastNestedLoopJoins in a formatted plan that
    QUANTIZER_NLJ_CONDITIONS does not allow for this query."""
    allowed = QUANTIZER_NLJ_CONDITIONS.get(name)
    if allowed is None:
        return []
    conds = re.findall(
        r"\(\d+\) BroadcastNestedLoopJoin[^\n]*\n(?:.*\n)*?"
        r"Join condition: (.*)",
        plan,
    )
    return [
        f"{name}: BroadcastNestedLoopJoin condition {c[:120]!r} is not "
        f"{allowed!r}"
        for c in conds if not re.fullmatch(allowed, c)
    ]


# Applied to EVERY registered query: no cartesian products, no
# row-at-a-time Python UDFs, no cogrouped-Pandas nodes (the one cogroup
# kernel is a test twin, not a registered query).
GENERIC_FORBIDDEN = [r"CartesianProduct", r"BatchEvalPython",
                     r"FlatMapCoGroupsInPandas"]

# Ranked top-Ks, all on functions.expressions.top_k: one row_number() <= k
# window that Spark's InferWindowGroupLimit plans in two stages. A grouped
# rank gets a partial WindowGroupLimit before the Exchange (the pattern
# matches its formatted Arguments line), so no group's whole input reaches
# one task; a whole-frame rank becomes TakeOrderedAndProject. The rule
# stops firing when k exceeds spark.sql.optimizer.windowGroupLimitThreshold
# or the window spec carries a second function, and these patterns catch it.
GROUPED_TOP_K = [
    "vocab_top_ngrams", "inverted_index", "stratified_sample",
    "cluster_top_terms", "pq_adc_recall", "ann_ivfpq_recall",
    "ann_index_query", "seasonal_anomaly", "anchor_text_agg",
    "doc_keywords", "knn_cosine", "ann_ivf_cosine", "ann_ivf_trained",
    "ann_recall", "hard_negatives", "frequency_map",
]
WHOLE_FRAME_TOP_K = [
    "bm25_top_k", "shipping_priority", "join_key_skew_profile",
    "cooccurrence_pmi", "decayed_leaderboard", "search_snippets",
    "rrf_fusion",
]
for _n in GROUPED_TOP_K:
    RULES.setdefault(_n, ([], []))[0].append(r"row_number\(\), \d+, Partial")
for _n in WHOLE_FRAME_TOP_K:
    RULES.setdefault(_n, ([], []))[0].append(r"TakeOrderedAndProject")
# outline_sections' input is already partitioned by doc (the total_pages
# window), so its rank plans only the Final limit.
RULES["outline_sections"][0].append(r"WindowGroupLimit")
# the skyline distributes like top-K, but Spark cannot limit its
# running-max window: the salted local fronts must stay in the plan
RULES["pareto_front"] = ([r"pmod"], [])

# Queries allowed a window with no partition key that does not sit on a
# TakeOrderedAndProject, each with the bound that keeps that window's
# single task small.
BOUNDED_GLOBAL_WINDOW = {
    "budget_apportion": "one row per source",
    "loss_mask_spans": "token_packing's offsets: one row per PACK_BUCKET"
                       " doc_id range",
    "pareto_front": "the union of the PARETO_SALT local skylines",
    "sequence_manifest": "token_packing's offsets: one row per PACK_BUCKET"
                         " doc_id range",
    "sequence_shuffle": "token_packing's offsets (one row per PACK_BUCKET"
                        " doc_id range) and <= 256 hex-prefix bucket rows",
    "shard_assign": "<= HRW_SHARDS rows",
    "survival_table": "one row per day of the calendar-bounded day grid",
    "token_packing": "one row per PACK_BUCKET doc_id range",
    "token_packing_incremental": "one row per PACK_BUCKET doc_id range of"
                                 " the new batch",
    "type_share_drift": "one row per day bucket",
}


def plan_of(df) -> str:
    """Physical plan, formatted (for regex checks on node details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_tree(df) -> str:
    """Physical plan, simple tree (each node appears exactly once — use for
    node counting; the formatted mode lists every node twice)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def unbounded_global_windows(df) -> int:
    """Number of WindowExec nodes with an empty partitionSpec (a foldable
    key such as lit(0) is already optimized away there) whose child is not
    a TakeOrderedAndProjectExec, the one child that caps the window's
    input at k rows. The JSON lists the nodes in pre-order, so a window's
    only child is the next node."""
    nodes = json.loads(df._jdf.queryExecution().sparkPlan().toJSON())
    return sum(
        1 for n, child in zip(nodes, nodes[1:])
        if n.get("class", "").endswith(".WindowExec")
        and not n.get("partitionSpec")
        and not child["class"].endswith(".TakeOrderedAndProjectExec")
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    from pdf_extractor_spark.plans.pipeline import run_pipeline
    from pdf_extractor_spark.session import get_spark
    from pdf_extractor_spark.sources.transcripts import transcripts_df

    spark = get_spark(app_name="plan-check", master="local[4]",
                      shuffle_partitions=8)
    failures = []
    queries = entry_mod.queries()

    # Coverage audit: every registered query must carry a RULES entry on
    # top of the generic sweep.
    uncovered = sorted(set(queries) - set(RULES))
    if uncovered:
        failures.append(f"queries with no plan rule: {uncovered}")
    stale = sorted(set(BOUNDED_GLOBAL_WINDOW) - set(queries))
    if stale:
        failures.append(f"BOUNDED_GLOBAL_WINDOW names no query: {stale}")

    for name in sorted(queries):
        df = queries[name](spark, sf_dir)
        plan = plan_of(df)
        # generic sweep: applies to EVERY query
        for pat in FORBIDDEN_EVERYWHERE + GENERIC_FORBIDDEN:
            if re.search(pat, plan, re.DOTALL):
                failures.append(f"{name}: forbidden pattern {pat!r} in plan")
        if name not in NLJ_ALLOWED and re.search(
            r"BroadcastNestedLoopJoin", plan
        ):
            failures.append(
                f"{name}: BroadcastNestedLoopJoin present but not in "
                f"NLJ_ALLOWED (unbounded nested loop at scale?)"
            )
        failures.extend(nlj_condition_failures(name, plan))
        # specific shape rules
        if name in RULES:
            must, must_not = RULES[name]
            for pat in must_not:
                if re.search(pat, plan, re.DOTALL):
                    failures.append(
                        f"{name}: forbidden pattern {pat!r} in plan")
            for pat in must:
                if not re.search(pat, plan, re.DOTALL):
                    failures.append(
                        f"{name}: required pattern {pat!r} missing")
        n_unbounded = unbounded_global_windows(df)
        if n_unbounded and name not in BOUNDED_GLOBAL_WINDOW:
            failures.append(
                f"{name}: {n_unbounded} Window(s) with no partition key and"
                f" no TakeOrderedAndProject under them — one task sorts the"
                f" whole input (add a key, rank with top_k, or name the bound"
                f" in BOUNDED_GLOBAL_WINDOW)"
            )
        if not n_unbounded and name in BOUNDED_GLOBAL_WINDOW:
            failures.append(
                f"{name}: listed in BOUNDED_GLOBAL_WINDOW but has no"
                f" partition-less Window outside a TakeOrderedAndProject"
            )
        print(f"checked {name}")

    # Pipeline shape: exactly one Exchange (assembly regroup), one Arrow UDF
    # node (the kernel is evaluated once however many columns reference it),
    # scan-native partitioning before the map. Input comes from parquet so
    # the generator's own repartition does not appear in the plan.
    corpus = "/tmp/plan_check_corpus"
    transcripts_df(spark, 8, seed=1).write.mode("overwrite").parquet(corpus)
    pipe_plan = plan_tree(run_pipeline(spark.read.parquet(corpus)))
    n_exchange = len(re.findall(r"\bExchange\b", pipe_plan))
    n_arrow = len(re.findall(r"ArrowEvalPython", pipe_plan))
    if n_exchange != 1:
        failures.append(f"pipeline: expected 1 Exchange, found {n_exchange}")
    if n_arrow != 1:
        failures.append(f"pipeline: expected 1 ArrowEvalPython, found {n_arrow}")
    for pat in PIPELINE_FORBIDDEN:
        if re.search(pat, pipe_plan):
            failures.append(f"pipeline: forbidden {pat!r}")
    print("checked extraction pipeline "
          f"(exchanges={n_exchange}, arrow_nodes={n_arrow})")

    spark.stop()
    if failures:
        print("\nPLAN CHECK FAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("\nALL PLAN INVARIANTS HOLD")
    return 0


if __name__ == "__main__":
    sys.exit(main())
