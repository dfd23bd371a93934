"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship exact-cosine-KNN query at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (keys are the §2 ids) with matching DuckDB oracle SQL.
Implementation lives in ``tripgogo_vector_search_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tripgogo_vector_search_spark.plans import registry as _registry  # noqa: E402
from tripgogo_vector_search_spark.plans.flagship import flagship_query  # noqa: E402

SF0001 = "/root/testdata/sf0.001"

# Keys surfaced first to the driver's correctness gate (which checks a
# bounded prefix of this dict per round): queries not yet covered by a
# prior-round artifact, then queries whose behavior changed this round.
# Everything else (already driver-verified, unchanged) follows in
# registration order.
_CHECK_FIRST = [
    # CHANGED plan, results identical (optimized plans diffed for all
    # 276 keys; rows compared at sf0.01): the registry keeps one IVF
    # index per corpus, (vec_id, codes, embedding) plus cid, read
    # through ann.open_ivf. Its relation gains `codes`, pruned by a
    # Project: ann_knn_join, ann_recall_eval. Batch probes come from
    # ann.nearest_cells_batch (cdist/prn column names):
    # ivfpq_recall_eval. INDEXES line only (leaf ivfpq_index ->
    # ann_ivf_index): ann_ivf, ivfpq_topk, pq_adc_topk,
    # pq_encode_error, semdedup.
    "ann_knn_join", "ann_recall_eval", "ivfpq_recall_eval", "ann_ivf",
    "ivfpq_topk", "pq_adc_topk", "pq_encode_error", "semdedup",
    # CHANGED plan, results identical: ann.ivf_search_materialized
    # scores the probed cells in the driver and returns a VALUES
    # LocalRelation (optimized plans diffed for all 276 keys; only
    # ann_ivf's plan text moved).
    "ann_ivf",
    # CHANGED closure only, plan text byte-identical: the bit-exact
    # fold and its list-to-matrix layout moved from functions/kernels.py
    # to functions/fold.py, and ann.py gained the driver search, which
    # moves the source-closure digests (PYSRC lines, stream sources and
    # index-leaf digests) of every key that reaches either module.
    "ann_index_occupancy", "ann_knn_join", "ann_lsh", "ann_recall_eval",
    "dedup_cluster_examples", "dedup_components", "dedup_keep_best",
    "dedup_pair_audit_sample", "dup_ngram_fraction", "embed_quantize",
    "embedding_near_dup", "ivfpq_recall_eval", "ivfpq_topk",
    "minhash_dedup", "minhash_refresh", "near_dup_cluster_stats",
    "near_dup_cross_source", "pq_adc_topk", "pq_encode_error",
    "quantization_error", "semdedup", "sim_join", "simhash_dedup",
    "simhash_hamming_dedup", "stream_minhash_probe",
    # CHANGED plan, results identical (optimized plans diffed for all
    # 276 keys): ann.ivf_knn_join_materialized picks its probes with
    # vector.py's SQL fold (queries x cells) instead of the Arrow pair
    # kernel, which is bit-exact to that fold; the candidate distance
    # keeps the kernel. Only the probe's cdist projection changes.
    "ann_knn_join", "ann_recall_eval",
    # CHANGED index leaf only, plan text byte-identical: ann.py's import
    # block (the single-query searches end in knn.knn_topk) moves the
    # IVF, LSH and IVF-PQ index builders' source-closure digests.
    "ann_index_occupancy", "ann_ivf", "ann_lsh", "ivfpq_recall_eval",
    "ivfpq_topk", "pq_adc_topk", "pq_encode_error", "semdedup",
    # CHANGED closure only, plan byte-identical: load_table reads
    # `events` with a schema from one pyarrow footer probe
    # (sources/tables._events_source, shared with stream_events), which
    # moves every python-path key's PYSRC digest that reaches
    # load_table and every events stream's source digest; the two GEMM
    # joins share one body (operators/simjoin._gemm_join).
    "sim_join", "sim_join_gemm", "knn_label_accuracy",
    "approx_quantiles", "ccnet_ppl_buckets", "corpus_refresh_cycle",
    "dedup_cluster_examples", "dedup_components", "dedup_keep_best",
    "dup_ngram_fraction", "embed_quantize", "embed_text",
    "embedding_near_dup", "group_zscore", "llm_generate",
    "llm_generate_batch", "media_decode_dispatch", "media_quality_gate",
    "media_quality_gate_multiformat", "median_agg", "median_impute",
    "multimodal_bmp_rle_stats", "multimodal_bmp_stats",
    "multimodal_features", "multimodal_gif_interlaced_stats",
    "multimodal_gif_stats", "multimodal_jpeg_411_stats",
    "multimodal_jpeg_420_stats", "multimodal_jpeg_422_stats",
    "multimodal_jpeg_color_stats", "multimodal_jpeg_progressive_stats",
    "multimodal_jpeg_stats", "multimodal_png_interlaced_stats",
    "multimodal_png_stats", "multimodal_wav_stats",
    "near_dup_cluster_stats", "near_dup_cross_source", "observed_ingest",
    "percentile_cont_exact", "quality_gate", "quantization_error",
    "quartile_agg", "result_fetch", "subword_tokenize", "udtf_ngrams",
    "value_outlier_iqr", "stream_dedup", "stream_event_alert",
    "stream_foreach_sink", "stream_hop_window", "stream_media_decode",
    "stream_media_dispatch", "stream_minhash_probe",
    "stream_paragraph_probe", "stream_session_window",
    "stream_sessionize", "stream_static_join", "stream_stream_join",
    "stream_window_agg",
    # CHANGED plan, results identical at sf0.001 (optimized plans
    # diffed for all 276 keys). The batch pair joins score vector pairs
    # with the bit-exact Arrow kernel (functions/kernels.pair_cosine,
    # pair_dot): an ArrowEvalPython node replaces the SQL fold in
    # ann_knn_join, ann_recall_eval, embedding_near_dup and semdedup.
    # The registry's cosine orders put a NULL distance (a stored zero
    # vector) last: filtered_knn, hybrid_search_rrf, ivfpq_topk,
    # ivfpq_recall_eval, corpus_refresh_cycle, kmeans_assign and
    # kmeans_lloyd.
    "ann_knn_join", "ann_recall_eval", "embedding_near_dup", "semdedup",
    "filtered_knn", "hybrid_search_rrf", "ivfpq_topk", "ivfpq_recall_eval",
    "corpus_refresh_cycle", "kmeans_assign", "kmeans_lloyd",
    # CHANGED fingerprint only, plan text identical: the plan gate adds
    # a TRY line naming each TRY-mode arithmetic node (try_divide
    # prints as `/`), which these cosine plans hold.
    "ann_ivf", "ann_lsh", "cosine_distance", "embedding_drift",
    "knn_topk", "match_score", "refresh_compact_cycle",
    # CHANGED closure only, plan byte-identical: dedup.py (the pair
    # kernel import) moves the minhash/shingle index leaves (INDEXES
    # digests) and stream_minhash_probe's source digest; kernels.py and
    # simjoin.py (one fold helper) move these PYSRC digests.
    "containment_join", "dedup_cluster_examples", "dedup_components",
    "dedup_keep_best", "dedup_pair_audit_sample", "jaccard_topk_per_doc",
    "minhash_dedup", "minhash_refresh", "near_dup_cluster_stats",
    "near_dup_cross_source", "ngram_jaccard", "ngram_jaccard_prefix",
    "novelty_by_source", "shingle_df_histogram", "simhash_dedup",
    "simhash_hamming_dedup", "stream_minhash_probe", "dup_ngram_fraction",
    "embed_quantize", "quantization_error", "sim_join",
    # CHANGED plan, results identical on the fixtures (optimized plans
    # diffed for all 276 keys): a zero-norm vector's cosine distance is
    # NULL through try_divide instead of an ANSI DIVIDE_BY_ZERO, and
    # every top-k and window order over a cosine distance in knn.py and
    # ann.py puts NULL last. The plans differ by NULLS LAST tokens
    # (ann_ivf, ann_knn_join, ann_lsh, ann_recall_eval, knn_topk) and
    # by rebuilt IVF/PQ index leaves; try_divide prints as `/`.
    "ann_ivf", "ann_knn_join", "ann_lsh", "ann_recall_eval", "knn_topk",
    "ivfpq_recall_eval", "ivfpq_topk", "pq_adc_topk", "pq_encode_error",
    "semdedup",
    # CHANGED closure only, plan byte-identical: the 18 media-decoder
    # keys render their oracles from one geometry table and one
    # template per family (plans/registry.py _MEDIA_GEOM), and their
    # corpora through _media_corpus / _jpeg_stats. Every media oracle
    # returns the same DuckDB rows at sf0.001 and sf0.01, every corpus
    # leaf is unchanged, and only PYSRC/stream-source digests move.
    # extract_features lost its unused decode_backend option
    # (multimodal_features); corpus_refresh_cycle and llm_generate
    # reach the changed vector/ANN code through their closures.
    "media_decode_dispatch", "media_quality_gate",
    "media_quality_gate_multiformat", "multimodal_bmp_rle_stats",
    "multimodal_bmp_stats", "multimodal_gif_interlaced_stats",
    "multimodal_gif_stats", "multimodal_jpeg_411_stats",
    "multimodal_jpeg_420_stats", "multimodal_jpeg_422_stats",
    "multimodal_jpeg_color_stats", "multimodal_jpeg_progressive_stats",
    "multimodal_jpeg_stats", "multimodal_png_interlaced_stats",
    "multimodal_png_stats", "multimodal_wav_stats", "stream_media_decode",
    "stream_media_dispatch", "multimodal_features",
    "corpus_refresh_cycle", "llm_generate",
    # CHANGED plan, results identical (optimized plans diffed for all
    # 276 keys): each vector expression is compiled from one SQL text
    # (functions/vector.py). Where a cosine operand is a constant
    # vector, its norm is now a double literal folded in Python in the
    # SQL fold's order (bit-identical), so every scanned row folds one
    # 64-element norm fewer: ann_ivf, ann_lsh, filtered_knn,
    # hybrid_search_rrf, ivfpq_topk, corpus_refresh_cycle,
    # refresh_compact_cycle. to_vector's computed string operand is
    # bound once as a lambda variable instead of being built twice per
    # row. Every other fingerprint that moved (source-closure and
    # index-leaf digests only: vector.py, and the rank/quantile bucket
    # grid now sized by the shuffle width alone) belongs to a key
    # already queued below.
    "ann_ivf", "ann_lsh", "filtered_knn", "hybrid_search_rrf",
    "ivfpq_topk", "corpus_refresh_cycle", "refresh_compact_cycle",
    "to_vector",
    # CHANGED closure only, plan byte-identical (optimized plans diffed
    # for all 276 keys; only index-leaf digests moved): tables are read
    # with their declared schemas (sources/tables.load_table, with
    # schemas.TABLES' dates now TIMESTAMP_NTZ as the fixtures store
    # them); the IVF readers take centroids and schemas from the
    # ann.open_ivf handle; checkpoint release frees blocks through
    # SparkContext.unpersistRDD; rag.generate_summary logs each failed
    # attempt. Same plans and results; source-closure, stream-source and
    # index-leaf digests move.
    "ann_index_occupancy", "ann_ivf", "ann_knn_join", "ann_lsh",
    "ann_recall_eval", "approx_quantiles", "ccnet_ppl_buckets",
    "corpus_refresh_cycle", "dedup_cluster_examples",
    "dedup_components", "dedup_keep_best", "dup_ngram_fraction",
    "embed_quantize", "embed_text", "group_zscore", "index_compact",
    "ivfpq_recall_eval", "ivfpq_topk", "knn_label_accuracy",
    "llm_generate", "llm_generate_batch", "media_decode_dispatch",
    "media_quality_gate", "media_quality_gate_multiformat",
    "median_agg", "median_impute", "multimodal_bmp_rle_stats",
    "multimodal_bmp_stats", "multimodal_features",
    "multimodal_gif_interlaced_stats", "multimodal_gif_stats",
    "multimodal_jpeg_411_stats", "multimodal_jpeg_420_stats",
    "multimodal_jpeg_422_stats", "multimodal_jpeg_color_stats",
    "multimodal_jpeg_progressive_stats", "multimodal_jpeg_stats",
    "multimodal_png_interlaced_stats", "multimodal_png_stats",
    "multimodal_wav_stats", "near_dup_cluster_stats",
    "near_dup_cross_source", "observed_ingest",
    "percentile_cont_exact", "pq_adc_topk", "pq_encode_error",
    "quality_gate", "quantization_error", "quartile_agg",
    "refresh_compact_cycle", "result_fetch", "semdedup", "sim_join",
    "sim_join_gemm", "stream_media_decode", "stream_media_dispatch",
    "stream_minhash_probe", "stream_paragraph_probe",
    "subword_tokenize", "udtf_ngrams", "value_outlier_iqr",
    # CHANGED closure only, plan byte-identical (optimized plans diffed
    # for all 276 keys): the seven per-format decoder UDF wrappers are
    # one multimodal.blob_stats_udf over the BLOB_STATS kernel table,
    # which media_dispatch_stats also reads; the two checkpoint
    # lifecycles are one module (ckpt.checkpoint/release/adopt), used by
    # the CC loop, index_maintenance, the quantile family and the recall
    # evals; a non-positive spark.tripgogo.stream.statePartitions now
    # falls back to 8 (the stream keys' shared closure). Same UDF names,
    # kernels and results; source-closure and index-leaf digests move.
    # Keys also listed further down keep this, their first, position.
    "ann_recall_eval", "approx_quantiles", "ccnet_ppl_buckets",
    "dedup_cluster_examples", "dedup_components", "dedup_keep_best",
    "index_compact", "ivfpq_recall_eval", "media_decode_dispatch",
    "media_quality_gate", "media_quality_gate_multiformat",
    "median_agg", "median_impute", "multimodal_bmp_rle_stats",
    "multimodal_bmp_stats", "multimodal_features",
    "multimodal_gif_interlaced_stats", "multimodal_gif_stats",
    "multimodal_jpeg_411_stats", "multimodal_jpeg_420_stats",
    "multimodal_jpeg_422_stats", "multimodal_jpeg_color_stats",
    "multimodal_jpeg_progressive_stats", "multimodal_jpeg_stats",
    "multimodal_png_interlaced_stats", "multimodal_png_stats",
    "multimodal_wav_stats", "near_dup_cluster_stats",
    "near_dup_cross_source", "percentile_cont_exact", "quality_gate",
    "quartile_agg", "refresh_compact_cycle", "stream_dedup",
    "stream_embed", "stream_event_alert", "stream_hop_window",
    "stream_media_decode", "stream_media_dispatch",
    "stream_quality_filter", "stream_session_window",
    "stream_sessionize", "stream_static_join", "stream_stream_join",
    "stream_window_agg", "value_outlier_iqr",
    # ROUND 17. Head = keys whose plan/oracle/source closure changed
    # this round (drift gate: tests/test_plan_manifest.py), then the
    # stale-row rotation (oldest first per tools/rotation.py).
    #
    # CHANGED (r17 optimization, guide §5 — results identical, the
    # quality_gate materialization applied to the exact-quantile
    # family): grouped_order_statistics now eagerly materializes its
    # two BOUNDED decision frames (per-target owning cells, owning-
    # cell value histogram) once per run, so the probe and pick plans
    # read LogicalRDD leaves instead of re-embedding the stats/probe
    # subtrees per consumer; superseded checkpoint blocks are released
    # deterministically on rebuild (ckpt.py — ADVICE r16 #1, also
    # wired into quality_gate's scored frame). Paired A/B + plan
    # evidence in OPTIMIZATION_r17.md + plans/r17/. Source scans,
    # shuffles, and every output tuple are unchanged (oracle green at
    # sf0.01; lazy-vs-scoped tuple equality pinned in
    # tests/test_round17_props.py).
    "median_agg", "approx_quantiles", "quartile_agg",
    "percentile_cont_exact", "value_outlier_iqr", "median_impute",
    "ccnet_ppl_buckets", "quality_gate",
    # CHANGED closure only (ADVICE r16 #2 — no plan change, no
    # behavior change: the three dedup.py width pins and rank.py's
    # bucket count now read spark.sql.shuffle.partitions through
    # partitioning.shuffle_width, which falls back to
    # defaultParallelism when the conf is non-numeric; the numeric
    # value — every supported local/cluster conf — is identical, so
    # plans are byte-identical and only source-closure fingerprints
    # move). Nine of these were already due in the r10 stale rotation,
    # so the slots do double duty.
    # CHANGED (r17 optimization, guide §4.2 — results identical): the
    # custom stateful sessionizer's per-group body now sorts with one
    # np.lexsort over the raw column buffers instead of
    # pd.concat().sort_values() and yields no frame for groups that
    # close nothing — the function is called once per (user, batch),
    # so the per-call constant dominated the stream (paired floors
    # 6.35 -> 4.43 s at sf0.1). Same (ts, event_id) order, same µs
    # arithmetic, oracle green.
    "stream_sessionize",
    # CHANGED (r17 optimization, guide §5 — results identical): both
    # recall evals materialize their 8-row eval-query sample once per
    # run; the sample is a TakeOrderedAndProject over a FULL corpus
    # scan and was re-embedded by every consuming arm (ivfpq: probe
    # selection, LUT build, shortlist re-rank, brute force — 22 scans
    # -> 12 in the final plan, five sampling scans -> one).
    "ann_recall_eval", "ivfpq_recall_eval",
    # CHANGED closure only (VERDICT r16 #3 — no plan change, no
    # behavior change: run_stream_to_table's stateful-operator width
    # now resolves from spark.tripgogo.stream.statePartitions via
    # default_state_partitions() instead of a baked-in literal 8; the
    # resolved value everywhere this repo runs is still 8, so stream
    # plans and results are identical and only the shared source
    # closure of the stream keys moves).
    "stream_dedup", "stream_embed", "stream_event_alert",
    "stream_hop_window", "stream_quality_filter",
    "stream_session_window", "stream_static_join", "stream_stream_join",
    "stream_window_agg",
    "ngram_jaccard", "ngram_jaccard_prefix", "containment_join",
    "jaccard_topk_per_doc", "minhash_dedup", "minhash_refresh",
    "simhash_dedup", "simhash_hamming_dedup", "stream_minhash_probe",
    "dedup_cluster_examples", "dedup_components", "dedup_keep_best",
    "dedup_pair_audit_sample", "index_compact", "near_dup_cluster_stats",
    "near_dup_cross_source", "novelty_by_source", "refresh_compact_cycle",
    "shingle_df_histogram",
    # ROTATION (VERDICT r16 list #6). Oldest first per
    # tools/rotation.py; the r16 head keys above this round's changed
    # set all carry fresh r16 driver rows and rotate out. The changed
    # head is 39 keys, so the 50-key driver window reaches ~11 rows
    # into this tail; the r10 cohort remainder is listed in full
    # (14 of its 38 keys already sit in the changed head — the dedup-
    # closure and quantile groups do double duty), then the r11
    # remainder for whatever width the window actually has. Plans
    # unchanged — the drift gate pins them.
    # r10 (complete remainder, alphabetical = registry order):
    "array_funcs", "boilerplate_ngrams", "case_when", "chunk_docs",
    "collect_agg", "corpus_refresh_cycle", "correlated_subquery",
    "date_funcs", "decontaminate", "dup_ngram_fraction",
    "dup_paragraph_fraction", "dup_paragraph_removal", "explode_tokens",
    "minhash_band_recall", "minhash_jaccard_estimate",
    "minhash_threshold_sweep", "multimodal_magic_audit",
    "quality_by_length_decile", "repetition_filter", "scalar_funcs",
    "scalar_subquery", "set_ops_all", "split_contamination_audit",
    "string_funcs",
    # r11 (remainder not already queued above):
    "argmax_agg", "cdc_upsert", "embedding_drift", "entropy_score",
    "event_gap_stats", "funnel_stages", "gopher_quality_gate",
    "grouped_agg_udaf", "histogram_fixed_bins", "hll_union_rollup",
    "incremental_dedup", "ivfpq_topk", "json_scan", "label_centroids",
    "like_filter", "map_funcs", "mode_agg", "multimodal_wav_stats",
    "normalize_text", "ntile_bands", "null_funcs", "orders_rfm",
    "pack_sequences", "partitioned_sink", "pii_redact", "pivot_table",
    "regex_funcs", "salted_join", "schema_evolution",
    "session_window_agg", "skew_stats", "time_weighted_avg",
    "tpch_q11", "tpch_q16", "tpch_q2", "tpch_q20", "tpch_q21",
    "udtf_ngrams", "vector_distances", "xml_roundtrip",
]



def _ordered(d: dict) -> dict:
    head = {k: d[k] for k in _CHECK_FIRST if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_query(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(_registry.ORACLES)
