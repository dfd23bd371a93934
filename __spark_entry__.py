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
