"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (collect for small results, count for
large ones) after a shared-session warmup so JVM/codegen startup is not
billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# name -> terminal action: "collect" for top-k-sized outputs; "noop" =
# df.write.format("noop") — forces FULL evaluation of every column
# (count() would let Catalyst prune projection-only plans to a bare scan
# and time nothing).
HEADLINE = {
    "knn_topk": "collect",
    "cosine_distance": "noop",
    "sim_join": "collect",
    "ann_lsh": "collect",
    "ann_ivf": "collect",
    "groupby_agg": "collect",
    "window_topk": "collect",
    "filter_predicates": "noop",
    "exact_dedup": "noop",
    "minhash_dedup": "noop",
    "simhash_dedup": "noop",
    "ngram_jaccard": "noop",
    "embedding_near_dup": "noop",
    "embed_text": "noop",
    "text_stats": "noop",
    "lang_id": "noop",
    "json_extract": "noop",
    "stream_window_agg": "noop",
}

# Heavy operators added in round 2 — benched separately so the original
# 18-query subtotal stays comparable across rounds while their perf is
# visible to the regression gate.
HEADLINE_R2 = {
    "ngram_jaccard_prefix": "noop",
    "containment_join": "noop",
    "dedup_keep_best": "noop",
    "sim_join_gemm": "collect",
}

# Round-3 additions worth perf-tracking (text scoring over the full
# corpus, the neighbor-list artifact, the widest TPC-H joins, and the
# corpus-vocabulary / index-self-eval operators).
HEADLINE_R3 = {
    "entropy_score": "noop",
    "bm25_score": "noop",
    "jaccard_topk_per_doc": "noop",
    "tpch_q18": "collect",
    "tpch_q8": "collect",
    "vocab_topk": "collect",
    "lang_distinctive_terms": "collect",
    "ann_recall_eval": "collect",
    # the two heaviest registry queries (tools/sweep.py) — tracked so a
    # regression can't hide outside the headline groups
    "simhash_hamming_dedup": "noop",
    "fuzzy_join": "noop",
}

# Round-4 group: the r4 sweep's slowest queries, all vectorized this
# round (GEMM 1-NN eval, numpy quantize kernel, Arrow hash-embed RRF) —
# tracked so the wins can't silently regress.
HEADLINE_R4 = {
    "knn_label_accuracy": "collect",
    "embed_quantize": "noop",
    "quantization_error": "collect",
    "hybrid_search_rrf": "collect",
    "approx_quantiles": "collect",
}

# Round-5 group: queries re-planned this round that no earlier group
# tracked (the 5-way-Expand profile and the double-sort percentile).
HEADLINE_R5 = {
    "schema_profile": "collect",
    "median_agg": "collect",
}

# Round-7 group: the global-sort removals (histogram rank selections,
# distributed two-phase rank) — tracked so the re-plans can't silently
# regress. ntile_bands emits one row per order -> noop sink.
HEADLINE_R7 = {
    "quality_by_length_decile": "collect",
    "activation_latency_quartiles": "collect",
    "conversion_latency": "collect",
    "ntile_bands": "noop",
    "orders_rfm": "noop",
}

# Round-8 group: the exact-quantile family re-planned onto the
# distributed rank selection (operators/quantile.py) — tracked so the
# bucket/histogram plans can't silently regress.
HEADLINE_R8 = {
    "quartile_agg": "collect",
    "percentile_cont_exact": "collect",
    "value_outlier_iqr": "collect",
    "median_impute": "collect",
    "quality_gate": "noop",
    # r8 new keys: incremental refresh + PII screen
    "embed_refresh_worklist": "noop",
    "pii_screen": "noop",
    "minhash_refresh": "collect",
}

# Round-9 group: the refresh protocol's EXECUTE half. index_compact's
# timing includes the compaction no-op check (store scan + anti join);
# corpus_refresh_cycle is the full worklist->embed->upsert->probe plan.
HEADLINE_R9 = {
    "index_compact": "noop",
    "corpus_refresh_cycle": "collect",
    "dup_ngram_fraction": "noop",
    "boilerplate_ngrams": "collect",
}

# Round-10 group: the composed nightly-refresh artifact (upsert +
# compaction against one partitioned store; timing includes the
# idempotent no-op re-check of both halves, like index_compact's).
HEADLINE_R10 = {
    "refresh_compact_cycle": "noop",
    "dup_paragraph_fraction": "collect",
    "split_contamination_audit": "collect",
    "dsir_importance_weights": "noop",
    "dup_paragraph_removal": "noop",
}

# Round-11 group: the DSIR resampling draw (weights + Gumbel-top-k)
# and the WAV container decode (Catalyst synthesis + Arrow chunk-walk
# kernel over every payload byte).
HEADLINE_R11 = {
    "dsir_resample": "collect",
    "multimodal_wav_stats": "noop",
    "multimodal_bmp_stats": "noop",
    # TPC-H completion: the two heaviest of the six new queries (q21's
    # double-EXISTS collapse = two fact-fact orderkey shuffles; q2's
    # min-cost join-back over the synthesized partsupp)
    "tpch_q21": "collect",
    "tpch_q2": "collect",
    # CCNet tercile selection over the materialized lm_scores sidecar
    # (r12 re-plan; the live chain's cost is lm_cross_entropy below)
    "ccnet_ppl_buckets": "collect",
    # PQ: codebook train + encode + ADC top-10 in one plan
    "pq_adc_topk": "collect",
    # the composed IVF+PQ search (pruned cells, codes-only ADC scan)
    "ivfpq_topk": "collect",
}

# Round-12 group: the PNG decode (Catalyst synthesis incl. the zlib
# layer + CRC-verified inflate/unfilter kernel over every payload
# byte), the cluster-scoped semantic dedup, the C4 gate, the native
# streaming session window, and the LIVE CCNet scoring chain (kept on
# the bench now that ccnet_ppl_buckets reads the materialized scores).
HEADLINE_R12 = {
    "multimodal_png_stats": "noop",
    "semdedup": "noop",
    "c4_quality_gate": "noop",
    "stream_session_window": "noop",
    "lm_cross_entropy": "noop",
    # PQ encode audit over the stored codes (r12 sidecar re-plan)
    "pq_encode_error": "noop",
    # learned-subword tokenization: bounded vocab learn + greedy
    # longest-match Arrow pass over every document
    "subword_tokenize": "noop",
}

# Round-13 group: the GIF decode (Catalyst LZW synthesis + full
# variable-width LZW kernel over every payload byte), the compressed
# tier's recall eval (probe + ADC shortlist + exact re-rank + brute
# force per sampled query), and the RAG summary (top-k collect + stub
# transport — now oracle-gated, benched so the end-of-pipeline cost
# stays visible).
HEADLINE_R13 = {
    "multimodal_gif_stats": "noop",
    "ivfpq_recall_eval": "collect",
    "llm_generate": "collect",
    # batch RAG: per-source executor-side summaries over the
    # WindowGroupLimit-pruned top-3 (20 groups at sf0.1)
    "llm_generate_batch": "collect",
    # decode-on-arrival: per-micro-batch GIF decode + idempotent sink
    "stream_media_decode": "noop",
    # media curation flags over the decoder's output
    "media_quality_gate": "noop",
}

HEADLINE_R14 = {
    # the fifth real decode: baseline JPEG synth (Huffman entropy
    # layer in Catalyst) + full entropy/IDCT decode kernel
    "multimodal_jpeg_stats": "noop",
    # 4:4:4 color: interleaved 3-component MCUs + integer YCbCr->RGB
    "multimodal_jpeg_color_stats": "noop",
    # classification-then-route over the unioned heterogeneous corpora
    "media_decode_dispatch": "noop",
    # Annex G progressive: multi-scan accumulation + EOB-run engine
    "multimodal_jpeg_progressive_stats": "noop",
    # 4:2:0 subsampled: MCU geometry + pinned box upsampling
    "multimodal_jpeg_420_stats": "noop",
}

HEADLINE_R15 = {
    # 4:2:2 / 4:1:1: horizontal-only chroma replication at 2x / 4x
    "multimodal_jpeg_422_stats": "noop",
    "multimodal_jpeg_411_stats": "noop",
    # curation flags over the whole five-format firehose (shares the
    # kind-partitioned sniffed sidecar with media_decode_dispatch)
    "media_quality_gate_multiformat": "noop",
    # dispatch-on-arrival: mixed-format micro-batches sniffed+routed
    "stream_media_dispatch": "noop",
    # Adam7: seven-pass de-interlacing decode over the interlaced corpus
    "multimodal_png_interlaced_stats": "noop",
    # interlaced GIF: four-pass de-permute + row-weighted statistic
    "multimodal_gif_interlaced_stats": "noop",
    # RLE8 BMP: run-length decompression + bottom-up flip statistic
    "multimodal_bmp_rle_stats": "noop",
}


#: every bench key -> its terminal action
ACTIONS = (HEADLINE | HEADLINE_R2 | HEADLINE_R3 | HEADLINE_R4
           | HEADLINE_R5 | HEADLINE_R7 | HEADLINE_R8
           | HEADLINE_R9 | HEADLINE_R10 | HEADLINE_R11
           | HEADLINE_R12 | HEADLINE_R13 | HEADLINE_R14
           | HEADLINE_R15)


def warmup(spark, sf_dir: str = SF_DIR) -> None:
    """Touch the fact table + codegen path once, and fork the Python
    UDF workers on every core (pandas import is ~0.5s per worker; that
    startup is session overhead, not query cost)."""
    from pyspark.sql import functions as F

    from tripgogo_vector_search_spark.functions.kernels import simhash_udf
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    QUERIES["knn_topk"](spark, sf_dir).collect()
    (spark.range(256).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
     .select(simhash_udf(F.lit("warm up"))).write
     .format("noop").mode("overwrite").save())


def main() -> None:
    from pyspark.sql import functions as F

    from tripgogo_vector_search_spark.plans.registry import QUERIES
    from tripgogo_vector_search_spark.session import get_spark

    spark = get_spark("bench")
    # WARN-level WindowExec notes (unpartitioned windows over
    # policy-allowed aggregate-scale frames) otherwise flood the
    # captured tail of every bench run
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)

    def run_once(name: str, action: str) -> float:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF_DIR)
        if action == "collect":
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def noise_floor_once() -> float:
        # VERDICT r7 list #3: a fixed, plan-free marker (data-size- and
        # code-independent: one 2^25-row range shuffle + count) timed in
        # the same process, so uniform co-tenant drift in BENCH_r{N}
        # is attributed by measurement, not argument. Judged rule: a
        # per-query move is plan-attributable only net of the marker's
        # round-over-round ratio.
        t0 = time.perf_counter()
        spark.range(1 << 25).repartition(32).count()
        return time.perf_counter() - t0

    def io_floor_once() -> float:
        # r10: a second, SCAN-BOUND marker — the shuffle marker above
        # is CPU/shuffle-bound and under-captured I/O-side contention
        # in the r10 samples (scan/explode-heavy keys drifted 1.5x
        # while the shuffle floor moved 1.0-1.3x). A full-byte read of
        # the documents text column (sum of lengths defeats the
        # footer-count shortcut) tracks exactly the axis those keys
        # sit on.
        t0 = time.perf_counter()
        (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
         .agg(F.sum(F.length("text"))).collect())
        return time.perf_counter() - t0

    # min of THREE full passes (r5 — was 2 + a >2s third pass): the r4
    # numbers drifted a uniform +18% with no plan changes, which
    # min-of-2 let through; a third sample of EVERYTHING costs ~40 s
    # and makes round-over-round deltas attributable to plans, not
    # co-tenant noise (single-pass numbers on a shared host swing 3-5x)
    all_queries = ACTIONS
    timings: dict[str, float] = {}
    noise = noise_floor_once()
    io_noise = io_floor_once()
    for name, action in all_queries.items():
        timings[name] = run_once(name, action)
    for _ in range(2):
        noise = min(noise, noise_floor_once())
        io_noise = min(io_noise, io_floor_once())
        for name, action in all_queries.items():
            timings[name] = round(min(timings[name], run_once(name, action)), 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # same 18 queries as BENCH_r01/r02's total — the cross-round
        # comparable number; "value" additionally includes HEADLINE_R2
        "subtotal_orig18": round(sum(timings[n] for n in HEADLINE), 3),
        # min-of-3 of the fixed plan-free shuffle marker; compare
        # across rounds to separate host load from plan cost
        "noise_floor_sec": round(noise, 3),
        # min-of-3 of the fixed scan-bound marker (full-byte read of
        # the documents text column): the shuffle marker is CPU-bound
        # and misses I/O-side contention, which hits scan/explode-heavy
        # keys
        "io_floor_sec": round(io_noise, 3),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
