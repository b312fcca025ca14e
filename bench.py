"""Benchmark harness: times registry entries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py        # the HEADLINE list; writes BENCH.json
    SPARK_GRAFT_BENCH_ONLY=winnowing,market_share python bench.py

``SPARK_GRAFT_BENCH_ONLY`` takes a comma list of any registry names, run
in the order given; an unknown name exits non-zero.  A subset run prints
its body and writes nothing: only the full headline run owns
BENCH.json.  A scale ladder is this script run once per scale directory.

Each query executes to a ``noop``-format write: that forces the FULL
plan — a ``count()`` action lets Catalyst prune every projection above
the scan, so narrow queries (serializers, signatures, text scoring)
would "run" in scan-count time without computing their result columns.

Per query the best of 2 consecutive runs is reported: single cold runs
at this scale have ±30% scheduler/GC noise, which would drown real
round-over-round regressions.  Each run times ``builder()`` (driver-side
plan construction, including any job a builder runs before it returns)
apart from the write; ``"queries"`` holds the best run's total and
``"build"`` that run's builder share.

Leftover ``localCheckpoint`` blocks from PRIOR queries are unpersisted
before each timed run (measured: they inflate later queries up to 2×
via storage-memory pressure — cosine_topk 1.19 s → 0.61 s once the
dedup ladder's blocks are dropped).  This isolates per-query cost; the
measured query itself still materializes its own checkpoints inside
the timed window every run.
"""

from __future__ import annotations

import json
import os
import sys
import time

from aprs2influxdb_spark import media_store as ms
from aprs2influxdb_spark.queries import registry
from aprs2influxdb_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "region_revenue",
    "top_orders",
    "topk_per_group",
    "rollup_revenue",
    "promo_revenue",
    "percentiles",
    "asof_calibration",
    "sessionize",
    "time_bucket_agg",
    "line_protocol",
    "dedup_exact",
    "dedup_fingerprint",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard",
    "edit_distance_pairs",
    "simhash",
    "cosine_topk",
    "cosine_near_dup",
    "ivf_topk",
    "text_quality",
    "rolling_fingerprint",
    "tfidf_top_terms",
    "gap_fill",
    # round-1 additions: scan-pushdown (Q6), 5-table profit join (Q9),
    # linear-pass substring-dedup diagnostic, unigram-LM scoring,
    # partial-reuse rollup, robust outliers
    "forecast_revenue",
    "product_profit",
    "dup_ngram_coverage",
    "unigram_logprob",
    "hier_rollup",
    "mad_outliers",
    "asof_join_orders",
    "ts_similarity",
    # round-2 additions: SemDeDup-style embedding dedup, the
    # oracle-ized approximate-distinct sketch, LTTB downsampling and
    # the cascade-pruned DTW top-k (all newly value-checked paths)
    "semantic_dedup",
    "approx_distinct",
    "lttb_downsample",
    "ts_dtw_topk",
    # round-2b additions: Q10 (group-then-join), span-level dedup with
    # reassembly, CCNet perplexity banding, per-series EWMA fold, and
    # the SRP-bucketed kNN graph
    "returned_items",
    "paragraph_dedup",
    "perplexity_bands",
    "ewma_smooth",
    "knn_graph",
    # round-2c additions: BM25 retrieval, product quantization, and the
    # composed curation flagship (gates + exact dedup + span dedup)
    "bm25_topk",
    "pq_quantize",
    "curate_corpus",
    "pagerank_knn",
    # round-2d additions: the PQ code-index query path, the zero-shuffle
    # hashed classifier, and the char-entropy quality gate
    "pq_adc_topk",
    "quality_classifier",
    "char_entropy",
    "winnowing",
    "ngram_containment",
    "ivfpq_topk",
    # round-2e additions: bloom decontamination, hybrid-retrieval
    # fusion, and the bigram LM quality ladder rung
    "bloom_decontaminate",
    "rrf_fusion",
    "bigram_logprob",
    # round-2f additions: temperature mixture weights, Zipf corpus fit,
    # frequency-threshold boilerplate, and the JL sign projection
    "temperature_mixture",
    "zipf_fit",
    "boilerplate_chunks",
    "rp_project",
    "rp_rerank_topk",
    # round-3 additions: DSIR weighting + Gumbel-top-k selection, the
    # Manku simhash Hamming detector, multiprobe LSH, the PAA-cohort
    # approximate DTW, and two analytic operators (sequential funnel,
    # grid-partitioned skyline)
    "dsir_weights",
    "dsir_resample",
    "simhash_hamming_pairs",
    "lsh_multiprobe_topk",
    "ts_dtw_lsh_topk",
    "funnel_3stage",
    "pareto_front",
    # round-3b additions: feature-hash retrieval, contrastive
    # negatives, statistics (bootstrap CI, Heaps fit, theta overlap),
    # skew-safe aggregation, provenance/novelty diagnostics, product
    # analytics, and the MOSS match detector
    "feature_hash_vectors",
    "fh_doc_topk",
    "hard_negatives",
    "bootstrap_ci",
    "heaps_law_fit",
    "kmv_set_overlap",
    "salted_event_counts",
    "top_session_paths",
    "last_touch_attribution",
    "embedding_drift_psi",
    "cross_source_dup_matrix",
    "winnowing_match_pairs",
    "shingle_novelty",
    "order_backlog_curve",
    # round-4 additions: the multiprobe DTW cohorts, the real stdlib
    # PNG codec roundtrip, compressed sketches (b-bit MinHash, portable
    # HLL), content-defined chunking, PCA power iteration, the grid-cell
    # spatial join, label propagation, and the new analytics entries
    "ts_dtw_multiprobe_topk",
    "multimodal_png_decode",
    "bbit_minhash",
    "hll_sketch",
    "cdc_chunk_dedup",
    "label_prop_knn",
    "pca_top_component",
    "geo_cell_pairs",
    "weighted_percentiles",
    "sax_symbols",
    "benford_deviation",
    "interp_bigram_logprob",
    "temporal_split",
    "influx_difference",
    "hll_merge",
    "sax_motif_counts",
    "ndcg_bm25",
    "source_token_kl",
    "time_weighted_avg",
    "pca_scores",
    "dup_threshold_curve",
    "cooccurrence_pmi",
    # round-5 additions: suffix-array-family exact substring dedup,
    # the tokenizer fertility diagnostic, and centroid assignment
    # (now the Arrow-batched GEMM path; ivf_topk/semantic_dedup above
    # ride the same stage)
    "exact_substring_spans",
    "tokenizer_fertility",
    "centroid_assign",
    # round-5b additions: graph sessionization (pointer-jumping CC) and
    # the distributed BPE learner
    "session_components",
    "bpe_merges",
    # round-5c additions: InfluxQL transform-family completion and
    # DoReMi-style domain reweighting
    "influx_cumulative",
    "doremi_weights",
    "silhouette_centroid",
    "multimodal_jpeg_color",
    "exact_substring_dedup",
    "soft_dedup_weights",
    "contamination_report",
    "deadman_alerts",
    "mmr_rerank",
    "holt_winters",
    "windowed_pmi",
    # round-6 additions: the linear hot-key EWMA, the probe-based
    # incremental contamination rescreen, and the G.711 compressed-audio
    # roundtrip (windowed_pmi above now runs the in-row pair plan)
    "ewma_segmented",
    "incremental_contamination",
    "multimodal_audio_g711",
    "multimodal_audio_adpcm",
    "multimodal_mp4_meta",
    "gopher_repetition",
    "pii_redact",
    "holt_linear_segmented",
    # round-7 additions: progressive (SOF2) JPEG over the mixed
    # baseline/progressive corpus, and real MJPEG-in-MP4 frame payloads
    "multimodal_jpeg_progressive",
    "multimodal_frames_mjpeg",
    "holt_winters_segmented",
    "multimodal_av_mux",
    "warc_ingest",
    "html_extract",
    # round-8 additions: codec entries now READ persisted blobs (their
    # timings become decode-only — see BASELINE.md for the split), the
    # composed bytes->corpus flagship, PDF extraction, the
    # binaryFile-source shard parse
    "crawl_to_corpus",
    "pdf_extract",
    "warc_binary_files",
    "url_normalize",
    "domain_stats",
    # round-8b: the training-mix family (mixture/split/pack/ridge)
    "mixture_sample",
    "stratified_split",
    "sequence_pack",
    "ridge_quality_model",
    "model_auc",
    "token_budget_select",
    # round-9 additions: tokenizer-real budgeting (composes the BPE
    # learner into the training-mix family), the external-dim domain
    # curation broadcast join, and the file-arrival crawl composition
    # (the one streaming entry benched: its cost IS the ingest path)
    "bpe_token_budget_select",
    "bpe_sequence_pack",
    "domain_blocklist_join",
    "streaming_crawl_to_corpus",
    # round-9b: the bucketed-global-rank primitive standing alone, and
    # the ingest-time LSH near-dup gate (keyed state per band bucket)
    "global_shuffle_order",
    "streaming_lsh_near_dup",
    "corpus_diff",
    "model_calibration",
    # round-10 additions: the vocab-scale BPE encoder path (Arrow
    # mapInPandas, flat in k), the state-bounded LSH gate, image
    # near-dup (PNG decode + 112-bit dHash + Hamming-band LSH), and
    # the diff consumers (delta screen, arrival-mode diff)
    "bpe_vocab_token_budget",
    "streaming_lsh_gate_drained",
    "image_near_dup",
    "incremental_corpus_update",
    "streaming_corpus_diff",
    # round-10b: the image-dedup family completed (clusters, ingest
    # gate + its drained form, the cross-modal verdict table)
    "image_dup_clusters",
    "streaming_image_near_dup",
    "streaming_image_gate_drained",
    "multimodal_dup_report",
    # round-10c: the audio modality of the dedup ladder
    "audio_near_dup",
    # round-11: the video modality (per-frame DC-image dHash + band
    # LSH + temporal offset alignment, its clusters, its ingest gate
    # + drained form), the drain-cycle gate, and the embedding-space
    # SRP gate + drained form
    "video_near_dup",
    "video_dup_clusters",
    "streaming_video_near_dup",
    "streaming_video_gate_drained",
    "streaming_lsh_gate_cycle",
    "streaming_srp_gate",
    "streaming_srp_gate_drained",
]


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drop_leftover_blocks(spark) -> None:
    """Unpersist checkpoint/cache blocks left by previous queries so
    each measurement starts from a clean executor (see module doc)."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def run(spark, sf_dir: str, names: list[str]) -> dict:
    """Time ``names`` at ``sf_dir`` in ``spark`` and return the bench
    body; an unknown name exits before any Spark work."""
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    reg = registry()
    unknown = [n for n in names if n not in reg]
    if unknown:
        sys.exit(f"bench: unknown registry entries: {', '.join(unknown)}")

    # JVM/codegen warmup on the smallest SF so steady-state throughput
    # is measured, not first-query compilation
    for name in ("pricing_summary", "cosine_topk"):
        _run(reg[name][0](spark, "/root/testdata/sf0.001"))
    # build the media-blob side tables OUTSIDE the timed region: codec
    # entries measure decode, not the one-time corpus synthesis (r8)
    for ensure in (
        ms.ensure_media, ms.ensure_warc_files, ms.ensure_crawl_files,
        ms.ensure_domain_dim, ms.ensure_prev_snapshot, ms.ensure_image_store,
        ms.ensure_audio_store, ms.ensure_video_store,
    ):
        ensure(spark, sf_dir)

    times: dict[str, float] = {}
    builds: dict[str, float] = {}
    for name in names:
        builder = reg[name][0]
        best = (float("inf"), 0.0)  # (total, build) of the fastest run
        for _ in range(2):
            _drop_leftover_blocks(spark)
            t0 = time.perf_counter()
            df = builder(spark, sf_dir)
            t1 = time.perf_counter()
            _run(df)
            best = min(best, (time.perf_counter() - t0, t1 - t0))
        times[name], builds[name] = round(best[0], 3), round(best[1], 3)

    return {
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "build": builds,
    }


def compact(body: dict) -> dict:
    """The driver records only the last ~2 KB of stdout; with 80+
    headline queries the full one-line body overflows that window and
    round 3's record came back "parsed": null.  So the full body goes to
    BENCH.json and this LAST compact line always fits the tail — the
    driver's parser takes the last complete JSON line it can read.
    Costliest queries first, as many as fit the byte budget."""
    times = body["queries"]
    line = {
        "metric": body["metric"],
        "value": body["value"],
        "unit": body["unit"],
        "sf": body["sf"],
        "n_queries": len(times),
        "queries_file": "BENCH.json",
        # the per-query dict is TRUNCATED to the slowest entries that
        # fit the tail window, so a query missing from it most likely
        # got FASTER, not dropped — compare n_listed to n_queries before
        # calling anything dropped
        "n_listed": 0,
        "queries": {},
    }
    for name, sec in sorted(times.items(), key=lambda kv: -kv[1]):
        line["queries"][name] = sec
        if len(json.dumps(line)) > 1500:
            del line["queries"][name]
            break
    line["n_listed"] = len(line["queries"])
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    body = run(spark, sf_dir, [s.strip() for s in only.split(",")] if only else HEADLINE)
    print(json.dumps(body))
    if only:
        return
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json")
    with open(out_path, "w") as fh:
        json.dump(body, fh, indent=1)
        fh.write("\n")
    print(json.dumps(compact(body)))


if __name__ == "__main__":
    main()
