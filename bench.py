"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Two benchmark families:
- headline queries from the operator library, timed end-to-end
  (plan + execute + collect), representative of every operator class;
- ``utxo_convert``: the reference's own headline metric — decode a
  synthetic dumptxoutset snapshot and write script-clustered parquet
  (compare rows/s against BASELINE.md's 507k rows/s single-thread).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.proc import tree_cpu_s  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_join_left_outer",
    "q_join_salted_skew",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_agg_cube",
    "q_window_running_sum",
    "q_topk_global",
    "q_utxo_point_lookup",
    "q_utxo_balance_by_script",
    "q_events_tumbling_5min",
    "q_events_sessionize",
    "q_events_asof_join",
    "q_text_token_freq",
    "q_text_quality_stats",
    "q_text_token_count_bpe",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_dedup_minhash_search",
    "q_dedup_simhash",
    "q_dedup_embedding_lsh",
    "q_sim_cosine_topk",
    "q_sim_knn_classify",
    "q_sim_ivf_topk",
    "q_range_join",
    "q_agg_percentiles",
    "q_agg_approx_distinct",
    "q_events_sliding_window",
    "q_unpivot_metrics",
    "q_mm_feature_extract",
    "q_mm_resize",
    "q_events_topk_pandas",
    # round 2 additions: full TPC-H shape catalog + pipeline ops
    "q2_min_cost_supplier",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q21_sole_late_supplier",
    "q_dedup_connected_components",
    "q_text_idf_top_terms",
    "q_events_anomaly_zscore",
    "q_window_ntile",
    # late round 2: span dedup, record linkage, graph, robust windows
    "q_dedup_repeated_spans",
    "q_text_fuzzy_levenshtein",
    "q_graph_bfs",
    "q_events_streaks",
    "q_window_rolling_median",
    "q_zorder_key",
    # round 3 prep: tokenizer training, decontamination, PQ compression
    "q_text_bpe_merge_step",
    "q_text_contamination_ngram",
    "q_sim_pq_codes",
    "q_recursive_cte",
    # round 3: sketch-contract quantiles, per-domain caps, overlap join,
    # anti-entropy fingerprint, cluster-canonical pick
    "q_agg_approx_percentile",
    "q_text_source_cap",
    "q_events_interval_overlap_join",
    "q_table_fingerprint",
    "q_dedup_canonical_pick",
    # round 4: keyed as-of, IVF-PQ re-rank, KS drift (re-shaped window),
    # fused training-prep pipeline
    "q_events_asof_join_keyed",
    "q_sim_ivfpq_topk",
    "q_sim_ivfpq_residual_topk",
    "q_sim_filtered_topk",
    "q_text_bbpe_encode",
    "q_text_bbpe_roundtrip",
    "q_mm_video_mc_stats",
    "q_sim_binary_hamming_topk",
    "q_dedup_cdc_chunks",
    "q_text_wordpiece_encode",
    "q_mm_video_halfpel_stats",
    # round-13 extension wave 2: B-frames, late-interaction retrieval,
    # seed-restart + betweenness graph walks, DP release
    "q_mm_video_bframe_stats",
    "q_sim_colbert_maxsim",
    "q_graph_personalized_pagerank",
    "q_graph_betweenness",
    "q_events_dp_release",
    "q_events_dp_quantile",
    "q_events_dp_sum",
    "q_events_dp_threshold",
    "q_text_memorization_probe",
    "q_dedup_simhash_search",
    "q_quality_nb_conformal",
    "q_dedup_dbscan",
    "q_graph_wl_refinement",
    "q_text_phrase_search",
    "q_quality_nb_isotonic",
    "q_sim_kcenter_coreset",
    "q_text_rake_keyphrases",
    "q_text_bm25_prf",
    "q_events_ks_drift",
    "q_pipeline_training_prep",
    # round 5: incremental batch-vs-corpus dedup probe, MG heavy hitters,
    # asymmetric containment
    "q_dedup_incremental",
    "q_text_heavy_hitters",
    "q_dedup_containment",
    # round 6: real image decode, admission-verdict decontamination,
    # planted-PII redaction, sequence packing
    "q_mm_decode_pixel_stats",
    "q_dedup_decontaminate",
    "q_text_pii_redact",
    "q_pipeline_sequence_pack",
    "q_pipeline_pack_bfd",
    # round 6b: BM25 retrieval, semantic dedup, kNN graph, cross-source
    # overlap matrix
    "q_text_bm25_topk",
    "q_dedup_semantic",
    "q_sim_knn_graph",
    "q_dedup_cross_source_overlap",
    # round 6c: per-key sequential recurrence, degree-ordered triangles
    "q_events_ewma",
    "q_graph_triangles",
    # round 6d: explicit bloom runtime filter, A-ES weighted sampling
    "q_join_bloom_prune",
    "q_sample_weighted_aes",
    # round 6e: sketch build/union, schema evolution, SNM dedup
    "q_agg_hll_union",
    "q_schema_evolution_read",
    "q_dedup_sorted_neighborhood",
    # round 7: gap-fill interpolation, CUSUM change-point, the Count-Min /
    # quantile / KMV sketch family, overlapping token chunking
    "q_events_gapfill_interp",
    "q_events_changepoint_cusum",
    "q_text_countmin",
    "q_agg_quantile_sketch",
    "q_agg_kmv_intersect",
    "q_text_chunk_overlap",
    # round 7b: dataset card, whitening, bigram LM, entropy, embargo split
    "q_pipeline_dataset_card",
    "q_sim_whiten",
    "q_text_perplexity_bigram",
    "q_text_source_entropy",
    "q_split_temporal_embargo",
    # round 7c: diversified rerank, Poisson-bootstrap CI
    "q_sim_mmr_rerank",
    "q_agg_bootstrap_ci",
    # round 7d: Holt forecasts, Welch t-test, max drawdown
    "q_events_holt_trend",
    "q_events_ttest_welch",
    "q_events_max_drawdown",
    # round 7e: coin-days, seasonality, RFM, perceptual image hashing
    "q_utxo_coin_days",
    "q_events_seasonality_profile",
    "q_events_rfm_segments",
    "q_mm_phash_dedup",
    # round 8: secp256k1 type-4/5 reconstruction, funnel conversion,
    # exact OLS trend, stratified split, curriculum bins, normalized
    # dedup, n-gram novelty
    "q_utxo_pubkey_decompress",
    "q_events_funnel_conversion",
    "q_events_linreg_trend",
    "q_split_stratified",
    "q_pipeline_curriculum",
    "q_dedup_normalized",
    "q_text_ngram_novelty",
    "q_events_survival_hazard",
    "q_events_autocorr_lag",
    "q_graph_kcore",
    "q_sim_rrf_fusion",
    "q_text_perplexity_buckets",
    "q_mix_temperature_weights",
    "q_text_dsir_weights",
    "q_events_attribution",
    # round 8b/c: corpus-stat fits, mixture KL, Benford + dust audits,
    # exact-integer centroid classify/silhouette, cadence cv^2,
    # moment-sum assortativity
    "q_text_zipf_fit",
    "q_text_kl_source_mixture",
    "q_agg_benford_audit",
    "q_utxo_dust_feerate",
    "q_sim_label_confusion",
    "q_sim_silhouette",
    "q_events_bot_regularity",
    "q_graph_assortativity",
    "q_events_cohort_revenue",
    "q_agg_hhi_concentration",
    "q_agg_pareto_skyline",
    "q_graph_modularity",
    "q_text_style_cosine",
    # round-8 session 3
    "q_graph_clustering_coeff",
    "q_graph_adamic_adar",
    "q_graph_label_propagation",
    "q_text_textrank_keywords",
    "q_events_mannwhitney_u",
    "q_events_chisq_independence",
    "q_events_two_proportion_z",
    "q_events_burst_kleinberg",
    "q_agg_spearman_rho",
    "q_text_rouge_overlap",
    "q_text_bleu_pairs",
    "q_quality_k_anonymity",
    "q_pipeline_shard_manifest",
    "q_sim_matryoshka_overlap",
    "q_mm_qoi_decode_stats",
    # round-8 session 3 (second wave)
    "q_graph_hits",
    "q_graph_jaccard_neighbors",
    "q_events_kendall_tau",
    "q_events_theil_sen",
    "q_text_gopher_quality",
    "q_text_c4_line_filter",
    "q_agg_theil_index",
    "q_quality_outlier_iqr",
    "q_mm_wav_decode_stats",
    "q_sim_retrieval_metrics",
    "q_agg_winsorized_mean",
    "q_agg_lorenz_curve",
    "q_events_entropy_hourly",
    "q_text_url_canonicalize",
    "q_text_hapax_ratio",
    "q_events_wow_delta",
    "q_events_anomaly_mad",
    "q_events_dow_hour_heatmap",
    "q_text_pmi_pairs",
    "q_sim_knn_hubness",
    "q_dedup_url_exact",
    "q_agg_cov_matrix",
    "q_dedup_substring",
    "q_dedup_substring_removal",
    "q_text_bpe_encode",
    "q_mm_jpeg_decode_stats",
    "q_mm_exif_parse",
    "q_agg_ks_test",
    "q_agg_permutation_test",
    "q_events_markov_stationary",
    "q_text_bpe_vocab",
    "q_text_token_fertility",
    "q_sim_range_search",
    "q_text_kneser_ney",
    "q_utxo_merkle_root",
    "q_dedup_cluster_report",
    "q_sim_pq_distortion",
    "q_mix_budget_waterfill",
    # round 10: witness-verified substring dedup, chi2/Cramér's V,
    # MATTR, JL projection audit, dedup tau sweep, GIF + TGA codecs,
    # dedup cascade ledger, Holt trend, prefix-doubling suffix ranks
    "q_dedup_substring_exact",
    "q_agg_chi2_independence",
    "q_text_mattr",
    "q_sim_jl_projection",
    "q_dedup_threshold_sweep",
    "q_mm_gif_decode_stats",
    "q_mm_tga_decode_stats",
    "q_pipeline_dedup_cascade",
    "q_events_holt_linear",
    "q_text_suffix_ranks",
    "q_text_longest_repeat",
    # round 11: unigram-LM tokenizer (train + Viterbi segment), SA
    # distinct-substring closed form (warm perpos after the two SA rows
    # above — measures the capstone's incremental cost), G.711 + ADPCM
    # audio codecs, MJPEG-AVI video decode
    "q_text_unigram_segment",
    "q_text_distinct_substrings",
    "q_mm_g711_decode_stats",
    "q_mm_adpcm_roundtrip_stats",
    "q_mm_video_decode_stats",
    # round-11 wave 2: graph ANN + learned-quantizer IVF, NB classifier
    # train/score, tokenizer comparison, container autocorr
    "q_sim_graph_search_topk",
    "q_sim_ivf_kmeans_topk",
    "q_quality_naive_bayes",
    "q_quality_nb_score",
    "q_pipeline_tokenizer_compare",
    "q_mm_audio_autocorr",
    # round-11 wave 3: HW seasonal smoothing, learned-filter funnel,
    # exact SA decontamination (warm perpos after the SA rows above)
    "q_events_holt_winters",
    "q_pipeline_nb_filter",
    "q_dedup_decontaminate_exact",
    "q_hilbert_key",
    # round 12: FLAC lossless audio, GIF89a animation compositing, the
    # soft-EM unigram E-step (warm trainer after the unigram rows above)
    "q_mm_flac_decode_stats",
    "q_mm_gif_anim_stats",
    "q_text_unigram_soft_em",
    "q_mm_video_delta_stats",
    "q_sim_hard_triplets",
    "q_quality_luhn_audit",
    "q_mm_format_sniff",
    "q_dedup_decontaminate_semantic",
    "q_quality_nb_calibration",
    # q_stream_cadence is measured where streaming belongs —
    # BENCH_stream_scale.json (throughput + state) and the recovery
    # probe — not in the query-latency headline
]

UTXO_BENCH_ROWS = 2_000_000


def _load1() -> float:
    """1-min loadavg at a trial's start (the bench's quiet-host gate)."""
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:  # non-Linux fallback
        return os.getloadavg()[0]


def _codegen_totals(spark) -> tuple[int, int]:
    """(classes compiled, compile ns) so far in this JVM. The count is
    CodegenMetrics' compilation-time histogram count; the time is
    CodeGenerator's running compile-time sum (the histogram keeps only a
    sample of its values, so it cannot give an exact total). In local
    mode driver and executors share the JVM, so this covers both."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), int(ns)


def _convert_trial(spark, dump: str, out: str) -> tuple[int, float, float]:
    """One timed convert: (rows, wall s, CPU s of the process tree — this
    driver, the JVM and its Python workers)."""
    from utxo_to_parquet_spark.sources import convert_utxo_dump_to_parquet

    t0, cpu0 = time.time(), tree_cpu_s()
    # use_cache=False: the timed conversion includes the sequential
    # framing pass, matching what the reference's wall time includes.
    n = convert_utxo_dump_to_parquet(spark, dump, out, use_cache=False)
    return n, time.time() - t0, tree_cpu_s() - cpu0


def _utxo_dump_path(rows: int) -> str:
    """Synthetic dump, cached across runs (generation is not the thing
    being measured)."""
    path = f"/tmp/bench_utxo_{rows}.dump"
    if not os.path.exists(path):
        from utxo_to_parquet_spark.sources import write_utxo_dump
        from utxo_to_parquet_spark.sources.synthetic import synthetic_utxo_rows

        write_utxo_dump(path, synthetic_utxo_rows(rows, seed=42))
    return path


def main():
    global T_START
    T_START = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from utxo_to_parquet_spark.operators import all_queries
    from utxo_to_parquet_spark.session import get_spark
    from utxo_to_parquet_spark.sources import convert_utxo_dump_to_parquet

    spark = get_spark("bench")
    qs = all_queries()

    # warm the JVM, parquet reader, and the Python worker pool with cheap
    # untimed actions (process spawn is a fixed cost a long-lived cluster
    # amortizes; it is not what these queries measure)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    warm_dump = _utxo_dump_path(20_000)
    convert_utxo_dump_to_parquet(spark, warm_dump, "/tmp/bench_warm.parquet", chunk_rows=5_000)

    times: dict[str, float] = {}

    # The convert/lookup headline rows run FIRST (round-9 isolation):
    # r7->r8 showed the identical conversion drifting 1.10 -> 1.68 s
    # when measured after a 65%-larger query suite sharing the JVM
    # (GC/JIT/page-cache state), while the independent depth probe
    # showed the engine got FASTER. Running them before the suite, plus
    # committing the per-trial arrays below, makes a real regression
    # distinguishable from the documented 2.5-9.8 s host swings.
    dump = _utxo_dump_path(UTXO_BENCH_ROWS)
    # the converted output goes to tmpfs when available: the virtual
    # disk on this host stalls unpredictably (the same 79 MB write
    # lands anywhere from 1 s to 13 s), and the metric under test is
    # engine throughput (frame + decode + sort + zstd), not host
    # writeback jitter. The reference's own number has the same shape —
    # it wrote to a just-written, page-cached path on unknown hardware.
    out_base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    out = f"{out_base}/bench_utxo_out.parquet"
    # prime the OS page cache so the timed number measures the engine,
    # not cold-disk variance (the reference's input was equally cached,
    # having just been written by dumptxoutset)
    with open(dump, "rb") as fh:
        while fh.read(1 << 24):
            pass
    # two timed runs: the first (cold) pays mapInArrow worker spin-up
    # for 32 Python workers; the best-of-2 is the steady-state number a
    # long-lived cluster sees. Both are reported.
    # best-of-3: this host's CPU availability swings several-fold between
    # identical runs (observed 2.5s..9.8s for the same conversion); the
    # minimum is the only stable estimator of engine throughput under
    # that noise, and one extra trial is cheap insurance for the
    # headline number.
    # loadavg gate (round-10 verdict item 2): the r10 driver run started
    # at loadavg 4 and halved the convert headline with zero commits on
    # the decode path. Each trial records the 1-min loadavg at its
    # start; if after the base 3 trials NO trial started quiet
    # (load1 <= QUIET_LOAD1), up to 3 extra trials run with a short
    # decay sleep between them, so a transient co-tenant spike can't be
    # the only condition the headline was ever measured under. The
    # metric stays min-of-all; the per-trial loads ride in the artifact
    # so a noisy headline is attributable WITHIN the record.
    QUIET_LOAD1 = 2.0
    trials_conv: list[float] = []
    conv_loads: list[float] = []
    conv_cpu: list[float] = []
    while True:
        conv_loads.append(round(_load1(), 2))
        # chunk_rows stays at the library default (250k): at 2M bench
        # rows that is 8 decode tasks — fewer, fatter tasks beat 32
        # skinny ones because every Python-worker task pays a fixed
        # setup cost (pyspark's importlib.invalidate_caches() re-reads
        # pyspark.zip's directory once per cached zipimporter: ~0.2 s of
        # CPU a task) that exceeds the decode cost of a small split
        # (measured: 64k chunks 1.96s, 250k chunks 1.32s)
        n, wall, cpu = _convert_trial(spark, dump, out)
        trials_conv.append(wall)
        conv_cpu.append(round(cpu, 2))
        assert n == UTXO_BENCH_ROWS
        if len(trials_conv) >= 3 and (
            min(conv_loads) <= QUIET_LOAD1 or len(trials_conv) >= 6
        ):
            break
        if len(trials_conv) >= 3:
            time.sleep(5)
    dt = min(trials_conv)
    times["utxo_convert"] = round(dt, 3)
    times["utxo_convert_cold"] = round(trials_conv[0], 3)

    # the reference's second headline: selective script-equality lookup on
    # the converted, script-clustered output (README.md:54-56,105-107).
    # Target selection (a single-occurrence script) is untimed.
    from pyspark.sql import functions as F

    from utxo_to_parquet_spark.sources.synthetic import EATER_SCRIPT

    conv = spark.read.parquet(out)
    target = bytes(
        conv.filter((F.length("script") == 25) & (F.col("script") != F.lit(EATER_SCRIPT)))
        .select("script")
        .first()["script"]
    )
    lookup = (
        conv.filter(F.col("script") == F.lit(target))
        .select("txid", "vout", "amount", "height")
        .orderBy("height")
    )
    lookup.collect()  # warm the reader path once
    trials = []
    for _ in range(3):
        t0 = time.time()
        lookup.collect()
        trials.append(time.time() - t0)
    # min of 3: latency metrics report best-case steady state
    times["utxo_point_lookup_parquet"] = round(min(trials), 3)
    per_trial = {
        "utxo_convert": [round(t, 3) for t in trials_conv],
        "utxo_convert_load1": conv_loads,
        "utxo_convert_cpu_s": conv_cpu,
        "utxo_point_lookup_parquet": [round(t, 3) for t in trials],
    }

    # per-query 1-min load at start: the suite runs single-shot, so a
    # noisy-host cell is attributable within the record (the r12 pair
    # of runs differed 325 vs 408 s on identical code purely by load)
    # Round 15 (verdict item 2, honest memo attribution): a memo build
    # (shared fragment or trainer) inside a query's timed region is
    # reported as its own "memo:<name>" cell and SUBTRACTED from that
    # query's cell, so per-query numbers no longer depend on suite order
    # (the build still runs inside the timed loop — nothing is
    # precomputed — and the suite total is unchanged: the ledger logs
    # nested builds exclusive of each other, so sum(cells) == wall time).
    # memo_trigger records which query paid each build.
    from utxo_to_parquet_spark.operators.registry import memo_build_log

    # per-query codegen deltas: a warm query that still compiles (e.g. one
    # that inlines run-varying literals into generated code) shows here
    query_load1: dict[str, float] = {}
    query_codegen_compiles: dict[str, int] = {}
    query_codegen_ms: dict[str, float] = {}
    memo_trigger: dict[str, str] = {}
    memo_seen = len(memo_build_log())
    for name in HEADLINE:
        query_load1[name] = round(_load1(), 2)
        cg0, cg_ns0 = _codegen_totals(spark)
        t0 = time.time()
        rows = qs[name](spark, sf_dir).collect()
        dt_q = time.time() - t0
        cg1, cg_ns1 = _codegen_totals(spark)
        query_codegen_compiles[name] = cg1 - cg0
        query_codegen_ms[name] = round((cg_ns1 - cg_ns0) / 1e6, 1)
        blog = memo_build_log()
        for frag, bsec in blog[memo_seen:]:
            cell = f"memo:{frag}"
            times[cell] = round(times.get(cell, 0.0) + bsec, 3)
            memo_trigger.setdefault(frag, name)
            dt_q -= bsec
        memo_seen = len(blog)
        times[name] = round(max(dt_q, 0.0), 3)
        del rows

    # the cold-run duplicate is informational, not part of the suite sum
    total = round(sum(v for k, v in times.items() if k != "utxo_convert_cold"), 3)

    # host context rides in the artifact so the driver-vs-isolated noise
    # band (r9 verdict measured a uniform ~1.37x inflation under load)
    # is attributable WITHIN the record, not by cross-referencing
    # (round-9 item 6)
    try:
        with open("/proc/loadavg") as fh:
            load1, load5, load15 = (float(x) for x in fh.read().split()[:3])
    except OSError:  # non-Linux fallback: os.getloadavg
        load1, load5, load15 = os.getloadavg()
    host = {
        "loadavg": [load1, load5, load15],
        "cpus": os.cpu_count(),
        "start_unix": int(T_START),
        "wall_sec": round(time.time() - T_START, 1),
    }
    # JVM telemetry (round-15 verdict item 3): storage-memory state and
    # cumulative GC time ride in the record so a degraded suite run is
    # attributable (host episode vs in-process memory pressure)
    try:
        sc = spark.sparkContext
        beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        host["gc_ms"] = int(sum(b.getCollectionTime() for b in beans))
        rdds = sc._jsc.sc().getRDDStorageInfo()
        host["storage_mem_bytes"] = int(sum(r.memSize() for r in rdds))
        host["storage_disk_bytes"] = int(sum(r.diskSize() for r in rdds))
        host["storage_rdds"] = len(rdds)
    except Exception:
        pass
    result = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "query_load1": query_load1,
        "query_codegen_compiles": query_codegen_compiles,
        "query_codegen_ms": query_codegen_ms,
        "memo_trigger": memo_trigger,
        "sf": sf,
        "utxo_convert_rows_per_sec": int(UTXO_BENCH_ROWS / dt),
        # per-trial spread for the two headline rows: a real regression
        # moves the MIN; host noise widens the spread (round-9 item 3)
        "trials": per_trial,
        "host": host,
    }
    # Emit the summary twice (stderr first, stdout last) and persist a
    # durable copy: round-5's driver capture truncated the single stdout
    # line mid-key ("parsed": null in BENCH_r05.json), so any one of the
    # three surviving intact is enough to recover the record.
    line = json.dumps(result)
    print(line, file=sys.stderr, flush=True)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"), "w") as fh:
        fh.write(line + "\n")
    print(line, flush=True)
    # The driver's capture keeps only a ~2 KB TAIL of stdout; with ~100
    # per-query entries the full line is larger than that, so three
    # rounds running recorded "parsed": null. Emit a compact (<1.5 KB)
    # summary as the VERY LAST line so any tail capture contains one
    # complete JSON object; the full per-query record is the line above
    # plus the durable BENCH_local.json copy.
    # round-15 verdict item 2: the compact queries dict carries the two
    # headline rows PLUS the top-20 heaviest per-query cells, so the
    # driver's round-over-round PERF comparison stops being 2-query-blind
    top20 = dict(
        sorted(
            ((k, v) for k, v in times.items() if k != "utxo_convert_cold"),
            key=lambda kv: -kv[1],
        )[:20]
    )
    compact_queries = {
        k: times[k]
        for k in ("utxo_convert", "utxo_point_lookup_parquet")
        if k in times
    }
    compact_queries.update(top20)
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "n_queries": len(times),
        "utxo_convert_rows_per_sec": result["utxo_convert_rows_per_sec"],
        "queries": compact_queries,
        "trials": per_trial,
        "host": host,
        "full_record": "BENCH_local.json",
    }
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
