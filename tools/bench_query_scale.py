"""Query-path weak-scaling probe: time representative operators at 1x /
4x / 16x the sf0.1 corpus and record the observed scaling exponent.

SCALING.md argues every operator's plan shape survives a 100x scale-up;
this tool measures it. Scaled corpora are built as k independent copies
of the sf0.1 tables with disjoint id spaces:

- documents: copy i shifts doc_id by i*10M and suffixes every word with
  "c{i}" — the per-copy duplicate/shingle structure is preserved exactly
  while shingles never collide across copies, so candidate-pair counts
  grow linearly in k (k independent corpora), not quadratically the way
  naive text duplication would inflate every LSH bucket.
- embeddings: copy i shifts vec_id by i*10M, vectors unchanged. ANN
  query sets are Q_CAP/id-bounded constants, so corpus growth scales the
  scan/posting-list side only — the shape a growing corpus really has.
- events: copy i shifts event_id by i*10M and ts by i*(span + 2 days)
  — the "more history" growth direction. Disjoint time ranges keep
  CONCURRENCY constant, so interval-overlap output grows linearly; the
  first probe draft salted user_id at shared timestamps instead, and the
  overlap join's output (correctly) exploded quadratically — k
  concurrent copies of every interval really do overlap pairwise. Same
  users across copies means per-user timelines grow k-fold, which is the
  harder direction for sessionize/window partitions anyway.

Other tables are symlinked from the base dir so fixture validation and
any dimension reads see the real files.

Usage: python tools/bench_query_scale.py [out_json]
Writes one JSON object (default BENCH_qscale.json) with per-op best-of-3
seconds at each scale and the fitted exponent
log(t_16/t_1)/log(16) — 1.0 = linear; fixed per-job overhead pulls the
number below 1 at these corpus sizes, superlinear candidate explosion
pushes it above.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_POS = [a for a in sys.argv[1:] if not a.startswith("--")]
# --variants-only: skip the main OPS sweep and run only the mitigation
# variants (e.g. seeds ∝ corpus) — for a quick follow-up measurement
# without re-timing the whole op list
VARIANTS_ONLY = "--variants-only" in sys.argv
# --ops a,b,c: time only the named ops and MERGE their cells into the
# existing artifact — for adding newly-registered ops without re-timing
# (and re-noising) the whole sweep
OPS_FILTER: set[str] = set()
for _a in sys.argv[1:]:
    if _a.startswith("--ops="):
        OPS_FILTER = set(_a[len("--ops="):].split(","))
if VARIANTS_ONLY and OPS_FILTER:
    sys.exit("--ops and --variants-only are mutually exclusive")
# a variants-only record must not silently replace the durable full
# sweep artifact — default it to its own file
OUT = _POS[0] if _POS else (
    "BENCH_qscale_variants.json" if VARIANTS_ONLY else "BENCH_qscale.json"
)
SCALES = [1, 4, 16]
ID_OFFSET = 10_000_000
WORK = "/tmp/qscale"

OPS = {
    # documents-shaped: dedup candidate generation + text analytics
    "q_dedup_exact": "documents",
    "q_dedup_minhash_lsh": "documents",
    "q_dedup_simhash_pairs": "documents",
    "q_dedup_incremental": "documents",
    "q_dedup_minhash_search": "documents",
    "q_dedup_simhash_search": "documents",
    "q_quality_nb_conformal": "documents",
    "q_dedup_dbscan": "embeddings",
    "q_text_token_freq": "documents",
    "q_text_heavy_hitters": "documents",
    "q_pipeline_training_prep": "documents",
    # quadratic-risk: pair/frontier growth could go superlinear if the
    # blocking/delta structure failed — the probe proves it doesn't
    "q_dedup_containment": "documents",
    "q_dedup_connected_components": "documents",
    "q_text_fuzzy_levenshtein": "documents",
    "q_graph_bfs": "graph",
    # embeddings-shaped: ANN scan/posting-list growth
    "q_sim_cosine_topk": "embeddings",
    "q_sim_knn_classify": "embeddings",
    "q_sim_ivf_topk": "embeddings",
    # round 6: retrieval + cross-source diagnostics, and the two
    # blocked-quadratic embedding ops. Round 10: both now scale their
    # key space / seed count with the corpus BY DEFAULT
    # (emb_band_bits_for / sem_seeds_for), so these default cells are
    # expected sublinear; the fixed-parameter contrast variants below
    # keep the old failure mode on record (see SCALING.md)
    "q_text_bm25_topk": "documents",
    "q_dedup_cross_source_overlap": "documents",
    "q_dedup_semantic": "embeddings",
    "q_sim_knn_graph": "embeddings",
    # events-shaped: sessionization + banded interval join
    "q_events_sessionize": "events",
    "q_events_interval_overlap_join": "events",
    # round 6d: map-side key + constant-k TakeOrdered — expect ~flat
    "q_sample_weighted_aes": "documents",
    # round 7 sketch family: shuffle is sketch-sized (CM grid / QS_CAP x B
    # summaries / labels x KMV_K minima), so wall time should track the
    # single map-side scan — expect ~linear-or-below exponents
    "q_text_countmin": "documents",
    "q_agg_quantile_sketch": "graph",
    "q_agg_kmv_intersect": "graph",
    # round 7 span-grid ops: corpus-sized aggregate, span-sized windows
    "q_events_gapfill_interp": "events",
    "q_events_changepoint_cusum": "events",
    # round 7b: bigram LM joins (vocab²-risk), Poisson bootstrap (32x
    # explode but map-side combine), dataset card (content-hash window),
    # whitening (dimension-bounded moment passes)
    "q_text_perplexity_bigram": "documents",
    "q_agg_bootstrap_ci": "graph",
    "q_pipeline_dataset_card": "documents",
    "q_sim_whiten": "embeddings",
    # round 8: iterative peel (per-copy disjoint subgraphs), fixed-Q
    # hybrid retrieval (expected ~linear-per-copy: the bounded query set
    # scores a 16x corpus), survival/ACF aggregates (sublinear: state is
    # |durations| / |buckets|), and the two-pass global-NTILE cut
    "q_graph_kcore": "graph",
    "q_sim_rrf_fusion": "embeddings",
    "q_events_survival_hazard": "events",
    "q_events_autocorr_lag": "events",
    "q_text_perplexity_buckets": "documents",
    "q_text_dsir_weights": "documents",
    # round 8b: corpus-stat fits (vocab grows with the salted copies but
    # the distinct-frequency window stays tiny), mixture KL (sources x
    # vocab table), exact-integer centroid classify (constant label
    # fan-out), cadence cv^2 (user-partitioned lag + one agg), and the
    # two pure scan+agg audits — all expected ~linear-or-below
    "q_text_zipf_fit": "documents",
    "q_text_kl_source_mixture": "documents",
    "q_sim_label_confusion": "embeddings",
    "q_events_bot_regularity": "events",
    "q_agg_benford_audit": "graph",
    "q_utxo_dust_feerate": "graph",
    # round 8c: moment-sum assortativity (degree join + one agg) and the
    # centroid silhouette (same constant-label fan-out as confusion)
    "q_graph_assortativity": "graph",
    "q_sim_silhouette": "embeddings",
    # round 8d: cohort triangle (user x week aggregate; time-shifted
    # copies add cohorts, not per-cell rows) and the HHI scalar rollup
    "q_events_cohort_revenue": "events",
    "q_agg_hhi_concentration": "graph",
    # round 8e: bucketed skyline — windows are bucket-partitioned, the
    # only global step is the 32-row carry-in
    "q_agg_pareto_skyline": "graph",
    "q_graph_modularity": "graph",
    # round 8f: per-doc occurrence columns + |sources|-row profile join
    "q_text_style_cosine": "documents",
    # round 8g: compact-forward triangles + degree join (orientation
    # bounds wedge fan-out; disjoint copies add nodes, not density),
    # hub-capped common-neighbor pairs (per-part degree is constant in
    # the fixtures so pair count grows ~linearly), three fixed-round
    # label/rank propagations (per-round equi-join over a state that
    # grows linearly in copies), and the vocab-graph TextRank (salted
    # copies grow the vocab, iterations cost |vocab edges|)
    "q_graph_clustering_coeff": "documents",
    "q_graph_adamic_adar": "graph",
    "q_graph_label_propagation": "graph",
    "q_text_textrank_keywords": "documents",
    # round 8h: pair-gram eval joins (lead() pairing caps fan-out at one
    # partner per doc; gram joins are corpus-linear), the two-pass
    # global-midrank Spearman (32-partition range exchanges over
    # DISTINCT-value relations), and the per-type Viterbi burst DP
    # (|hours| state over the hourly aggregate, applyInPandas per key)
    "q_text_rouge_overlap": "documents",
    "q_text_bleu_pairs": "documents",
    "q_agg_spearman_rho": "graph",
    "q_events_burst_kleinberg": "events",
    # round 8i: HITS/neighbor-Jaccard (per-iteration equi-joins and the
    # hub-capped pair join — same shapes as pagerank/adamic_adar), the
    # hourly-aggregate pair statistics (kendall/theil-sen: pair count is
    # retention-span-bounded, constant in corpus rows — expect ~flat),
    # scan-shaped quality filters (gopher/c4/url/wav: embarrassingly
    # parallel projections), the percentile-band robust aggregates
    # (winsorized/IQR: two map-side passes + a tiny broadcast), the
    # two-pass NTILE Lorenz cut, nation-keyed Theil decomposition, and
    # the constant-Q retrieval-metrics panel (linear-per-copy scan)
    "q_graph_hits": "graph",
    "q_graph_jaccard_neighbors": "graph",
    "q_events_kendall_tau": "events",
    "q_events_theil_sen": "events",
    "q_events_entropy_hourly": "events",
    "q_quality_outlier_iqr": "events",
    "q_text_gopher_quality": "documents",
    "q_text_c4_line_filter": "documents",
    "q_text_url_canonicalize": "documents",
    "q_mm_wav_decode_stats": "documents",
    "q_agg_theil_index": "graph",
    "q_agg_winsorized_mean": "graph",
    "q_agg_lorenz_curve": "graph",
    "q_sim_retrieval_metrics": "embeddings",
    # round 8j: hapax (two-shuffle type table) and the span-bucketed WoW
    # lag report; kendall/theil-sen re-probed after the span-adaptive
    # bucket-width fix (fixed 1h width measured 1.49 / 2.13 on the 16x
    # time-shifted copies — the cap bounds series length at any span)
    "q_text_hapax_ratio": "documents",
    "q_events_wow_delta": "events",
    # round 8k: MAD scan (three broadcast-banded passes), dow x hour
    # grid (types*168 cells), capped PMI pair join (C(24,2) per doc),
    # and the hubness rollup riding the block-bounded kNN edges
    "q_events_anomaly_mad": "events",
    "q_events_dow_hour_heatmap": "events",
    "q_text_pmi_pairs": "documents",
    "q_sim_knn_hubness": "embeddings",
    # round 8l: canonical-URL dedup (scan-side string work + one
    # hash-groupBy) and the one-pass 15-sum moment matrix
    "q_dedup_url_exact": "documents",
    "q_agg_cov_matrix": "graph",
    # round 9: k-group inference over orders (map-side moment sums; the
    # midrank range exchanges are over DISTINCT-value relations), the
    # lang x source dependence grid (cell relation is constant-size),
    # vocab-set ops (token joins with stopword-heavy keys), span-grid
    # time-series (binseg/xcorr/peaks cost the SPINE; interarrival is a
    # per-type lag + moment agg), char explode (corpus-linear), the
    # two-pass Heaps prefix sum, the top-30-word Burrows grid, the
    # no-join isotropy/drift moment passes, the exact-integer triplet
    # margin (constant centroid fan-out), basket rules (pair counts +
    # aggregate joins), degree power-law (one count + one agg), dedup
    # savings / payload dedup (hash groupBys), the funnel (two corpus
    # aggregates + 4-row arithmetic), and HRW sharding (constant 9-row
    # fan-out + per-doc argmax window)
    "q_agg_anova_f": "graph",
    "q_agg_kruskal_wallis": "graph",
    "q_agg_mutual_info": "documents",
    "q_text_lang_vocab_overlap": "documents",
    "q_text_simpson_diversity": "documents",
    "q_events_interarrival_stats": "events",
    "q_events_changepoint_binseg": "events",
    "q_events_xcorr_leadlag": "events",
    "q_events_peak_detection": "events",
    "q_text_char_entropy": "documents",
    "q_text_readability": "documents",
    "q_text_heaps_law": "documents",
    "q_text_burrows_delta": "documents",
    "q_sim_isotropy": "embeddings",
    "q_sim_embedding_drift": "embeddings",
    "q_sim_triplet_margin": "embeddings",
    "q_basket_rules": "graph",
    "q_graph_degree_powerlaw": "graph",
    "q_dedup_savings": "documents",
    "q_mm_payload_dedup": "documents",
    "q_pipeline_filter_funnel": "documents",
    "q_pipeline_rendezvous_shards": "documents",
    # round 9: substring-level dedup — stride-1 unit explode (W x corpus
    # rows, the biggest intermediate in the library) + distinct-agg +
    # semi-join back + per-doc island windows
    "q_dedup_substring": "documents",
    "q_dedup_substring_removal": "documents",
    # BPE encode: M vocab-bounded merge rounds + one corpus join
    "q_text_bpe_encode": "documents",
    # JPEG decode: per-partition mapInPandas, corpus-linear, no shuffle
    "q_mm_jpeg_decode_stats": "documents",
    # round 9 sweep (verdict item 6): every remaining op with join /
    # window / iteration fan-out risk gets a measured cell — iterative
    # graph ops, the attribution/funnel/path family, as-of + range
    # joins, the pair-join dedup family, IVF-PQ/kmeans/MMR, SCD2 and
    # rolling-median windows, shingle joins, and the prefix-sum packer
    "q_graph_pagerank": "graph",
    "q_graph_triangles": "graph",
    "q_events_attribution": "events",
    "q_events_funnel_conversion": "events",
    "q_events_top_paths": "events",
    "q_events_asof_join": "events",
    "q_range_join": "graph",
    "q_dedup_ngram_jaccard": "documents",
    "q_dedup_embedding_lsh": "embeddings",
    "q_dedup_sorted_neighborhood": "documents",
    "q_dedup_decontaminate": "documents",
    "q_sim_ivfpq_topk": "embeddings",
    "q_sim_ivfpq_residual_topk": "embeddings",
    "q_sim_filtered_topk": "embeddings",
    "q_text_bbpe_encode": "documents",
    "q_text_bbpe_roundtrip": "documents",
    "q_mm_video_mc_stats": "documents",
    "q_sim_binary_hamming_topk": "embeddings",
    "q_dedup_cdc_chunks": "documents",
    "q_text_wordpiece_encode": "documents",
    "q_mm_video_halfpel_stats": "documents",
    "q_mm_video_bframe_stats": "documents",
    "q_sim_colbert_maxsim": "documents",
    "q_graph_personalized_pagerank": "graph",
    "q_graph_betweenness": "graph",
    "q_events_dp_release": "events",
    "q_events_dp_quantile": "events",
    "q_events_dp_sum": "events",
    "q_events_dp_threshold": "events",
    "q_text_memorization_probe": "documents",
    "q_graph_wl_refinement": "graph",
    "q_text_phrase_search": "documents",
    "q_quality_nb_isotonic": "documents",
    "q_sim_kcenter_coreset": "embeddings",
    "q_text_rake_keyphrases": "documents",
    "q_text_bm25_prf": "documents",
    "q_sim_kmeans": "embeddings",
    "q_sim_mmr_rerank": "embeddings",
    "q_mm_phash_dedup": "documents",
    "q_text_contamination_ngram": "documents",
    "q_pipeline_sequence_pack": "documents",
    "q_pipeline_pack_bfd": "documents",
    "q_events_scd2": "events",
    "q_window_rolling_median": "graph",
    # round-9 new ops
    "q_text_bpe_vocab": "documents",
    "q_text_token_fertility": "documents",
    "q_sim_range_search": "embeddings",
    "q_agg_ks_test": "graph",
    "q_agg_permutation_test": "graph",
    "q_events_markov_stationary": "events",
    "q_mm_exif_parse": "documents",
    "q_text_kneser_ney": "documents",
    # merkle: log2(n) geometrically shrinking hash aggregates
    "q_utxo_merkle_root": "graph",
    "q_dedup_cluster_report": "documents",
    "q_sim_pq_distortion": "embeddings",
    "q_mix_budget_waterfill": "documents",
    # round-10 new ops (every op on a probe-scaled table gets a cell on
    # arrival; chi2 reads the unscaled orders dim so it has none)
    "q_dedup_substring_exact": "documents",
    "q_text_mattr": "documents",
    "q_sim_jl_projection": "embeddings",
    "q_dedup_threshold_sweep": "embeddings",
    "q_mm_gif_decode_stats": "documents",
    "q_mm_tga_decode_stats": "documents",
    "q_pipeline_dedup_cascade": "documents",
    "q_events_holt_linear": "events",
    "q_text_suffix_ranks": "documents",
    "q_text_longest_repeat": "documents",
    # round-11 new ops: unigram tokenizer (vocab-bounded trainer + one
    # corpus explode), the three mapInPandas codec gates (expected
    # ~linear: per-doc work, no shuffle). q_text_distinct_substrings'
    # cells live in the dedicated deeper probe BENCH_sa_depth.json.
    "q_text_unigram_segment": "documents",
    "q_text_unigram_hard_em": "documents",
    "q_mm_g711_decode_stats": "documents",
    "q_mm_adpcm_roundtrip_stats": "documents",
    "q_mm_video_decode_stats": "documents",
    # round-11 wave 2: integer autocorr through the container (linear
    # map), composed tokenizer comparison (two memoized vocab-bounded
    # trainers + one corpus explode), NB classifier train/score (one
    # aggregate / one join), graph ANN (constant-join search over the
    # blocked kNN build), learned-quantizer IVF (Lloyd + probed lists)
    "q_mm_audio_autocorr": "documents",
    "q_pipeline_tokenizer_compare": "documents",
    "q_quality_naive_bayes": "documents",
    "q_quality_nb_score": "documents",
    "q_sim_graph_search_topk": "embeddings",
    "q_sim_ivf_kmeans_topk": "embeddings",
    # round-11 wave 3: HW seasonal fold (span-capped series), learned
    # filter (corpus explode + model join), exact SA decontamination
    # (cold ladder + two cumsum scans — the composed cost, honestly)
    "q_events_holt_winters": "events",
    "q_pipeline_nb_filter": "documents",
    "q_dedup_decontaminate_exact": "documents",
    # round-12 fills (VERDICT r11 #1): the seven round-11 ops that rode
    # already-probed machinery but lacked their own cells — including
    # q_text_distinct_substrings at the sweep's own 16x (its deeper
    # 64x octave lives in BENCH_sa_depth.json)
    "q_hilbert_key": "orders",
    "q_text_bpe_decode": "documents",
    "q_text_repeat_coverage": "documents",
    "q_pipeline_dedup_cascade_sa": "documents",
    "q_text_unigram_vocab": "documents",
    "q_text_unigram_fertility": "documents",
    "q_text_distinct_substrings": "documents",
    # round-12 new ops: two mapInPandas codec gates (expected ~linear,
    # the per-byte decode floor) and the vocab-bounded soft-EM E-step
    "q_mm_flac_decode_stats": "documents",
    "q_mm_gif_anim_stats": "documents",
    "q_text_unigram_soft_em": "documents",
    "q_mm_video_delta_stats": "documents",
    "q_sim_hard_triplets": "embeddings",
    "q_quality_luhn_audit": "documents",
    "q_mm_format_sniff": "documents",
    "q_dedup_decontaminate_semantic": "embeddings",
    "q_quality_nb_calibration": "documents",
}

# tables replicated with shifted keys (k disjoint subgraphs) so the BFS
# frontier / edge list grows linearly in k while diameter stays fixed —
# the weak-scaling direction a sharded trade graph really has
GRAPH_TABLES = ("customer", "orders", "lineitem")
SCALED_TABLES = ("documents", "embeddings", "events") + GRAPH_TABLES

ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _salt_words(text: str, tag: str) -> str:
    return re.sub(r"(\S+)", lambda m: m.group(1) + tag, text)


def build_copies(k_max: int) -> None:
    """Materialize per-copy parquet shards /tmp/qscale/copies/<table>_<i>.

    The cache is stamped with the BASE fixture path: a re-run against a
    different (or regenerated) base clears the work dir instead of
    silently mixing stale copies into the published exponents."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = os.path.join(WORK, "base.stamp")
    base_key = f"{BASE}\n" + "\n".join(
        f"{t}:{os.path.getmtime(os.path.join(BASE, f'{t}.parquet'))}"
        for t in SCALED_TABLES
    )
    if os.path.isdir(WORK):
        old = open(stamp).read() if os.path.exists(stamp) else None
        if old != base_key:
            shutil.rmtree(WORK)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(base_key)

    cdir = os.path.join(WORK, "copies")
    os.makedirs(cdir, exist_ok=True)
    for table in SCALED_TABLES:
        src = pq.read_table(os.path.join(BASE, f"{table}.parquet"))
        schema = src.schema
        df0 = src.to_pandas()
        for i in range(k_max):
            dst = os.path.join(cdir, f"{table}_{i}.parquet")
            if os.path.exists(dst):
                continue
            if i == 0:
                pq.write_table(src, dst)
                continue
            df = df0.copy()
            if table == "documents":
                df["doc_id"] = df["doc_id"] + i * ID_OFFSET
                tag = f"c{i}"
                df["text"] = df["text"].map(lambda t: _salt_words(t, tag))
                df["n_chars"] = df["text"].str.len()
            elif table == "embeddings":
                df["vec_id"] = df["vec_id"] + i * ID_OFFSET
            elif table == "customer":
                # nationkey unchanged: BFS sources (c_nationkey = 0)
                # grow linearly with the copies
                df["c_custkey"] = df["c_custkey"] + i * ID_OFFSET
            elif table == "orders":
                df["o_orderkey"] = df["o_orderkey"] + i * ID_OFFSET
                df["o_custkey"] = df["o_custkey"] + i * ID_OFFSET
            elif table == "lineitem":
                df["l_orderkey"] = df["l_orderkey"] + i * ID_OFFSET
                df["l_suppkey"] = df["l_suppkey"] + i * ID_OFFSET
                # partkey must shift too or the copies stop being
                # disjoint subgraphs: an unshifted partkey multiplies
                # every part's customer degree by k, which (correctly)
                # trips Adamic-Adar's hub cap and empties its result —
                # a corpus artifact, not a property of the operator
                df["l_partkey"] = df["l_partkey"] + i * ID_OFFSET
            else:  # events
                df["event_id"] = df["event_id"] + i * ID_OFFSET
                import pandas as pd

                span = df0["ts"].max() - df0["ts"].min()
                df["ts"] = df["ts"] + i * (span + pd.Timedelta(days=2))
            pq.write_table(
                pa.Table.from_pandas(df, schema=schema, preserve_index=False),
                dst,
            )
            print(f"built {table} copy {i}", flush=True)


def build_scale_dir(k: int) -> str:
    """Assemble a fixture dir for scale k: scaled tables are concatenated
    copies 0..k-1; every other table symlinks to the base fixture."""
    import pyarrow.parquet as pq

    d = os.path.join(WORK, f"x{k}")
    os.makedirs(d, exist_ok=True)
    for t in ALL_TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if t in SCALED_TABLES:
            if not os.path.exists(p):
                parts = [
                    pq.read_table(os.path.join(WORK, "copies", f"{t}_{i}.parquet"))
                    for i in range(k)
                ]
                import pyarrow as pa

                pq.write_table(pa.concat_tables(parts), p)
        elif not os.path.lexists(p):  # lexists: a dangling symlink still counts
            os.symlink(os.path.join(BASE, f"{t}.parquet"), p)
    return d


def build_rolled_copies(k_max: int) -> None:
    """Decorrelated embedding copies: copy i's vectors get their
    dimensions rolled by i. Rolling is an orthogonal transform, so every
    WITHIN-copy cosine (the duplicate structure an embedding-dedup op
    must find) is preserved exactly, while CROSS-copy cosines
    decorrelate to ~0 — the k-independent-corpora growth direction a
    real crawl has. (The verbatim copies are the right model for ANN
    scan growth — queries constant, corpus grows — but adversarial for
    dedup ops: k identical replicas of every vector make the true
    duplicate-pair OUTPUT itself quadratic in k.) Built separately from
    build_copies so the normal-copy cache can't skip these."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdir = os.path.join(WORK, "copies")
    src = pq.read_table(os.path.join(BASE, "embeddings.parquet"))
    schema = src.schema
    df0 = src.to_pandas()
    for i in range(k_max):
        dst = os.path.join(cdir, f"embeddings_rolled_{i}.parquet")
        if os.path.exists(dst):
            continue
        if i == 0:
            pq.write_table(src, dst)
            continue
        df = df0.copy()
        df["vec_id"] = df["vec_id"] + i * ID_OFFSET
        df["embedding"] = df["embedding"].map(
            lambda v, _i=i: np.roll(np.asarray(v), _i).tolist()
        )
        pq.write_table(
            pa.Table.from_pandas(df, schema=schema, preserve_index=False), dst
        )
        print(f"built embeddings_rolled copy {i}", flush=True)


def build_rolled_dir(k: int) -> str:
    """Scale-k fixture whose embeddings are the DECORRELATED (dimension-
    rolled) copies; every other table symlinks into the normal x{k} dir
    (which build_scale_dir must have assembled first)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_dir = os.path.join(WORK, f"x{k}")
    d = os.path.join(WORK, f"x{k}_rolled")
    os.makedirs(d, exist_ok=True)
    for t in ALL_TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if t == "embeddings":
            if not os.path.exists(p):
                parts = [
                    pq.read_table(
                        os.path.join(WORK, "copies", f"embeddings_rolled_{i}.parquet")
                    )
                    for i in range(k)
                ]
                pq.write_table(pa.concat_tables(parts), p)
        elif not os.path.lexists(p):
            os.symlink(os.path.join(base_dir, f"{t}.parquet"), p)
    return d


def main() -> None:
    from utxo_to_parquet_spark.operators import all_queries
    from utxo_to_parquet_spark.session import get_spark

    build_copies(max(SCALES))
    dirs = {k: build_scale_dir(k) for k in SCALES}

    spark = get_spark("bench_query_scale")
    qs = all_queries()
    # warm: python workers, parquet reader, JIT — only the ops that will
    # actually be timed (variants-only runs warm just the variant's op so
    # its cells share the full sweep's warm-up conditions)
    spark.read.parquet(f"{BASE}/region.parquet").count()
    if VARIANTS_ONLY:
        qs["q_dedup_semantic"](spark, dirs[1]).collect()
        qs["q_dedup_embedding_lsh"](spark, dirs[1]).collect()
    else:
        for name in OPS:
            if OPS_FILTER and name not in OPS_FILTER:
                continue
            qs[name](spark, dirs[1]).collect()

    import math

    def clear_memo_caches() -> None:
        """The SA/BPE/unigram trainers memoize per (app, corpus); reps
        must stay COLD or best-of-3 would time only the post-trainer
        tail (the round-10 suffix cells were recorded pre-memoization,
        so clearing keeps the protocol consistent with them)."""
        from utxo_to_parquet_spark.operators.registry import memo_drop

        memo_drop(
            "suffix_ladder",
            "sa_perpos",
            "unigram_train",
            "bpe_train",
            "bbpe_train",
            "wp_train",
            "kmeans_train",
            "graph_search",
        )

    def cells(run_one) -> dict:
        secs = {}
        for k in SCALES:
            best = float("inf")
            for _ in range(3):
                clear_memo_caches()
                t0 = time.time()
                n = len(run_one(k).collect())
                best = min(best, time.time() - t0)
            secs[str(k)] = round(best, 2)
            label = getattr(run_one, "__name__", "?")
            print(f"{label} x{k}: {secs[str(k)]}s ({n} rows)", flush=True)
        expo = math.log(max(secs["16"], 1e-9) / max(secs["1"], 1e-9)) / math.log(16)
        return {"sec": secs, "exponent": round(expo, 2)}

    unknown = OPS_FILTER - OPS.keys()
    if unknown:
        # a typo must not silently rewrite the artifact as if it ran
        sys.exit(f"--ops names not in OPS: {sorted(unknown)}")
    result: dict[str, dict] = {}
    if OPS_FILTER and os.path.exists(OUT):
        with open(OUT) as f:
            result = json.load(f).get("ops", {})
    if not VARIANTS_ONLY:
        for name, shape in OPS.items():
            if OPS_FILTER and name not in OPS_FILTER:
                continue
            def run_one(k, _n=name):
                return qs[_n](spark, dirs[k])

            run_one.__name__ = name
            result[name] = {"table": shape, **cells(run_one)}

    # mitigation variant: the blocked-quadratic ops' superlinear
    # exponents above are a fixed-block-count artifact. Scaling the seed
    # count with the corpus — what production k-means does — must keep
    # block sizes bounded and pull the exponent back to ~linear.
    if OPS_FILTER:
        line = {
            "metric": "query_weak_scaling",
            "base": BASE,
            "scales": SCALES,
            "copies_note": "disjoint id spaces + word-salted text: k independent corpora",
            "ops": result,
        }
        with open(OUT, "w") as f:
            f.write(json.dumps(line) + "\n")
        print(json.dumps(line), flush=True)
        return

    from utxo_to_parquet_spark.operators.dedup import SEM_K, q_dedup_semantic

    # round-10 flip: seeds ∝ corpus is now the REGISTERED DEFAULT
    # (sem_seeds_for), so the main sweep's q_dedup_semantic cell IS the
    # scaled-seeds measurement. This contrast variant pins the OLD fixed
    # 8-seed behavior to keep the failure mode on record.
    def run_fixed_seeds(k):
        return q_dedup_semantic(spark, dirs[k], sem_k=SEM_K)

    run_fixed_seeds.__name__ = "q_dedup_semantic[seeds=8 fixed]"
    result["q_dedup_semantic_fixed_seeds"] = {
        "table": "embeddings",
        "note": f"contrast: sem_k pinned at {SEM_K} (pre-round-10 default) — "
                "per-cluster compare block grows with the corpus",
        **cells(run_fixed_seeds),
    }

    # decorrelated-copies variant: the verbatim embedding copies make
    # every vector's k replicas TRUE near-duplicates, so an embedding-
    # dedup op's OUTPUT (and hence runtime) is honestly quadratic in k
    # (q_dedup_embedding_lsh measured 1.26 on the raw copies). Rolling
    # each copy's dimensions by its index preserves all within-copy
    # cosines (the duplicate structure the op must find) while
    # decorrelating cross-copy pairs — the k-independent-corpora growth
    # direction a real crawl has.
    build_rolled_copies(max(SCALES))
    rdirs = {k: build_rolled_dir(k) for k in SCALES}

    # round-10 flip: corpus-scaled band bits (emb_band_bits_for) is now
    # the REGISTERED DEFAULT, so this rolled-copies cell measures the
    # default form in the honest (decorrelated) growth direction — at
    # n = 2000k the derived width is exactly 6 + log2(k), the round-9
    # variant that measured 0.53.
    def run_lsh_rolled(k):
        return qs["q_dedup_embedding_lsh"](spark, rdirs[k])

    run_lsh_rolled.__name__ = "q_dedup_embedding_lsh[rolled,default]"
    result["q_dedup_embedding_lsh_decorrelated"] = {
        "table": "embeddings",
        "note": "DEFAULT form on per-copy dimension-rolled copies "
                "(cross-copy cosines ~0, within-copy duplicate structure "
                "preserved exactly); corpus-scaled key width engages "
                "automatically",
        **cells(run_lsh_rolled),
    }

    # contrast variant: pin the OLD fixed 6-bit key space to keep the
    # failure mode on record — bucket occupancy, and the pair join,
    # grow linearly with the corpus (round 9 measured 1.18 rolled).
    from utxo_to_parquet_spark.operators.dedup import (
        EMB_BAND_BITS,
        q_dedup_embedding_lsh,
    )

    def run_lsh_bits(k):
        return q_dedup_embedding_lsh(spark, rdirs[k], band_bits=EMB_BAND_BITS)

    run_lsh_bits.__name__ = "q_dedup_embedding_lsh[rolled,bits=6 fixed]"
    result["q_dedup_embedding_lsh_fixed_bits"] = {
        "table": "embeddings",
        "note": f"contrast: key width pinned at {EMB_BAND_BITS} bits "
                "(pre-round-10 default) on rolled copies — fixed key "
                "space, occupancy grows with corpus",
        **cells(run_lsh_bits),
    }

    line = {
        "metric": "query_weak_scaling",
        "base": BASE,
        "scales": SCALES,
        "copies_note": "disjoint id spaces + word-salted text: k independent corpora",
        "ops": result,
    }
    with open(OUT, "w") as f:
        f.write(json.dumps(line) + "\n")
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
