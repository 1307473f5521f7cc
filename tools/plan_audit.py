"""Plan auditor: sweep every registered query's EXECUTED plan for the
anti-patterns that kill 100-TB runs, regardless of whether the local
result is correct.

Smells flagged:
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: an all-pairs join
  shape (allowed only where a query is explicitly the documented
  all-pairs baseline or a deliberate cross-join demo);
- ``BatchEvalPython``: a row-at-a-time Python UDF in the plan (the
  library's contract is Arrow-batched only: ArrowEvalPython / mapInPandas
  / mapInArrow);
- parquet scans with a top-level column-equality filter but NO pushed
  filters (pushdown silently lost);
- ``Window`` fed by ``Exchange SinglePartition``: an unpartitioned
  window funnels its whole input through ONE task (allowed only where
  the window input is provably bounded — e.g. it is an upstream
  aggregate over a small domain, not the raw fact rows).

Usage: python tools/plan_audit.py [sf_dir] [name_filter ...]
Exit code 1 if any unallowed smell is found — CI-able.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose nested-loop/cartesian shape is the documented point
ALLOWED_NESTED_LOOP = {
    "q_join_cross",  # deliberate cross-join demo
    "q_dedup_embedding_cosine",  # gated all-pairs verify baseline
    "q_range_join",  # pure range predicate: NLJ on a 5-row broadcast dim
    # scalar attach: crossJoin(broadcast(<1-row aggregate>)) — the NLJ's
    # build side is exactly one row, which is how a global total/threshold
    # reaches every row without a shuffle; safe at any scale
    "q11_important_stock",
    "q22_dormant_rich",
    "q_events_retention",
    "q_quality_expectations",
    "q_text_perplexity_unigram",
    "q_utxo_coinbase_maturity",
    "q_events_ks_drift",  # totals: 1-row (n_a, n_b) aggregate
    "q_events_psi_drift",  # totals: 1-row (na, nb) aggregate
    "q_text_heavy_hitters",  # total token count: 1-row aggregate attach
    "q_text_countmin",  # total token count: 1-row sketch-row-sum attach
    "q_split_temporal_embargo",  # time-cut scalar: 1-row min/max attach
    "q_text_perplexity_bigram",  # vocab size: 1-row countDistinct attach
    "q_text_dsir_weights",  # LM totals: 1-row (nr, nt, v) aggregate attach
    "q_agg_bootstrap_ci",  # exact-mean scalar: 1-row aggregate attach
    "q_events_rfm_segments",  # corpus-now timestamp: 1-row max attach
    "q_join_bloom_prune",  # bloom sketch attach: 1-row 16 KiB bit array
    "q_events_linreg_trend",  # corpus-start timestamp: 1-row min attach
    "q_events_survival_hazard",  # corpus-end timestamp: 1-row max attach
    "q_text_kl_source_mixture",  # corpus token total: 1-row count attach
    "q_agg_benford_audit",  # total order count: 1-row sum attach
    "q_utxo_dust_feerate",  # feerate sweep: 3-row constant dim fan-out
    "q_dedup_threshold_sweep",  # tau grid: 7-row literal dim fan-out
    # PAVA minimax interval joins: both sides are the score-bin
    # aggregate CLAMPED to [-64, 64] — <= 129 rows by construction
    # at ANY corpus size, so the inequality join is a bounded NLJ
    "q_quality_nb_isotonic",
    "q_text_unigram_soft_em",  # vocab-max score: 1-row max attach (w8 anchor)
    "q_agg_chi2_independence",  # N/levels total: 1-row aggregate attach
    "q_agg_hhi_concentration",  # revenue total: 1-row sum attach
    "q_graph_modularity",  # directed edge count M: 1-row attach
    "q_events_chisq_independence",  # grand total (n, r, c): 1-row attach
    "q_agg_theil_index",  # global (N, S) totals: 1-row aggregate attach
    "q_agg_lorenz_curve",  # revenue total: 1-row sum attach onto 10 rows
    "q_graph_hits",  # per-step max-normalizer: six 1-row max attaches
    # probe-panel fan-out: crossJoin(broadcast(probes)) with probes a
    # CONSTANT <= 40-row id-bounded panel (MEMP_MAX/MEMP_MOD) — the
    # corpus-scan side streams through one map-side string pass
    "q_text_memorization_probe",
    # conformal scalar attaches: crossJoin(broadcast(<1-row (q_hat,
    # n_cal)>)) onto the held-out half, plus the 1-row totals attach
    # inside the order-statistic selection — both build sides are
    # exactly one row
    "q_quality_nb_conformal",
    # aggregate-level pair join: |sources|^2/2 over the PROFILE relation
    # (thousands of rows at lake scale), never fact rows
    "q_text_style_cosine",
    "q_agg_anova_f",  # grand totals (n, s, k): 1-row aggregate attach
    # two 1-row attaches (n; tie-term totals) onto the 5-row group and
    # the distinct-value relations
    "q_agg_kruskal_wallis",
    # 1-row grand-total attach + the r x c grid build: a cross join of
    # the |langs| and |sources| MARGIN relations (aggregates, never
    # fact rows; 100 cells at any corpus size)
    "q_agg_mutual_info",
    # 13-row constant lag dim fanned out over the span-bounded hourly
    # SPINE aggregate, never raw events
    "q_events_xcorr_leadlag",
    # constant 30-row top-words dim fanned out over the |sources|
    # totals AGGREGATE (grid build), never corpus rows
    "q_text_burrows_delta",
    "q_sim_isotropy",  # sum-of-squares scalar: 1-row aggregate attach
    "q_basket_rules",  # basket total: 1-row countDistinct attach
    "q_graph_degree_powerlaw",  # node count: 1-row aggregate attach
    # corpus-total 1-row attach onto the 4-row stage relation
    "q_pipeline_filter_funnel",
    # constant 9-row shard dim fanned out over doc ids (HRW scoring)
    "q_pipeline_rendezvous_shards",
    # sample totals (n1, n2): 1-row aggregate attach onto the
    # distinct-value cumsum relation
    "q_agg_ks_test",
    # global (n, S) centering scalars: 1-row aggregate attach onto the
    # per-customer count relation (once for the observed statistic,
    # once under the replica explode)
    "q_agg_permutation_test",
    # |bigram types| scalar: 1-row countDistinct attach onto the
    # vocab^2-bounded bigram-type relation
    "q_text_kneser_ney",
    # corpus total: 1-row count attach onto the |clusters| relation
    "q_dedup_cluster_report",
    # corpus total: 1-row count attach onto the PQ_M*PQ_K code grid
    "q_sim_pq_distortion",
    # refined-vocab total: 1-row sum attach onto the |vocab| usage
    # relation (the seed trainer's identical attach is behind a
    # checkpoint and never reaches a returned plan)
    "q_text_unigram_hard_em",
    # two 1-row aggregates joined (total spans x sum of LCPs)
    "q_text_distinct_substrings",
}
# queries whose unpartitioned window runs over a PROVABLY BOUNDED input
# (an upstream aggregate over a small domain), never the raw fact rows —
# each entry must say what bounds the window input
ALLOWED_SINGLE_PARTITION_WINDOW: dict[str, str] = {
    "q_quality_nb_isotonic": (
        "rank/prefix-sum windows run over the score-bin aggregate "
        "clamped to [-64, 64] — <= 129 rows at any corpus size; the "
        "per-doc population is collapsed by a map-side-combinable "
        "groupBy first"
    ),
    "q_events_ks_drift": (
        "cumulative-CDF window runs over the groupBy(value) aggregate — "
        "input is |distinct values|, not |events|; the raw population is "
        "collapsed by a map-side-combinable shuffle first"
    ),
    "q_agg_spearman_rho": (
        "global_midrank2 offset windows run over the 32-row "
        "per-partition count relation (twice, once per rank dimension); "
        "per-row cumulative sums are pid-PARTITIONED"
    ),
    "q_agg_kruskal_wallis": (
        "global_midrank2 offset window runs over the 32-row "
        "per-partition count relation (pooled rank dimension); per-row "
        "cumulative sums are pid-PARTITIONED"
    ),
    "q_text_heaps_law": (
        "global_cumsum offset window runs over the 32-row per-partition "
        "totals relation; per-checkpoint running sums are "
        "pid-PARTITIONED (two-pass prefix sum over the per-doc "
        "aggregate)"
    ),
    "q_events_mannwhitney_u": (
        "midrank prefix-sum window runs over the groupBy(value) "
        "aggregate — input is |distinct values| of a bounded-precision "
        "metric, not |events|; same collapse-first shape as ks_drift"
    ),
    "q_events_asof_join": (
        "carry-in running max runs over the distinct time-bucket "
        "relation — input is |buckets|, not rows; per-row work is in the "
        "bucket-PARTITIONED window"
    ),
    "q_utxo_balance_gini": (
        "two-pass global rank: the offset prefix-sum window runs over "
        "the per-partition count relation — input is |partitions| (32 "
        "rows), per-row ranking is partitioned by pid"
    ),
    "q_quality_nb_conformal": (
        "two-pass global rank of calibration nonconformities: the "
        "offset prefix-sum window runs over the per-partition count "
        "relation — input is |partitions| (32 rows); per-row ranking "
        "is partitioned by pid"
    ),
    "q_text_vocab_coverage": (
        "running-coverage window runs over the per-token aggregate — "
        "input is |vocabulary|, bounded and documented in text.py"
    ),
    # q_text_bm25_topk needs no entry: its term-selection window's
    # rn <= 12 filter lets Spark rewrite the unpartitioned window into
    # TakeOrderedAndProject(limit=12) — per-partition top-k + merge, no
    # Exchange SinglePartition in the executed plan at all
    "q_agg_ks_test": (
        "global_cumsum offset window runs over the 32-row per-partition "
        "totals relation; per-row cumulative sums are pid-PARTITIONED "
        "(same two-pass prefix-sum shape as q_text_heaps_law)"
    ),
    "q_dedup_decontaminate_exact": (
        "global_cumsum offset windows run over the 32-row per-partition "
        "totals relation (twice: the forward and reverse test-suffix "
        "counts); per-row cumulative sums are pid-PARTITIONED and the "
        "LCP running minima are PARTITIONED by between-test segment id"
    ),
    # q_text_suffix_ranks needs no entry: its offset windows (the
    # global_cumsum recipe over 32-row totals relations, once for the
    # vocabulary and once per doubling round) sit INSIDE per-round
    # localCheckpoints, so the returned plan the auditor sees is the
    # final checkpoint's RDD scan — an allowlist entry here would be
    # stale (the self-check test enforces that)
    "q_utxo_merkle_root": (
        "leaf-index offset window runs over the 32-row per-partition "
        "count relation (inlined global_cumsum recipe); per-row "
        "row_number is pid-PARTITIONED and the fold levels are hash "
        "aggregates — the round-10 lazy fixed-depth fold exposes the "
        "full plan (the old per-level checkpoints truncated it)"
    ),
    "q_events_markov_stationary": (
        "final rank window runs over the stationary-distribution vector "
        "— one row per EVENT TYPE (~8 at any corpus size; the "
        "transition matrix itself is |types|^2)"
    ),
    "q_agg_bootstrap_ci": (
        "replica-mean ranking window runs over the groupBy(b) aggregate "
        "— input is exactly BOOT_B=32 rows regardless of corpus size"
    ),
    "q_agg_lorenz_curve": (
        "cumulative-share window runs over the 10-row decile aggregate "
        "(global_ntile handles the per-customer ranking distributed); "
        "input is exactly 10 rows regardless of corpus size"
    ),
    "q_events_rfm_segments": (
        "quintile windows run over the groupBy(user_id) aggregate — "
        "input is |users|, not |events| (the fixture's 100x reduction); "
        "at extreme user cardinality the documented swap is exact "
        "percentile BOUNDARIES + a map-side bucket join, trading ntile's "
        "equal-count semantics for scale"
    ),
    "q_events_survival_hazard": (
        "risk-set suffix-sum and cumulative-hazard windows run over the "
        "groupBy(dur) aggregate — input is |distinct lifetimes in "
        "hours| (bounded by the corpus span), never |events| or |users|"
    ),
    "q_mix_temperature_weights": (
        "total-weight/budget windows run over the groupBy(lang) "
        "aggregate — single-digit rows regardless of corpus size"
    ),
    "q_text_perplexity_buckets": (
        "global_ntile offset/total windows run over the per-partition "
        "count relation (32 rows); per-doc ranking is in the "
        "pid-PARTITIONED window; the final aggregate is B=3 rows"
    ),
    "q_text_zipf_fit": (
        "cross-class cumulative window runs over the DISTINCT-FREQUENCY "
        "relation (groupBy(f) of the type table) — hundreds of rows even "
        "at web scale since Zipf guarantees frequency collisions; "
        "per-type ranking is in the f-PARTITIONED window"
    ),
    "q_agg_pareto_skyline": (
        "cross-bucket carry-in window runs over the groupBy(bkt) "
        "aggregate — input is SKY_BUCKETS (<=32) rows regardless of "
        "table size; fact rows only ever see bkt-PARTITIONED windows"
    ),
    "q_pipeline_curriculum": (
        "two-pass global NTILE: the offset/total windows run over the "
        "per-partition count relation (32 rows) and the final cumsum "
        "over the B=10 bin aggregate; per-doc ranking is in the "
        "pid-PARTITIONED window"
    ),
    "q_pipeline_sequence_pack": (
        "registry.global_cumsum two-pass prefix sum: the offset "
        "window runs over the per-partition token-totals relation — "
        "input is |partitions| (32 rows); per-doc cumsum is in the "
        "pid-PARTITIONED window"
    ),
}
# streaming queries materialize through a memory sink, so the returned
# DataFrame's plan is just a table scan; the EXECUTED micro-batch plan
# is captured by streaming/windows.py:_capture_stream_plan while the
# query object is live, and that is what gets audited here
STREAM_PREFIX = "q_stream_"


# operators that preserve their child's partitioning: walking through
# them from a Window still leads to the exchange that decided the
# window's distribution. Anything else (join, aggregate, scan, union)
# ends the chain — the window inherits THAT operator's partitioning.
_PARTITION_PRESERVING = (
    "Sort",
    "Project",
    "Filter",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "InputAdapter",
    "WholeStageCodegen",
    "ColumnarToRow",
    "Coalesce",
    "ReusedExchange",
)

_OP_PREFIX_RE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?")


def _op_name(line: str) -> str:
    """Operator name with tree glyphs (':  +- ') and codegen markers
    ('*(3) ') stripped."""
    s = _OP_PREFIX_RE.sub("", line)
    return s.split(" ", 1)[0].split("[", 1)[0].split("(", 1)[0]


def single_partition_windows(plan: str) -> bool:
    """True if any Window operator's child chain reaches an ``Exchange
    SinglePartition`` before any partition-changing operator — the shape
    where Spark executes the whole window in one task. Walks the
    indented child chain through partition-preserving operators (Sort /
    Project / AQEShuffleRead / codegen wrappers, any depth) rather than
    a fixed lookahead, so AQE final plans with deeper chains are still
    caught."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if _op_name(line) != "Window":
            continue
        for nxt in lines[i + 1 :]:
            if "Exchange SinglePartition" in nxt:
                return True
            op = _op_name(nxt)
            if not op:
                continue
            if op == "Exchange":  # partitioned exchange — fine
                break
            if op not in _PARTITION_PRESERVING:
                break  # window inherits this operator's partitioning
    return False


_AGGREGATE_OPS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def single_partition_window_inputs(plan: str) -> list[list[str]]:
    """For each Window fed by an Exchange SinglePartition, the operator
    names below that exchange down to (and including) the first scan.

    This is the ALLOWLIST'S SELF-CHECK: every
    ALLOWED_SINGLE_PARTITION_WINDOW justification claims the window's
    input is an upstream AGGREGATE over a bounded domain — so an
    aggregate operator must appear in this chain before the scan. The
    pytest in tests/test_scale_techniques.py asserts exactly that for
    every allowlisted query; a refactor that silently feeds one of
    these windows raw fact rows fails the test, not just the prose."""
    lines = plan.splitlines()
    chains: list[list[str]] = []
    for i, line in enumerate(lines):
        if _op_name(line) != "Window":
            continue
        for j in range(i + 1, len(lines)):
            if "Exchange SinglePartition" in lines[j]:
                ops = []
                for k in range(j + 1, len(lines)):
                    o = _op_name(lines[k])
                    if o:
                        ops.append(o)
                    if "Scan" in lines[k]:
                        break
                chains.append(ops)
                break
            op = _op_name(lines[j])
            if not op:
                continue
            if op == "Exchange" or op not in _PARTITION_PRESERVING:
                break
    return chains


def audit(spark, sf_dir: str, names: list[str]) -> dict[str, list[str]]:
    from utxo_to_parquet_spark.operators import all_queries

    qs = all_queries()
    findings: dict[str, list[str]] = {}
    from utxo_to_parquet_spark.streaming import windows as stream_windows

    for name in sorted(qs):
        if names and not any(f in name for f in names):
            continue
        streaming = name.startswith(STREAM_PREFIX)
        try:
            if streaming:
                # running the callable drives the stream to completion;
                # the executed micro-batch plan is captured en route
                stream_windows.LAST_STREAM_PLANS.pop("latest", None)
                qs[name](spark, sf_dir)
                plan = stream_windows.LAST_STREAM_PLANS.get("latest")
                if plan is None:
                    findings[name] = ["PLAN-ERROR no micro-batch plan captured"]
                    continue
            else:
                df = qs[name](spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - report, don't abort the sweep
            findings[name] = [f"PLAN-ERROR {type(e).__name__}: {e}"[:200]]
            continue
        smells = []
        if "CartesianProduct" in plan and name not in ALLOWED_NESTED_LOOP:
            smells.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_NESTED_LOOP:
            smells.append("BroadcastNestedLoopJoin")
        if "BatchEvalPython" in plan:
            smells.append("BatchEvalPython (row-at-a-time Python UDF)")
        if (
            single_partition_windows(plan)
            and name not in ALLOWED_SINGLE_PARTITION_WINDOW
        ):
            smells.append("Window over Exchange SinglePartition (one-task window)")
        if smells:
            findings[name] = smells
    return findings


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]

    from utxo_to_parquet_spark.session import get_spark

    spark = get_spark("plan_audit")
    findings = audit(spark, sf_dir, names)
    for name, smells in sorted(findings.items()):
        print(f"SMELL {name}: {', '.join(smells)}")
    n_checked = "all" if not names else f"filtered({names})"
    print(f"{len(findings)} queries with findings ({n_checked} checked)")
    sys.exit(1 if findings else 0)


if __name__ == "__main__":
    main()
