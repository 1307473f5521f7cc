"""ANN accuracy/cost artifact: recall@k vs n_probe for the IVF family,
plus (round 11) recall@k vs beam width for the graph-search family.

The recall tests in tests/test_similarity.py assert a floor; this tool
records the actual curve so the trade-off is a number, not a threshold.
For each n_probe it runs q_sim_ivf_topk and q_sim_ivfpq_topk against
the brute-force ground truth (q_sim_cosine_topk) on the same fixture
and reports mean recall@TOP_K over the query set plus wall seconds
(best-of-2 — the curve, not the absolute latency, is the artifact; the
host-noise policy's best-of-3 matters for headline timings only).

Recall@k here = |approx top-k IDs ∩ exact top-k IDs| / k per query,
averaged over queries — the FAISS-convention intersection recall.

Two sweeps are recorded:

- "fixture": the driver corpus, whose labels carry ZERO geometry
  (measured: mean within-label cosine == across-label == 0.0 — the
  vectors are isotropic). Probing m of n information-free lists can
  only find ~m/n of the true neighbors, so this curve is linear BY
  CONSTRUCTION — it is the honest floor, and a useful diagnostic: a
  linear recall curve in production means your coarse quantizer is
  uncorrelated with the data and you are paying IVF's machinery for
  nothing.
- "clustered": a synthetic corpus of gaussian blobs with label = blob,
  same schema, same operator. With a geometry-correlated quantizer the
  curve bends hard — high recall at 1-2 probes — which is the regime
  IVF is built for (on real corpora the blobs come from k-means, e.g.
  q_sim_kmeans's centroids).

Usage: python tools/bench_ann_recall.py [sf_dir] [out_json]
Writes one JSON line (default BENCH_ann_recall.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "BENCH_ann_recall.json"


def topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.q_id, set()).add(r.c_id)
    return out


def build_clustered_fixture(n_rows: int, n_blobs: int, dim: int) -> str:
    """Gaussian-blob embeddings with label = blob id, written in the
    fixture schema; query ids (vec_id % QUERY_MOD == 0) fall in blobs
    like everything else. Blob centers are well-separated (scale 4x the
    within-blob sigma) so the coarse quantizer has real signal."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(17)
    centers = rng.normal(0.0, 4.0, size=(n_blobs, dim))
    blob = rng.integers(0, n_blobs, size=n_rows)
    vecs = centers[blob] + rng.normal(0.0, 1.0, size=(n_rows, dim))
    table = pa.table(
        {
            "vec_id": pa.array(range(n_rows), type=pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(blob.astype(np.int32), type=pa.int32()),
        }
    )
    d = tempfile.mkdtemp(prefix="ann_clustered_")
    pq.write_table(table, os.path.join(d, "embeddings.parquet"))
    return d


def sweep(spark, sim, sf_dir: str, n_labels: int) -> dict:
    from utxo_to_parquet_spark.operators.registry import memo_drop

    truth = topk_sets(sim.q_sim_cosine_topk(spark, sf_dir).collect())
    n_q = len(truth)

    def recall_of(rows) -> float:
        approx = topk_sets(rows)
        return sum(
            len(approx.get(q, set()) & ids) / len(ids) for q, ids in truth.items()
        ) / n_q

    curves: dict[str, list[dict]] = {"ivf": [], "ivfpq": [], "ivfpq_res": []}
    for n_probe in range(1, n_labels + 1):
        for name, fn in (
            ("ivf", sim.q_sim_ivf_topk),
            ("ivfpq", sim.q_sim_ivfpq_topk),
            ("ivfpq_res", sim.q_sim_ivfpq_residual_topk),
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                rows = fn(spark, sf_dir, n_probe=n_probe).collect()
                best = min(best, time.time() - t0)
            point = {
                "n_probe": n_probe,
                "recall_at_k": round(recall_of(rows), 4),
                "sec": round(best, 2),
            }
            curves[name].append(point)
            print(f"{name} n_probe={n_probe}: {json.dumps(point)}", flush=True)
    # the IVF-PQ composition's OTHER knob: when the coarse quantizer is
    # good, recall is capped by ADC ranking quality and recovered by a
    # deeper exact re-rank — so sweep shortlist depth at full probes
    rerank_curve = []
    for rerank_n in (
        sim.TOP_K,
        2 * sim.TOP_K,
        4 * sim.TOP_K,
        16 * sim.TOP_K,
        64 * sim.TOP_K,
    ):
        rows = sim.q_sim_ivfpq_topk(
            spark, sf_dir, n_probe=n_labels, rerank_n=rerank_n
        ).collect()
        rows_res = sim.q_sim_ivfpq_residual_topk(
            spark, sf_dir, n_probe=n_labels, rerank_n=rerank_n
        ).collect()
        point = {
            "rerank_n": rerank_n,
            "recall_at_k": round(recall_of(rows), 4),
            "recall_at_k_res": round(recall_of(rows_res), 4),
        }
        rerank_curve.append(point)
        print(f"ivfpq rerank_n={rerank_n}: {json.dumps(point)}", flush=True)
    # round 11/12: the graph-ANN family's knobs — recall vs (beam,
    # steps), now HIERARCHICAL (L1 route-in + long-range links +
    # visited ledger). scored_per_q is the ledger size per query — the
    # exact-scoring cost axis the recall buys; steps scale with beam so
    # each width is measured at its own saturation point.
    graph_curve = []
    for beam, steps in ((32, 4), (48, 5), (64, 6), (96, 7), (128, 8)):
        best = float("inf")
        rows = None
        scored_per_q = None
        for _ in range(2):
            memo_drop("graph_search")  # memoized ledger would fake the timing
            t0 = time.time()
            res, ledger = sim._graph_search(spark, sf_dir, beam, steps)
            rows = res.collect()
            best = min(best, time.time() - t0)
            if scored_per_q is None:
                scored_per_q = ledger.count() / n_q
        point = {
            "beam": beam,
            "steps": steps,
            "recall_at_k": round(recall_of(rows), 4),
            "scored_per_q": round(scored_per_q, 1),
            "sec": round(best, 2),
        }
        graph_curve.append(point)
        print(f"graph beam={beam}: {json.dumps(point)}", flush=True)
    # round 13: binary quantization — no probe knob (BQ is a cheap full
    # scan by design), so the cell sweeps its one lever: exact-rerank
    # depth over the Hamming shortlist
    bq_curve = []
    for rerank_n in (sim.TOP_K, 4 * sim.TOP_K, 16 * sim.TOP_K,
                     32 * sim.TOP_K):
        import utxo_to_parquet_spark.operators.similarity as S
        old = S.BQ_RERANK
        S.BQ_RERANK = rerank_n
        try:
            rows = sim.q_sim_binary_hamming_topk(spark, sf_dir).collect()
        finally:
            S.BQ_RERANK = old
        point = {"rerank_n": rerank_n, "recall_at_k": round(recall_of(rows), 4)}
        bq_curve.append(point)
        print(f"bq rerank_n={rerank_n}: {json.dumps(point)}", flush=True)
    # round 13: the metadata-filtered ANN cell — filtered ledger ranking
    # vs post-filtering the unfiltered top-k, at IDENTICAL scored_per_q
    # (both rank the same memoized traversal ledger). Ground truth =
    # exact cosine top-k among predicate-passing candidates.
    ftruth = filtered_truth(sf_dir, sim)
    memo_drop("graph_search")
    res, ledger = sim._graph_search(spark, sf_dir, sim.GS_BEAM, sim.GS_STEPS)
    unfiltered = res.collect()
    filtered = sim.q_sim_filtered_topk(spark, sf_dir).collect()  # warm ledger
    post = [
        r for r in unfiltered if r.c_id % sim.FILT_MOD == sim.FILT_V
    ]
    def frecall(rows) -> float:
        approx = topk_sets(rows)
        return sum(
            len(approx.get(q, set()) & ids) / len(ids)
            for q, ids in ftruth.items()
        ) / len(ftruth)
    filtered_cell = {
        "selectivity": f"c_id % {sim.FILT_MOD} == {sim.FILT_V}",
        "scored_per_q": round(ledger.count() / n_q, 1),
        "recall_filtered_search": round(frecall(filtered), 4),
        "recall_post_filter_topk": round(frecall(post), 4),
    }
    print(f"filtered ANN: {json.dumps(filtered_cell)}", flush=True)
    # round 14: the streaming graph-ANN INSERT cell — beam search over
    # (base graph + HNSW-inserted delta edges) vs the full rebuild, both
    # against the exact ground truth. Insert-based graphs approximate
    # the rebuild (the documented HNSW trade); this cell records how
    # much recall the no-rebuild path actually gives up.
    stream_cell = stream_gann_cell(spark, sim, sf_dir, recall_of(unfiltered))
    print(f"stream gann: {json.dumps(stream_cell)}", flush=True)
    return {
        "n_queries": n_q,
        "curves": curves,
        "ivfpq_rerank_sweep": rerank_curve,
        "graph_beam_sweep": graph_curve,
        "bq_rerank_sweep": bq_curve,
        "filtered_search": filtered_cell,
        "stream_gann_insert": stream_cell,
    }


def stream_gann_cell(spark, sim, sf_dir: str, rebuild_recall: float) -> dict:
    """Recall of the NO-REBUILD index: base graph over vec_id %
    GANN_MOD != 0 plus the batch-applied HNSW insert edges for the
    delta (identical to the streamed edges by q_stream_gann_insert's
    own gate), searched with the standard ledger beam search against
    the FULL corpus ground truth."""
    from pyspark.sql import Window as W2
    from pyspark.sql import functions as F

    from utxo_to_parquet_spark.operators.registry import load
    from utxo_to_parquet_spark.streaming.windows import (
        GANN_MOD,
        _gann_base,
        _gann_insert_edges,
    )

    truth = topk_sets(sim.q_sim_cosine_topk(spark, sf_dir).collect())
    uedges, w_base, l1_ids = _gann_base(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    delta = emb.filter(F.col("vec_id") % GANN_MOD == 0).select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("qe"),
        sim._norm(F.col("embedding")).alias("qn"),
    )
    ins = _gann_insert_edges(delta, uedges, w_base, l1_ids).select("src", "dst")
    n_ins = ins.count()
    merged = (
        uedges.unionByName(ins)
        .unionByName(
            ins.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # full-corpus scored table; entry layer stays the BASE routing ids
    # (an appending index does not re-sample its upper layer per commit)
    w_full = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("e"),
        sim._norm(F.col("embedding")).alias("nrm"),
    )
    qv = sim._query_vectors(emb).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        sim._norm(F.col("embedding")).alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qe"), F.col("e"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wnd = W2.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")

    def score(cand):
        return (
            cand.join(F.broadcast(qv), "q_id")
            .join(w_full, "c_id")
            .select(
                "q_id", "c_id",
                F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
            )
        )

    ledger = score(
        qv.select("q_id").crossJoin(
            F.broadcast(l1_ids.withColumnRenamed("c_id", "c_id"))
        )
    ).localCheckpoint(eager=True)
    width = sim.GS_ENTRIES
    for _ in range(sim.GS_STEPS):
        frontier = (
            ledger.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") <= width)
            .select("q_id", "c_id")
        )
        new = (
            frontier.select("q_id", F.col("c_id").alias("src"))
            .join(merged, "src")
            .select("q_id", F.col("dst").alias("c_id"))
            .distinct()
            .join(ledger.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti")
        )
        ledger = ledger.unionByName(score(new)).localCheckpoint(eager=True)
        width = sim.GS_BEAM
    rows = (
        ledger.filter(F.col("c_id") != F.col("q_id"))
        .withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= sim.TOP_K)
        .collect()
    )
    approx = topk_sets(rows)
    rec = sum(
        len(approx.get(q, set()) & ids) / len(ids) for q, ids in truth.items()
    ) / len(truth)
    return {
        "delta_mod": GANN_MOD,
        "edges_inserted": n_ins,
        "recall_delta_index": round(rec, 4),
        "recall_rebuild": round(rebuild_recall, 4),
    }


def filtered_truth(sf_dir: str, sim) -> dict[int, set[int]]:
    """Exact filtered ground truth: per query, the cosine top-TOP_K
    among candidates with c_id % FILT_MOD == FILT_V (self excluded),
    brute-forced in numpy from the parquet."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(glob.glob(os.path.join(sf_dir, "embeddings.parquet"))[0])
    ids = t["vec_id"].to_numpy()
    X = np.stack([np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()])
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qmask = (ids % sim.QUERY_MOD == 0) & (ids < sim.Q_MAX_ID)
    cmask = ids % sim.FILT_MOD == sim.FILT_V
    out: dict[int, set[int]] = {}
    C = Xn[cmask]
    cids = ids[cmask]
    for qi in np.where(qmask)[0]:
        cos = C @ Xn[qi]
        cos[cids == ids[qi]] = -9.0
        top = np.argsort(-cos)[: sim.TOP_K]
        out[int(ids[qi])] = {int(c) for c in cids[top]}
    return out


def main() -> None:
    from utxo_to_parquet_spark.operators import similarity as sim
    from utxo_to_parquet_spark.operators.registry import load
    from utxo_to_parquet_spark.session import get_spark

    spark = get_spark("bench_ann_recall")
    n_labels = (
        load(spark, SF_DIR, "embeddings").select("label").distinct().count()
    )
    print(f"fixture: {n_labels} posting lists; TOP_K={sim.TOP_K}", flush=True)
    fixture = sweep(spark, sim, SF_DIR, n_labels)

    clustered_dir = build_clustered_fixture(n_rows=2000, n_blobs=n_labels, dim=64)
    print("clustered blobs:", clustered_dir, flush=True)
    clustered = sweep(spark, sim, clustered_dir, n_labels)

    line = {
        "metric": "ann_recall_vs_nprobe",
        "sf_dir": SF_DIR,
        "top_k": sim.TOP_K,
        "n_labels": n_labels,
        "fixture": fixture,
        "clustered_blobs": clustered,
    }
    with open(OUT, "w") as f:
        f.write(json.dumps(line) + "\n")
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
