"""Similarity search over the ``embeddings`` table (ArrayType(FloatType)).

- Brute-force cosine top-k: the exact baseline. Dot products are computed
  with ``zip_with`` + ``aggregate`` — JVM-side higher-order functions, no
  Python in the loop — in double precision with left-to-right summation,
  which DuckDB's list functions reproduce bit-for-bit.
- Sign-random-projection LSH: the scale path. Hyperplanes are derived
  deterministically from md5, so buckets are reproducible across engines
  and runs; candidate generation is an equi-join on bucket key instead of
  a cross join.

Scale notes: brute force is O(Q·N·d) — fine for a broadcast-able query
set, unusable for all-pairs at 100 TB. The LSH variant turns all-pairs
into per-bucket blocks; bucket width (n_planes) trades recall for block
size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .registry import load, memoized, register

TOP_K = 5
QUERY_MOD = 10  # vec_id % QUERY_MOD == 0 → query vector
# Hard cap on the query set: at most Q_CAP query vectors, i.e. vec_id <
# QUERY_MOD * Q_CAP. The query side is pulled to the driver and shipped in
# task closures, so its size must be a CONSTANT, not a corpus fraction —
# a %-only filter grows linearly with N and would OOM the driver at scale.
Q_CAP = 64
Q_MAX_ID = QUERY_MOD * Q_CAP
N_PLANES = 8


def _query_vectors(emb):
    """The deterministic, constant-size query set: every QUERY_MOD-th
    vec_id, capped at Q_CAP vectors by the id bound (ids are assigned
    densely from 0, so the bound is a LIMIT that needs no sort)."""
    return emb.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < Q_MAX_ID)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lr_matmul(C: "np.ndarray", Q: "np.ndarray"):
    """(dots, c_sq) with the SAME floating-point result as Spark's
    ``aggregate(zip_with(...))`` and DuckDB's LIST_DOT_PRODUCT: strict
    left-to-right accumulation over dimensions. np.dot/np.matmul use
    SIMD/pairwise summation and drift in the last ulp, which would flip
    unrounded threshold comparisons against the oracle — so accumulate
    per dimension, vectorized across rows instead.

    C: (n, d) candidates, Q: (m, d) queries → dots (n, m), c_sq (n,).
    """
    acc = np.zeros((C.shape[0], Q.shape[0]))
    c_sq = np.zeros(C.shape[0])
    for i in range(C.shape[1]):
        ci = C[:, i]
        acc += ci[:, None] * Q[:, i][None, :]
        c_sq += ci * ci
    return acc, c_sq


def _to_matrix(col) -> "np.ndarray":
    return np.array([np.asarray(v, dtype=np.float64) for v in col])


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


@register(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
               FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
      SELECT q_id, c_id,
             ROUND(LIST_DOT_PRODUCT(qe, ce)
                   / (SQRT(LIST_DOT_PRODUCT(qe, qe)) * SQRT(LIST_DOT_PRODUCT(ce, ce))), 6) AS cosine
      FROM q JOIN c ON q_id <> c_id
    ),
    ranked AS (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
      FROM sims
    )
    SELECT q_id, c_id, cosine, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {TOP_K}
    """,
)
def q_sim_cosine_topk(spark, sf_dir):
    """Exact ANN baseline: brute-force cosine top-{TOP_K} for each query
    vector. The query side is broadcast (small by construction); ranking
    is a per-query window on the rounded score with id tie-break, so the
    result is fully deterministic."""
    emb = load(spark, sf_dir, "embeddings")
    # The query side is a CONSTANT ≤ Q_CAP vectors (see _query_vectors):
    # pull it to the driver and ship it to every scoring task in the
    # closure — the mapInPandas scorer then replaces the broadcast-join +
    # interpreted higher-order dot products (~130 expression evals per
    # pair) with numpy batch arithmetic in dimension order (bit-identical
    # to the HOF/DuckDB summation; see lr_matmul).
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            c_ids = pdf["vec_id"].to_numpy()
            dots, c_sq = lr_matmul(C, Q)
            cos = dots / (q_norm[None, :] * np.sqrt(c_sq)[:, None])
            n_c, n_q = cos.shape
            out = pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n_c),
                    "c_id": np.repeat(c_ids, n_q),
                    "cosine": cos.ravel(),
                }
            )
            yield out[out.q_id != out.c_id]

    sims = emb.select("vec_id", "embedding").mapInPandas(
        score, "q_id long, c_id long, cosine double"
    )
    sims = sims.select("q_id", "c_id", F.round("cosine", 6).alias("cosine"))
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )


@register(
    "q_sim_hard_triplets",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(label AS BIGINT) AS q_label,
                      embedding::DOUBLE[] AS qe
               FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    c AS (SELECT vec_id AS c_id, CAST(label AS BIGINT) AS c_label,
                 embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
      SELECT q_id, q_label, c_id, c_label,
             ROUND(LIST_DOT_PRODUCT(qe, ce)
                   / (SQRT(LIST_DOT_PRODUCT(qe, qe))
                      * SQRT(LIST_DOT_PRODUCT(ce, ce))), 6) AS cosine
      FROM q JOIN c ON q_id <> c_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id, q_label = c_label
                                   ORDER BY cosine DESC, c_id) AS rn
      FROM sims
    ),
    agg AS (
      SELECT q_id, q_label,
             MAX(CASE WHEN q_label = c_label THEN c_id END) AS pos_id,
             MAX(CASE WHEN q_label = c_label THEN cosine END) AS pos_cos,
             MAX(CASE WHEN q_label <> c_label THEN c_id END) AS neg_id,
             MAX(CASE WHEN q_label <> c_label THEN cosine END) AS neg_cos
      FROM ranked WHERE rn = 1 GROUP BY 1, 2
    )
    SELECT q_id, q_label, pos_id, pos_cos, neg_id, neg_cos,
           CAST(FLOOR(pos_cos * 1e6 + 0.5) AS BIGINT)
           - CAST(FLOOR(neg_cos * 1e6 + 0.5) AS BIGINT) AS margin_e6
    FROM agg WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
    """,
)
def q_sim_hard_triplets(spark, sf_dir):
    """HARD-TRIPLET MINING for contrastive embedding training (the
    FaceNet/DPR data-prep step: Schroff et al. 2015 pick hard
    positives/negatives by similarity; Karpukhin et al. 2020 mine hard
    negatives with a retriever): per anchor (the standard query set),
    the HARDEST POSITIVE (most-similar same-label vector) and the
    HARDEST NEGATIVE (most-similar different-label vector), plus the
    e6 margin between them — anchors with margin <= 0 are the ones a
    triplet-loss trainer upweights, and on this fixture the labels
    carry no geometry so most margins hover near zero (the honest
    diagnostic: a near-zero margin distribution means your labels are
    not yet an embedding-separable signal).

    Scale shape: identical to q_sim_cosine_topk — the anchor side is a
    CONSTANT <= Q_CAP matrix shipped in the task closure, one numpy
    pass over the corpus, then per-anchor windows on the snapped score
    over a Q_CAP-bounded relation. The production swap-in for the
    scan is any of the library's ANN paths (IVF / LSH / graph search);
    the mining logic downstream is unchanged."""
    emb = load(spark, sf_dir, "embeddings")
    q_pd = (
        _query_vectors(emb).select("vec_id", "embedding", "label").toPandas()
    )
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    q_labels = q_pd["label"].to_numpy().astype(np.int64)
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            c_ids = pdf["vec_id"].to_numpy()
            c_labels = pdf["label"].to_numpy().astype(np.int64)
            dots, c_sq = lr_matmul(C, Q)
            cos = dots / (q_norm[None, :] * np.sqrt(c_sq)[:, None])
            n_c, n_q = cos.shape
            out = pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n_c),
                    "q_label": np.tile(q_labels, n_c),
                    "c_id": np.repeat(c_ids, n_q),
                    "c_label": np.repeat(c_labels, n_q),
                    "cosine": cos.ravel(),
                }
            )
            yield out[out.q_id != out.c_id]

    sims = (
        emb.select("vec_id", "embedding", "label")
        .mapInPandas(
            score,
            "q_id long, q_label long, c_id long, c_label long,"
            " cosine double",
        )
        .select(
            "q_id", "q_label", "c_id", "c_label",
            F.round("cosine", 6).alias("cosine"),
        )
    )
    same = F.col("q_label") == F.col("c_label")
    wnd = W.partitionBy("q_id", same).orderBy(F.desc("cosine"), "c_id")
    picked = (
        sims.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") == 1)
    )
    e6 = lambda c: F.floor(F.col(c) * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    agg = picked.groupBy("q_id", "q_label").agg(
        F.max(F.when(same, F.col("c_id"))).alias("pos_id"),
        F.max(F.when(same, F.col("cosine"))).alias("pos_cos"),
        F.max(F.when(~same, F.col("c_id"))).alias("neg_id"),
        F.max(F.when(~same, F.col("cosine"))).alias("neg_cos"),
    )
    return agg.filter(
        F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull()
    ).select(
        "q_id", "q_label", "pos_id", "pos_cos", "neg_id", "neg_cos",
        (e6("pos_cos") - e6("neg_cos")).alias("margin_e6"),
    )


@register(
    "q_sim_norms",
    oracle="""
    SELECT vec_id,
           ROUND(SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
           CAST(LEN(embedding) AS BIGINT) AS dim,
           label
    FROM embeddings
    """,
)
def q_sim_norms(spark, sf_dir):
    """Vector plumbing check: L2 norms + dimensions, all JVM-side."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(_norm(F.col("embedding")), 6).alias("l2_norm"),
        F.size("embedding").cast("long").alias("dim"),
        "label",
    )


@register(
    "q_sim_centroid_distance",
    oracle="""
    WITH dims AS (
      SELECT label, vec_id, UNNEST(embedding::DOUBLE[]) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim
      FROM embeddings
    ),
    centroids AS (
      SELECT label, dim, AVG(v) AS cv FROM dims GROUP BY label, dim
    ),
    dists AS (
      SELECT d.label, d.vec_id, SUM((d.v - c.cv) * (d.v - c.cv)) AS sq
      FROM dims d JOIN centroids c ON d.label = c.label AND d.dim = c.dim
      GROUP BY d.label, d.vec_id
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(SQRT(sq)), 4) AS avg_dist_to_centroid
    FROM dists GROUP BY label
    """,
)
def q_sim_centroid_distance(spark, sf_dir):
    """Per-label centroids (the IVF coarse-quantizer building block):
    explode to (vec, dim, value), average into centroids, join back for
    distances. This is the posting-list construction step of an IVF
    index. Three shuffles of the exploded relation: hash(label, dim)
    for the centroid average, hash(label, dim) again on the probe side
    of the join back (the centroid side reuses the first exchange), and
    hash(label, vec_id) for the per-vector distance re-aggregation; the
    final per-label rollup partial-aggregates map-side over |labels|
    rows."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    centroids = dims.groupBy("label", "dim").agg(F.avg("v").alias("cv"))
    dists = (
        dims.join(centroids, ["label", "dim"])
        .groupBy("label", "vec_id")
        .agg(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))).alias("sq"))
    )
    return dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(F.sqrt("sq")), 4).alias("avg_dist_to_centroid"),
    )


EMB_DIM = 64  # fixture embedding dimensionality (TESTDATA.md, all sf dirs)


def _lsh_planes():
    """The seeded hyperplane matrix (numpy PCG64, fixed seed) — shared
    verbatim by the Spark UDF and, as float literals, by the DuckDB
    oracle, so the differential checks the full sign/bit-packing path."""
    return np.random.default_rng(42).standard_normal((EMB_DIM, N_PLANES))


def _lsh_oracle() -> str:
    """Recompute the sign-LSH bucket keys in SQL from the embedded plane
    literals: dot products via an (dim, plane, weight) VALUES join, sign
    bits packed MSB-first exactly as the UDF's (keys << 1) | bit loop.
    repr() round-trips float64 exactly, so both engines multiply the
    same doubles; only the 64-term summation order differs (~1e-13 vs
    |dot| ~ O(8)), far from a sign flip."""
    planes = _lsh_planes()
    values = ", ".join(
        f"({d + 1}, {j}, {planes[d, j]!r})"
        for d in range(EMB_DIM)
        for j in range(N_PLANES)
    )
    return f"""
    WITH dims AS (
      SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             UNNEST(embedding::DOUBLE[]) AS v
      FROM embeddings
    ),
    planes(dim, plane, w) AS (VALUES {values}),
    dots AS (
      SELECT d.vec_id, p.plane, SUM(d.v * p.w) AS dot
      FROM dims d JOIN planes p ON d.dim = p.dim
      GROUP BY d.vec_id, p.plane
    ),
    keys AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0
                           THEN 1 << ({N_PLANES} - 1 - plane)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id
    )
    SELECT bucket, COUNT(*) AS n_vecs, CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM keys GROUP BY bucket ORDER BY bucket
    """


@register("q_sim_lsh_buckets", oracle=_lsh_oracle())
def q_sim_lsh_buckets(spark, sf_dir):
    """Sign-random-projection LSH bucketing — the 100-TB ANN path.

    Hyperplanes are seeded deterministically (numpy PCG64 from a fixed
    seed) and broadcast inside an Arrow-batched pandas UDF; each vector
    gets an {N_PLANES}-bit bucket key. Downstream, candidate pairs come
    from an equi-join on (bucket), replacing the O(N²) cross join.
    Hash-gated: the DuckDB oracle recomputes every sign bit from the
    same plane matrix embedded as float literals (_lsh_oracle); recall
    is additionally tested against the brute-force baseline in
    tests/test_similarity.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    planes = _lsh_planes()
    bc = spark.sparkContext.broadcast(planes)

    @F.pandas_udf("long")
    def bucket_of(col: pd.Series) -> pd.Series:
        mat = np.stack(col.to_numpy())  # (batch, dim)
        bits = (mat @ bc.value) > 0  # (batch, n_planes)
        keys = np.zeros(len(col), dtype=np.int64)
        for j in range(N_PLANES):
            keys = (keys << 1) | bits[:, j].astype(np.int64)
        return pd.Series(keys)

    buckets = emb.select("vec_id", "label", bucket_of("embedding").alias("bucket"))
    return (
        buckets.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


N_PROBE = 2


@register(
    "q_sim_ivf_topk",
    oracle=f"""
    WITH dims AS (
      SELECT label, vec_id, UNNEST(embedding::DOUBLE[]) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim
      FROM embeddings
    ),
    centroids AS (
      SELECT label, dim, AVG(v) AS cv FROM dims GROUP BY label, dim
    ),
    qdist AS (
      SELECT d.vec_id AS q_id, c.label,
             ROUND(SUM((d.v - c.cv) * (d.v - c.cv)), 6) AS dist
      FROM dims d JOIN centroids c ON d.dim = c.dim
      WHERE d.vec_id % {QUERY_MOD} = 0 AND d.vec_id < {Q_MAX_ID}
      GROUP BY d.vec_id, c.label
    ),
    probes AS (
      SELECT q_id, label FROM (
        SELECT q_id, label,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, label) AS pr
        FROM qdist
      ) WHERE pr <= {N_PROBE}
    ),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
          FROM embeddings
          WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    sims AS (
      SELECT q.q_id, c.vec_id AS c_id,
             ROUND(LIST_DOT_PRODUCT(q.qe, c.embedding::DOUBLE[])
                   / (SQRT(LIST_DOT_PRODUCT(q.qe, q.qe))
                      * SQRT(LIST_DOT_PRODUCT(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
                   6) AS cosine
      FROM probes p
      JOIN embeddings c ON c.label = p.label
      JOIN q ON q.q_id = p.q_id
      WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, c_id, cosine, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
      FROM sims
    ) WHERE rn <= {TOP_K}
    """,
)
def q_sim_ivf_topk(spark, sf_dir, n_probe: int | None = None):
    """IVF-style approximate top-k: the 100-TB alternative to brute force.

    ``n_probe`` overrides the registered {N_PROBE}-probe default — the
    standard recall/cost knob; tools/bench_ann_recall.py sweeps it and
    records the recall@k curve vs the brute-force twin.

    The coarse quantizer is the per-label centroid (labels are the
    posting-list partitions); each query probes its {N_PROBE} nearest
    centroids and runs exact cosine only inside those partitions —
    searching N_PROBE/n_labels of the corpus instead of all of it.

    Plan shape: centroids are a tiny aggregate (labels × dims rows) that
    Spark broadcasts to the query side; the candidate scan is an
    equi-join on label, so the expensive exact-cosine work is
    partition-pruned exactly like an IVF index's inverted lists. No
    driver-side collect anywhere.
    """
    n_probe = N_PROBE if n_probe is None else int(n_probe)
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    centroids = dims.groupBy("label", "dim").agg(F.avg("v").alias("cv"))
    qdist = (
        dims.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < Q_MAX_ID))
        .select(F.col("vec_id").alias("q_id"), "dim", "v")
        .join(F.broadcast(centroids.withColumnRenamed("label", "c_label")), "dim")
        .groupBy("q_id", "c_label")
        .agg(F.round(F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))), 6).alias("dist"))
    )
    probes = (
        qdist.withColumn(
            "pr",
            F.row_number().over(W.partitionBy("q_id").orderBy("dist", "c_label")),
        )
        .filter(F.col("pr") <= n_probe)
        .select("q_id", F.col("c_label").alias("label"))
    )
    # probes (≤ Q_CAP × N_PROBE rows) and the query vectors (≤ Q_CAP) are
    # CONSTANT-size driver pulls — bounded by Q_CAP, not by any corpus
    # fraction; candidate scoring then runs as the vectorized per-label
    # mapInPandas scorer — bit-identical to the HOF chain via lr_matmul —
    # instead of a broadcast-join with interpreted per-pair dot products.
    probe_rows = probes.collect()
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}
    probe_map: dict[int, list[int]] = {}
    for r in probe_rows:
        probe_map.setdefault(int(r.label), []).append(q_index[int(r.q_id)])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for label, grp in pdf.groupby("label"):
                qs = probe_map.get(int(label))
                if not qs:
                    continue
                qs = np.array(sorted(qs))
                C = _to_matrix(grp["embedding"])
                c_ids = grp["vec_id"].to_numpy()
                dots, c_sq = lr_matmul(C, Q[qs])
                cos = dots / (q_norm[qs][None, :] * np.sqrt(c_sq)[:, None])
                n_c, n_q = cos.shape
                out = pd.DataFrame(
                    {
                        "q_id": np.tile(q_ids[qs], n_c),
                        "c_id": np.repeat(c_ids, n_q),
                        "cosine": cos.ravel(),
                    }
                )
                yield out[out.q_id != out.c_id]

    sims = (
        emb.select("vec_id", "label", "embedding")
        .mapInPandas(score, "q_id long, c_id long, cosine double")
        .select("q_id", "c_id", F.round("cosine", 6).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )


KMEANS_K = 8
KMEANS_ITERS = 3


def _kmeans_chain_ctes() -> tuple[list, str, str]:
    """(cte_list, final_assign_name, routing_centroid_name) — the
    unrolled Lloyd chain shared by the q_sim_kmeans gate and the
    learned-quantizer IVF oracle. The routing centroids are the ones
    the FINAL assignment used (c{KMEANS_ITERS - 1}), so posting lists
    and query routing come from the same quantizer state."""
    ctes = [
        """
    dims AS (
      SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             UNNEST(embedding::DOUBLE[]) AS v
      FROM embeddings
    ),
    init_ids AS (
      SELECT vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster
      FROM embeddings ORDER BY vec_id LIMIT {K}
    ),
    c0 AS (
      SELECT i.cluster, d.dim, d.v AS cv
      FROM init_ids i JOIN dims d USING (vec_id)
    )""".replace("{K}", str(KMEANS_K))
    ]
    prev_c = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        ctes.append(
            f"""
    a{i} AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT d.vec_id, c.cluster,
               SUM((d.v - c.cv) * (d.v - c.cv)) AS d2,
               ROW_NUMBER() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY SUM((d.v - c.cv) * (d.v - c.cv)), c.cluster) AS rn
        FROM dims d JOIN {prev_c} c ON d.dim = c.dim
        GROUP BY d.vec_id, c.cluster
      ) WHERE rn = 1
    )"""
        )
        if i < KMEANS_ITERS:
            ctes.append(
                f"""
    c{i} AS (
      SELECT p.cluster, p.dim, COALESCE(u.cv, p.cv) AS cv
      FROM {prev_c} p LEFT JOIN (
        SELECT a.cluster, d.dim, AVG(d.v) AS cv
        FROM a{i} a JOIN dims d USING (vec_id)
        GROUP BY a.cluster, d.dim
      ) u ON u.cluster = p.cluster AND u.dim = p.dim
    )"""
            )
            prev_c = f"c{i}"
    return ctes, f"a{KMEANS_ITERS}", prev_c


def _kmeans_oracle() -> str:
    """Lloyd's k-means, UNROLLED to {KMEANS_ITERS} fixed iterations of
    pure SQL (the same unrolled-fixpoint trick as the PageRank/BFS
    oracles): deterministic init from the first {KMEANS_K} vectors,
    then per iteration an argmin assignment (ROW_NUMBER over summed
    squared distance, ties to the lowest cluster — numpy argmin picks
    the first minimum, so the tie-breaks agree) and a per-(cluster,dim)
    AVG update with COALESCE keeping empty clusters' previous centroid
    (mirroring by_cluster.get(i, centroids[i]) in the Spark path).
    Cross-engine float-sum ordering differs at ~1e-15 relative; an
    assignment flip would need two centroids equidistant from a point
    to that precision, and the final inertia is rounded to 2 decimals —
    both far outside the discrepancy scale."""
    ctes, assign, _cent = _kmeans_chain_ctes()
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT cluster, COUNT(*) AS n_vecs, ROUND(SUM(d2), 2) AS inertia
    FROM {assign} GROUP BY cluster ORDER BY cluster
    """
    )


# q_sim_kmeans and the learned-quantizer IVF both consume the same final
# assignment and routing centroids
@memoized("kmeans_train")
def _kmeans_train_cached(spark, sf_dir):
    """Returns (assigned, route_centroids): the final Lloyd assignment
    (vec_id, e, cluster, d2) checkpointed, and the k x d centroid list
    that PRODUCED it (c_{KMEANS_ITERS-1} in oracle terms) — posting
    lists and query routing must come from the same quantizer state.
    See q_sim_kmeans for the full plan/determinism contract."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    k_first = [r.e for r in emb.orderBy("vec_id").limit(KMEANS_K).collect()]

    def assign(centroids):
        # centroids are a k×d CONSTANT — ship them in the closure and
        # assign in an Arrow-batched numpy kernel (argmin over squared
        # L2, lowest cluster on ties) instead of a crossJoin of
        # interpreted HOF distances + a per-vector ranking window. Same
        # rewrite as the PQ encoder; cut the query 25.8s → ~6s at
        # sf0.01.
        Cm = np.array(centroids)  # (k, d)

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                A = _to_matrix(pdf["e"])  # (n, d)
                d2 = (
                    (A * A).sum(axis=1)[:, None]
                    - 2 * A @ Cm.T
                    + (Cm * Cm).sum(axis=1)[None, :]
                )
                best = np.argmin(d2, axis=1)
                out = pdf[["vec_id", "e"]].copy()
                out["cluster"] = best.astype(np.int32)
                out["d2"] = d2[np.arange(len(pdf)), best]
                yield out

        return emb.mapInPandas(
            score, "vec_id long, e array<double>, cluster int, d2 double"
        )

    assigned = None
    centroids = k_first
    route_centroids = k_first
    for _ in range(KMEANS_ITERS):
        prev = assigned
        route_centroids = centroids
        assigned = assign(centroids).localCheckpoint(eager=True)
        new_cent = (
            assigned.select("cluster", F.posexplode("e").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.avg("v").alias("cv"))
            .groupBy("cluster")
            .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)").alias("c"))
            .orderBy("cluster")
            .collect()
        )
        by_cluster = {r.cluster: list(r.c) for r in new_cent}
        centroids = [by_cluster.get(i, centroids[i]) for i in range(KMEANS_K)]
        del prev  # checkpointed; nothing to unpersist
    return assigned, route_centroids


@register("q_sim_kmeans", oracle=_kmeans_oracle())
def q_sim_kmeans(spark, sf_dir):
    """Lloyd's k-means ({KMEANS_K} clusters, {KMEANS_ITERS} fixed
    iterations) — the iterative-algorithm pattern on DataFrames:

    - deterministic init (the first {KMEANS_K} vectors by vec_id);
    - assignment = broadcast the k centroids, pick argmin squared
      distance (computed JVM-side with zip_with/aggregate);
    - update = posexplode to (cluster, dim, v), average per (cluster,
      dim) — one shuffle per iteration;
    - each iteration's assignment DataFrame is cached and the previous
      one unpersisted, so the lineage (and recomputation cost) does not
      grow with the iteration count — the standard guard for iterative
      Spark jobs.

    Iterations are a fixed small count (no driver-side convergence loop
    over collect()ed state beyond the k×d centroid table, which IS small
    by construction — that is the one legitimate driver round-trip).
    Hash-gated against an UNROLLED pure-SQL Lloyd's oracle
    (_kmeans_oracle); inertia monotonicity is additionally asserted in
    tests/test_similarity.py.
    """
    assigned, _route = _kmeans_train_cached(spark, sf_dir)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("d2"), 2).alias("inertia"),
        )
        .orderBy("cluster")
    )


@register(
    "q_sim_quantize_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e,
             LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[], x -> ABS(x))) / 127
               AS scale
      FROM embeddings
    )
    SELECT vec_id, label, scale,
           LIST_MAX(LIST_TRANSFORM(e, x ->
             ABS(x - FLOOR(x / scale + 0.5) * scale))) AS max_abs_err
    FROM q
    """,
)
def q_sim_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the storage
    layout ANN indexes ship at scale (4x smaller than float32, 8x than
    float64): per-vector scale = max|x| / 127, code = floor(x/scale +
    0.5), and the max absolute reconstruction error as the quality
    metric. Every step is element-wise double arithmetic (no summation
    order), so Spark and DuckDB agree bitwise on the unrounded outputs;
    floor(x + 0.5) is used instead of round() because the engines差
    half-even vs half-away rounding, while floor is exact IEEE."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(e, lambda x: F.abs(x))) / 127
    df = emb.select("vec_id", "label", e.alias("e"), scale.alias("scale"))
    err = F.array_max(
        F.transform(
            "e",
            lambda x: F.abs(
                x - F.floor(x / F.col("scale") + 0.5) * F.col("scale")
            ),
        )
    )
    return df.select("vec_id", "label", "scale", err.alias("max_abs_err"))


# --- product quantization (PQ) codes --------------------------------------

PQ_M = 4          # subspaces
PQ_SUB = 16       # dims per subspace (4 * 16 = 64 = embedding dim)
PQ_K = 8          # centroids per subspace codebook


@register(
    "q_sim_pq_codes",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {PQ_K}),
    sub AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
    dist AS (
      SELECT v.vec_id, sub.m, cent.cid,
             LIST_DOT_PRODUCT(list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                              list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             - 2 * LIST_DOT_PRODUCT(list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                    list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             + LIST_DOT_PRODUCT(list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
               AS d2
      FROM v CROSS JOIN sub CROSS JOIN cent
    ),
    best AS (
      SELECT vec_id, m, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
      FROM dist
    )
    SELECT vec_id,
           CAST(MAX(CASE WHEN m = 0 THEN cid END) AS BIGINT) AS code0,
           CAST(MAX(CASE WHEN m = 1 THEN cid END) AS BIGINT) AS code1,
           CAST(MAX(CASE WHEN m = 2 THEN cid END) AS BIGINT) AS code2,
           CAST(MAX(CASE WHEN m = 3 THEN cid END) AS BIGINT) AS code3,
           ROUND(SUM(d2), 6) AS quant_err
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def q_sim_pq_codes(spark, sf_dir):
    """Product quantization: split each 64-dim embedding into {PQ_M}
    subvectors of {PQ_SUB} dims and encode each against a {PQ_K}-entry
    per-subspace codebook (argmin squared-L2), emitting the compact
    code tuple plus total quantization error. PQ is the memory side of
    large-scale ANN: a 64-float vector becomes {PQ_M} small ints, and
    query-time distances come from {PQ_M} table lookups.

    The codebook here is deterministic (the first {PQ_K} vectors) so
    the oracle can reproduce it; in production it comes from k-means
    (q_sim_kmeans is the trainer shape). Distances expand to
    a·a − 2a·c + c·c with left-to-right double summation so both
    engines compute bit-identical floats.

    Plan shape: the codebook is a CONSTANT driver pull ({PQ_K} vectors)
    shipped in the task closure; encoding runs as an Arrow-batched numpy
    scorer (one output row per vector, argmin + error computed in-batch)
    instead of a {PQ_K}×{PQ_M}-way crossJoin of interpreted
    higher-order-function dot products — the round-2 HOF lesson applied
    here cut 9.4s → ~1s at sf0.01. Accumulation is per dimension in
    slice order (lr_matmul-style), bit-identical to the SQL expansion,
    so the argmin ordering and the rounded error match the oracle
    exactly."""
    emb = load(spark, sf_dir, "embeddings")
    cent_pd = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    C = _to_matrix(cent_pd["embedding"])  # (PQ_K, dim) in cid order

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["embedding"])  # (n, dim)
            n = A.shape[0]
            codes = np.zeros((n, PQ_M), dtype=np.int64)
            err = np.zeros(n)
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
                # a·a, a·c, c·c with strict left-to-right accumulation
                # over the slice dims — the engines' shared float order
                aa = np.zeros(n)
                ac = np.zeros((n, PQ_K))
                cc = np.zeros(PQ_K)
                for i in range(lo, hi):
                    ai = A[:, i]
                    ci = C[:, i]
                    aa += ai * ai
                    ac += ai[:, None] * ci[None, :]
                    cc += ci * ci
                d2 = aa[:, None] - 2 * ac + cc[None, :]
                best = np.argmin(d2, axis=1)  # first (lowest cid) on ties
                codes[:, m] = best
                err += d2[np.arange(n), best]
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "code0": codes[:, 0],
                    "code1": codes[:, 1],
                    "code2": codes[:, 2],
                    "code3": codes[:, 3],
                    "quant_err": err,
                }
            )
            yield out

    coded = emb.select("vec_id", "embedding").mapInPandas(
        encode,
        "vec_id long, code0 long, code1 long, code2 long, code3 long,"
        " quant_err double",
    )
    return coded.select(
        "vec_id",
        "code0",
        "code1",
        "code2",
        "code3",
        F.round("quant_err", 6).alias("quant_err"),
    )


# --- IVF-PQ with exact re-rank (the production ANN composition) -----------

IVFPQ_RERANK = 4 * TOP_K  # ADC shortlist size per query


@register(
    "q_sim_ivfpq_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (
      SELECT label, vec_id, UNNEST(embedding::DOUBLE[]) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim
      FROM embeddings
    ),
    centroids AS (
      SELECT label, dim, AVG(v) AS cv FROM dims GROUP BY label, dim
    ),
    qdist AS (
      SELECT d.vec_id AS q_id, c.label,
             ROUND(SUM((d.v - c.cv) * (d.v - c.cv)), 6) AS dist
      FROM dims d JOIN centroids c ON d.dim = c.dim
      WHERE d.vec_id % {QUERY_MOD} = 0 AND d.vec_id < {Q_MAX_ID}
      GROUP BY d.vec_id, c.label
    ),
    probes AS (
      SELECT q_id, label FROM (
        SELECT q_id, label,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, label) AS pr
        FROM qdist
      ) WHERE pr <= {N_PROBE}
    ),
    cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {PQ_K}),
    sub AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
    cdist AS (
      SELECT v.vec_id, sub.m, cent.cid,
             LIST_DOT_PRODUCT(list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                              list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             - 2 * LIST_DOT_PRODUCT(list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                    list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             + LIST_DOT_PRODUCT(list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
               AS d2
      FROM v CROSS JOIN sub CROSS JOIN cent
    ),
    codes AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, e AS qe FROM v
          WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    qdt AS (
      SELECT q.q_id, sub.m, cent.cid,
             LIST_DOT_PRODUCT(list_slice(q.qe, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                              list_slice(q.qe, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             - 2 * LIST_DOT_PRODUCT(list_slice(q.qe, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                    list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             + LIST_DOT_PRODUCT(list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
               AS d2
      FROM q CROSS JOIN sub CROSS JOIN cent
    ),
    adc AS (
      SELECT p.q_id, c.vec_id AS c_id,
             ((MAX(CASE WHEN codes.m = 0 THEN qdt.d2 END)
               + MAX(CASE WHEN codes.m = 1 THEN qdt.d2 END))
               + MAX(CASE WHEN codes.m = 2 THEN qdt.d2 END))
               + MAX(CASE WHEN codes.m = 3 THEN qdt.d2 END) AS adc
      FROM probes p
      JOIN v c ON c.label = p.label
      JOIN codes ON codes.vec_id = c.vec_id
      JOIN qdt ON qdt.q_id = p.q_id AND qdt.m = codes.m AND qdt.cid = codes.cid
      WHERE c.vec_id <> p.q_id
      GROUP BY p.q_id, c.vec_id
    ),
    short AS (
      SELECT q_id, c_id, adc FROM (
        SELECT q_id, c_id, adc,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS ra
        FROM adc
      ) WHERE ra <= {IVFPQ_RERANK}
    ),
    rerank AS (
      SELECT s.q_id, s.c_id, s.adc,
             LIST_DOT_PRODUCT(q.qe, cv.e)
               / (SQRT(LIST_DOT_PRODUCT(q.qe, q.qe))
                  * SQRT(LIST_DOT_PRODUCT(cv.e, cv.e))) AS cosine
      FROM short s JOIN q ON q.q_id = s.q_id JOIN v cv ON cv.vec_id = s.c_id
    )
    SELECT q_id, c_id, ROUND(adc, 6) AS adc, ROUND(cosine, 6) AS cosine,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT q_id, c_id, adc, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
      FROM rerank
    ) WHERE rn <= {TOP_K}
    """,
)
def q_sim_ivfpq_topk(spark, sf_dir, n_probe: int | None = None, rerank_n: int | None = None):
    """IVF-PQ with exact re-rank — the composition production ANN
    systems actually run at 100 TB (FAISS's IndexIVFPQ shape): the IVF
    coarse quantizer (per-label centroids, {N_PROBE} probes) prunes the
    corpus to a few posting lists; PQ asymmetric-distance scoring
    ({PQ_M}x{PQ_SUB}-dim subspaces, {PQ_K}-entry codebooks) ranks every
    candidate in the probed lists from compact codes without touching
    the raw vectors; the top {IVFPQ_RERANK} per query are re-ranked
    with exact cosine to emit the final top {TOP_K}.

    Composes the verified pieces: probe selection is q_sim_ivf_topk's,
    the codebook/encoding is q_sim_pq_codes's (deterministic first-
    {PQ_K}-vectors codebook so the oracle reproduces it), and the
    re-rank is q_sim_cosine_topk's scoring. All floating-point paths
    keep strict left-to-right accumulation (lr_matmul pattern), and the
    ADC sum adds subspace terms in m order on both engines, so ranks —
    including the shortlist cut — are decided on bit-identical doubles.

    Plan shape: centroids and codebook are constant-size driver pulls;
    ADC scoring is one Arrow-batched pass over the probed cells (an
    equi-join shape on label, like IVF); the re-rank touches only
    |queries| x {IVFPQ_RERANK} rows. Nothing scales with corpus size
    except the embarrassingly-parallel encode+score pass.

    ``n_probe`` and ``rerank_n`` override the registered defaults
    ({N_PROBE} probes, {IVFPQ_RERANK}-deep shortlist) — the two
    recall/cost knobs of the composition, both swept by
    tools/bench_ann_recall.py. When the coarse quantizer is good,
    recall is bounded by ADC ranking quality, and the recovery lever is
    the re-rank depth, not more probes.
    """
    n_probe = N_PROBE if n_probe is None else int(n_probe)
    rerank_n = IVFPQ_RERANK if rerank_n is None else int(rerank_n)
    emb = load(spark, sf_dir, "embeddings")
    # --- IVF probe selection (same construction as q_sim_ivf_topk) ---
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    centroids = dims.groupBy("label", "dim").agg(F.avg("v").alias("cv"))
    qdist = (
        dims.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < Q_MAX_ID))
        .select(F.col("vec_id").alias("q_id"), "dim", "v")
        .join(F.broadcast(centroids.withColumnRenamed("label", "c_label")), "dim")
        .groupBy("q_id", "c_label")
        .agg(
            F.round(
                F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))), 6
            ).alias("dist")
        )
    )
    probes = (
        qdist.withColumn(
            "pr",
            F.row_number().over(W.partitionBy("q_id").orderBy("dist", "c_label")),
        )
        .filter(F.col("pr") <= n_probe)
        .select("q_id", F.col("c_label").alias("label"))
    )
    # constant-size driver pulls: probes (<= Q_CAP*N_PROBE), queries
    # (<= Q_CAP), codebook (PQ_K)
    probe_rows = probes.collect()
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)
    cent_pd = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    C = _to_matrix(cent_pd["embedding"])  # (PQ_K, dim) in cid order
    # per-query ADC tables, left-to-right slice accumulation per subspace
    nq = Q.shape[0]
    qdt = np.zeros((nq, PQ_M, PQ_K))
    for m in range(PQ_M):
        lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
        aa = np.zeros(nq)
        ac = np.zeros((nq, PQ_K))
        cc = np.zeros(PQ_K)
        for i in range(lo, hi):
            qi = Q[:, i]
            ci = C[:, i]
            aa += qi * qi
            ac += qi[:, None] * ci[None, :]
            cc += ci * ci
        qdt[:, m, :] = aa[:, None] - 2 * ac + cc[None, :]
    probe_map: dict[int, list[int]] = {}
    for r in probe_rows:
        probe_map.setdefault(int(r.label), []).append(q_index[int(r.q_id)])

    def adc_score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for label, grp in pdf.groupby("label"):
                qs = probe_map.get(int(label))
                if not qs:
                    continue
                qs = np.array(sorted(qs))
                A = _to_matrix(grp["embedding"])
                n = A.shape[0]
                c_ids = grp["vec_id"].to_numpy()
                # PQ-encode the candidates (q_sim_pq_codes construction)
                codes = np.zeros((n, PQ_M), dtype=np.int64)
                for m in range(PQ_M):
                    lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
                    aa = np.zeros(n)
                    ac = np.zeros((n, PQ_K))
                    cc = np.zeros(PQ_K)
                    for i in range(lo, hi):
                        ai = A[:, i]
                        ci = C[:, i]
                        aa += ai * ai
                        ac += ai[:, None] * ci[None, :]
                        cc += ci * ci
                    d2 = aa[:, None] - 2 * ac + cc[None, :]
                    codes[:, m] = np.argmin(d2, axis=1)  # lowest cid on ties
                # ADC: sum the per-subspace table entries in m order
                adc = np.zeros((n, len(qs)))
                for m in range(PQ_M):
                    adc += qdt[qs, m, :][:, codes[:, m]].T
                out = pd.DataFrame(
                    {
                        "q_id": np.tile(q_ids[qs], n),
                        "c_id": np.repeat(c_ids, len(qs)),
                        "adc": adc.ravel(),
                    }
                )
                yield out[out.q_id != out.c_id]

    adc_df = emb.select("vec_id", "label", "embedding").mapInPandas(
        adc_score, "q_id long, c_id long, adc double"
    )
    wa = W.partitionBy("q_id").orderBy("adc", "c_id")
    short = (
        adc_df.withColumn("ra", F.row_number().over(wa))
        .filter(F.col("ra") <= rerank_n)
        .select("q_id", "c_id", "adc")
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["embedding"])
            dots, c_sq = lr_matmul(A, Q)
            qi = np.array([q_index[int(x)] for x in pdf["q_id"]])
            rows = np.arange(len(pdf))
            cos = dots[rows, qi] / (q_norm[qi] * np.sqrt(c_sq))
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(),
                    "c_id": pdf["c_id"].to_numpy(),
                    "adc": pdf["adc"].to_numpy(),
                    "cosine": cos,
                }
            )

    reranked = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .join(F.broadcast(short), "c_id")
        .select("q_id", "c_id", "adc", "embedding")
        .mapInPandas(rerank, "q_id long, c_id long, adc double, cosine double")
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        reranked.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "q_id",
            "c_id",
            F.round("adc", 6).alias("adc"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# --- IVF-PQ with RESIDUAL encoding (real IndexIVFPQ) -----------------------
#
# The raw-vector composition above spends its entire PQ budget
# re-describing the coarse centroid: on a clustered corpus every vector
# in a list shares the same large centroid component, so the 4x3-bit
# code mostly encodes WHICH BLOB (already known from the list!) and the
# within-list ADC ranking collapses (measured: recall plateaued at ~0.14
# on the clustered fixture while plain IVF hit 1.0 — BENCH_ann_recall
# round 12). Real FAISS IndexIVFPQ (Jegou, Douze & Schmid 2011 §IV.A,
# "IVFADC") therefore PQ-encodes the RESIDUAL r = x - centroid(list) and
# scores queries by their own residual against the same list — the codes
# then spend all their bits on the within-list offsets that actually
# rank neighbors.
#
# Cross-engine float discipline: the coarse centroids are ROUNDED to
# 1e-6 before any residual is formed, so both engines subtract the SAME
# double from the SAME raw vector (an unrounded AVG differs in the last
# ulp between engines and would poison every downstream comparison);
# everything after is the established left-to-right slice accumulation.


RPQ_M = 8          # residual-PQ subspaces
RPQ_SUB = 8        # dims per subspace (8 * 8 = 64)
RPQ_K = 16         # codewords per subspace codebook
RPQ_TRAIN = 256    # codebook training sample: vec_id < RPQ_TRAIN — a
# CONSTANT driver pull regardless of corpus size (FAISS trains PQ on a
# bounded sample too); init = the sample's first RPQ_K residual slices
RPQ_ITERS = 5      # Lloyd iterations per subspace, fixed for replay
RPQ_RERANK = 16 * TOP_K  # deeper default shortlist: residual ADC ranks
# well enough that the exact re-rank is the remaining recall lever


def _ivfpq_residual_oracle() -> str:
    def d2(a, b):
        return (
            f"LIST_DOT_PRODUCT({a}, {a}) - 2 * LIST_DOT_PRODUCT({a}, {b})"
            f" + LIST_DOT_PRODUCT({b}, {b})"
        )

    def rslice(v, m):
        return f"list_slice({v}, {m} * {RPQ_SUB} + 1, ({m} + 1) * {RPQ_SUB})"

    # per-subspace Lloyd chains: assignment (argmin by the shared d2
    # expansion, ties to lowest cid) then per-dim rounded means, empty
    # clusters keeping their previous codeword
    kmeans_ctes = []
    for m in range(RPQ_M):
        kmeans_ctes.append(
            f""",
    t{m} AS MATERIALIZED (
      SELECT vec_id, {rslice('r', m)} AS p FROM rv WHERE vec_id < {RPQ_TRAIN}
    ),
    cb{m}_0 AS (
      SELECT rn - 1 AS cid, p AS c FROM (
        SELECT p, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM t{m}
      ) WHERE rn <= {RPQ_K}
    )"""
        )
        for it in range(1, RPQ_ITERS + 1):
            kmeans_ctes.append(
                f""",
    a{m}_{it} AS (
      SELECT vec_id, p, cid FROM (
        SELECT t.vec_id, t.p, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {d2('t.p', 'c.c')}, c.cid) AS rn
        FROM t{m} t CROSS JOIN cb{m}_{it - 1} c) WHERE rn = 1
    ),
    m{m}_{it} AS (
      SELECT cid, LIST(mv ORDER BY d) AS c FROM (
        SELECT a.cid, u.d, ROUND(AVG(a.p[CAST(u.d AS INT)]), 6) AS mv
        FROM a{m}_{it} a, UNNEST(range(1, {RPQ_SUB} + 1)) AS u(d)
        GROUP BY a.cid, u.d) GROUP BY cid
    ),
    cb{m}_{it} AS MATERIALIZED (
      SELECT p.cid, COALESCE(mm.c, p.c) AS c
      FROM cb{m}_{it - 1} p LEFT JOIN m{m}_{it} mm USING (cid)
    )"""
            )
    cbf_union = "\n      UNION ALL\n      ".join(
        f"SELECT {m} AS m, cid, c FROM cb{m}_{RPQ_ITERS}" for m in range(RPQ_M)
    )
    adc_sum = "MAX(CASE WHEN codes.m = 0 THEN qdt.d2 END)"
    for m in range(1, RPQ_M):
        adc_sum = (
            f"({adc_sum}\n               "
            f"+ MAX(CASE WHEN codes.m = {m} THEN qdt.d2 END))"
        )
    mslice = (
        f"list_slice({{v}}, cbf.m * {RPQ_SUB} + 1, (cbf.m + 1) * {RPQ_SUB})"
    )
    return f"""
    WITH dims AS MATERIALIZED (
      SELECT label, vec_id, UNNEST(embedding::DOUBLE[]) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim
      FROM embeddings
    ),
    centroids AS MATERIALIZED (
      SELECT label, dim, ROUND(AVG(v), 6) AS cv FROM dims GROUP BY label, dim
    ),
    rv AS MATERIALIZED (
      SELECT d.vec_id, d.label, LIST(d.v - c.cv ORDER BY d.dim) AS r
      FROM dims d JOIN centroids c ON d.dim = c.dim AND d.label = c.label
      GROUP BY d.vec_id, d.label
    ){''.join(kmeans_ctes)},
    cbf AS MATERIALIZED (
      {cbf_union}
    ),
    cdist AS (
      SELECT rv.vec_id, cbf.m, cbf.cid,
             {d2(mslice.format(v='rv.r'), 'cbf.c')} AS d2
      FROM rv CROSS JOIN cbf
    ),
    codes AS MATERIALIZED (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    qdist AS (
      SELECT d.vec_id AS q_id, c.label,
             ROUND(SUM((d.v - c.cv) * (d.v - c.cv)), 6) AS dist
      FROM dims d JOIN centroids c ON d.dim = c.dim
      WHERE d.vec_id % {QUERY_MOD} = 0 AND d.vec_id < {Q_MAX_ID}
      GROUP BY d.vec_id, c.label
    ),
    probes AS (
      SELECT q_id, label FROM (
        SELECT q_id, label,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist, label) AS pr
        FROM qdist
      ) WHERE pr <= {N_PROBE}
    ),
    qrv AS (
      SELECT d.vec_id AS q_id, c.label, LIST(d.v - c.cv ORDER BY d.dim) AS qr
      FROM dims d JOIN centroids c ON d.dim = c.dim
      JOIN probes p ON p.q_id = d.vec_id AND p.label = c.label
      GROUP BY d.vec_id, c.label
    ),
    qdt AS MATERIALIZED (
      SELECT qrv.q_id, qrv.label, cbf.m, cbf.cid,
             {d2(mslice.format(v='qrv.qr'), 'cbf.c')} AS d2
      FROM qrv CROSS JOIN cbf
    ),
    adc AS (
      SELECT p.q_id, rv.vec_id AS c_id,
             {adc_sum} AS adc
      FROM probes p
      JOIN rv ON rv.label = p.label
      JOIN codes ON codes.vec_id = rv.vec_id
      JOIN qdt ON qdt.q_id = p.q_id AND qdt.label = p.label
             AND qdt.m = codes.m AND qdt.cid = codes.cid
      WHERE rv.vec_id <> p.q_id
      GROUP BY p.q_id, rv.vec_id
    ),
    short AS (
      SELECT q_id, c_id, adc FROM (
        SELECT q_id, c_id, adc,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS ra
        FROM adc
      ) WHERE ra <= {RPQ_RERANK}
    ),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings
          WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    cvx AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    rerank AS (
      SELECT s.q_id, s.c_id, s.adc,
             LIST_DOT_PRODUCT(q.qe, cv.e)
               / (SQRT(LIST_DOT_PRODUCT(q.qe, q.qe))
                  * SQRT(LIST_DOT_PRODUCT(cv.e, cv.e))) AS cosine
      FROM short s JOIN q ON q.q_id = s.q_id JOIN cvx cv ON cv.vec_id = s.c_id
    )
    SELECT q_id, c_id, ROUND(adc, 6) AS adc, ROUND(cosine, 6) AS cosine,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT q_id, c_id, adc, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
      FROM rerank
    ) WHERE rn <= {TOP_K}
    """


def _lr_sub_d2(A: "np.ndarray", B: "np.ndarray", lo: int, hi: int):
    """Squared L2 between every row of A and every row of B over dims
    [lo, hi), expanded a·a - 2a·b + b·b with strict left-to-right
    per-dim accumulation (the lr_matmul discipline) so the doubles are
    bit-identical to DuckDB's LIST_DOT_PRODUCT on the same slices."""
    aa = np.zeros(A.shape[0])
    ab = np.zeros((A.shape[0], B.shape[0]))
    bb = np.zeros(B.shape[0])
    for i in range(lo, hi):
        ai = A[:, i]
        bi = B[:, i]
        aa += ai * ai
        ab += ai[:, None] * bi[None, :]
        bb += bi * bi
    return aa[:, None] - 2 * ab + bb[None, :]


@register("q_sim_ivfpq_residual_topk", oracle=_ivfpq_residual_oracle())
def q_sim_ivfpq_residual_topk(
    spark, sf_dir, n_probe: int | None = None, rerank_n: int | None = None
):
    """IVF-PQ with RESIDUAL encoding + exact re-rank — the actual FAISS
    IndexIVFPQ composition (Jegou, Douze & Schmid 2011, "IVFADC"): PQ
    codes quantize r = x - centroid(assigned list) instead of the raw
    vector, and each query scores a probed list with tables built from
    its OWN residual against that list's centroid. See the module
    comment above for why the raw-vector sibling (q_sim_ivfpq_topk,
    kept as the diagnostic baseline) wastes its code budget on
    clustered corpora; BENCH_ann_recall.json records both curves.

    Unlike the sibling's toy deterministic codebook, the codebooks here
    are REAL per-subspace k-means ({RPQ_M} subspaces x {RPQ_K}
    codewords, {RPQ_ITERS} Lloyd iterations, init = the first {RPQ_K}
    residual slices), trained on a CONSTANT bounded sample
    (vec_id < {RPQ_TRAIN} — FAISS trains on a sample too, so the
    driver pull stays O(1) in corpus size) and replayed exactly by the
    oracle's unrolled assignment/update CTE chain: every updated
    codeword mean snaps to 1e-6 (like the coarse centroids), keeping
    the training trajectory — and therefore every code — engine-
    identical.

    Plan shape is the sibling's: coarse centroids (|labels| x dim,
    rounded to 1e-6 for cross-engine residual identity), the trained
    codebooks ({RPQ_M} x {RPQ_K} x {RPQ_SUB}) and the training sample
    are constant driver pulls shipped in the task closure; residual
    encode + ADC scoring is one Arrow-batched pass over the probed
    cells grouped by label; the ADC table is built per (query, probed
    list) — |Q| x n_probe x {RPQ_M} x {RPQ_K} doubles, corpus-
    independent. Shortlist (default {RPQ_RERANK}: with a good coarse
    quantizer the exact re-rank depth is THE recall lever, and the
    deeper default costs only |Q| x {RPQ_RERANK} exact scorings) and
    exact-cosine re-rank are unchanged. Every float path keeps strict
    left-to-right slice accumulation, so codes, ADC sums (added in m
    order), the shortlist cut, and the final ranks are decided on
    bit-identical doubles in both engines."""
    n_probe = N_PROBE if n_probe is None else int(n_probe)
    rerank_n = RPQ_RERANK if rerank_n is None else int(rerank_n)
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select("label", "vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    centroids = dims.groupBy("label", "dim").agg(
        F.round(F.avg("v"), 6).alias("cv")
    )
    qdist = (
        dims.filter((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < Q_MAX_ID))
        .select(F.col("vec_id").alias("q_id"), "dim", "v")
        .join(F.broadcast(centroids.withColumnRenamed("label", "c_label")), "dim")
        .groupBy("q_id", "c_label")
        .agg(
            F.round(
                F.sum((F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))), 6
            ).alias("dist")
        )
    )
    probes = (
        qdist.withColumn(
            "pr",
            F.row_number().over(W.partitionBy("q_id").orderBy("dist", "c_label")),
        )
        .filter(F.col("pr") <= n_probe)
        .select("q_id", F.col("c_label").alias("label"))
    )
    # constant-size driver pulls: probes (<= Q_CAP * n_probe), queries
    # (<= Q_CAP), rounded centroids (|labels| x dim), residual codebook
    # (PQ_K x dim)
    probe_rows = probes.collect()
    cent_rows = centroids.collect()
    dim_n = max(r.dim for r in cent_rows)
    CL: dict[int, np.ndarray] = {}
    for r in cent_rows:
        CL.setdefault(int(r.label), np.zeros(dim_n))[int(r.dim) - 1] = float(r.cv)
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)
    tr_pd = (
        emb.filter(F.col("vec_id") < RPQ_TRAIN)
        .select("vec_id", "label", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    TR = _to_matrix(tr_pd["embedding"]) - np.stack(
        [CL[int(l)] for l in tr_pd["label"]]
    )  # bounded training residuals in vec_id order
    # per-subspace Lloyd: assignment argmin uses the same left-to-right
    # d2 expansion as the oracle's CTE chain, ties to lowest cid; every
    # updated mean snaps to 1e-6; empty clusters keep their codeword
    CBs: list[np.ndarray] = []
    for m in range(RPQ_M):
        P = TR[:, m * RPQ_SUB : (m + 1) * RPQ_SUB]
        C = P[:RPQ_K].copy()
        for _ in range(RPQ_ITERS):
            assign = np.argmin(_lr_sub_d2(P, C, 0, RPQ_SUB), axis=1)
            Cn = C.copy()
            for j in range(RPQ_K):
                mem = P[assign == j]
                if len(mem):
                    # strict left-to-right per-dim sums in vec_id order
                    # (the lr_matmul discipline — no pairwise summation),
                    # then ROUND-half-away-from-zero to 1e-6 exactly as
                    # DuckDB/Spark ROUND do (np.round is half-to-even)
                    mv = np.cumsum(mem, axis=0)[-1] / len(mem)
                    Cn[j] = np.sign(mv) * np.floor(np.abs(mv) * 1e6 + 0.5) / 1e6
            C = Cn
        CBs.append(C)
    probe_map: dict[int, list[int]] = {}
    for r in probe_rows:
        probe_map.setdefault(int(r.label), []).append(q_index[int(r.q_id)])

    def adc_score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for label, grp in pdf.groupby("label"):
                qs = probe_map.get(int(label))
                if not qs:
                    continue
                qs = np.array(sorted(qs))
                cl = CL[int(label)]
                R = _to_matrix(grp["embedding"]) - cl[None, :]
                c_ids = grp["vec_id"].to_numpy()
                codes = np.zeros((R.shape[0], RPQ_M), dtype=np.int64)
                for m in range(RPQ_M):
                    lo = m * RPQ_SUB
                    d2 = _lr_sub_d2(R[:, lo : lo + RPQ_SUB], CBs[m], 0, RPQ_SUB)
                    codes[:, m] = np.argmin(d2, axis=1)  # lowest cid on ties
                QR = Q[qs] - cl[None, :]  # this list's query residuals
                adc = np.zeros((R.shape[0], len(qs)))
                for m in range(RPQ_M):
                    lo = m * RPQ_SUB
                    qt = _lr_sub_d2(
                        QR[:, lo : lo + RPQ_SUB], CBs[m], 0, RPQ_SUB
                    )
                    adc += qt[:, codes[:, m]].T
                out = pd.DataFrame(
                    {
                        "q_id": np.tile(q_ids[qs], R.shape[0]),
                        "c_id": np.repeat(c_ids, len(qs)),
                        "adc": adc.ravel(),
                    }
                )
                yield out[out.q_id != out.c_id]

    adc_df = emb.select("vec_id", "label", "embedding").mapInPandas(
        adc_score, "q_id long, c_id long, adc double"
    )
    wa = W.partitionBy("q_id").orderBy("adc", "c_id")
    short = (
        adc_df.withColumn("ra", F.row_number().over(wa))
        .filter(F.col("ra") <= rerank_n)
        .select("q_id", "c_id", "adc")
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["embedding"])
            dots, c_sq = lr_matmul(A, Q)
            qi = np.array([q_index[int(x)] for x in pdf["q_id"]])
            rows = np.arange(len(pdf))
            cos = dots[rows, qi] / (q_norm[qi] * np.sqrt(c_sq))
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(),
                    "c_id": pdf["c_id"].to_numpy(),
                    "adc": pdf["adc"].to_numpy(),
                    "cosine": cos,
                }
            )

    reranked = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .join(F.broadcast(short), "c_id")
        .select("q_id", "c_id", "adc", "embedding")
        .mapInPandas(rerank, "q_id long, c_id long, adc double, cosine double")
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        reranked.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "q_id",
            "c_id",
            F.round("adc", 6).alias("adc"),
            F.round("cosine", 6).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# --- BINARY QUANTIZATION + Hamming scan + exact re-rank ---------------------
#
# The newest member of the quantization family (int8 -> PQ -> residual
# PQ -> BINARY): keep ONE SIGN BIT per dimension, so a 64-dim float
# vector becomes a single 64-bit word, Hamming distance is two xor +
# popcount instructions, and the "index" is just a packed column — the
# re-ranked binary-quantization mode modern vector stores ship (32x
# memory cut, SIMD scan) per Charikar 2002's sign-random-projection
# bound (E[hamming] is monotone in angle, so Hamming ranks approximate
# cosine ranks and an exact re-rank of a deep-enough shortlist recovers
# the true top-k).

BQ_RERANK = 16 * TOP_K  # Hamming shortlist depth before exact re-rank —
# deeper than PQ's because one bit per dimension blurs WITHIN-cluster
# geometry (sign bits are dominated by the blob center), so the exact
# re-rank carries more of the recall (measured on the clustered
# fixture: 0.66 at 8k, 0.93 at 16k, 1.0 at 32k)


@register(
    "q_sim_binary_hamming_topk",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id,
             CAST(LIST_SUM(LIST_TRANSFORM(range(1, 33),
               j -> CASE WHEN embedding[CAST(j AS INT)] > 0
                         THEN 1::BIGINT << (CAST(j AS INT) - 1)
                         ELSE 0::BIGINT END))
               AS BIGINT) AS p_lo,
             CAST(LIST_SUM(LIST_TRANSFORM(range(33, 65),
               j -> CASE WHEN embedding[CAST(j AS INT)] > 0
                         THEN 1::BIGINT << (CAST(j AS INT) - 33)
                         ELSE 0::BIGINT END))
               AS BIGINT) AS p_hi
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, p_lo AS q_lo, p_hi AS q_hi FROM packed
          WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    ham AS (
      SELECT q.q_id, c.vec_id AS c_id,
             CAST(bit_count(xor(q.q_lo, c.p_lo))
                  + bit_count(xor(q.q_hi, c.p_hi)) AS BIGINT) AS hamming
      FROM q JOIN packed c ON c.vec_id <> q.q_id
    ),
    short AS (
      SELECT q_id, c_id, hamming FROM (
        SELECT q_id, c_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY hamming, c_id) AS rh
        FROM ham) WHERE rh <= {BQ_RERANK}
    ),
    qe AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS e FROM embeddings
           WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    ce AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS e FROM embeddings),
    rr AS (
      SELECT s.q_id, s.c_id, s.hamming,
             ROUND(LIST_DOT_PRODUCT(qe.e, ce.e)
                   / (SQRT(LIST_DOT_PRODUCT(qe.e, qe.e))
                      * SQRT(LIST_DOT_PRODUCT(ce.e, ce.e))), 6) AS cosine
      FROM short s JOIN qe ON qe.q_id = s.q_id JOIN ce ON ce.c_id = s.c_id
    )
    SELECT q_id, c_id, hamming, cosine, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, c_id, hamming, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rn
      FROM rr) WHERE rn <= {TOP_K}
    """,
)
def q_sim_binary_hamming_topk(spark, sf_dir):
    """BINARY-QUANTIZED ANN: sign-bit vectors, a packed-word Hamming
    scan (two xor+popcount per candidate — the oracle literally
    computes bit_count(xor(lo)) + bit_count(xor(hi)) on the two packed
    BIGINT halves), a {BQ_RERANK}-deep shortlist by (hamming, id), and
    an exact-cosine re-rank to the final top-{TOP_K}. See the section
    comment for why this is the production re-ranked BQ mode.

    Plan shape: the scan is the brute-force class BY DESIGN — binary
    quantization exists to make the linear scan 32x cheaper, not to
    prune it — so the shape mirrors q_sim_cosine_topk's: the packed
    query words (<= Q_CAP, constant) ride in the task closure and one
    Arrow-batched pass emits per-pair Hamming integers; numpy packs the
    same two int64 halves and popcounts the xor via unpackbits, so the
    integers are identical to the oracle's by construction (sign bits
    come from the raw parquet doubles — no float computation anywhere
    before the exact re-rank, whose cosine path is the established
    lr_matmul/e6 discipline). Shortlist and final ranks are decided on
    (integer, id) and (e6, id) keys — fully deterministic."""
    emb = load(spark, sf_dir, "embeddings")
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    q_index = {int(qid): i for i, qid in enumerate(q_ids)}
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)
    w32 = 1 << np.arange(32, dtype=np.int64)

    def pack(M: "np.ndarray"):
        S = M > 0
        return (S[:, :32] * w32).sum(axis=1), (S[:, 32:] * w32).sum(axis=1)

    q_lo, q_hi = pack(Q)

    def popcount(x: "np.ndarray") -> "np.ndarray":
        b = x.astype(np.int64).view(np.uint8).reshape(x.shape + (8,))
        return np.unpackbits(b, axis=-1).sum(axis=-1, dtype=np.int64)

    def ham_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            c_ids = pdf["vec_id"].to_numpy()
            c_lo, c_hi = pack(C)
            ham = popcount(
                np.bitwise_xor(c_lo[:, None], q_lo[None, :])
            ) + popcount(np.bitwise_xor(c_hi[:, None], q_hi[None, :]))
            n_c, n_q = ham.shape
            out = pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n_c),
                    "c_id": np.repeat(c_ids, n_q),
                    "hamming": ham.ravel(),
                }
            )
            yield out[out.q_id != out.c_id]

    ham_df = emb.select("vec_id", "embedding").mapInPandas(
        ham_scan, "q_id long, c_id long, hamming long"
    )
    wh = W.partitionBy("q_id").orderBy("hamming", "c_id")
    short = (
        ham_df.withColumn("rh", F.row_number().over(wh))
        .filter(F.col("rh") <= BQ_RERANK)
        .select("q_id", "c_id", "hamming")
    )

    def rerank(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["embedding"])
            dots, c_sq = lr_matmul(A, Q)
            qi = np.array([q_index[int(x)] for x in pdf["q_id"]])
            rows = np.arange(len(pdf))
            cos = dots[rows, qi] / (q_norm[qi] * np.sqrt(c_sq))
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(),
                    "c_id": pdf["c_id"].to_numpy(),
                    "hamming": pdf["hamming"].to_numpy(),
                    "cosine": cos,
                }
            )

    reranked = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .join(F.broadcast(short), "c_id")
        .select("q_id", "c_id", "hamming", "embedding")
        .mapInPandas(
            rerank, "q_id long, c_id long, hamming long, cosine double"
        )
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        reranked.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "q_id",
            "c_id",
            "hamming",
            F.round("cosine", 6).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus k-NN graph: every vector's top neighbors, blocked by the coarse
# partition (label) so the all-pairs cross join becomes a per-block
# equi-join — the standard first step of graph-based dedup/curation
# (kNN-graph clustering, connectivity-based filtering).

KNN_K = 3
# Bound on rows per kNN block: label blocks larger than this are
# deterministically sub-split into ceil(n_label/CAP) md5-hash buckets,
# so the within-block quadratic term stays ~CAP-bounded no matter how
# the corpus grows — the blocks-∝-corpus knob production scales with a
# finer quantizer. The sub key is an md5-derived integer (engine-
# identical, the dedup-family trick), NOT vec_id % n_sub: a plain
# modulus is only cap-bounded when ids are uncorrelated with the
# modulus (the 16x probe's shifted-copy ids measured a 309-row worst
# bucket, and round-robin label assignment could put a whole label in
# ONE residue class); the hash decorrelates, leaving only the
# multinomial tail (~cap + O(sqrt(cap)) w.h.p.). 256 keeps every
# fixture label block whole (sf0.1 max is 218) so small-scale results
# equal the uncapped form.
KNN_BLOCK_CAP = 256


@register(
    "q_sim_knn_graph",
    oracle=f"""
    WITH c AS (
      SELECT label, COUNT(*) AS nl FROM embeddings GROUP BY label
    ),
    v AS (
      SELECT em.vec_id, em.label,
             ('0x' || substr(md5(CAST(em.vec_id AS VARCHAR)), 1, 15))::BIGINT
               % CAST(CEIL(c.nl / {KNN_BLOCK_CAP}.0) AS BIGINT) AS sub,
             em.embedding::DOUBLE[] AS e,
             SQRT(LIST_DOT_PRODUCT(em.embedding::DOUBLE[],
                                   em.embedding::DOUBLE[])) AS nrm
      FROM embeddings em JOIN c USING (label)
    ),
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             LIST_DOT_PRODUCT(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
      FROM v a JOIN v b
        ON a.label = b.label AND a.sub = b.sub AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT src, dst, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_raw DESC, dst) AS rn
      FROM pairs
    )
    SELECT src, dst, CAST(rn AS BIGINT) AS nn_rank, ROUND(cos_raw, 6) AS cosine
    FROM ranked WHERE rn <= {KNN_K}
    """,
)
def q_sim_knn_graph(spark, sf_dir):
    """Corpus-to-corpus k-NN graph: each vector's top-{KNN_K} cosine
    neighbors WITHIN its coarse block (``label`` — in production the IVF
    posting list / k-means cluster id). Unlike q_sim_cosine_topk, BOTH
    sides are corpus-sized, so the block key is what makes this feasible:
    the join is an equi-join on the block key (shuffle-hash,
    co-partitioned), never a cross join, and the quadratic term is
    bounded by the largest block, not the corpus.

    Blocks-∝-corpus by default: a FIXED block count makes block
    population grow with the corpus and the within-block quadratic term
    superlinear (measured exponent 1.23 at 16x before this cap,
    BENCH_qscale.json). So any label block larger than
    {KNN_BLOCK_CAP} rows is deterministically sub-split on an
    md5-derived hash of vec_id mod ceil(n_label/{KNN_BLOCK_CAP}) — the same
    finer-quantizer knob production turns (more k-means centroids), in a
    form both engines reproduce exactly. Per-label counts ride a
    broadcast join (one map-side aggregate, #labels rows); every fixture
    block is under the cap, so small-scale results are identical to the
    uncapped form, while probe-scale blocks stay CAP-bounded and the
    total cost linear.

    Execution: ONE applyInPandas grouped by label — a single hash
    shuffle of the corpus; inside each block the pairwise scores come
    from numpy in row-chunks (peak memory O(chunk x block), never
    block²) with left-to-right accumulation (lr_matmul), so scores are
    bit-identical to the oracle's LIST_DOT_PRODUCT and the
    (score DESC, dst ASC) neighbor ranking is deterministic. At 100 TB
    you'd add multi-probe (join each vector to its R nearest block ids,
    the q_sim_ivf_topk shape) to recover cross-block edges; the
    single-probe form here is the recall floor with the same plan."""
    emb = load(spark, sf_dir, "embeddings")
    return _knn_edges(emb, KNN_K).select(
        "src", "dst", "nn_rank", F.round("cos_raw", 6).alias("cosine")
    )


def _make_knn_block(knn_k: int):
    """Build the per-block exact-kNN pandas kernel used by _knn_edges
    (label/sub blocks) and _l1_edges (the single routing-layer block):
    within the block, rank by raw cosine with the stable-argsort
    dst-ascending tiebreak, keep the top knn_k."""

    def knn_block(pdf):
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"src": [], "dst": [], "nn_rank": [], "cos_raw": []}
            ).astype({"src": "int64", "dst": "int64", "nn_rank": "int64", "cos_raw": "float64"})
        M = _to_matrix(pdf["embedding"])
        ids = pdf["vec_id"].to_numpy()
        _, sq = lr_matmul(M, M[:0])
        nrm = np.sqrt(sq)
        k = min(knn_k, m - 1)
        srcs, dsts, ranks, coss = [], [], [], []
        chunk = 1024
        for i0 in range(0, m, chunk):
            i1 = min(i0 + chunk, m)
            b = i1 - i0
            dots, _ = lr_matmul(M[i0:i1], M)
            cos = dots / (nrm[i0:i1, None] * nrm[None, :])
            scored = cos.copy()
            scored[np.arange(b), np.arange(i0, i1)] = -np.inf  # self sorts last
            # rows are vec_id-sorted, so a STABLE descending sort's tie
            # order IS the dst-id-ascending tiebreak — one vectorized
            # argsort instead of a per-row lexsort
            order = np.argsort(-scored, axis=1, kind="stable")[:, :k]
            srcs.append(np.repeat(ids[i0:i1], k))
            dsts.append(ids[order].ravel())
            ranks.append(np.tile(np.arange(1, k + 1), b))
            coss.append(np.take_along_axis(cos, order, axis=1).ravel())
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "nn_rank": np.concatenate(ranks),
                "cos_raw": np.concatenate(coss),
            }
        )

    return knn_block


def _md5_mod_col():
    """The engine-identical md5-derived integer of vec_id (15 hex chars
    = 60 bits) used for sub-blocking and routing-layer sampling."""
    return F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")


def _knn_edges(emb, knn_k: int):
    """Blocked kNN edge builder shared by q_sim_knn_graph (report graph,
    k={KNN_K}) and q_sim_graph_search_topk (denser SEARCH graph) —
    returns (src, dst, nn_rank, cos_raw) with the cap/sub-split
    discipline documented on q_sim_knn_graph."""
    knn_block = _make_knn_block(knn_k)

    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("nl"))
    n_sub = F.ceil(F.col("nl") / F.lit(float(KNN_BLOCK_CAP))).cast("long")
    # md5-derived sub key (engine-identical): id patterns correlated
    # with a plain modulus can blow past the cap or collapse a label
    # into one residue class — hashing restores the multinomial bound
    return (
        emb.select("vec_id", "label", "embedding")
        .join(F.broadcast(cnt), "label")
        .withColumn("sub", _md5_mod_col() % n_sub)
        .groupBy("label", "sub")
        .applyInPandas(
            knn_block, "src long, dst long, nn_rank long, cos_raw double"
        )
    )


def _l1_edges(emb, l1_mod: int, deg: int):
    """Long-range links of the HNSW-style coarse layer: exact kNN at
    degree ``deg`` over the md5-sampled routing nodes (expected size
    ~GS_L1_CAP, corpus-independent), computed as ONE block of the same
    kernel _knn_edges uses. These edges cross labels, which is what
    stitches the per-label kNN components into one navigable graph."""
    return (
        emb.filter(_md5_mod_col() % l1_mod == 0)
        .select("vec_id", "embedding")
        .withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            _make_knn_block(deg),
            "src long, dst long, nn_rank long, cos_raw double",
        )
    )


WHITEN_EPS = 1e-8  # RELATIVE eigenvalue floor (fraction of lambda_max)
WHITEN_TOL = 1e-4  # identity-covariance contract tolerance


def _moment_partial(batches):
    """Per-partition first/second moment accumulator for a vector
    column: one (n, sum[d], sum-of-outer-products[d*d]) row per
    partition — the classic single-pass covariance shape. Memory is
    O(d^2) per partition regardless of row count; the merged summary is
    O(d^2 * partitions), so the driver-side eigendecomposition input is
    bounded by DIMENSION, never by corpus size."""
    import numpy as np
    import pandas as pd

    n = 0
    s = np.zeros(EMB_DIM)
    mm = np.zeros((EMB_DIM, EMB_DIM))
    for pdf in batches:
        x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        n += x.shape[0]
        s += x.sum(axis=0)
        mm += x.T @ x
    if n:
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "mm": [mm.ravel().tolist()]}
        )


@register(
    "q_sim_whiten",
    oracle=f"""
    SELECT CAST(UNNEST(range(0, {EMB_DIM})) AS BIGINT) AS dim,
           (SELECT COUNT(*) FROM embeddings) AS n,
           TRUE AS diag_unit, TRUE AS offdiag_zero
    """,
)
def q_sim_whiten(spark, sf_dir):
    """ZCA whitening of the embedding corpus — the decorrelation step
    that makes cosine/euclidean structure isotropic before dedup or ANN
    indexing (anisotropic embeddings put most variance in a few
    directions, which collapses LSH/IVF bucket balance).

    Spark-first split of the work by its true cost: the covariance needs
    the DATA (one ``mapInPandas`` moment pass, O(d^2) per partition,
    merged from a partition-count-bounded summary), the
    eigendecomposition needs only the d x d matrix (driver-side
    ``numpy.linalg.eigh`` on 64x64 — microseconds, and no cluster
    algorithm could beat a constant-size local solve), and the
    projection y = W(x - mu) is map-side Arrow work. The contract: a
    SECOND moment pass over the whitened vectors must find the identity
    — per-dimension ``diag_unit`` (|cov_ii - 1| <= WHITEN_TOL) and
    ``offdiag_zero`` (max_j |cov_ij| <= WHITEN_TOL) booleans are
    hash-gated, so a wrong transform or a dropped mean flips the result
    (a constructed correlated-corpus test pins the decorrelation). Both moment passes are the same
    accumulator; nothing data-sized ever reaches the driver.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select("embedding")
    schema = f"n long, s array<double>, mm array<double>"

    def merged_moments(df):
        parts = df.mapInPandas(_moment_partial, schema).collect()
        n = sum(p.n for p in parts)
        s = np.sum([np.array(p.s) for p in parts], axis=0)
        mm = np.sum([np.array(p.mm).reshape(EMB_DIM, EMB_DIM) for p in parts], axis=0)
        mu = s / n
        cov = mm / n - np.outer(mu, mu)
        return n, mu, cov

    n, mu, cov = merged_moments(emb)
    lam, u = np.linalg.eigh(cov)
    # floor by max(lam, eps*lam_max), NOT lam+eps: the additive form
    # biases every whitened variance to lam/(lam+eps) < 1, which fails
    # the identity contract on small-but-healthy eigenvalues; the max
    # form is exact wherever the spectrum is above the degeneracy floor
    lam_f = np.maximum(lam, WHITEN_EPS * lam.max())
    w = u @ np.diag(1.0 / np.sqrt(lam_f)) @ u.T  # ZCA: U L^-1/2 U^T

    def project(batches):
        import pandas as pd

        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            y = (x - mu) @ w.T
            yield pd.DataFrame({"embedding": list(y)})

    whitened = emb.mapInPandas(project, "embedding array<double>")
    n2, _, cov_y = merged_moments(whitened)
    assert n2 == n
    rows = [
        (
            int(d),
            n,
            bool(abs(cov_y[d, d] - 1.0) <= WHITEN_TOL),
            bool(
                max(abs(cov_y[d, j]) for j in range(EMB_DIM) if j != d)
                <= WHITEN_TOL
            ),
        )
        for d in range(EMB_DIM)
    ]
    return spark.createDataFrame(
        rows, "dim long, n long, diag_unit boolean, offdiag_zero boolean"
    )


MMR_LAMBDA = 0.7  # relevance weight; 1-MMR_LAMBDA penalizes redundancy
MMR_CAND = 16  # candidate pool (distributed top-k output)
MMR_K = 8  # reranked results


@register(
    "q_sim_mmr_rerank",
    oracle=f"""
    WITH RECURSIVE q AS (
      SELECT embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 1
    ),
    scored AS (
      SELECT e.vec_id,
             FLOOR(list_cosine_similarity(e.embedding, q.qe) * 1e6 + 0.5)
               / 1e6 AS rel,
             e.embedding
      FROM embeddings e, q
      WHERE e.vec_id != (SELECT MIN(vec_id) FROM embeddings)
    ),
    cand AS (
      SELECT vec_id, rel, embedding FROM scored
      ORDER BY rel DESC, vec_id LIMIT {MMR_CAND}
    ),
    pick(step, vec_id, picked) AS (
      (SELECT CAST(1 AS BIGINT), vec_id, [vec_id] FROM cand
       ORDER BY rel DESC, vec_id LIMIT 1)
      UNION ALL
      (SELECT p.step + 1, nxt.vec_id, list_append(p.picked, nxt.vec_id)
       FROM pick p, LATERAL (
         SELECT c.vec_id,
                FLOOR(({MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA}
                       * MAX(FLOOR(list_cosine_similarity(c.embedding,
                                                          s.embedding)
                                   * 1e6 + 0.5) / 1e6))
                      * 1e6 + 0.5) / 1e6 AS score
         FROM cand c
         JOIN cand s ON list_contains(p.picked, s.vec_id)
         WHERE NOT list_contains(p.picked, c.vec_id)
         GROUP BY c.vec_id, c.rel
         ORDER BY score DESC, c.vec_id LIMIT 1
       ) AS nxt
       WHERE p.step < {MMR_K})
    )
    SELECT step, CAST(vec_id AS BIGINT) AS vec_id FROM pick
    """,
)
def q_sim_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance reranking: greedily pick MMR_K=8
    results from the top-MMR_CAND=16 cosine candidates, each step
    trading relevance against redundancy (lambda*rel - (1-lambda)*max
    similarity to already-picked) — the diversification step retrieval
    pipelines run AFTER ANN search so near-duplicate hits don't crowd
    the context window.

    The split mirrors the true costs: candidate generation is
    distributed (Arrow-batched cosine scan + TakeOrderedAndProject —
    the corpus-sized part), while the greedy selection runs driver-side
    over the CONSTANT MMR_CAND-row pool, where no cluster algorithm
    could beat a local loop (greedy MMR is inherently sequential in K).
    Every cosine is snapped to 6 decimals with the fixed-point rule
    ``floor(x*1e6 + 0.5)/1e6`` BEFORE any comparison in both engines —
    the same expression on the same doubles, so neither ulp-level
    summation differences nor rounding-MODE differences (numpy/Python
    round half-even, DuckDB ROUND rounds half away from zero) can flip
    an argmax; the oracle replays the same greedy recursion as a
    recursive CTE with LATERAL argmax steps.  On corpora smaller than
    MMR_K+1 the greedy loop stops when the pool is exhausted, matching
    the recursive CTE's early termination with fewer rows.
    """
    import numpy as np

    def _r6(x):
        return np.floor(np.asarray(x, dtype="float64") * 1e6 + 0.5) / 1e6

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    qv = np.array(qrow.embedding, dtype="float64")
    qv /= np.linalg.norm(qv)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            rel = (x / np.linalg.norm(x, axis=1, keepdims=True)) @ qv
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "rel": np.floor(rel * 1e6 + 0.5) / 1e6,
                    "embedding": pdf["embedding"],
                }
            )

    cand = (
        emb.filter(F.col("vec_id") != qrow.vec_id)
        .select("vec_id", "embedding")
        .mapInPandas(score, "vec_id long, rel double, embedding array<float>")
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_CAND)
        .collect()  # bounded: exactly MMR_CAND rows
    )
    ids = np.array([r.vec_id for r in cand])
    rels = np.array([r.rel for r in cand])
    vecs = np.stack([np.array(r.embedding, dtype="float64") for r in cand])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = _r6(vecs @ vecs.T)  # pairwise, snapped like the oracle

    picked: list[int] = []
    out = []
    for step in range(1, MMR_K + 1):
        best = None
        for i in range(len(ids)):
            if i in picked:
                continue
            if not picked:
                key = (rels[i], -ids[i])
            else:
                s = float(
                    _r6(
                        MMR_LAMBDA * rels[i]
                        - (1 - MMR_LAMBDA) * max(sims[i, j] for j in picked)
                    )
                )
                key = (s, -ids[i])
            if best is None or key > best[0]:
                best = (key, i)
        if best is None:  # pool exhausted (corpus < MMR_K+1): stop like the CTE
            break
        picked.append(best[1])
        out.append((step, int(ids[best[1]])))
    return spark.createDataFrame(out, "step long, vec_id long")


# --- Hybrid retrieval: reciprocal-rank fusion of dense + lexical -------

RRF_C = 60  # the standard RRF smoothing constant (Cormack et al.)
RRF_K = 10  # fused results per query


@register(
    "q_sim_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
      FROM documents
    ),
    nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY doc_id),
    q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
          FROM embeddings
          WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    cand AS (SELECT e.vec_id AS c_id, e.embedding::DOUBLE[] AS ce
             FROM embeddings e JOIN nt n ON n.doc_id = e.vec_id),
    dense AS (
      SELECT q_id, c_id,
             ROUND(LIST_DOT_PRODUCT(qe, ce)
                   / (SQRT(LIST_DOT_PRODUCT(qe, qe))
                      * SQRT(LIST_DOT_PRODUCT(ce, ce))), 6) AS cosine
      FROM q JOIN cand ON q_id <> c_id
    ),
    rd AS (
      SELECT q_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS r_dense
      FROM dense
    ),
    qt AS (SELECT doc_id AS q_id, tok FROM toks
           WHERE doc_id % {QUERY_MOD} = 0 AND doc_id < {Q_MAX_ID}),
    inter AS (
      SELECT qt.q_id, ct.doc_id AS c_id, CAST(COUNT(*) AS BIGINT) AS ix
      FROM qt JOIN toks ct ON qt.tok = ct.tok AND qt.q_id <> ct.doc_id
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT rd.q_id, rd.c_id,
             COALESCE(i.ix * 1000000
                      // (nq.n_tok + nc.n_tok - i.ix), 0) AS jacc_e6
      FROM rd
      JOIN nt nq ON nq.doc_id = rd.q_id
      JOIN nt nc ON nc.doc_id = rd.c_id
      LEFT JOIN inter i ON i.q_id = rd.q_id AND i.c_id = rd.c_id
    ),
    rl AS (
      SELECT q_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY jacc_e6 DESC, c_id) AS r_lex
      FROM lex
    ),
    fused AS (
      SELECT rd.q_id, rd.c_id, rd.r_dense, rl.r_lex,
             1000000 // ({RRF_C} + rd.r_dense)
             + 1000000 // ({RRF_C} + rl.r_lex) AS rrf_e6
      FROM rd JOIN rl ON rd.q_id = rl.q_id AND rd.c_id = rl.c_id
    )
    SELECT q_id, c_id,
           CAST(r_dense AS BIGINT) AS r_dense,
           CAST(r_lex AS BIGINT) AS r_lex,
           CAST(rrf_e6 AS BIGINT) AS rrf_e6,
           CAST(rn AS BIGINT) AS rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY rrf_e6 DESC, c_id) AS rn
          FROM fused)
    WHERE rn <= {RRF_K}
    """,
)
def q_sim_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (RRF, the standard
    score-free rank combiner) of a DENSE ranking (exact cosine over the
    embedding corpus) and a LEXICAL ranking (distinct-token Jaccard
    against the query document's text) for the bounded query set, top
    RRF_K fused hits per query. rrf = 1/(C+r_dense) + 1/(C+r_lex) in e6
    integer fixed point — 1e6 div (C+r) of exact integer ranks, so the
    fusion is bit-free of float drift; both input ranks break ties by
    candidate id.

    Scale shape: the dense side is the documented Q_CAP-bounded
    brute-force scorer (numpy batches via mapInPandas, queries shipped
    in the closure); the lexical side is an INVERTED-INDEX equi-join —
    query tokens (bounded: Q_CAP docs' distinct tokens) joined to the
    corpus token index, never an all-pairs text comparison; candidates
    with zero overlap enter the lexical ranking at jaccard 0 via the
    left join against the dense candidate list, ordered by id. Every
    window is PARTITIONED by q_id. At 100 TB the heavy lexical join
    keys are stopwords — AQE skew-split territory — and the production
    variant would drop terms with document frequency above a cap before
    the join (the BM25 op's IDF machinery)."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    nt = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    cand = emb.join(nt, emb.vec_id == nt.doc_id).select("vec_id", "embedding")

    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            c_ids = pdf["vec_id"].to_numpy()
            dots, c_sq = lr_matmul(C, Q)
            cos = dots / (q_norm[None, :] * np.sqrt(c_sq)[:, None])
            n_c, n_q = cos.shape
            out = pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n_c),
                    "c_id": np.repeat(c_ids, n_q),
                    "cosine": cos.ravel(),
                }
            )
            yield out[out.q_id != out.c_id]

    sims = cand.mapInPandas(score, "q_id long, c_id long, cosine double")
    w_dense = W.partitionBy("q_id").orderBy(
        F.desc(F.round("cosine", 6)), "c_id"
    )
    rd = sims.select(
        "q_id", "c_id", F.row_number().over(w_dense).alias("r_dense")
    )

    qt = toks.filter(
        (F.col("doc_id") % QUERY_MOD == 0) & (F.col("doc_id") < Q_MAX_ID)
    ).select(F.col("doc_id").alias("q_id"), "tok")
    inter = (
        F.broadcast(qt)
        .join(toks.withColumnRenamed("doc_id", "c_id"), "tok")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count(F.lit(1)).alias("ix"))
    )
    nq = nt.select(F.col("doc_id").alias("q_id"), F.col("n_tok").alias("nqt"))
    nc = nt.select(F.col("doc_id").alias("c_id"), F.col("n_tok").alias("nct"))
    lex = (
        rd.select("q_id", "c_id")
        .join(F.broadcast(nq), "q_id")
        .join(nc, "c_id")
        .join(inter, ["q_id", "c_id"], "left")
        .select(
            "q_id",
            "c_id",
            F.expr(
                "coalesce((ix * 1000000) div (nqt + nct - ix), 0)"
            ).alias("jacc_e6"),
        )
    )
    w_lex = W.partitionBy("q_id").orderBy(F.desc("jacc_e6"), "c_id")
    rl = lex.select("q_id", "c_id", F.row_number().over(w_lex).alias("r_lex"))

    fused = rd.join(rl, ["q_id", "c_id"]).select(
        "q_id",
        "c_id",
        "r_dense",
        "r_lex",
        F.expr(
            f"(1000000 div ({RRF_C} + r_dense))"
            f" + (1000000 div ({RRF_C} + r_lex))"
        ).alias("rrf_e6"),
    )
    w_f = W.partitionBy("q_id").orderBy(F.desc("rrf_e6"), "c_id")
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= RRF_K)
        .select(
            "q_id",
            "c_id",
            F.col("r_dense").cast("long").alias("r_dense"),
            F.col("r_lex").cast("long").alias("r_lex"),
            F.col("rrf_e6").cast("long").alias("rrf_e6"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def _label_centroid_d2(emb):
    """(vec_id, label, c_label, d2): exact-integer squared distance of
    every vector to every label centroid — shared by the confusion and
    silhouette audits. e6 fixed-point coordinates, rounded rational
    centroid floor(sum/n + 0.5) (int64-exact double division), BIGINT
    squared sums; broadcast centroid join, constant n_labels fan-out."""
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("ve6"),
    )
    cent = (
        dims.groupBy(F.col("label").alias("c_label"), "dim")
        .agg(F.sum("ve6").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "c_label",
            "dim",
            F.floor(F.col("s").cast("double") / F.col("n").cast("double") + F.lit(0.5))
            .cast("long")
            .alias("ce6"),
        )
    )
    diff = F.col("ve6") - F.col("ce6")
    return (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(diff * diff).alias("d2"))
    )


# --- Nearest-centroid label confusion (label-noise audit) ----------------


@register(
    "q_sim_label_confusion",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * 1e6 + 0.5) AS BIGINT)
               AS ve6
      FROM embeddings
    ),
    cent AS (
      SELECT label AS c_label, dim,
             CAST(FLOOR(CAST(SUM(ve6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        + 0.5) AS BIGINT) AS ce6
      FROM dims GROUP BY label, dim
    ),
    d2 AS (
      SELECT d.vec_id, d.label, c.c_label,
             CAST(SUM((d.ve6 - c.ce6) * (d.ve6 - c.ce6)) AS BIGINT) AS d2
      FROM dims d JOIN cent c USING (dim)
      GROUP BY d.vec_id, d.label, c.c_label
    ),
    assigned AS (
      SELECT vec_id, label, c_label, d2 FROM (
        SELECT vec_id, label, c_label, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, c_label) AS rn
        FROM d2
      ) WHERE rn = 1
    )
    SELECT label, c_label AS assigned,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d2) AS BIGINT) AS sum_d2_e12
    FROM assigned GROUP BY label, c_label
    """,
)

def q_sim_label_confusion(spark, sf_dir):
    """Nearest-centroid label confusion matrix — the label-noise audit a
    training pipeline runs before trusting ``label`` as supervision: a
    vector assigned to a DIFFERENT label's centroid than its own is a
    candidate mislabel, and the off-diagonal mass is the noise estimate.

    Unlike the float-AVG centroid in q_sim_kmeans (documented 1e-15
    argmin tolerance), this op is exact-integer end to end: embedding
    coordinates are fixed-pointed to e6 BIGINTs, per-label centroid
    coordinates are the rounded rational mean floor(sum/n + 0.5)
    (int64-exact double division, identical on both engines), and all
    squared distances are BIGINT sums — so the argmin (tie-broken by
    label) is bit-deterministic by construction, with no equidistance
    epsilon to argue about. Plan shape at scale: one posexplode to
    corpus x dim rows, a map-side-combinable centroid aggregate (labels
    x dim rows), a BROADCAST join of that tiny centroid table back onto
    the dim rows (fan-out = n_labels, a constant), one partial-agg
    shuffle to per-(vec, candidate) distances, and a vec-PARTITIONED
    argmin window. Everything JVM-side."""
    emb = load(spark, sf_dir, "embeddings")
    d2 = _label_centroid_d2(emb)
    w = W.partitionBy("vec_id").orderBy("d2", "c_label")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("c_label").alias("assigned"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("d2").alias("sum_d2_e12"),
        )
    )


@register(
    "q_sim_silhouette",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * 1e6 + 0.5) AS BIGINT)
               AS ve6
      FROM embeddings
    ),
    cent AS (
      SELECT label AS c_label, dim,
             CAST(FLOOR(CAST(SUM(ve6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        + 0.5) AS BIGINT) AS ce6
      FROM dims GROUP BY label, dim
    ),
    d2 AS (
      SELECT d.vec_id, d.label, c.c_label,
             CAST(SUM((d.ve6 - c.ce6) * (d.ve6 - c.ce6)) AS BIGINT) AS d2
      FROM dims d JOIN cent c USING (dim)
      GROUP BY d.vec_id, d.label, c.c_label
    ),
    own AS (
      SELECT vec_id, label, d2 AS a2 FROM d2 WHERE label = c_label
    ),
    other AS (
      SELECT vec_id, label, MIN(d2) AS b2 FROM d2
      WHERE label <> c_label GROUP BY vec_id, label
    ),
    sil AS (
      SELECT o.label,
             CASE WHEN GREATEST(SQRT(CAST(a2 AS DOUBLE)),
                                SQRT(CAST(b2 AS DOUBLE))) = 0 THEN 0
                  ELSE CAST(FLOOR((SQRT(CAST(b2 AS DOUBLE))
                                   - SQRT(CAST(a2 AS DOUBLE)))
                                  / GREATEST(SQRT(CAST(a2 AS DOUBLE)),
                                             SQRT(CAST(b2 AS DOUBLE)))
                                  * 1e6 + 0.5) AS BIGINT) END AS s_e6
      FROM own o JOIN other t ON o.vec_id = t.vec_id AND o.label = t.label
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_e6) AS BIGINT) AS sum_sil_e6,
           CAST(SUM(CASE WHEN s_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM sil GROUP BY label
    """,
)
def q_sim_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per label — the cluster-
    quality score for the label partition of the embedding space:
    s = (b - a) / max(a, b) with a = distance to the own-label centroid
    and b = the nearest OTHER label centroid. Per-label silhouette mass
    plus the count of negative-silhouette vectors (sitting closer to a
    foreign centroid — the same population q_sim_label_confusion flags,
    now with a magnitude). Centroid-based, so the cost is linear in
    corpus x n_labels — never the all-pairs sum the textbook silhouette
    needs.

    Shares q_sim_label_confusion's exact-integer distance pipeline
    (_label_centroid_d2): a² and b² are BIGINTs, min-over-labels is an
    exact integer comparison, and the only float step is the final
    IEEE-sqrt/divide expression tree — identical on both engines —
    fixed-pointed per vector BEFORE the per-label sum."""
    emb = load(spark, sf_dir, "embeddings")
    d2 = _label_centroid_d2(emb)
    own = d2.filter(F.col("label") == F.col("c_label")).select(
        "vec_id", "label", F.col("d2").alias("a2")
    )
    other = (
        d2.filter(F.col("label") != F.col("c_label"))
        .groupBy("vec_id", "label")
        .agg(F.min("d2").alias("b2"))
    )
    a = F.sqrt(F.col("a2").cast("double"))
    b = F.sqrt(F.col("b2").cast("double"))
    s_e6 = F.when(F.greatest(a, b) == 0, F.lit(0).cast("long")).otherwise(
        F.floor((b - a) / F.greatest(a, b) * 1e6 + F.lit(0.5)).cast("long")
    )
    return (
        own.join(other, ["vec_id", "label"])
        .select("label", s_e6.alias("s_e6"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("s_e6").alias("sum_sil_e6"),
            F.sum(F.when(F.col("s_e6") < 0, 1).otherwise(0)).alias("n_negative"),
        )
    )


# --- Matryoshka truncation audit: top-k overlap full vs prefix dims ------

MRL_DIM = 32  # retained prefix dimensions (of 64)


@register(
    "q_sim_matryoshka_overlap",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
               FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
      SELECT q_id, c_id,
             CAST(FLOOR(LIST_DOT_PRODUCT(qe, ce)
               / (SQRT(LIST_DOT_PRODUCT(qe, qe))
                  * SQRT(LIST_DOT_PRODUCT(ce, ce))) * 1e6 + 0.5)
               AS BIGINT) AS sf_e6,
             CAST(FLOOR(LIST_DOT_PRODUCT(qe[1:{MRL_DIM}], ce[1:{MRL_DIM}])
               / (SQRT(LIST_DOT_PRODUCT(qe[1:{MRL_DIM}], qe[1:{MRL_DIM}]))
                  * SQRT(LIST_DOT_PRODUCT(ce[1:{MRL_DIM}], ce[1:{MRL_DIM}])))
               * 1e6 + 0.5) AS BIGINT) AS sh_e6
      FROM q JOIN c ON q_id <> c_id
    ),
    rf AS (
      SELECT q_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sf_e6 DESC, c_id) AS rn
      FROM sims
    ),
    rh AS (
      SELECT q_id, c_id,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sh_e6 DESC, c_id) AS rn
      FROM sims
    ),
    ov AS (
      SELECT rf.q_id, COUNT(*) AS overlap
      FROM rf JOIN rh ON rf.q_id = rh.q_id AND rf.c_id = rh.c_id
      WHERE rf.rn <= {TOP_K} AND rh.rn <= {TOP_K}
      GROUP BY 1
    ),
    qq AS (SELECT q_id FROM q)
    SELECT qq.q_id,
           CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COALESCE(ov.overlap, 0) * 1000000
                // (2 * {TOP_K} - COALESCE(ov.overlap, 0)) AS BIGINT)
             AS jaccard_e6
    FROM qq LEFT JOIN ov ON ov.q_id = qq.q_id
    """,
)
def q_sim_matryoshka_overlap(spark, sf_dir):
    """Matryoshka truncation audit: for each query vector, how much of
    the exact cosine top-{TOP_K} survives when embeddings are truncated
    to their first {MRL_DIM} of 64 dimensions — the measurement that
    decides whether an MRL-style prefix index (half the memory, half
    the FLOPs) is safe for a retrieval corpus. Emits per-query overlap
    and rank-set Jaccard, both exact integers.

    Both score passes run in ONE Arrow-batched mapInPandas scan
    (dimension-ordered accumulation via lr_matmul, bit-identical to
    LIST_DOT_PRODUCT), scores snap to e6 fixed point BEFORE ranking
    with id tie-breaks, so both engines rank identical integers; the
    overlap join then compares two {TOP_K}-row lists per query. Scale:
    the query side is the CONSTANT <= {Q_CAP}-vector panel (closure-
    shipped), candidates stream once — same linear shape as
    q_sim_cosine_topk plus two bounded windows."""
    emb = load(spark, sf_dir, "embeddings")
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    _, q_sq = lr_matmul(Q, Q[:0])
    _, qh_sq = lr_matmul(Q[:, :MRL_DIM], Q[:0, :MRL_DIM])
    q_norm, qh_norm = np.sqrt(q_sq), np.sqrt(qh_sq)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            C = _to_matrix(pdf["embedding"])
            dots, c_sq = lr_matmul(C, Q)
            hdots, ch_sq = lr_matmul(C[:, :MRL_DIM], Q[:, :MRL_DIM])
            c_norm, ch_norm = np.sqrt(c_sq), np.sqrt(ch_sq)
            cf = dots / (q_norm[None, :] * c_norm[:, None])
            ch = hdots / (qh_norm[None, :] * ch_norm[:, None])
            c_ids = pdf["vec_id"].to_numpy()
            n, m = cf.shape
            qcol = np.repeat(q_ids[None, :], n, axis=0).ravel()
            ccol = np.repeat(c_ids[:, None], m, axis=1).ravel()
            keep = qcol != ccol
            yield pd.DataFrame(
                {
                    "q_id": qcol[keep],
                    "c_id": ccol[keep],
                    "sf_e6": np.floor(cf.ravel()[keep] * 1e6 + 0.5).astype(
                        np.int64
                    ),
                    "sh_e6": np.floor(ch.ravel()[keep] * 1e6 + 0.5).astype(
                        np.int64
                    ),
                }
            )

    sims = emb.select("vec_id", "embedding").mapInPandas(
        score, "q_id long, c_id long, sf_e6 long, sh_e6 long"
    )
    wf = W.partitionBy("q_id").orderBy(F.col("sf_e6").desc(), F.col("c_id"))
    wh = W.partitionBy("q_id").orderBy(F.col("sh_e6").desc(), F.col("c_id"))
    ranked = sims.select(
        "q_id",
        "c_id",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wh).alias("rn_h"),
    )
    ov = (
        ranked.filter((F.col("rn_f") <= TOP_K) & (F.col("rn_h") <= TOP_K))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    qq = spark.createDataFrame(
        [(int(i),) for i in q_ids], "q_id long"
    )
    return (
        qq.join(ov, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("overlap"), F.lit(0)).cast("long").alias("overlap"),
            F.lit(TOP_K).cast("long").alias("k"),
            F.expr(
                f"CAST(coalesce(overlap, 0) * 1000000"
                f" div (2 * {TOP_K} - coalesce(overlap, 0)) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
    )


# --- Retrieval evaluation: P@k / recall@k / MRR / nDCG@k -------------------

RM_K = 10  # evaluation cutoff
# DCG discount terms 1/log2(rank+1), snapped to e9 fixed point in PYTHON
# and injected as integer literals into BOTH engines — java.lang.Math.log
# and C libm may disagree by an ulp on log2(3), so neither engine computes
# the discount itself; metric arithmetic is then pure-integer end to end.
_RM_TERMS_E9 = [round(1e9 / __import__("math").log2(i + 1)) for i in range(1, RM_K + 1)]
_RM_CUM_E9 = [sum(_RM_TERMS_E9[: j + 1]) for j in range(RM_K)]


@register(
    "q_sim_retrieval_metrics",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, label AS ql,
                      embedding::DOUBLE[] AS qe
               FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    c AS (SELECT vec_id AS c_id, label AS cl, embedding::DOUBLE[] AS ce
          FROM embeddings),
    ranked AS (
      SELECT q_id,
             CASE WHEN cl = ql THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
               CAST(FLOOR(LIST_DOT_PRODUCT(qe, ce)
                 / (SQRT(LIST_DOT_PRODUCT(qe, qe))
                    * SQRT(LIST_DOT_PRODUCT(ce, ce))) * 1e6 + 0.5) AS BIGINT)
               DESC, c_id) AS rn
      FROM q JOIN c ON q_id <> c_id
    ),
    m AS (
      SELECT q_id,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(SUM(CASE WHEN rel = 1 AND rn <= {RM_K} THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
             CAST(MIN(CASE WHEN rel = 1 THEN rn END) AS BIGINT) AS first_rank,
             CAST(COALESCE(SUM(CASE WHEN rel = 1 AND rn <= {RM_K}
                  THEN {_RM_TERMS_E9}[rn] END), 0) AS BIGINT) AS dcg_e9
      FROM ranked GROUP BY 1
    )
    SELECT q_id, n_rel, hits,
           hits * 1000000 // {RM_K} AS prec_e6,
           hits * 1000000 // n_rel AS recall_e6,
           1000000 // first_rank AS rr_e6,
           dcg_e9 * 1000000
             // {_RM_CUM_E9}[LEAST(n_rel, {RM_K})] AS ndcg_e6
    FROM m WHERE n_rel > 0
    """,
)
def q_sim_retrieval_metrics(spark, sf_dir):
    """Retrieval-quality evaluation of exact cosine search against the
    corpus's label ground truth (a candidate is relevant iff it shares
    the query's cluster label): precision@{RM_K}, recall@{RM_K},
    reciprocal rank, and nDCG@{RM_K} per query — the metrics panel every
    embedding-index change (IVF probes, PQ bits, Matryoshka dims) gets
    judged against.

    Integer-only metric arithmetic: similarities snap to e6 BEFORE the
    rank window (the proven matryoshka/cosine_topk contract), relevance
    and ranks are exact integers, the DCG discount table is precomputed
    e9 integers injected into BOTH engines (so neither engine's log2
    ulps can flip a value), and every ratio is integer division of
    nonnegative BIGINTs. Scale: the query panel is the constant <=
    {Q_CAP}-vector closure-shipped set; candidates stream through one
    Arrow-batched scan, then one rank window + one groupBy per query —
    the same linear shape as q_sim_cosine_topk."""
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    q_pd = (
        _query_vectors(emb).select("vec_id", "label", "embedding").toPandas()
    )
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    q_labels = q_pd["label"].to_numpy()
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            C = _to_matrix(pdf["embedding"])
            dots, c_sq = lr_matmul(C, Q)
            sims = dots / (q_norm[None, :] * np.sqrt(c_sq)[:, None])
            c_ids = pdf["vec_id"].to_numpy()
            c_labels = pdf["label"].to_numpy()
            n, m = sims.shape
            qcol = np.repeat(q_ids[None, :], n, axis=0).ravel()
            ccol = np.repeat(c_ids[:, None], m, axis=1).ravel()
            rel = (
                np.repeat(c_labels[:, None], m, axis=1).ravel()
                == np.repeat(q_labels[None, :], n, axis=0).ravel()
            ).astype(np.int64)
            keep = qcol != ccol
            yield pd.DataFrame(
                {
                    "q_id": qcol[keep],
                    "c_id": ccol[keep],
                    "rel": rel[keep],
                    "s_e6": np.floor(sims.ravel()[keep] * 1e6 + 0.5).astype(
                        np.int64
                    ),
                }
            )

    sims = emb.select("vec_id", "label", "embedding").mapInPandas(
        score, "q_id long, c_id long, rel long, s_e6 long"
    )
    w = W.partitionBy("q_id").orderBy(F.col("s_e6").desc(), F.col("c_id"))
    terms = F.array(*[F.lit(t) for t in _RM_TERMS_E9])
    cum = F.array(*[F.lit(t) for t in _RM_CUM_E9])
    ranked = sims.select(
        "q_id", "rel", F.row_number().over(w).alias("rn")
    )
    is_hit = (F.col("rel") == 1) & (F.col("rn") <= RM_K)
    m = ranked.groupBy("q_id").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(F.when(is_hit, 1).otherwise(0)).cast("long").alias("hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rn")))
        .cast("long")
        .alias("first_rank"),
        F.coalesce(
            F.sum(F.when(is_hit, F.element_at(terms, F.col("rn")))), F.lit(0)
        )
        .cast("long")
        .alias("dcg_e9"),
    )
    return m.filter(F.col("n_rel") > 0).select(
        "q_id",
        "n_rel",
        "hits",
        F.expr(f"hits * 1000000 div {RM_K}").alias("prec_e6"),
        F.expr("hits * 1000000 div n_rel").alias("recall_e6"),
        F.expr("1000000 div first_rank").alias("rr_e6"),
        F.expr(
            f"dcg_e9 * 1000000 div element_at("
            f"array({', '.join(str(t) + 'L' for t in _RM_CUM_E9)}), "
            f"cast(least(n_rel, {RM_K}) as int))"
        ).alias("ndcg_e6"),
    )


# --- kNN-graph hubness audit ------------------------------------------------


def _knn_hubness_oracle() -> str:
    """Composes the kNN-graph oracle: in-degree histogram over ALL
    vectors (antihubs = vectors no one lists as a neighbor appear as
    indeg 0 via the left join)."""
    from .registry import all_oracles

    knn = all_oracles()["q_sim_knn_graph"]
    return f"""
    WITH g AS ({knn}),
    ind AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS indeg FROM g GROUP BY 1)
    SELECT COALESCE(ind.indeg, 0) AS indeg,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM embeddings e LEFT JOIN ind ON ind.dst = e.vec_id
    GROUP BY 1
    """


@register("q_sim_knn_hubness", oracle=_knn_hubness_oracle())
def q_sim_knn_hubness(spark, sf_dir):
    """Hubness audit of the kNN graph: the in-degree histogram of
    q_sim_knn_graph's neighbor lists — the standard diagnosis for
    high-dimensional retrieval pathology (a few 'hub' vectors appearing
    in everyone's top-k while 'antihubs' appear in no one's, which
    silently poisons kNN classification and dedup transitivity;
    Radovanović et al. 2010). Emits (in-degree, vector count) with
    antihubs included as the indeg-0 row via a left join against the
    full corpus.

    COMPOSES the registered kNN-graph operator — same edges, same
    oracle CTE — so the two ops can never drift; downstream is one
    map-side-combinable in-degree count plus a broadcast-size histogram
    rollup. Scale shape is exactly q_sim_knn_graph's (block-bounded,
    probe exponent 0.14) plus two tiny aggregates."""
    edges = q_sim_knn_graph(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("indeg"))
    return (
        emb.join(ind, emb.vec_id == ind.dst, "left")
        .select(F.coalesce(F.col("indeg"), F.lit(0)).alias("indeg"))
        .groupBy("indeg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )



# --- Embedding-space isotropy audit ----------------------------------------


@register(
    "q_sim_isotropy",
    oracle="""
    WITH nrm AS (
      SELECT vec_id,
             LIST_REDUCE(
               LIST_TRANSFORM(embedding::DOUBLE[], x -> x * x),
               (a, b) -> a + b) AS n2,
             embedding
      FROM embeddings
    ),
    dims AS (
      SELECT vec_id,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             CAST(FLOOR(UNNEST(embedding::DOUBLE[]) / SQRT(n2) * 1e4 + 0.5)
               AS BIGINT) AS ue4
      FROM nrm WHERE n2 > 0
    ),
    perdim AS (
      SELECT dim, CAST(SUM(ue4) AS BIGINT) AS sd FROM dims GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
             CAST(SUM(ue4 * ue4) AS BIGINT) AS ss
      FROM dims
    ),
    num AS (SELECT CAST(SUM(sd * sd) AS BIGINT) AS s2 FROM perdim)
    SELECT t.n, t.ss AS norm_mass_e8, num.s2 AS sum_sq_e8,
           CAST(FLOOR((CAST(num.s2 AS DOUBLE) - CAST(t.ss AS DOUBLE))
                      / (CAST(t.n AS DOUBLE) * CAST(t.n - 1 AS DOUBLE))
                      / 1e8 * 1e9 + 0.5) AS BIGINT) AS isotropy_e9
    FROM tot t, num WHERE t.n > 1
    """,
)
def q_sim_isotropy(spark, sf_dir):
    """Isotropy audit of the embedding space: the mean pairwise cosine
    between distinct unit vectors, computed WITHOUT any pairwise join
    via the sum-of-vectors identity avg_cos = (|sum u|^2 - n)/(n(n-1)).
    Anisotropic ("cone-shaped") embedding spaces — mean cosine far from
    0 — degrade every downstream cosine threshold (dedup, ANN, MMR);
    this is the one-pass scalar a pipeline checks before trusting
    q_dedup_semantic's threshold, and the global counterpart of
    q_sim_whiten's per-dimension view.

    Determinism: per-row norm^2 is a SEQUENTIAL left fold of exact
    float->double squares (Spark F.aggregate; DuckDB list_reduce —
    same accumulation order, bit-identical); each normalized coordinate
    is e4 fixed-pointed, so the per-dim sums and the squared-mass terms
    are exact BIGINTs and the final ratio is one shared double tree.
    int64 bound: |S_d| <= n*1e4 worst-case (all mass on one axis), so
    S_d^2 stays in BIGINT through ~300k vectors adversarially and
    ~sqrt(n)*1e4 in practice; past that, widen sd*sd to DECIMAL(38,0)/
    HUGEINT (documented swap). At 100 TB: one explode, two map-side-
    combinable aggregations, a 64-row and a 1-row reduce — no join at
    all."""
    emb = load(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    nrm = emb.select("vec_id", "embedding", n2.alias("n2")).filter(
        F.col("n2") > 0
    )
    dims = nrm.select(
        "vec_id",
        F.posexplode("embedding").alias("dim0", "v"),
        "n2",
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(
            F.col("v").cast("double") / F.sqrt(F.col("n2")) * 1e4 + F.lit(0.5)
        ).cast("long").alias("ue4"),
    )
    perdim = dims.groupBy("dim").agg(F.sum("ue4").alias("sd"))
    tot = dims.agg(
        F.countDistinct("vec_id").cast("long").alias("n"),
        F.sum(F.col("ue4") * F.col("ue4")).alias("ss"),
    )
    num = perdim.agg(F.sum(F.col("sd") * F.col("sd")).alias("s2"))
    iso = (
        (F.col("s2").cast("double") - F.col("ss").cast("double"))
        / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        / F.lit(1e8)
    )
    return (
        tot.crossJoin(F.broadcast(num))
        .filter(F.col("n") > 1)
        .select(
            "n",
            F.col("ss").alias("norm_mass_e8"),
            F.col("s2").alias("sum_sq_e8"),
            F.floor(iso * F.lit(1e9) + F.lit(0.5)).cast("long").alias("isotropy_e9"),
        )
    )


# --- Embedding drift between corpus halves (linear MMD^2) ------------------


@register(
    "q_sim_embedding_drift",
    oracle="""
    WITH dims AS (
      SELECT vec_id % 2 AS grp,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * 1e4 + 0.5) AS BIGINT)
               AS ve4
      FROM embeddings
    ),
    perdim AS (
      SELECT dim,
             CAST(SUM(CASE WHEN grp = 0 THEN ve4 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN grp = 1 THEN ve4 END) AS BIGINT) AS sb,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM dims GROUP BY 1
    ),
    terms AS (
      SELECT na, nb,
             CAST(FLOOR((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e4
                         - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e4)
                        * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) / 1e4
                           - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 1e4)
                        * 1e9 + 0.5) AS BIGINT) AS t_e9
      FROM perdim WHERE na > 0 AND nb > 0
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
           CAST(SUM(t_e9) AS BIGINT) AS mmd2_e9,
           CAST(FLOOR(SQRT(CAST(SUM(t_e9) AS DOUBLE) / 1e9) * 1e6 + 0.5)
             AS BIGINT) AS shift_e6
    FROM terms
    """,
)
def q_sim_embedding_drift(spark, sf_dir):
    """Distribution drift between two embedding populations (the
    deterministic even/odd vec_id split standing in for yesterday's
    vs today's crawl): linear-kernel MMD^2 = |mean_a - mean_b|^2 and
    its root (the mean-shift magnitude). The embedding-space
    counterpart of q_events_psi_drift/ks_drift — run it between
    ingestion batches before assuming yesterday's ANN centroids and
    dedup thresholds still hold.

    Determinism: coordinates are e4 fixed-pointed (float->double is
    exact, so the floor is engine-identical), per-(dim, half) sums are
    exact BIGINTs, each dimension's squared mean-difference is one
    shared double tree e9-fixed BEFORE the 64-dim sum, and the root is
    a final correctly-rounded sqrt. At 100 TB: one explode + one
    map-side-combinable aggregation to a 64-row relation; the halves
    never join — drift costs one scan."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        (F.col("vec_id") % 2).alias("grp"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "grp",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1e4 + F.lit(0.5))
        .cast("long").alias("ve4"),
    )
    perdim = dims.groupBy("dim").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("ve4"))).alias("sa"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == 1, F.col("ve4"))).alias("sb"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("nb"),
    )

    def d(c):
        return F.col(c).cast("double")

    diff = d("sa") / d("na") / F.lit(1e4) - d("sb") / d("nb") / F.lit(1e4)
    terms = perdim.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "na", "nb",
        F.floor(diff * diff * F.lit(1e9) + F.lit(0.5)).cast("long").alias("t_e9"),
    )
    return terms.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum("t_e9").alias("mmd2_e9"),
        F.floor(
            F.sqrt(F.sum("t_e9").cast("double") / F.lit(1e9)) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("shift_e6"),
    )


# --- Triplet-margin hard-negative audit ------------------------------------


@register(
    "q_sim_triplet_margin",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
             CAST(FLOOR(UNNEST(embedding::DOUBLE[]) * 1e6 + 0.5) AS BIGINT)
               AS ve6
      FROM embeddings
    ),
    cent AS (
      SELECT label AS c_label, dim,
             CAST(FLOOR(CAST(SUM(ve6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        + 0.5) AS BIGINT) AS ce6
      FROM dims GROUP BY label, dim
    ),
    d2 AS (
      SELECT d.vec_id, d.label, c.c_label,
             CAST(SUM((d.ve6 - c.ce6) * (d.ve6 - c.ce6)) AS BIGINT) AS d2
      FROM dims d JOIN cent c USING (dim)
      GROUP BY d.vec_id, d.label, c.c_label
    ),
    own AS (
      SELECT vec_id, label, d2 AS d2_own FROM d2 WHERE label = c_label
    ),
    other AS (
      SELECT vec_id, c_label, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY d2, c_label) AS rn
      FROM d2 WHERE label <> c_label
    )
    SELECT o.vec_id, o.label,
           CAST(t.c_label AS BIGINT) AS hard_negative_label,
           o.d2_own, t.d2 AS d2_other,
           CAST(t.d2 - o.d2_own AS BIGINT) AS margin
    FROM own o JOIN other t ON t.vec_id = o.vec_id AND t.rn = 1
    """,
)
def q_sim_triplet_margin(spark, sf_dir):
    """Hard-negative mining audit: for every vector, the squared
    distance to its OWN label centroid vs the nearest OTHER-label
    centroid, and the triplet margin between them. Rows with small or
    negative margins are exactly the anchors a contrastive trainer
    should mine (and the mislabel suspects q_sim_label_confusion
    counts in aggregate — this emits the per-vector evidence).

    Entirely exact-integer via the shared ``_label_centroid_d2``
    recipe (e6 fixed-point coords, rounded rational centroids, BIGINT
    squared sums): distances, the min-over-labels argmin (ties toward
    the smaller label id), and the margin never touch a float. At
    100 TB the |labels| x dims centroid table is a constant-size
    broadcast and the per-vector window is over |labels|-1 rows."""
    emb = load(spark, sf_dir, "embeddings")
    d2 = _label_centroid_d2(emb)
    own = d2.filter(F.col("label") == F.col("c_label")).select(
        "vec_id", "label", F.col("d2").alias("d2_own")
    )
    wmin = W.partitionBy("vec_id").orderBy("d2", "c_label")
    other = (
        d2.filter(F.col("label") != F.col("c_label"))
        .withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("c_label"), F.col("d2").alias("d2_other"))
    )
    return own.join(other, "vec_id").select(
        "vec_id",
        "label",
        F.col("c_label").cast("long").alias("hard_negative_label"),
        "d2_own",
        "d2_other",
        (F.col("d2_other") - F.col("d2_own")).cast("long").alias("margin"),
    )


# --- radius (range) search --------------------------------------------------

RANGE_TAU = 0.25  # cosine radius; fixture p99 inter-vector cosine ~0.29,
# so the threshold returns the genuinely-close tail (~1% of pairs), not
# the bulk — and the qscale copies keep that fraction per corpus


@register(
    "q_sim_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
               FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce FROM embeddings),
    sims AS (
      SELECT q_id, c_id,
             FLOOR(LIST_DOT_PRODUCT(qe, ce)
                   / (SQRT(LIST_DOT_PRODUCT(qe, qe))
                      * SQRT(LIST_DOT_PRODUCT(ce, ce))) * 1e6 + 0.5) / 1e6
               AS cosine
      FROM q JOIN c ON q_id <> c_id
    )
    SELECT q_id, c_id, cosine,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, c_id) AS BIGINT)
             AS rn
    FROM sims WHERE cosine >= {RANGE_TAU}
    """,
)
def q_sim_range_search(spark, sf_dir):
    """Radius (range) search: ALL corpus vectors within cosine >=
    {RANGE_TAU} of each query — the FAISS range_search companion to
    top-k (dedup wants "everything this close", not "the 10 closest";
    a fixed k either truncates dense neighborhoods or pads sparse
    ones). Same Arrow-batched numpy scorer and bit-identical
    left-to-right accumulation as q_sim_cosine_topk (lr_matmul); the
    threshold compares the ROUNDED 6-decimal cosine on both engines,
    so the cut can only disagree where the underlying doubles differ —
    and they don't, by the lr_matmul contract. Output ranks survivors
    per query for stable downstream consumption. At 100 TB this is one
    corpus scan per batch of Q_CAP queries with a |survivors|-sized
    shuffle — the window partitions by query over the already-filtered
    tail, never the corpus."""
    emb = load(spark, sf_dir, "embeddings")
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            c_ids = pdf["vec_id"].to_numpy()
            dots, c_sq = lr_matmul(C, Q)
            cos = dots / (q_norm[None, :] * np.sqrt(c_sq)[:, None])
            n_c, n_q = cos.shape
            out = pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n_c),
                    "c_id": np.repeat(c_ids, n_q),
                    "cosine": cos.ravel(),
                }
            )
            # filter INSIDE the scorer: only the close tail (~1%) ever
            # reaches the shuffle — the radius push-down a range search
            # exists for. The 6-decimal snap is the library-standard
            # floor(x*1e6 + 0.5) (round-half-up), matching the oracle's
            # FLOOR form by construction — pandas .round(6) banker's-
            # rounds ties the other way in principle (ADVICE r9).
            out["cosine"] = np.floor(out["cosine"] * 1e6 + 0.5) / 1e6
            yield out[(out.q_id != out.c_id) & (out.cosine >= RANGE_TAU)]

    sims = emb.select("vec_id", "embedding").mapInPandas(
        score, "q_id long, c_id long, cosine double"
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return sims.select(
        "q_id", "c_id", "cosine", F.row_number().over(w).cast("long").alias("rn")
    )


@register(
    "q_sim_pq_distortion",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {PQ_K}),
    sub AS (SELECT UNNEST(range(0, {PQ_M})) AS m),
    dist AS (
      SELECT v.vec_id, sub.m, cent.cid,
             LIST_DOT_PRODUCT(list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                              list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             - 2 * LIST_DOT_PRODUCT(list_slice(v.e, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                    list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
             + LIST_DOT_PRODUCT(list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}),
                                list_slice(cent.c, sub.m * {PQ_SUB} + 1, (sub.m + 1) * {PQ_SUB}))
               AS d2
      FROM v CROSS JOIN sub CROSS JOIN cent
    ),
    best AS (
      SELECT vec_id, m, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
      FROM dist
    ),
    asg AS (SELECT m, cid, d2 FROM best WHERE rn = 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
    SELECT CAST(a.m AS BIGINT) AS subspace, CAST(a.cid AS BIGINT) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(CAST(FLOOR(a.d2 * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_d2_e6,
           CAST(COUNT(*) * 10000 // MAX(t.n) AS BIGINT) AS share_bp
    FROM asg a, tot t
    GROUP BY a.m, a.cid
    """,
)
def q_sim_pq_distortion(spark, sf_dir):
    """PQ codebook quality audit: per (subspace, code) — how many
    vectors each centroid absorbs and the exact total quantization
    error it carries. The two failure modes a PQ deployment checks
    before shipping codes to the ANN tier: DEAD codes (share_bp ~ 0:
    wasted codebook entries — retrain) and HOT codes (share_bp >>
    10000/{PQ_K}: the subspace is under-clustered and distances blur).
    Composes q_sim_pq_codes' encoder (same constant {PQ_K}-vector
    codebook pull, same lr-ordered bit-identical d2) with per-row e6
    fixed-pointing BEFORE the sum, so the per-code error mass is an
    order-free BIGINT (a float SUM here would hash-flip on partial-agg
    merge order — the round-8 rule). Output is {PQ_M}x{PQ_K} rows at
    any corpus size; the only corpus-sized stage is the Arrow-batched
    encode scan."""
    emb = load(spark, sf_dir, "embeddings")
    cent_pd = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    C = _to_matrix(cent_pd["embedding"])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _to_matrix(pdf["embedding"])
            n = A.shape[0]
            out_m, out_c, out_e = [], [], []
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
                aa = np.zeros(n)
                ac = np.zeros((n, PQ_K))
                cc = np.zeros(PQ_K)
                for i in range(lo, hi):
                    ai = A[:, i]
                    ci = C[:, i]
                    aa += ai * ai
                    ac += ai[:, None] * ci[None, :]
                    cc += ci * ci
                d2 = aa[:, None] - 2 * ac + cc[None, :]
                best = np.argmin(d2, axis=1)
                out_m.append(np.full(n, m, dtype=np.int64))
                out_c.append(best.astype(np.int64))
                # e6 fixed-point BEFORE any summation (order-free mass)
                out_e.append(
                    np.floor(d2[np.arange(n), best] * 1e6 + 0.5).astype(np.int64)
                )
            yield pd.DataFrame(
                {
                    "m": np.concatenate(out_m),
                    "cid": np.concatenate(out_c),
                    "d2_e6": np.concatenate(out_e),
                }
            )

    asg = emb.select("vec_id", "embedding").mapInPandas(
        assign, "m long, cid long, d2_e6 long"
    )
    tot = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        asg.crossJoin(F.broadcast(tot))  # 1-row corpus total attach
        .groupBy(F.col("m").alias("subspace"), F.col("cid").alias("code"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d2_e6").cast("long").alias("sum_d2_e6"),
            F.expr("cast(count(1) * 10000 div max(n) as bigint)").alias(
                "share_bp"
            ),
        )
    )


# --- Johnson-Lindenstrauss random-projection audit -------------------------

JL_DIM = 16  # target dimension: 4x compression of the 64-dim fixture
# fixed literal Gaussian projection rows (seeded, rounded) so Spark and
# the DuckDB oracle apply the IDENTICAL map — the _PLANES convention
_JL_ROWS = (
    np.random.default_rng(13).standard_normal((JL_DIM, 64)).round(6).tolist()
)


def _jl_oracle() -> str:
    dots = [
        f"LIST_DOT_PRODUCT(e, {row}::DOUBLE[])" for row in _JL_ROWS
    ]
    proj_sq = " + ".join(f"(d{j} * d{j})" for j in range(JL_DIM))
    dcols = ",\n             ".join(f"{d} AS d{j}" for j, d in enumerate(dots))
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]) AS sq
      FROM embeddings
    ),
    p AS (
      SELECT vec_id, sq,
             {dcols}
      FROM v WHERE sq > 0
    )
    SELECT vec_id,
           CAST({JL_DIM} AS BIGINT) AS proj_dim,
           CAST(FLOOR(d0 * 1e6 + 0.5) AS BIGINT) AS p0_e6,
           CAST(FLOOR(({proj_sq}) / ({JL_DIM} * sq) * 1e6 + 0.5) AS BIGINT)
             AS ratio_e6
    FROM p
    """


@register("q_sim_jl_projection", oracle=_jl_oracle())
def q_sim_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random-projection audit: project every
    embedding to {JL_DIM} dims with a fixed Gaussian matrix and report
    the squared-norm preservation ratio ||Pv||^2 / ({JL_DIM} ||v||^2)
    (expectation 1 under JL; the concentration of these ratios is what
    licenses replacing 64-dim scans with {JL_DIM}-dim ones in coarse
    ANN / dedup prefilters). p0_e6 pins one raw coordinate so a sign or
    row-order slip cannot hide inside the norm.

    Plan: stateless Arrow-batched mapInPandas with the {JL_DIM}x64
    literal matrix in the task closure — no join, no shuffle, corpus-
    linear, the cheapest possible 100-TB shape. Determinism: dots
    accumulate per dimension (lr_matmul contract = DuckDB
    LIST_DOT_PRODUCT), the squared-norm sum accumulates left-to-right
    over the {JL_DIM} components, and both outputs snap to e6 fixed
    point; zero-norm vectors are filtered on BOTH engines (the NaN
    rule)."""
    emb = load(spark, sf_dir, "embeddings")
    P = np.array(_JL_ROWS, dtype=np.float64)

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            dots, c_sq = lr_matmul(C, P)
            keep = c_sq > 0
            dots, c_sq = dots[keep], c_sq[keep]
            proj_sq = np.zeros(len(c_sq))
            for j in range(JL_DIM):  # left-to-right, matches the oracle
                proj_sq += dots[:, j] * dots[:, j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "proj_dim": np.full(len(c_sq), JL_DIM, dtype=np.int64),
                    "p0_e6": np.floor(dots[:, 0] * 1e6 + 0.5).astype(np.int64),
                    "ratio_e6": np.floor(
                        proj_sq / (JL_DIM * c_sq) * 1e6 + 0.5
                    ).astype(np.int64),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        project, "vec_id long, proj_dim long, p0_e6 long, ratio_e6 long"
    )


# --- graph-based ANN: beam search over a navigable kNN graph -----------------

GS_DEGREE = 8  # search-graph out-degree (denser than the k=KNN_K report
# graph — graph-ANN navigability needs degree >> k, the HNSW M knob)
GS_BEAM = 96  # beam width (HNSW efSearch) over the cumulative ledger
GS_STEPS = 7  # expansion rounds — a FIXED constant, so the whole search
# is a constant number of joins regardless of corpus size
GS_ENTRIES = 8  # entry points per query after routing through the
# coarse layer (HNSW's descend-from-the-top-layer step, batch form)
GS_L1_CAP = 64  # expected routing-layer size: nodes are md5-sampled at
# mod ceil(N / GS_L1_CAP), so the layer stays ~constant as N grows —
# the log-sized upper layer of HNSW, flattened to one level
GS_L1_DEGREE = 8  # out-degree of the routing layer's own kNN graph —
# these edges CROSS labels (long-range links), stitching the per-label
# kNN components into one navigable graph


def _graph_search_oracle(filter_pred: str = "") -> str:
    parts = [f"""
    WITH c AS (SELECT label, COUNT(*) AS nl FROM embeddings GROUP BY label),
    v AS MATERIALIZED (
      SELECT em.vec_id, em.label,
             ('0x' || substr(md5(CAST(em.vec_id AS VARCHAR)), 1, 15))::BIGINT
               % CAST(CEIL(c.nl / {KNN_BLOCK_CAP}.0) AS BIGINT) AS sub,
             em.embedding::DOUBLE[] AS e,
             SQRT(LIST_DOT_PRODUCT(em.embedding::DOUBLE[],
                                   em.embedding::DOUBLE[])) AS nrm
      FROM embeddings em JOIN c USING (label)
    ),
    kpairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             LIST_DOT_PRODUCT(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
      FROM v a JOIN v b
        ON a.label = b.label AND a.sub = b.sub AND a.vec_id <> b.vec_id
    ),
    kranked AS MATERIALIZED (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_raw DESC, dst) AS rn
      FROM kpairs
    ),
    l1 AS (
      SELECT vec_id FROM embeddings
      WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
            % GREATEST(CAST(CEIL((SELECT COUNT(*) FROM embeddings)
                                 / {GS_L1_CAP}.0) AS BIGINT), 1) = 0
    ),
    l1p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             LIST_DOT_PRODUCT(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
      FROM v a JOIN l1 la ON a.vec_id = la.vec_id
      JOIN v b ON b.vec_id <> a.vec_id
      JOIN l1 lb ON b.vec_id = lb.vec_id
    ),
    l1r AS (
      SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cos_raw DESC, dst) AS rn
      FROM l1p
    ),
    uedges AS MATERIALIZED (
      SELECT src, dst FROM kranked WHERE rn <= {GS_DEGREE}
      UNION
      SELECT dst AS src, src AS dst FROM kranked WHERE rn <= {GS_DEGREE}
      UNION
      SELECT src, dst FROM l1r WHERE rn <= {GS_L1_DEGREE}
      UNION
      SELECT dst AS src, src AS dst FROM l1r WHERE rn <= {GS_L1_DEGREE}
    ),
    qv AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe,
             SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS qn
      FROM embeddings
      WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}
    ),
    led0 AS MATERIALIZED (
      SELECT q.q_id, l.vec_id AS c_id,
             ROUND(LIST_DOT_PRODUCT(q.qe, w.e) / (q.qn * w.nrm), 6)
               AS cosine
      FROM qv q CROSS JOIN l1 l JOIN v w ON w.vec_id = l.vec_id
    ),
    fr0 AS MATERIALIZED (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM led0) WHERE rn <= {GS_ENTRIES}
    )"""]
    for st in range(1, GS_STEPS + 1):
        parts.append(f""",
    new{st} AS MATERIALIZED (
      SELECT DISTINCT f.q_id, ed.dst AS c_id
      FROM fr{st - 1} f JOIN uedges ed ON ed.src = f.c_id
      WHERE NOT EXISTS (SELECT 1 FROM led{st - 1} l
                        WHERE l.q_id = f.q_id AND l.c_id = ed.dst)
    ),
    led{st} AS MATERIALIZED (
      SELECT q_id, c_id, cosine FROM led{st - 1}
      UNION ALL
      SELECT n.q_id, n.c_id,
             ROUND(LIST_DOT_PRODUCT(q.qe, w.e) / (q.qn * w.nrm), 6)
               AS cosine
      FROM new{st} n JOIN qv q USING (q_id) JOIN v w ON w.vec_id = n.c_id
    )""")
        if st < GS_STEPS:
            parts.append(f""",
    fr{st} AS MATERIALIZED (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM led{st}) WHERE rn <= {GS_BEAM}
    )""")
    parts.append(f"""
    SELECT q_id, c_id, cosine, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rn
      FROM led{GS_STEPS} WHERE c_id <> q_id{filter_pred})
    WHERE rn <= {TOP_K}""")
    return "".join(parts)


# One search per (corpus, beam, steps): the ledger is a chain of
# checkpointed score tables, and both the unfiltered top-k and the
# metadata-FILTERED top-k rank over the SAME ledger (a production vector
# store answers both from one index traversal too). Timing tools drop
# the entry per rep (tools/bench_ann_recall.py, bench_query_scale.py).
@memoized("graph_search")
def _graph_search(spark, sf_dir, beam: int, steps: int):
    """The hierarchical graph-ANN search shared by the registered ops
    (unfiltered + metadata-filtered) and tools/bench_ann_recall.py
    (which also reads the LEDGER — the scored-candidates-per-query cost
    axis of the recall sweep). Returns (topk_result, ledger)."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    l1_mod = max(1, math.ceil(n_vec / GS_L1_CAP))
    edges = _knn_edges(emb, GS_DEGREE).select("src", "dst")
    lre = _l1_edges(emb, l1_mod, GS_L1_DEGREE).select("src", "dst")
    both = edges.unionByName(lre)
    uedges = (
        both.unionByName(
            both.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    w = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("e"),
        _norm(F.col("embedding")).alias("nrm"),
    )
    qv = _query_vectors(emb).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )

    dot = F.aggregate(
        F.zip_with(
            F.col("qe"), F.col("e"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wnd = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")

    def score(cand):
        return (
            cand.join(F.broadcast(qv), "q_id")
            .join(w, "c_id")
            .select(
                "q_id", "c_id",
                F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
            )
        )

    l1_ids = (
        emb.filter(_md5_mod_col() % l1_mod == 0)
        .select(F.col("vec_id").alias("c_id"))
    )
    ledger = score(
        qv.select("q_id").crossJoin(F.broadcast(l1_ids))
    ).localCheckpoint(eager=True)
    width = GS_ENTRIES
    for _ in range(steps):
        frontier = (
            ledger.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") <= width)
            .select("q_id", "c_id")
        )
        new = (
            frontier.select("q_id", F.col("c_id").alias("src"))
            .join(uedges, "src")
            .select("q_id", F.col("dst").alias("c_id"))
            .distinct()
            .join(ledger.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti")
        )
        ledger = ledger.unionByName(score(new)).localCheckpoint(eager=True)
        width = beam
    result = (
        ledger.filter(F.col("c_id") != F.col("q_id"))
        .withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )
    return result, ledger


@register("q_sim_graph_search_topk", oracle=_graph_search_oracle())
def q_sim_graph_search_topk(spark, sf_dir, beam: int = GS_BEAM,
                            steps: int = GS_STEPS):
    """GRAPH-BASED ANN (the HNSW family, batch form): answer every
    query by beam search over a navigable graph instead of scanning
    the corpus — the third ANN strategy next to IVF (posting lists)
    and LSH (hash buckets), and the one modern vector stores default
    to. Hierarchical, HNSW-style (Malkov & Yashunin 2016), in three
    ingredients:

    - COARSE LAYER: ~{GS_L1_CAP} md5-sampled routing nodes. Each query
      scores the whole layer (constant cost) and descends from its
      top-{GS_ENTRIES} — HNSW's upper-layer route-in, flattened to one
      level. The layer's own degree-{GS_L1_DEGREE} kNN graph is merged
      into the edge list: those edges cross labels (LONG-RANGE links),
      stitching the per-label kNN components into one navigable graph
      — without them, routed entries strand whole components
      (measured: recall drops below the flat-entry baseline).
    - BASE LAYER: the blocked kNN builder at degree {GS_DEGREE}
      (denser than the k={KNN_K} report graph — navigability needs
      degree >> k, HNSW's M knob), made undirected.
    - VISITED LEDGER: each (query, candidate) is scored ONCE; the beam
      (efSearch={GS_BEAM}) and the final top-{TOP_K} rank over the
      cumulative ledger (HNSW's visited set). The pre-ledger search
      re-scored every beam survivor each round — at beam 32 it paid
      ~933 scorings/query for recall@5 0.53 on the isotropic sf0.1
      fixture; this search pays ~1175 for 0.84 (and on a clustered
      corpus ~290 for 1.0 vs ~870 before — see BENCH_ann_recall.json).

    Scale shape: the graph build is the q_sim_knn_graph plan (one hash
    shuffle, cap-bounded blocks) plus ONE bounded block for the coarse
    layer; the search is a CONSTANT number of joins of Q_CAP-bounded
    relations against the edge list — per query it touches
    O(L1 + beam x degree x steps) vectors regardless of corpus size,
    which is the entire point of graph ANN. Every scoring step snaps
    to e6 with (cosine DESC, id) ranking and the ledger's anti-join
    runs identically as NOT EXISTS in the oracle's unrolled
    {GS_STEPS}-step CTE chain, so Spark and DuckDB agree exactly; the
    HOF dot product accumulates left-to-right, bit-identical to
    DuckDB's LIST_DOT_PRODUCT."""
    return _graph_search(spark, sf_dir, beam, steps)[0]


# --- metadata-FILTERED ANN (the production vector-store staple) -------------

FILT_MOD = 3  # the metadata predicate: c_id % FILT_MOD == FILT_V — a
FILT_V = 1    # deterministic stand-in for "WHERE lang = 'en'" that is
# independent of the coarse partition (label), so the filter genuinely
# crosses posting lists / graph neighborhoods (~1/3 selectivity)


@register(
    "q_sim_filtered_topk",
    oracle=_graph_search_oracle(
        filter_pred=f" AND c_id % {FILT_MOD} = {FILT_V}"
    ),
)
def q_sim_filtered_topk(spark, sf_dir, beam: int = GS_BEAM,
                        steps: int = GS_STEPS):
    """METADATA-FILTERED ANN: top-{TOP_K} neighbors among candidates
    satisfying a metadata predicate (here c_id % {FILT_MOD} ==
    {FILT_V}, the deterministic stand-in for ``WHERE lang = 'en'``) —
    what every production vector store actually serves. Strategy is
    filter-aware LEDGER RANKING over the unfiltered hierarchical graph
    traversal (the filtered-HNSW family's post-traversal filter, cf.
    Qdrant/Weaviate filtered search and ACORN's predicate-agnostic
    baseline): the walk stays unfiltered — restricting EDGES by a 1/3
    filter fragments the graph and strands components, the same failure
    the routing layer's long-range links fix for labels — while the
    final rank admits only predicate-passing candidates from the
    visited ledger.

    This dominates POST-FILTERING the unfiltered top-k at identical
    cost: both read the same ledger (equal scored-per-query — the
    BENCH_ann_recall filtered cell records the comparison), but
    post-filtering keeps only the ~1/k-selectivity survivors of an
    already-cut top-{TOP_K}, while ledger ranking draws from every
    scored candidate. The traversal is shared (memoized) with
    q_sim_graph_search_topk, exactly as one index serves both query
    types in production; the oracle is the same unrolled {GS_STEPS}-
    step CTE chain with the predicate applied at the final rank."""
    _, ledger = _graph_search(spark, sf_dir, beam, steps)
    wnd = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        ledger.filter(
            (F.col("c_id") != F.col("q_id"))
            & (F.col("c_id") % FILT_MOD == FILT_V)
        )
        .withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )


# --- IVF with a LEARNED coarse quantizer (k-means posting lists) -------------

IVFK_PROBE = 3  # probed k-means lists per query (of KMEANS_K)


def _ivf_kmeans_oracle() -> str:
    ctes, assign, cent = _kmeans_chain_ctes()
    return (
        "WITH "
        + ",".join(ctes)
        + f""",
    qdk AS (
      SELECT d.vec_id AS q_id, c.cluster,
             ROUND(SUM((d.v - c.cv) * (d.v - c.cv)), 6) AS dist
      FROM dims d JOIN {cent} c USING (dim)
      WHERE d.vec_id % {QUERY_MOD} = 0 AND d.vec_id < {Q_MAX_ID}
      GROUP BY 1, 2
    ),
    prk AS (
      SELECT q_id, cluster FROM (
        SELECT q_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY dist, cluster) AS rn
        FROM qdk) WHERE rn <= {IVFK_PROBE}
    ),
    qvk AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe,
             SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS qn
      FROM embeddings
      WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}
    ),
    cvk AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS ce,
             SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS cn
      FROM embeddings
    ),
    sck AS (
      SELECT p.q_id, a.vec_id AS c_id,
             ROUND(LIST_DOT_PRODUCT(q.qe, v.ce) / (q.qn * v.cn), 6)
               AS cosine
      FROM prk p
      JOIN {assign} a ON a.cluster = p.cluster
      JOIN qvk q ON q.q_id = p.q_id
      JOIN cvk v ON v.c_id = a.vec_id
      WHERE a.vec_id <> p.q_id
    )
    SELECT q_id, c_id, cosine, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rn
      FROM sck) WHERE rn <= {TOP_K}"""
    )


@register("q_sim_ivf_kmeans_topk", oracle=_ivf_kmeans_oracle())
def q_sim_ivf_kmeans_topk(spark, sf_dir):
    """IVF with a LEARNED coarse quantizer — the production composition
    the label-routed q_sim_ivf_topk stands in for: posting lists are
    the k-means assignment (the same trained state q_sim_kmeans gates,
    via the memoized trainer), and each query probes its {IVFK_PROBE}
    nearest of the {KMEANS_K} centroids THAT PRODUCED those lists (the
    quantizer used for routing and for list assignment must be the same
    state, or recall silently degrades — which is why the trainer
    returns the pre-final-update centroids the last assignment used).
    Exact cosine then runs only inside probed lists.

    Plan shape: training is the q_sim_kmeans plan (one shuffle per
    Lloyd iteration, k x d driver state); routing distances snap to e6
    with (dist, cluster) tie-breaks; candidate scoring is the same
    vectorized per-list mapInPandas scorer as q_sim_ivf_topk
    (probes and query vectors are Q_CAP-bounded constant pulls,
    lr_matmul keeps the floats bit-identical to the oracle's
    LIST_DOT_PRODUCT). The oracle replays the full Lloyd chain plus
    routing and scoring in one statement."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, route_centroids = _kmeans_train_cached(spark, sf_dir)

    # routing: squared L2 of each query to the k routing centroids,
    # accumulated IN DIMENSION ORDER (lr_matmul discipline) so the
    # e6-snapped distances match the oracle's SUM over dims exactly
    q_pd = _query_vectors(emb).select("vec_id", "embedding").toPandas()
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    Cm = np.array(route_centroids)  # (k, d)
    d2 = np.zeros((len(q_ids), KMEANS_K))
    for i in range(Q.shape[1]):
        diff = Q[:, i][:, None] - Cm[:, i][None, :]
        d2 += diff * diff
    d2 = np.floor(d2 * 1e6 + 0.5) / 1e6  # ROUND(x, 6) twin on positives
    probe_map: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        order = np.lexsort((np.arange(KMEANS_K), d2[qi]))[:IVFK_PROBE]
        for cl in order:
            probe_map.setdefault(int(cl), []).append(qi)

    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            for cluster, grp in pdf.groupby("cluster"):
                qs = probe_map.get(int(cluster))
                if not qs:
                    continue
                qs = np.array(sorted(set(qs)))
                C = _to_matrix(grp["e"])
                c_ids = grp["vec_id"].to_numpy()
                dots, c_sq = lr_matmul(C, Q[qs])
                cos = dots / (q_norm[qs][None, :] * np.sqrt(c_sq)[:, None])
                n_c, n_q = cos.shape
                out = pd.DataFrame(
                    {
                        "q_id": np.tile(q_ids[qs], n_c),
                        "c_id": np.repeat(c_ids, n_q),
                        "cosine": cos.ravel(),
                    }
                )
                yield out[out.q_id != out.c_id]

    sims = (
        assigned.select("vec_id", "cluster", "e")
        .mapInPandas(score, "q_id long, c_id long, cosine double")
        .select("q_id", "c_id", F.round("cosine", 6).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "c_id", "cosine", F.col("rn").cast("long").alias("rn"))
    )


# --- ColBERT-style late interaction: MaxSim retrieval over token vectors -----
#
# Late-interaction retrieval (Khattab & Zaharia 2020, "ColBERT"): a
# document is a BAG OF TOKEN VECTORS, and the query-document score is
# MaxSim = sum over query tokens of the maximum similarity against any
# document token — finer-grained than one pooled vector per document,
# cheaper than full cross-attention. Production systems run it in two
# stages (Santhanam et al. 2021, ColBERTv2): candidate generation by
# token-level match, then exact MaxSim re-ranking of the shortlist.
# The fixture has no learned token encoder, so token vectors are
# deterministic SIGN-HASH signatures (Charikar 2002 SimHash): dimension
# j of word w is the parity of hex digit j of md5(w), giving ±1 vectors
# whose dot product is exactly 32 - 2*hamming(mask(a), mask(b)) on the
# packed 32-bit masks — integer end-to-end, so Spark and the oracle
# agree bit-for-bit. The MaxSim MACHINERY (overlap candidate gen →
# per-query-term max → sum → top-k) is the real operator; swapping the
# hash signatures for learned embeddings changes one projection.

CB_QMOD = 100     # doc_id % CB_QMOD == 0 → query document
CB_QMAX = 6400    # id bound → at most 64 query docs at any corpus size
CB_QT = 8         # query terms: top-8 by in-document frequency
CB_CAND = 128     # stage-1 shortlist per query
CB_SALT = 16      # salt width for the two-phase candidate cap
CB_TOP = 5

_CB_ODD = "('1','3','5','7','9','b','d','f')"
_CB_MASK_SQL = (
    "aggregate(sequence(0, 31), 0L, (acc, j) -> acc +"
    f" CASE WHEN substring(h, j + 1, 1) IN {_CB_ODD}"
    " THEN shiftleft(1L, j) ELSE 0L END)"
)


@register(
    "q_sim_colbert_maxsim",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    post AS (SELECT DISTINCT doc_id, w FROM toks),
    qtf AS (
      SELECT doc_id AS q_id, w, COUNT(*) AS c FROM toks
      WHERE doc_id % {CB_QMOD} = 0 AND doc_id < {CB_QMAX} GROUP BY 1, 2
    ),
    qt AS (
      SELECT q_id, w FROM (
        SELECT q_id, w,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, w) AS rn
        FROM qtf
      ) WHERE rn <= {CB_QT}
    ),
    overlap AS (
      SELECT q.q_id, p.doc_id, COUNT(*) AS m
      FROM post p JOIN qt q ON p.w = q.w
      WHERE p.doc_id <> q.q_id GROUP BY 1, 2
    ),
    cand AS (
      SELECT q_id, doc_id FROM (
        SELECT q_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q_id ORDER BY m DESC, doc_id
               ) AS rn
        FROM overlap
      ) WHERE rn <= {CB_CAND}
    ),
    masks AS (
      SELECT w, CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), j ->
        CASE WHEN substr(md5(w), CAST(j + 1 AS INT), 1) IN {_CB_ODD}
        THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS mask
      FROM (SELECT DISTINCT w FROM post)
    ),
    perqt AS (
      SELECT c.q_id, c.doc_id, q.w AS qt,
             MAX(32 - 2 * CAST(bit_count(xor(mq.mask, mw.mask)) AS BIGINT))
               AS best
      FROM cand c
      JOIN qt q ON q.q_id = c.q_id
      JOIN post p ON p.doc_id = c.doc_id
      JOIN masks mq ON mq.w = q.w
      JOIN masks mw ON mw.w = p.w
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT q_id, doc_id, CAST(SUM(best) AS BIGINT) AS maxsim
      FROM perqt GROUP BY 1, 2
    )
    SELECT CAST(q_id AS BIGINT) AS query_doc_id, doc_id,
           CAST(rn AS BIGINT) AS maxsim_rank, maxsim
    FROM (
      SELECT q_id, doc_id, maxsim,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY maxsim DESC, doc_id
             ) AS rn
      FROM scored
    ) WHERE rn <= {CB_TOP}
    """,
)
def q_sim_colbert_maxsim(spark, sf_dir):
    """Late-interaction (ColBERT-style) MaxSim top-{CB_TOP}: each of up
    to 64 query documents (doc_id % {CB_QMOD} == 0, id-capped) takes
    its {CB_QT} most frequent words as query tokens; candidates are
    generated by token overlap (distinct matched terms, two-phase
    salted cap at {CB_CAND} per query — the ColBERTv2 retrieve stage)
    and re-ranked by exact MaxSim: per query token the MAX sign-hash
    dot product against any of the candidate document's distinct
    words, summed over the query tokens. Token vectors are packed
    32-bit sign masks (one md5 per distinct WORD, vocab-bounded), so
    every similarity is 32 - 2*bit_count(mask_q ^ mask_w) — pure JVM
    integer arithmetic, no UDF anywhere.

    Scale shape: the only corpus-sized relations are the token explode
    and the distinct postings (both map-side-combinable groupBys); the
    query-term table is broadcast ({CB_QMAX // CB_QMOD} x {CB_QT}
    rows), candidate generation is the postings equi-join against it,
    and the re-rank joins are bounded by Q_CAP x CB_CAND x CB_QT x
    words-per-doc — corpus-independent once the shortlist is cut. The
    two-phase salted window keeps every window partition bounded. At
    100 TB the same plan holds: postings are the inverted index a
    production ColBERT keeps anyway, and the MaxSim re-rank touches
    only shortlisted documents."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).localCheckpoint(eager=True)  # 2 consumers: postings + query tf
    post = toks.distinct()
    qtf = (
        toks.filter(
            (F.col("doc_id") % CB_QMOD == 0) & (F.col("doc_id") < CB_QMAX)
        )
        .groupBy(F.col("doc_id").alias("q_id"), "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wq = W.partitionBy("q_id").orderBy(F.desc("c"), F.asc("w"))
    qt = (
        qtf.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= CB_QT)
        .select("q_id", "w")
    )
    overlap = (
        post.join(F.broadcast(qt), "w")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    w1 = W.partitionBy("q_id", "salt").orderBy(F.desc("m"), F.asc("doc_id"))
    w2 = W.partitionBy("q_id").orderBy(F.desc("m"), F.asc("doc_id"))
    cand = (
        overlap.withColumn("salt", F.col("doc_id") % CB_SALT)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= CB_CAND)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= CB_CAND)
        .select("q_id", "doc_id")
    )
    masks = (
        post.select("w")
        .distinct()
        .withColumn("h", F.md5("w"))
        .select("w", F.expr(_CB_MASK_SQL).alias("mask"))
    )
    qmasks = qt.join(masks, "w").select(
        "q_id", F.col("w").alias("qt"), F.col("mask").alias("qmask")
    )
    wmasks = masks.withColumnRenamed("mask", "wmask")
    perqt = (
        cand.join(F.broadcast(qmasks), "q_id")
        .join(post, "doc_id")
        .join(wmasks, "w")
        .withColumn(
            "dot", F.expr("32 - 2 * bit_count(qmask ^ wmask)").cast("long")
        )
        .groupBy("q_id", "doc_id", "qt")
        .agg(F.max("dot").alias("best"))
    )
    scored = perqt.groupBy("q_id", "doc_id").agg(
        F.sum("best").cast("long").alias("maxsim")
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= CB_TOP)
        .select(
            F.col("q_id").cast("long").alias("query_doc_id"),
            "doc_id",
            F.col("rn").cast("long").alias("maxsim_rank"),
            "maxsim",
        )
    )


# --- k-center coreset selection (Gonzalez greedy, diverse subsets) -----------

KC_STEPS = 8  # greedy selections after the seed


def _kcenter_oracle() -> str:
    """Unrolled Gonzalez greedy: one CTE block per selection step. The
    candidate picked at step k minimizes (max rounded cosine to the
    selected set, vec_id) — cosine similarity as the proximity metric,
    so the farthest-point step takes the LEAST-similar candidate."""
    cos = (
        "ROUND(LIST_DOT_PRODUCT(c.v, s.v) / "
        "(SQRT(LIST_DOT_PRODUCT(c.v, c.v)) * "
        "SQRT(LIST_DOT_PRODUCT(s.v, s.v))), 6)"
    )
    # every multi-referenced CTE is MATERIALIZED: without the hint the
    # sel chain would re-inline (and re-evaluate) exponentially
    base = """
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    sel0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)
    """
    for k in range(1, KC_STEPS + 1):
        base += f""",
    p{k} AS MATERIALIZED (
      SELECT c.vec_id, MAX({cos}) AS mc
      FROM e c JOIN sel{k - 1} s ON TRUE
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})
      GROUP BY c.vec_id
    ),
    pick{k} AS MATERIALIZED (
      SELECT vec_id, mc FROM p{k} ORDER BY mc ASC, vec_id LIMIT 1
    ),
    sel{k} AS MATERIALIZED (
      SELECT vec_id, v FROM sel{k - 1}
      UNION ALL
      SELECT e.vec_id, e.v FROM e JOIN pick{k} USING (vec_id)
    )"""
    picks = "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, vec_id, mc AS max_cos_r6"
        f" FROM pick{k}"
        for k in range(1, KC_STEPS + 1)
    )
    base += f"""
    SELECT CAST(0 AS BIGINT) AS step, vec_id,
           CAST(NULL AS DOUBLE) AS max_cos_r6
    FROM sel0
    UNION ALL {picks}
    """
    return base


@register("q_sim_kcenter_coreset", oracle=_kcenter_oracle())
def q_sim_kcenter_coreset(spark, sf_dir):
    """K-CENTER CORESET selection (Gonzalez 1985 farthest-point greedy
    — the diverse-subset selector of active-learning corework, Sener &
    Savarese 2018): starting from the lowest vec_id, each of
    {KC_STEPS} steps adds the candidate LEAST similar to the selected
    set (smallest max cosine, ties by vec_id) — the 2-approximation of
    the k-center cover, and the standard way to pick a small maximally
    diverse sample from an embedding corpus (seed sets, eval probes,
    annotation batches). Each step is one distributed pass: the
    selected matrix (<= {KC_STEPS + 1} rows) ships in the task
    closure, per-pair cosines are computed with the left-to-right
    lr_matmul contract, rounded to 1e-6 JVM-side BEFORE the per-
    candidate max (exactly the oracle's MAX(ROUND(...))), and the
    argmin is a single min(struct(mc, vec_id)) aggregate — one row to
    the driver per step, the bounded-collect pattern. Gonzalez is
    inherently k sequential passes over the corpus; that is its
    published cost and it parallelizes perfectly WITHIN each pass."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = emb.orderBy("vec_id").first()
    sel_ids = [int(seed["vec_id"])]
    sel_rows = [np.asarray(seed["embedding"], dtype=np.float64)]
    out_rows = [(0, sel_ids[0], None)]
    for step in range(1, KC_STEPS + 1):
        S = np.stack(sel_rows)
        _, s_sq = lr_matmul(S, S[:0])
        s_norm = np.sqrt(s_sq)

        def pairs(batches, S=S, s_norm=s_norm):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = _to_matrix(pdf["embedding"])
                dots, c_sq = lr_matmul(C, S)
                cos = dots / (np.sqrt(c_sq)[:, None] * s_norm[None, :])
                # per-candidate max over the selected set INSIDE the
                # batch: the exact float max of the same doubles Spark's
                # MAX saw over the m exploded rows (no accumulation, so
                # engine-identical), and ROUND stays on the Spark side
                # below — unchanged semantics because a monotone
                # rounding commutes with MAX (max_i round(x_i) ==
                # round(max_i x_i)). Emits one row per candidate
                # instead of m, and carries the embedding so the argmin
                # job below also returns the winner's vector (round 14:
                # the separate full-scan point-lookup job per step is
                # gone)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "raw_mc": cos.max(axis=1),
                        "embedding": pdf["embedding"],
                    }
                )

        cand = (
            emb.filter(~F.col("vec_id").isin(sel_ids))
            .mapInPandas(
                pairs, "vec_id long, raw_mc double, embedding array<double>"
            )
            .select(
                "vec_id", F.round("raw_mc", 6).alias("mc"), "embedding"
            )
        )
        # ONE job per step: min(struct) orders by (mc, vec_id) — the
        # embedding rides along after the unique vec_id tiebreak, so it
        # can never influence the argmin
        pick = cand.agg(
            F.min(F.struct("mc", "vec_id", "embedding")).alias("p")
        ).first()["p"]
        mc, vid = float(pick["mc"]), int(pick["vec_id"])
        sel_ids.append(vid)
        sel_rows.append(np.asarray(pick["embedding"], dtype=np.float64))
        out_rows.append((step, vid, mc))
    return spark.createDataFrame(
        out_rows, "step long, vec_id long, max_cos_r6 double"
    )


# --- kNN classification (the labeling serving twin of the ANN family) --------

KNNC_K = 10  # neighbors voting per query


@register(
    "q_sim_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(label AS BIGINT) AS q_label,
             embedding::DOUBLE[] AS qe
      FROM embeddings
      WHERE vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID}
    ),
    c AS (
      SELECT vec_id AS c_id, CAST(label AS BIGINT) AS c_label,
             embedding::DOUBLE[] AS ce
      FROM embeddings
      WHERE NOT (vec_id % {QUERY_MOD} = 0 AND vec_id < {Q_MAX_ID})
    ),
    sims AS (
      SELECT q_id, q_label, c_id, c_label,
             ROUND(LIST_DOT_PRODUCT(qe, ce)
                   / (SQRT(LIST_DOT_PRODUCT(qe, qe))
                      * SQRT(LIST_DOT_PRODUCT(ce, ce))), 6) AS cosine
      FROM q CROSS JOIN c
    ),
    topk AS (
      SELECT q_id, q_label, c_label FROM (
        SELECT q_id, q_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rn
        FROM sims
      ) WHERE rn <= {KNNC_K}
    ),
    votes AS (
      SELECT q_id, q_label, c_label, CAST(COUNT(*) AS BIGINT) AS v
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT q_id, q_label AS true_label, c_label AS pred_label,
           v AS votes, CAST({KNNC_K} AS BIGINT) AS k,
           (c_label = q_label) AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY v DESC, c_label) AS pr
      FROM votes
    ) WHERE pr = 1
    """,
)
def q_sim_knn_classify(spark, sf_dir):
    """kNN CLASSIFICATION — the auto-labeling serving twin of the ANN
    family (Fix & Hodges 1951; the weak-labeling pass data pipelines
    run to propagate a seed taxonomy onto unlabeled vectors): each
    query vector takes the MAJORITY LABEL of its {KNNC_K} exact
    nearest corpus neighbors — queries themselves are excluded from
    the candidate pool (the train/infer split), votes are pure
    integers, and ties break to the smallest label, so the verdict is
    engine-exact. ``correct`` compares against the fixture's stored
    label (near-chance on the isotropic fixture by construction — the
    gate pins exactness, the constructed clustered test pins that real
    structure classifies correctly).

    Scale shape: the q_sim_cosine_topk plan — the bounded query matrix
    rides the task closure, one Arrow-batched numpy pass over the
    candidate scan (lr_matmul dimension order, bit-identical to
    LIST_DOT_PRODUCT), one (q_id)-keyed top-k window over the scored
    rows, then two bounded aggregations (|Q| x labels). The corpus is
    never shuffled."""
    emb = load(spark, sf_dir, "embeddings")
    q_pd = (
        _query_vectors(emb).select("vec_id", "label", "embedding").toPandas()
    )
    Q = _to_matrix(q_pd["embedding"])
    q_ids = q_pd["vec_id"].to_numpy()
    q_labels = {int(v): int(l) for v, l in zip(q_pd["vec_id"], q_pd["label"])}
    _, q_sq = lr_matmul(Q, Q[:0])
    q_norm = np.sqrt(q_sq)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _to_matrix(pdf["embedding"])
            c_ids = pdf["vec_id"].to_numpy()
            c_labels = pdf["label"].to_numpy().astype(np.int64)
            dots, c_sq = lr_matmul(C, Q)
            cos = dots / (q_norm[None, :] * np.sqrt(c_sq)[:, None])
            n_c, n_q = cos.shape
            yield pd.DataFrame(
                {
                    "q_id": np.tile(q_ids, n_c),
                    "c_id": np.repeat(c_ids, n_q),
                    "c_label": np.repeat(c_labels, n_q),
                    "cosine": cos.ravel(),
                }
            )

    cands = emb.filter(
        ~((F.col("vec_id") % QUERY_MOD == 0) & (F.col("vec_id") < Q_MAX_ID))
    )
    sims = cands.select("vec_id", "label", "embedding").mapInPandas(
        score, "q_id long, c_id long, c_label long, cosine double"
    )
    w = W.partitionBy("q_id").orderBy(F.desc(F.round("cosine", 6)), "c_id")
    topk = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNNC_K)
        .select("q_id", "c_label")
    )
    votes = topk.groupBy("q_id", "c_label").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    wp = W.partitionBy("q_id").orderBy(F.desc("v"), "c_label")
    # true labels: a Q_CAP-bounded literal map in the plan, no join
    lab_map = F.create_map(
        *[F.lit(x) for kv in q_labels.items() for x in kv]
    )
    return (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select(
            "q_id",
            lab_map[F.col("q_id")].cast("long").alias("true_label"),
            F.col("c_label").alias("pred_label"),
            F.col("v").alias("votes"),
            F.lit(KNNC_K).cast("long").alias("k"),
            (F.col("c_label") == lab_map[F.col("q_id")]).alias("correct"),
        )
    )
