"""End-to-end training-data preparation pipeline — the capstone
composition of the library's cleaning operators into the one dataflow a
pretraining corpus actually runs through before tokenization:

    exact dedup -> quality filter -> language filter -> per-source cap
    -> deterministic train/test split -> mixture manifest

Every stage reuses the exact semantics of its standalone operator
(q_dedup_exact, q_text_quality_stats, q_text_language_id,
q_text_source_cap, hash split), so the pipeline is verified twice: each
stage against its own oracle elsewhere in the registry, and the fused
dataflow against the composed DuckDB oracle here.

The reference has no pipeline surface (it is a converter,
src/main.rs:1-288); this belongs to the driver-mandated training-data
extension family.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .registry import global_cumsum, global_ntile, load, register
from .text import _LANG_MARKERS, _occurrences_col, _occurrences_sql, SOURCE_CAP

MIN_WORDS = 25      # drop the short tail (fixture words span 10..99)
TRAIN_HEX = "0123456789ab"  # md5 first hex digit in this set -> train (12/16)


def _langpred_sql() -> str:
    """lang_predicted expression set, reusing q_text_language_id's
    scoring verbatim (marker-occurrence argmax, declaration-order
    tie-break)."""
    score_cols = []
    for lang, words in _LANG_MARKERS.items():
        parts = " + ".join(_occurrences_sql("lower(text)", w) for w in words)
        score_cols.append(f"({parts}) AS score_{lang}")
    langs = list(_LANG_MARKERS)
    cases = []
    for lang in langs:
        conds = [f"score_{lang} >= score_{o}" for o in langs if o != lang]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return (
        ",\n             ".join(score_cols),
        "CASE " + " ".join(cases) + " ELSE 'und' END",
    )


_SCORES_SQL, _PRED_SQL = _langpred_sql()


@register(
    "q_pipeline_training_prep",
    oracle=f"""
    WITH deduped AS (
      -- exact dedup: keep the smallest doc_id per content hash
      SELECT MIN(doc_id) AS doc_id
      FROM documents GROUP BY md5(lower(text))
    ),
    survivors AS (
      SELECT d.doc_id, d.source, d.lang, d.text,
             LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1 AS n_words
      FROM documents d JOIN deduped USING (doc_id)
    ),
    scored AS (
      SELECT doc_id, source, lang, n_words,
             {_SCORES_SQL}
      FROM survivors
      WHERE n_words >= {MIN_WORDS}
    ),
    lang_ok AS (
      SELECT doc_id, source, n_words
      FROM (SELECT *, {_PRED_SQL} AS lang_predicted FROM scored)
      WHERE lang_predicted = lang
    ),
    capped AS (
      SELECT doc_id, source, n_words FROM (
        SELECT doc_id, source, n_words,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS rn
        FROM lang_ok
      ) WHERE rn <= {SOURCE_CAP}
    )
    SELECT source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     IN ({", ".join(repr(c) for c in TRAIN_HEX)})
                THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM capped
    GROUP BY 1, 2
    """,
)
def q_pipeline_training_prep(spark, sf_dir):
    """Training-corpus preparation, fused: exact dedup (min doc_id per
    content hash), quality floor (>= {MIN_WORDS} words), language
    confidence (marker-argmax prediction must agree with the labeled
    lang — the cheap proxy for a langid-confidence threshold),
    per-source cap ({SOURCE_CAP} docs, md5-ranked — one crawl host
    can't dominate), and a deterministic md5 train/test split (12/16
    hex prefixes -> train), emitting the per-(source, split) mixture
    manifest with document and word totals.

    Scale shape, stage by stage: the dedup is ONE hash-partitioned
    window on the content hash (row_number == 1 keeps the min-doc_id
    duplicate) — no groupBy-then-join-back, so survivors keep their
    columns without a second corpus-sized exchange; quality and
    language are pure per-row column expressions (whole-stage codegen,
    no shuffle); the cap is one hash-partition window on source
    (salted twin: q_text_source_cap_salted); the split is a stateless
    hash; the manifest is a tiny final aggregation. Two corpus-sized
    shuffles total at any corpus size — hash(content hash) and
    hash(source) — plus the tiny manifest reduce. Nothing is
    iterative, nothing collects. (The content-hash window partitions
    on a near-unique key, so its per-partition groups are the
    duplicate sets themselves — bounded by the corpus's duplication
    factor, never a skew hotspot.)
    """
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    n_words = (
        F.length(text) - F.length(F.regexp_replace(text, " ", "")) + 1
    ).cast("long")
    # 1. exact dedup (q_dedup_exact semantics on the real corpus):
    # min-doc_id winner per content hash via one window, one shuffle
    dw = W.partitionBy(F.md5(F.lower(text))).orderBy("doc_id")
    survivors = (
        docs.withColumn("_rn", F.row_number().over(dw))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "lang", "text", n_words.alias("n_words"))
    )
    # 2. quality floor
    survivors = survivors.filter(F.col("n_words") >= MIN_WORDS)
    # 3. language confidence (q_text_language_id scoring verbatim)
    lower = F.lower(F.col("text"))
    scores = {
        lang: sum(
            (_occurrences_col(lower, w) for w in words), F.lit(0).cast("long")
        )
        for lang, words in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    expr = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise("und")
    lang_ok = survivors.filter(pred == F.col("lang")).select(
        "doc_id", "source", "n_words"
    )
    # 4. per-source cap (q_text_source_cap semantics)
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    capped = (
        lang_ok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .drop("rn")
    )
    # 5. deterministic split + mixture manifest
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *list(TRAIN_HEX)
        ),
        "train",
    ).otherwise("test")
    return capped.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
    )


PACK_BUDGET = 512  # tokens per packed training sequence


@register(
    "q_pipeline_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {PACK_BUDGET} AS BIGINT) AS pack_offset,
           ((cum - n_tokens) // {PACK_BUDGET} <> (cum - 1) // {PACK_BUDGET})
             AS crosses_boundary
    FROM c
    """,
)
def q_pipeline_sequence_pack(spark, sf_dir):
    """Sequence packing: assign every document a position in the
    concatenate-then-chunk token stream (fixed {PACK_BUDGET}-token
    packs, deterministic doc_id order) — the step that turns a cleaned
    corpus into fixed-length training sequences with no padding waste.
    Each document gets its pack id, its token offset within the pack,
    and whether it straddles a pack boundary (the fraction of split
    documents is the packing-quality metric trainers watch).

    The global running token sum is registry.global_cumsum's TWO-PASS
    prefix sum, never a single-partition window: every per-row stage is
    partition-parallel; the only unpartitioned window runs over the
    |partitions| totals. The oracle is the directly-written
    global window — byte-identical results, different (scalable)
    physical plan."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    cum = F.col("cum_n_tokens")
    start = cum - F.col("n_tokens")
    return global_cumsum(docs, "doc_id", ["n_tokens"]).select(
        "doc_id",
        "n_tokens",
        F.floor(start / PACK_BUDGET).cast("long").alias("pack_id"),
        (start % PACK_BUDGET).cast("long").alias("pack_offset"),
        (F.floor(start / PACK_BUDGET) != F.floor((cum - 1) / PACK_BUDGET)).alias(
            "crosses_boundary"
        ),
    )


# --- best-fit-decreasing sequence packing ------------------------------------
#
# The bin-packing upgrade of the concatenate-then-chunk packer above
# (Krell et al. 2021, "Efficient Sequence Packing without
# Cross-contamination"): variable-length documents are packed WHOLE
# into {PACK_BUDGET}-token bins — no document ever straddles a
# sequence boundary, the attention-contamination hazard chunk packing
# accepts — at the price of per-bin padding, which best-fit-decreasing
# drives near zero. The algorithm runs at LENGTH-HISTOGRAM granularity
# (same-length docs are interchangeable; Krell et al. pack histograms
# for exactly this reason), and because a bin's identity is fully
# captured by its residual capacity, the whole BFD state is a BOUNDED
# residual histogram (PACK_BUDGET + 1 counters) — corpus-independent.
# Item-by-item best-fit over identical items "drills" one tightest bin
# from residual r down to r mod L before touching the next, so the
# fold advances in bulk steps (drill floor(c/j) bins fully, j = r//L
# items each, one partial remainder) — each step either exhausts the
# current length class or retires a residual class, so total steps are
# O(distinct lengths + residual classes), never O(docs).


def _bfd_fold(hist: list[tuple[int, int]]) -> tuple[int, list[int]]:
    """Exact best-fit-decreasing over a (length, count) histogram
    sorted by length DESC. Returns (n_bins, final residual histogram).
    Pure integer arithmetic; the oracle replays the identical step
    sequence as a recursive CTE."""
    B = PACK_BUDGET
    R = [0] * (B + 1)
    nbins = 0
    for L, cnt in hist:
        c = cnt
        while c > 0:
            rr = next((r for r in range(L, B + 1) if R[r] > 0), None)
            if rr is not None:
                j = rr // L
                full = min(R[rr], c // j)
                if full > 0:
                    R[rr] -= full
                    R[rr - j * L] += full
                    c -= full * j
                else:  # c < j: one partially-drilled bin ends the class
                    R[rr] -= 1
                    R[rr - c * L] += 1
                    c = 0
            else:
                j = B // L
                full = c // j
                if full > 0:
                    nbins += full
                    R[B - j * L] += full
                    c -= full * j
                else:
                    nbins += 1
                    R[B - c * L] += 1
                    c = 0
    return nbins, R


def _bfd_oracle() -> str:
    B = PACK_BUDGET
    return f"""
    WITH RECURSIVE hist AS (
      SELECT len, cnt, ROW_NUMBER() OVER (ORDER BY len DESC) AS i
      FROM (
        SELECT LEAST(CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT), {B})
                 AS len,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1
      )
    ),
    nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hist),
    state(stp, idx, c, nbins, R) AS (
      SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT),
             (SELECT cnt FROM hist WHERE i = 1), CAST(0 AS BIGINT),
             list_transform(range(0, {B + 1}), x -> CAST(0 AS BIGINT))
      UNION ALL
      SELECT s.stp + 1,
             CASE WHEN s.c = 0 THEN s.idx + 1 ELSE s.idx END,
             CASE WHEN s.c = 0 THEN (SELECT cnt FROM hist WHERE i = s.idx + 1)
                  ELSE s.c - t.dc END,
             s.nbins + CASE WHEN s.c > 0 AND t.rr IS NULL THEN t.m
                            ELSE 0 END,
             CASE WHEN s.c = 0 THEN s.R
                  ELSE list_transform(range(0, {B + 1}), x ->
                    s.R[CAST(x + 1 AS BIGINT)]
                    + CASE WHEN t.rr IS NOT NULL AND x = t.rr
                           THEN -t.m ELSE 0 END
                    + CASE WHEN x = t.dst THEN t.m ELSE 0 END) END
      FROM state s,
      LATERAL (SELECT COALESCE(
                 (SELECT len FROM hist WHERE i = s.idx), 1) AS L) t0,
      LATERAL (SELECT list_min(list_filter(range(t0.L, {B + 1}),
                 x -> s.R[CAST(x + 1 AS BIGINT)] > 0)) AS rr) t1,
      LATERAL (SELECT COALESCE(t1.rr, {B}) AS be,
                      COALESCE(t1.rr, {B}) // t0.L AS j) t2,
      LATERAL (SELECT CASE WHEN t1.rr IS NOT NULL
                           THEN LEAST(s.R[CAST(t1.rr + 1 AS BIGINT)],
                                      s.c // t2.j)
                           ELSE s.c // t2.j END AS fl) t3,
      LATERAL (
        SELECT t1.rr AS rr,
               CASE WHEN t3.fl > 0 THEN t3.fl ELSE CAST(1 AS BIGINT) END AS m,
               CASE WHEN t3.fl > 0 THEN t3.fl * t2.j ELSE s.c END AS dc,
               CASE WHEN t3.fl > 0 THEN t2.be - t2.j * t0.L
                    ELSE t2.be - s.c * t0.L END AS dst
      ) t
      WHERE NOT (s.c = 0 AND s.idx >= (SELECT n FROM nl))
    ),
    fin AS (SELECT * FROM state ORDER BY stp DESC LIMIT 1),
    tot AS (
      SELECT CAST(SUM(len * cnt) AS BIGINT) AS total,
             CAST(SUM(cnt) AS BIGINT) AS ndocs
      FROM hist
    )
    SELECT h.len AS length, h.cnt AS n_docs,
           CAST(h.len * h.cnt AS BIGINT) AS class_tokens,
           (SELECT nbins FROM fin) AS n_bins_bfd,
           CAST((SELECT total FROM tot) * 1000000
                // ((SELECT nbins FROM fin) * {B}) AS BIGINT) AS eff_bfd_e6,
           CAST(((SELECT total FROM tot) + {B} - 1) // {B} AS BIGINT)
             AS n_bins_chunk,
           CAST((SELECT total FROM tot) * 1000000
                // ((SELECT ndocs FROM tot) * {B}) AS BIGINT) AS eff_pad_e6,
           (SELECT md5(array_to_string(R, ',')) FROM fin) AS residual_sig
    FROM hist h
    """


@register("q_pipeline_pack_bfd", oracle=_bfd_oracle())
def q_pipeline_pack_bfd(spark, sf_dir):
    """BEST-FIT-DECREASING sequence packing (Krell et al. 2021): pack
    whole documents into {PACK_BUDGET}-token training sequences with
    no cross-boundary contamination, lengths processed largest-first,
    each item into the tightest bin that fits. Output is the packing
    manifest: one row per length class plus the global contract
    columns — BFD bin count and e6 efficiency, the chunk packer's
    ceil(total/{PACK_BUDGET}) lower bound (zero padding, but splits
    documents), the pad-to-budget upper bound (one doc per sequence),
    and an md5 fingerprint of the final residual histogram pinning the
    entire packing trajectory.

    Scale shape: the corpus is touched once by a map-side-combinable
    (length -> count) aggregate; the BFD fold then runs on the BOUNDED
    length histogram (<= {PACK_BUDGET} classes, a constant driver pull
    like the k-means codebooks) over a bounded residual-histogram
    state, in bulk steps that are O(classes), never O(docs) — see the
    section comment. The oracle replays the identical fold as a
    single-row recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    hist = (
        docs.select(
            F.least(
                F.size(F.split("text", " ")).cast("long"), F.lit(PACK_BUDGET)
            ).alias("len")
        )
        .groupBy("len")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # bounded driver pull: at most PACK_BUDGET distinct length classes
    rows = sorted(
        ((int(r.len), int(r.cnt)) for r in hist.collect()),
        key=lambda t: -t[0],
    )
    nbins, R = _bfd_fold(rows)
    total = sum(length * cnt for length, cnt in rows)
    ndocs = sum(cnt for _, cnt in rows)
    import hashlib

    res_sig = hashlib.md5(",".join(str(x) for x in R).encode()).hexdigest()
    return hist.select(
        F.col("len").alias("length"),
        F.col("cnt").alias("n_docs"),
        (F.col("len") * F.col("cnt")).cast("long").alias("class_tokens"),
        F.lit(nbins).cast("long").alias("n_bins_bfd"),
        F.lit(total * 1_000_000 // (nbins * PACK_BUDGET))
        .cast("long")
        .alias("eff_bfd_e6"),
        F.lit((total + PACK_BUDGET - 1) // PACK_BUDGET)
        .cast("long")
        .alias("n_bins_chunk"),
        F.lit(total * 1_000_000 // (ndocs * PACK_BUDGET))
        .cast("long")
        .alias("eff_pad_e6"),
        F.lit(res_sig).alias("residual_sig"),
    )


@register(
    "q_pipeline_dataset_card",
    oracle="""
    WITH hashed AS (
      SELECT source, lang, n_chars, text, md5(text) AS h,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ),
    dupmark AS (
      SELECT source, lang, n_chars, n_tok,
             COUNT(*) OVER (PARTITION BY h) > 1 AS is_dup
      FROM hashed
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(*) FILTER (WHERE n_chars < 200) AS BIGINT)
             AS n_short_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM dupmark GROUP BY source, lang
    """,
)
def q_pipeline_dataset_card(spark, sf_dir):
    """The dataset card: per (source, language) slice, the statistics a
    training-data release publishes — document/token/char volumes,
    exact-duplicate exposure, and short-document counts — computed in
    ONE pass over the corpus plus one content-hash shuffle.

    Shape: a window count over md5(text) marks duplicate membership
    (hash-partitioned, the same key the exact-dedup family shuffles on),
    then a single groupBy(source, lang) rolls everything up map-side.
    All outputs are exact integers — no float drift surface at all. At
    100 TB this is two shuffles: one on content hash (unavoidable for
    exact dup exposure), one on the (source, lang) card key whose
    cardinality is the number of published slices, not rows.
    """
    docs = load(spark, sf_dir, "documents")
    wdup = W.partitionBy(F.md5("text"))
    marked = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
        (F.count(F.lit(1)).over(wdup) > 1).alias("is_dup"),
    )
    return marked.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum((F.col("n_chars") < 200).cast("long")).alias("n_short_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- Deterministic stratified split -------------------------------------

SPLIT_BUCKETS = 10  # md5-derived buckets: 8 train / 1 val / 1 test


@register(
    "q_split_stratified",
    oracle=f"""
    WITH b AS (
      SELECT source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {SPLIT_BUCKETS} AS bucket
      FROM documents
    ),
    tagged AS (
      SELECT source, n_chars,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM b
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(FLOOR(COUNT(*) * 10000.0
                      / SUM(COUNT(*)) OVER (PARTITION BY source) + 0.5)
                AS BIGINT) AS frac_e4
    FROM tagged
    GROUP BY source, split
    """,
)
def q_split_stratified(spark, sf_dir):
    """Deterministic stratified train/val/test assignment — the split
    step of every training-data pipeline, done the way it must be at
    100 TB: the split is a PURE FUNCTION of the stable document id
    (md5(doc_id) first 8 hex chars → bucket 0-9 → 80/10/10), never a
    random() draw, so re-running the pipeline, adding documents, or
    recomputing on another cluster never reassigns an existing doc
    across the contamination boundary. Per (source, split) the query
    emits doc/char counts and the realized per-source fraction in
    fixed-point — hash-gating that the hash-bucket split really
    stratifies (uniformity of md5) instead of clumping per source.
    One scan + one map-side-combinable aggregate; the window computing
    per-source fractions runs over the #sources x 3 aggregate, not the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % SPLIT_BUCKETS
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    agg = docs.select("source", "n_chars", split.alias("split")).groupBy(
        "source", "split"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    wsrc = W.partitionBy("source")
    return agg.select(
        "source",
        "split",
        "n_docs",
        "n_chars",
        F.floor(
            F.col("n_docs") * 10000.0 / F.sum("n_docs").over(wsrc) + F.lit(0.5)
        )
        .cast("long")
        .alias("frac_e4"),
    )


# --- Curriculum bins: quality deciles with cumulative token budgets -----

CURRICULUM_BINS = 10


@register(
    "q_pipeline_curriculum",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             NTILE({CURRICULUM_BINS}) OVER (
               ORDER BY LEN(STRING_SPLIT(text, ' ')) * 1000000
                        / GREATEST(n_chars, 1) DESC, doc_id
             ) AS bin
      FROM documents
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(SUM(SUM(n_tokens)) OVER (ORDER BY bin) AS BIGINT)
             AS cum_tokens
    FROM scored
    GROUP BY bin
    """,
)
def q_pipeline_curriculum(spark, sf_dir):
    """Curriculum schedule construction: rank every document by a
    quality proxy (token density — tokens*1e6/chars; both engines
    compute this as ONE correctly-rounded double division of the same
    integers, so the ordering is bit-identical, with doc_id tiebreak —
    note it is a DOUBLE, not integer arithmetic: '/' is float division
    in both Spark and DuckDB, and the determinism comes from the
    identical expression tree, so do not 'simplify' either side to
    integer div alone), cut the corpus into {CURRICULUM_BINS}
    NTILE bins, and emit each bin's token count plus the cumulative
    token budget a curriculum loader would consume bin by bin.

    The global NTILE is the scale question: ranking 100 TB on one
    window is a single-partition sort, so this never calls ntile().
    Instead it uses ``global_ntile`` (registry.py) — the two-pass
    range-partition + prefix-offset global rank shared with
    q_utxo_balance_gini, with the NTILE bin derived in closed form
    from (rank, n). Every per-row stage is partition-parallel; the
    only unpartitioned windows run over the |partitions| count
    relation (32 rows) and the B-row bin aggregate."""
    docs = load(spark, sf_dir, "documents")
    score = (
        F.size(F.split("text", " ")).cast("long")
        * 1000000
        / F.greatest(F.col("n_chars"), F.lit(1))
    )
    scored = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        score.alias("score"),
    )
    binned = global_ntile(
        scored, CURRICULUM_BINS, [F.col("score").desc(), F.col("doc_id")]
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
    )
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    return agg.select(
        F.col("bin").cast("long").alias("bin"),
        "n_docs",
        "bin_tokens",
        F.sum("bin_tokens").over(wcum).alias("cum_tokens"),
    )


N_SHARDS = 16


@register(
    "q_pipeline_shard_manifest",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {N_SHARDS} AS shard,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_h
      FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor(content_h) AS BIGINT) AS content_fingerprint
    FROM h GROUP BY 1
    """,
)
def q_pipeline_shard_manifest(spark, sf_dir):
    """Deterministic output-shard manifest: every document lands in one
    of {N_SHARDS} shards by key hash, and each shard row carries its
    cardinality, byte budget, id range, and an order-independent
    xor-of-content-hashes fingerprint — the verification artifact a
    distributed writer publishes so ANY reader (or a re-run) can prove
    shard-level integrity without re-reading payloads. Companion to
    q_table_fingerprint (one fingerprint per table) at the granularity
    redistribution actually happens.

    Hash-partitioning by md5 of the KEY (not content) keeps shard
    assignment stable under text edits; xor aggregation is commutative
    so the fingerprint is fully map-side partial. One scan, one
    {N_SHARDS}-key shuffle — nothing here changes shape at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % N_SHARDS
    )
    content_h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return (
        docs.select(
            shard.alias("shard"),
            "doc_id",
            "n_chars",
            content_h.alias("content_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
            F.expr("bit_xor(content_h)").cast("long").alias("content_fingerprint"),
        )
    )


# --- Filter-funnel attrition report ----------------------------------------

FUNNEL_MIN_CHARS = 100
FUNNEL_MIN_WORDS = 20
FUNNEL_MAX_WORDS = 90
FUNNEL_MAX_TOPTOK_E2 = 25  # top-token ratio cap: 0.25


@register(
    "q_pipeline_filter_funnel",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, n_chars FROM documents
      WHERE doc_id % 3 = 0
    ),
    tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM corpus
    ),
    rep AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok
      FROM (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2)
      GROUP BY 1
    ),
    canon AS (
      SELECT md5(LOWER(text)) AS h, MIN(doc_id) AS kept FROM corpus GROUP BY 1
    ),
    flagged AS (
      SELECT c.doc_id,
             CASE
               WHEN c.n_chars < {FUNNEL_MIN_CHARS} THEN 1
               WHEN r.n_tok < {FUNNEL_MIN_WORDS}
                    OR r.n_tok > {FUNNEL_MAX_WORDS} THEN 2
               WHEN 100 * r.top_c > {FUNNEL_MAX_TOPTOK_E2} * r.n_tok THEN 3
               WHEN c.doc_id <> k.kept THEN 4
               ELSE 0
             END AS first_fail
      FROM corpus c
      JOIN rep r ON r.doc_id = c.doc_id
      JOIN canon k ON k.h = md5(LOWER(c.text))
    ),
    stages AS (
      SELECT s.idx, s.stage, COALESCE(d.n_dropped, 0) AS n_dropped,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_total
      FROM (VALUES (1, 'min_length'), (2, 'word_count'),
                   (3, 'repetition'), (4, 'exact_dup')) AS s(idx, stage)
      LEFT JOIN (SELECT first_fail, CAST(COUNT(*) AS BIGINT) AS n_dropped
                 FROM flagged WHERE first_fail > 0 GROUP BY 1) d
        ON d.first_fail = s.idx
    )
    SELECT CAST(idx AS BIGINT) AS stage_idx, stage,
           CAST(n_total - SUM(n_dropped) OVER (ORDER BY idx)
                + n_dropped AS BIGINT) AS n_in,
           CAST(n_dropped AS BIGINT) AS n_dropped,
           CAST(n_total - SUM(n_dropped) OVER (ORDER BY idx) AS BIGINT)
             AS n_out
    FROM stages
    """,
)
def q_pipeline_filter_funnel(spark, sf_dir):
    """Filter-funnel attrition report: every document (with the
    q_dedup_exact synthetic copies planted so the dedup stage has work)
    is attributed to the FIRST quality stage that would drop it —
    min-length, word-count band, top-token repetition, exact-dup
    non-canonical — and the funnel emits per-stage in/dropped/out
    counts. This is the governance artifact every cleaning pipeline
    ships alongside its output: WHERE the corpus went, stage by stage,
    with drops attributed once (first-fail) so the stage counts sum to
    the total attrition exactly.

    One pass computes all per-doc flags (integer thresholds only; the
    repetition test is cross-multiplied, no division), the canonical
    pick reuses the exact-dedup hash groupBy, and the funnel arithmetic
    runs over the 4-row stage relation. At 100 TB the heavy stages are
    two map-side-combinable aggregations over the corpus; the funnel
    itself is constant-size."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", "n_chars"
        )
    )
    tok = corpus.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    rep = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_tok"))
    )
    canon = corpus.groupBy(F.md5(F.lower(F.col("text"))).alias("h")).agg(
        F.min("doc_id").alias("kept")
    )
    flagged = (
        corpus.withColumn("h", F.md5(F.lower(F.col("text"))))
        .join(rep, "doc_id")
        .join(canon, "h")
        .select(
            "doc_id",
            F.when(F.col("n_chars") < FUNNEL_MIN_CHARS, 1)
            .when(
                (F.col("n_tok") < FUNNEL_MIN_WORDS)
                | (F.col("n_tok") > FUNNEL_MAX_WORDS),
                2,
            )
            .when(
                100 * F.col("top_c") > FUNNEL_MAX_TOPTOK_E2 * F.col("n_tok"), 3
            )
            .when(F.col("doc_id") != F.col("kept"), 4)
            .otherwise(0)
            .alias("first_fail"),
        )
    )
    total = flagged.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    drops = (
        flagged.filter(F.col("first_fail") > 0)
        .groupBy("first_fail")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    stages = spark.createDataFrame(
        [(1, "min_length"), (2, "word_count"), (3, "repetition"),
         (4, "exact_dup")],
        "idx int, stage string",
    )
    # cumulative drops via a <=-join over the 4-row stage relation (a
    # running sum over 4 rows doesn't need a window, and keeping the
    # tiny plan window-free keeps the one-task-window invariant clean)
    own = (
        F.broadcast(stages)
        .join(drops, stages.idx == drops.first_fail, "left")
        .select(
            "idx", "stage",
            F.coalesce("n_dropped", F.lit(0).cast("long")).alias("n_dropped"),
        )
    )
    cum = (
        F.broadcast(stages.select(F.col("idx").alias("cidx")))
        .join(drops, F.col("first_fail") <= F.col("cidx"), "left")
        .groupBy("cidx")
        .agg(F.coalesce(F.sum("n_dropped"), F.lit(0)).cast("long").alias("cum_dropped"))
    )
    return (
        own.join(F.broadcast(cum), own.idx == cum.cidx)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("idx").cast("long").alias("stage_idx"),
            "stage",
            (F.col("n_total") - F.col("cum_dropped") + F.col("n_dropped"))
            .cast("long").alias("n_in"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
            (F.col("n_total") - F.col("cum_dropped")).cast("long").alias("n_out"),
        )
    )


# --- Rendezvous (HRW) shard assignment with resize accounting ---------------

HRW_SHARDS = 8
HRW_MOD = 2147483647  # 2^31 - 1 (Mersenne prime, Lehmer modulus)


@register(
    "q_pipeline_rendezvous_shards",
    oracle=f"""
    WITH scores AS (
      SELECT d.doc_id, s.shard,
             ((d.doc_id * 48271 + (s.shard + 1) * 16807) % {HRW_MOD})
               * 69621 % {HRW_MOD} AS w
      FROM documents d, UNNEST(range(0, {HRW_SHARDS} + 1)) AS s(shard)
    ),
    a8 AS (
      SELECT doc_id, shard FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY w DESC, shard) AS rn
        FROM scores WHERE shard < {HRW_SHARDS}
      ) WHERE rn = 1
    ),
    a9 AS (
      SELECT doc_id, shard FROM (
        SELECT doc_id, shard,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY w DESC, shard) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT CAST(a9.shard AS BIGINT) AS shard,
           CAST(COUNT(*) FILTER (WHERE a8.shard = a9.shard) AS BIGINT)
             + CAST(0 AS BIGINT) AS n_stable,
           CAST(COUNT(*) AS BIGINT) AS n_docs_9,
           CAST(COUNT(*) FILTER (WHERE a8.shard <> a9.shard) AS BIGINT)
             AS n_moved_in
    FROM a9 JOIN a8 ON a8.doc_id = a9.doc_id
    GROUP BY 1
    """,
)
def q_pipeline_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) shard assignment with resize
    accounting: every document scores each shard with a Lehmer-style
    integer mix and lands on its argmax; the query compares the
    {HRW_SHARDS}-shard and {HRW_SHARDS}+1-shard assignments per final
    shard. HRW's minimal-disruption property falls out in the result:
    existing shards only LOSE documents to the new shard (n_moved_in =
    0 everywhere except the newcomer, which drains ~1/(N+1) of the
    corpus) — versus mod-N sharding, where a resize reshuffles nearly
    everything. This is how a checkpointed tokenization fleet keeps
    shard->worker affinity across a scale-up.

    The weight is pure 64-bit integer arithmetic (products <= doc_id *
    48271 + shard mixing, far inside int64; multipliers under 2^31 per
    the ANSI-overflow rule), bit-identical across engines — no
    md5-per-draw (the 40x-wall lesson). Per-doc argmax is a window over
    the CONSTANT {HRW_SHARDS}+1-row fan-out, partitioned by doc_id —
    embarrassingly parallel at any scale."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(0, HRW_SHARDS + 1).select(F.col("id").alias("shard"))
    scores = docs.crossJoin(F.broadcast(shards)).select(
        "doc_id",
        "shard",
        F.expr(
            f"((doc_id * 48271 + (shard + 1) * 16807) % {HRW_MOD})"
            f" * 69621 % {HRW_MOD}"
        ).alias("w"),
    )
    w9 = W.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("shard"))
    a9 = (
        scores.withColumn("rn", F.row_number().over(w9))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("shard").alias("shard9"))
    )
    a8 = (
        scores.filter(F.col("shard") < HRW_SHARDS)
        .withColumn("rn", F.row_number().over(w9))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("shard").alias("shard8"))
    )
    return (
        a9.join(a8, "doc_id")
        .groupBy(F.col("shard9").cast("long").alias("shard"))
        .agg(
            F.sum(F.when(F.col("shard8") == F.col("shard9"), 1).otherwise(0))
            .cast("long").alias("n_stable"),
            F.count(F.lit(1)).cast("long").alias("n_docs_9"),
            F.sum(F.when(F.col("shard8") != F.col("shard9"), 1).otherwise(0))
            .cast("long").alias("n_moved_in"),
        )
    )


# --- token-budget water-filling --------------------------------------------

WF_ROUNDS = 8  # saturation cascade depth; both engines run the SAME
# fixed rounds, so even an unconverged cascade is engine-identical
WF_BUDGET_NUM, WF_BUDGET_DEN = 3, 4  # budget = 3/4 of corpus tokens


def _waterfill_oracle(rounds: int = WF_ROUNDS) -> str:
    """K-round chained MATERIALIZED CTE replay (the BPE-oracle pattern;
    scalar aggregates hoisted into 1-row CTEs). Round semantics: with
    remaining budget R over the active set, prelim_i = R*w_i div W_act;
    sources whose prelim covers their whole supply saturate at supply;
    if NO source saturates this round the allocation is final; the last
    round force-finalizes."""
    parts = [
        f"""
    WITH s0 AS MATERIALIZED (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok,
             CAST(1 + CAST(substr(source, 4) AS BIGINT) % 7 AS BIGINT) AS w,
             CAST(NULL AS BIGINT) AS alloc
      FROM documents GROUP BY source
    ),
    b0 AS MATERIALIZED (
      SELECT CAST(SUM(tok) * {WF_BUDGET_NUM} // {WF_BUDGET_DEN} AS BIGINT)
               AS budget
      FROM s0
    )"""
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        force = "TRUE" if k == rounds else "FALSE"
        parts.append(
            f""",
    g{k} AS MATERIALIZED (
      SELECT (SELECT budget FROM b0)
               - COALESCE((SELECT SUM(alloc) FROM s{p}
                           WHERE alloc IS NOT NULL), 0) AS r,
             (SELECT SUM(w) FROM s{p} WHERE alloc IS NULL) AS wu
    ),
    pre{k} AS MATERIALIZED (
      SELECT s.source, s.tok, s.w, s.alloc,
             CASE WHEN s.alloc IS NULL AND g.wu > 0
                  THEN (g.r * s.w) // g.wu END AS prelim
      FROM s{p} s, g{k} g
    ),
    ns{k} AS MATERIALIZED (
      SELECT COUNT(*) AS n_sat FROM pre{k}
      WHERE alloc IS NULL AND prelim >= tok
    ),
    s{k} AS MATERIALIZED (
      SELECT source, tok, w,
             CASE WHEN alloc IS NOT NULL THEN alloc
                  WHEN prelim >= tok THEN tok
                  WHEN (SELECT n_sat FROM ns{k}) = 0 OR {force}
                       THEN prelim
                  ELSE NULL END AS alloc
      FROM pre{k}
    )"""
        )
    parts.append(
        f"""
    SELECT source, tok AS tokens_avail, w AS weight,
           CAST(alloc AS BIGINT) AS alloc_tokens,
           alloc >= tok AS saturated,
           CAST(alloc * 10000 // tok AS BIGINT) AS fill_bp
    FROM s{rounds}"""
    )
    return "".join(parts)


@register("q_mix_budget_waterfill", oracle=_waterfill_oracle())
def q_mix_budget_waterfill(spark, sf_dir):
    """Token-budget water-filling across sources — the allocator that
    turns target mixture WEIGHTS into an achievable token plan under a
    hard budget: each source gets budget share proportional to its
    weight, but a source can't supply more than it HAS; its surplus
    refills the still-active sources round by round (the classic
    water-filling cascade every data-mixture paper hand-waves as
    "renormalize over the remainder"). Weights derive from the source
    id (1 + idx % 7 — the fixture's sources are deliberately uniform in
    supply, so differing weights are what create saturation); budget =
    {WF_BUDGET_NUM}/{WF_BUDGET_DEN} of corpus tokens.

    Exact-integer discipline: supplies and budget are BIGINT token
    counts, per-round shares are (R * w) div W_active (positive integer
    div, engine-identical), and the cascade runs a FIXED {WF_ROUNDS}
    rounds on both engines (each round either saturates >=1 source,
    finalizes, or no-ops; the last round force-finalizes), so the
    result is bit-deterministic even in the no-convergence corner. At
    100 TB the only corpus-sized stage is the per-source token count;
    the cascade iterates on the |sources| relation with three 1-row
    scalar attaches per round."""
    docs = load(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).cast("long").alias("tok"),
        )
        .withColumn(
            "w",
            (1 + F.substring("source", 4, 10).cast("long") % 7).cast("long"),
        )
        .withColumn("alloc", F.lit(None).cast("long"))
        .localCheckpoint(eager=True)
    )
    budget = s.agg(
        F.expr(
            f"cast(sum(tok) * {WF_BUDGET_NUM} div {WF_BUDGET_DEN} as bigint)"
        ).alias("budget")
    )
    s = s.crossJoin(F.broadcast(budget))  # 1-row budget attach
    for k in range(1, WF_ROUNDS + 1):
        force = F.lit(k == WF_ROUNDS)
        g = s.agg(
            (
                F.max("budget")
                - F.coalesce(F.sum(F.when(F.col("alloc").isNotNull(), F.col("alloc"))), F.lit(0))
            ).alias("r"),
            F.sum(F.when(F.col("alloc").isNull(), F.col("w"))).alias("wu"),
        )
        pre = s.crossJoin(F.broadcast(g)).withColumn(  # 1-row (R, W_act)
            "prelim",
            F.when(
                F.col("alloc").isNull() & (F.col("wu") > 0),
                F.expr("(r * w) div wu"),
            ),
        )
        ns = pre.agg(
            F.count(
                F.when(
                    F.col("alloc").isNull() & (F.col("prelim") >= F.col("tok")),
                    1,
                )
            ).alias("n_sat")
        )
        s = (
            pre.crossJoin(F.broadcast(ns))  # 1-row saturation count
            .withColumn(
                "alloc",
                F.when(F.col("alloc").isNotNull(), F.col("alloc"))
                .when(F.col("prelim") >= F.col("tok"), F.col("tok"))
                .when((F.col("n_sat") == 0) | force, F.col("prelim")),
            )
            .select("source", "tok", "w", "alloc", "budget")
            .localCheckpoint(eager=True)
        )
    return s.select(
        "source",
        F.col("tok").alias("tokens_avail"),
        F.col("w").alias("weight"),
        F.col("alloc").cast("long").alias("alloc_tokens"),
        (F.col("alloc") >= F.col("tok")).alias("saturated"),
        F.expr("cast(alloc * 10000 div tok as bigint)").alias("fill_bp"),
    )


# --- dedup cascade ledger ---------------------------------------------------

CASCADE_SUBSTR_E4 = 5000  # stage-3 cut: >= half the words inside
# cross-document duplicated spans


def _dedup_cascade_oracle() -> str:
    from .dedup import _minhash_oracle, _substring_removal_oracle

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    ledger AS ({_substring_removal_oracle()}),
    d AS (
      SELECT doc_id, source, md5(lower(text)) AS h FROM documents
    ),
    k1 AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id)
               AS rn
        FROM d
      ) WHERE rn = 1
    ),
    rm2 AS (
      SELECT DISTINCT p.doc_b AS doc_id
      FROM pairs p
      JOIN k1 a ON a.doc_id = p.doc_a
      JOIN k1 b ON b.doc_id = p.doc_b
    ),
    rm3 AS (
      SELECT l.doc_id
      FROM ledger l
      JOIN k1 ON k1.doc_id = l.doc_id
      WHERE l.doc_id NOT IN (SELECT doc_id FROM rm2)
        AND l.dup_ratio_e4 >= {CASCADE_SUBSTR_E4}
    ),
    lab AS (
      SELECT d.source,
             CASE WHEN k1.doc_id IS NULL THEN 'exact'
                  WHEN rm2.doc_id IS NOT NULL THEN 'near'
                  WHEN rm3.doc_id IS NOT NULL THEN 'substring'
                  ELSE 'kept' END AS stage
      FROM d
      LEFT JOIN k1 ON k1.doc_id = d.doc_id
      LEFT JOIN rm2 ON rm2.doc_id = d.doc_id
      LEFT JOIN rm3 ON rm3.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN stage = 'exact' THEN 1 END) AS BIGINT)
             AS removed_exact,
           CAST(COUNT(CASE WHEN stage = 'near' THEN 1 END) AS BIGINT)
             AS removed_near,
           CAST(COUNT(CASE WHEN stage = 'substring' THEN 1 END) AS BIGINT)
             AS removed_substr,
           CAST(COUNT(CASE WHEN stage = 'kept' THEN 1 END) AS BIGINT)
             AS n_kept
    FROM lab GROUP BY source
    """


@register("q_pipeline_dedup_cascade", oracle=_dedup_cascade_oracle())
def q_pipeline_dedup_cascade(spark, sf_dir):
    """End-to-end dedup CASCADE ledger — the production sequencing
    (cheap exact first, then banded near-dup, then substring coverage)
    with per-source attrition at every stage, which is the report a
    data lead actually reads before signing off a corpus cut:

    1. exact: drop any doc whose lowercase content hash has a
       smaller-id twin (one hash-groupBy);
    2. near: among exact survivors, drop docs with an EARLIER surviving
       MinHash-LSH candidate partner (the library's keep-first
       convention — one-shot, not chained, same as q_dedup_semantic);
    3. substring: among remaining docs, drop those with
       >= {CASCADE_SUBSTR_E4}/10000 of their words inside
       cross-document duplicated spans (corpus-wide ledger from
       q_dedup_substring_removal; a second pass after removal would
       only relax these ratios — the standard one-shot cascade).

    Composes the shared builders (_minhash_pairs, the substring
    removal ledger) rather than re-deriving them — the DRY composition
    pattern from q_dedup_url_exact. Each stage is a semi/anti join on
    doc_id against a stage-survivor set, so the cascade adds only
    id-sized shuffles on top of its component ops."""
    from .dedup import _minhash_pairs, q_dedup_substring_removal

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.lower(F.col("text"))).alias("h")
    )
    wmin = W.partitionBy("h")
    # k1 feeds four consumers and rm2 two — checkpoint the id-sized
    # survivor sets so each stage computes once (round 14; the pairs
    # and ledger builders are session-memoized)
    k1 = (
        docs.withColumn("min_id", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    pairs = _minhash_pairs(spark, sf_dir)
    rm2 = (
        pairs.join(k1.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(k1.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ledger = q_dedup_substring_removal(spark, sf_dir).select(
        "doc_id", "dup_ratio_e4"
    )
    rm3 = (
        ledger.join(k1, "doc_id")
        .join(rm2, "doc_id", "left_anti")
        .filter(F.col("dup_ratio_e4") >= CASCADE_SUBSTR_E4)
        .select("doc_id")
    )
    lab = (
        docs.join(k1.withColumn("in_k1", F.lit(1)), "doc_id", "left_outer")
        .join(rm2.withColumn("in_rm2", F.lit(1)), "doc_id", "left_outer")
        .join(rm3.withColumn("in_rm3", F.lit(1)), "doc_id", "left_outer")
        .select(
            "source",
            F.when(F.col("in_k1").isNull(), "exact")
            .when(F.col("in_rm2").isNotNull(), "near")
            .when(F.col("in_rm3").isNotNull(), "substring")
            .otherwise("kept")
            .alias("stage"),
        )
    )
    return lab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("stage") == "exact", 1)).alias("removed_exact"),
        F.count(F.when(F.col("stage") == "near", 1)).alias("removed_near"),
        F.count(F.when(F.col("stage") == "substring", 1)).alias(
            "removed_substr"
        ),
        F.count(F.when(F.col("stage") == "kept", 1)).alias("n_kept"),
    )


# --- SA-driven dedup cascade -------------------------------------------------


def _dedup_cascade_sa_oracle() -> str:
    from .dedup import _minhash_oracle
    from .text import _repeat_coverage_oracle

    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    ledger AS ({_repeat_coverage_oracle()}),
    d AS (
      SELECT doc_id, source, md5(lower(text)) AS h FROM documents
    ),
    k1 AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id)
               AS rn
        FROM d
      ) WHERE rn = 1
    ),
    rm2 AS (
      SELECT DISTINCT p.doc_b AS doc_id
      FROM pairs p
      JOIN k1 a ON a.doc_id = p.doc_a
      JOIN k1 b ON b.doc_id = p.doc_b
    ),
    rm3 AS (
      SELECT l.doc_id
      FROM ledger l
      JOIN k1 ON k1.doc_id = l.doc_id
      WHERE l.doc_id NOT IN (SELECT doc_id FROM rm2)
        AND l.dup_ratio_e4 >= {CASCADE_SUBSTR_E4}
    ),
    lab AS (
      SELECT d.source,
             CASE WHEN k1.doc_id IS NULL THEN 'exact'
                  WHEN rm2.doc_id IS NOT NULL THEN 'near'
                  WHEN rm3.doc_id IS NOT NULL THEN 'substring'
                  ELSE 'kept' END AS stage
      FROM d
      LEFT JOIN k1 ON k1.doc_id = d.doc_id
      LEFT JOIN rm2 ON rm2.doc_id = d.doc_id
      LEFT JOIN rm3 ON rm3.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN stage = 'exact' THEN 1 END) AS BIGINT)
             AS removed_exact,
           CAST(COUNT(CASE WHEN stage = 'near' THEN 1 END) AS BIGINT)
             AS removed_near,
           CAST(COUNT(CASE WHEN stage = 'substring' THEN 1 END) AS BIGINT)
             AS removed_substr,
           CAST(COUNT(CASE WHEN stage = 'kept' THEN 1 END) AS BIGINT)
             AS n_kept
    FROM lab GROUP BY source
    """


@register("q_pipeline_dedup_cascade_sa", oracle=_dedup_cascade_sa_oracle())
def q_pipeline_dedup_cascade_sa(spark, sf_dir):
    """The dedup cascade END-TO-END on the byte-exact suffix-array
    ledger — the full Lee et al. sequencing with the substring stage
    consuming q_text_repeat_coverage (SA+LCP per-position repeat
    lengths) instead of the shingle-chain ledger: stages 1 (exact hash)
    and 2 (MinHash-LSH keep-first) are identical to
    q_pipeline_dedup_cascade; stage 3 drops exact+near survivors whose
    SA-derived duplicated-word coverage is >= {CASCADE_SUBSTR_E4}/10000
    of the document.

    Versus the shingle cascade, this variant also counts SAME-document
    repeats toward coverage (Lee et al.'s "within and across") and is
    exact rather than chain-approximate at span boundaries — on the
    fixture the two ledgers coincide (round-10 invariant) so the two
    cascades agree; the constructed internal-repeat corpus in
    tests/test_round11.py is where they diverge. Plan adds only
    id-sized semi/anti joins on top of the memoized perpos relation."""
    from .dedup import _minhash_pairs
    from .text import q_text_repeat_coverage

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.lower(F.col("text"))).alias("h")
    )
    wmin = W.partitionBy("h")
    # k1 feeds four consumers and rm2 two — checkpoint the id-sized
    # survivor sets so each stage computes once (round 14; the pairs
    # and ledger builders are session-memoized)
    k1 = (
        docs.withColumn("min_id", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    pairs = _minhash_pairs(spark, sf_dir)
    rm2 = (
        pairs.join(k1.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(k1.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ledger = q_text_repeat_coverage(spark, sf_dir).select(
        "doc_id", "dup_ratio_e4"
    )
    rm3 = (
        ledger.join(k1, "doc_id")
        .join(rm2, "doc_id", "left_anti")
        .filter(F.col("dup_ratio_e4") >= CASCADE_SUBSTR_E4)
        .select("doc_id")
    )
    lab = (
        docs.join(k1.withColumn("in_k1", F.lit(1)), "doc_id", "left_outer")
        .join(rm2.withColumn("in_rm2", F.lit(1)), "doc_id", "left_outer")
        .join(rm3.withColumn("in_rm3", F.lit(1)), "doc_id", "left_outer")
        .select(
            "source",
            F.when(F.col("in_k1").isNull(), "exact")
            .when(F.col("in_rm2").isNotNull(), "near")
            .when(F.col("in_rm3").isNotNull(), "substring")
            .otherwise("kept")
            .alias("stage"),
        )
    )
    return lab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("stage") == "exact", 1)).alias("removed_exact"),
        F.count(F.when(F.col("stage") == "near", 1)).alias("removed_near"),
        F.count(F.when(F.col("stage") == "substring", 1)).alias(
            "removed_substr"
        ),
        F.count(F.when(F.col("stage") == "kept", 1)).alias("n_kept"),
    )


# --- tokenizer family comparison (BPE vs unigram) ----------------------------


def _tokenizer_compare_oracle() -> str:
    from .text import BPE_ENC_MERGES, _bpe_chain_sql, _unigram_dp_sql

    bpe = _bpe_chain_sql().strip()
    assert bpe.startswith("WITH ")
    return f"""
    WITH RECURSIVE {bpe[len("WITH "):]},
    {_unigram_dp_sql()},
    tokc AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(LEN(b.syms)) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(u.k) AS BIGINT) AS n_unigram_tokens,
           CAST(SUM(u.k) * 10000 // SUM(LEN(b.syms)) AS BIGINT)
             AS uni_per_bpe_e4
    FROM tokc t
    JOIN v{BPE_ENC_MERGES} b ON b.word = t.word
    JOIN ufin u ON u.word = t.word
    WHERE t.word <> ''
    GROUP BY t.doc_id"""


@register("q_pipeline_tokenizer_compare", oracle=_tokenizer_compare_oracle())
def q_pipeline_tokenizer_compare(spark, sf_dir):
    """Head-to-head TOKENIZER COST COMPARISON — the question a pipeline
    owner actually asks before committing a vocabulary: per document,
    how many tokens does the merge-driven tokenizer (BPE, Sennrich)
    spend vs the likelihood-driven one (unigram LM, Kudo), and what is
    the exact ratio? Composes the two trained-and-memoized family
    trainers (_bpe_train_cached, _unigram_train_cached) — one trainer
    run each per session serves every consumer — and joins BOTH
    vocab-bounded per-word relations onto a single corpus explode, so
    the marginal cost over either tokenizer alone is one extra
    hash join of |vocab|-sized state. The oracle replays both trainer
    chains (the BPE merge CTE ladder and the recursive unigram Viterbi)
    in one WITH RECURSIVE body; the ratio is integer e4 arithmetic on
    both engines."""
    from .registry import load as _load
    from .text import _bpe_train_cached, _unigram_train_cached

    docs = _load(spark, sf_dir, "documents")
    v, _merges = _bpe_train_cached(spark, sf_dir)
    enc = v.select("word", F.size("syms").cast("long").alias("bpe_k"))
    _, _, fin = _unigram_train_cached(spark, sf_dir)
    uni = fin.select("word", F.col("k").cast("long").alias("uni_k"))
    tokw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        tokw.join(enc, "word")
        .join(uni, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("bpe_k").cast("long").alias("n_bpe_tokens"),
            F.sum("uni_k").cast("long").alias("n_unigram_tokens"),
            F.expr("cast(sum(uni_k) * 10000 div sum(bpe_k) as bigint)")
            .alias("uni_per_bpe_e4"),
        )
    )


# --- learned-filter attrition: the NB classifier as a cleaning stage ---------


def _nb_filter_oracle() -> str:
    from .text import _NB_MODEL_SQL

    return f"""
    WITH {_NB_MODEL_SQL},
    nffeat AS (
      SELECT doc_id, is_bad, UNNEST(string_split(aug, ' ')) AS token
      FROM nbdocs
      UNION ALL
      SELECT doc_id, is_bad, '__prior__' FROM nbdocs
    ),
    nfscore AS (
      SELECT f.doc_id, f.is_bad,
             CAST(SUM(m.logodds_e6) AS BIGINT) AS score_e6
      FROM nffeat f JOIN nbmodel m USING (token)
      WHERE f.token <> ''
      GROUP BY 1, 2
    ),
    nfsrc AS (
      SELECT d.source, s.is_bad, s.score_e6 <= 0 AS dropped
      FROM nfscore s JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(COUNT(CASE WHEN dropped THEN 1 END) AS BIGINT) AS n_dropped,
           CAST(COUNT(CASE WHEN NOT dropped THEN 1 END) AS BIGINT) AS n_kept,
           CAST(COUNT(CASE WHEN dropped <> is_bad THEN 1 END) AS BIGINT)
             AS n_disagree_with_rules
    FROM nfsrc GROUP BY source
    """


@register("q_pipeline_nb_filter", oracle=_nb_filter_oracle())
def q_pipeline_nb_filter(spark, sf_dir):
    """The LEARNED filter deployed as a cleaning stage — the step after
    q_quality_naive_bayes in the real workflow: score every document
    with the trained model, drop at log-odds <= 0, and report per-SOURCE
    attrition (in/dropped/kept) plus the count of disagreements with
    the rule filter that labeled the training data. Per-source attrition
    is the governance number a curation team actually watches (a filter
    that silently empties one crawl source is a pipeline incident even
    when global precision looks fine), and the disagreement column is
    the drift alarm for retiring rules in favor of the model.

    Composes the memoized NB trainer and the scoring join
    (q_quality_nb_score's shape) with one extra broadcast-sized
    per-source aggregate — corpus touched once beyond the shared
    trainer pass. On this fixture the planted violations are exactly
    learnable, so n_disagree_with_rules is 0 for every source — a
    computed result the gate hashes, not an assertion."""
    from .text import _nb_model

    model, nbdocs = _nb_model(spark, sf_dir)
    feat = nbdocs.select(
        "doc_id", "is_bad", F.explode(F.split("aug", " ")).alias("token")
    ).filter(F.col("token") != "").unionByName(
        nbdocs.select("doc_id", "is_bad", F.lit("__prior__").alias("token"))
    )
    score = (
        feat.join(model.select("token", "logodds_e6"), "token")
        .groupBy("doc_id", "is_bad")
        .agg(F.sum("logodds_e6").cast("long").alias("score_e6"))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    dropped = F.col("score_e6") <= 0
    return (
        score.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in"),
            F.count(F.when(dropped, 1)).cast("long").alias("n_dropped"),
            F.count(F.when(~dropped, 1)).cast("long").alias("n_kept"),
            F.count(F.when(dropped != F.col("is_bad"), 1))
            .cast("long")
            .alias("n_disagree_with_rules"),
        )
    )
