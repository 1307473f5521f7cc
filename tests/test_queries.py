"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 (fast). The full sf0.01 gate is tools/check_correctness.py —
same comparator, driver-shaped."""

from __future__ import annotations

import duckdb
import pytest

import sys

sys.path.insert(0, "/root/repo")

from tools.check_correctness import TABLES, table_hash  # noqa: E402
from utxo_to_parquet_spark.operators import all_oracles, all_queries  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        # rows-only contract: runs and yields a stable schema
        assert sdf.columns
        return
    rel = duck.sql(ORACLES[name])
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns), "column names differ"
    sn, sh = table_hash(sdf.columns, srows)
    dn, dh = table_hash(rel.columns, drows)
    assert (sn, sh) == (dn, dh), f"value hash mismatch: spark {sn} rows vs duckdb {dn} rows"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["txid", "vout", "amount", "height"]


def test_oracle_keys_subset():
    assert set(ORACLES) <= set(QUERIES)


def test_incremental_dedup_agrees_with_pair_query(spark):
    """q_dedup_incremental's verdicts must be consistent with the full
    pair query: a batch doc is kept iff NO q_dedup_minhash_lsh pair
    links it to a corpus doc or an earlier batch doc."""
    from utxo_to_parquet_spark.operators.dedup import BATCH_MOD

    inc = {r.doc_id: r.kept for r in QUERIES["q_dedup_incremental"](spark, SF_DIR).collect()}
    pairs = QUERIES["q_dedup_minhash_lsh"](spark, SF_DIR).collect()
    colliding = set()
    for r in pairs:
        lo, hi = r.doc_a, r.doc_b  # doc_a < doc_b by construction
        # the higher doc collides with any partner (corpus, or an earlier
        # batch doc — lo < hi always); the lower one only with a corpus doc
        if hi % BATCH_MOD == 0:
            colliding.add(hi)
        if lo % BATCH_MOD == 0 and hi % BATCH_MOD != 0:
            colliding.add(lo)
    for doc_id, kept in inc.items():
        assert kept == (doc_id not in colliding), doc_id
    # the probe is non-degenerate both ways on this fixture
    assert any(inc.values()) and not all(inc.values())


def test_containment_catches_doc_in_doc_that_jaccard_misses(tmp_path, spark):
    """A short document fully embedded in a long one must score
    containment 1.0 while its Jaccard stays low — the asymmetric case
    q_dedup_containment exists for."""
    words = [f"w{i}" for i in range(60)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[20:30])  # contiguous slice: every trigram shared
    rows = [
        (1, long_doc, "en", "web", len(long_doc)),
        (2, short_doc, "en", "web", len(short_doc)),
        (3, " ".join(f"z{i}" for i in range(30)), "en", "web", 100),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # single parquet FILE (not Spark's directory layout) with the
    # fixture schema, so the footer guard validates it like the driver's
    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    table = pa.Table.from_pylist(
        [
            dict(zip(["doc_id", "text", "lang", "source", "n_chars"], r))
            for r in rows
        ],
        schema=base,
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    out = {
        (r.doc_a, r.doc_b): (r.containment, r.jaccard)
        for r in QUERIES["q_dedup_containment"](spark, str(tmp_path)).collect()
    }
    assert (1, 2) in out
    cont, jac = out[(1, 2)]
    assert cont == 1.0  # all 8 of the short doc's trigrams appear in the long doc
    assert jac < 0.2  # symmetric similarity stays low: 8 / 58 shared
    assert all(3 not in pair for pair in out)  # unrelated doc pairs with nothing


def test_levenshtein_blocking_bounds_hot_block(tmp_path, spark):
    """On a worst-case fixture — one language, every document in the
    same length bucket — the refined blocking key (lang x 25-char bucket
    x first token) must still split the corpus into bounded blocks, and
    near-duplicates sharing a first token must still be found. Under the
    old (lang, 50-char-bucket) key this fixture is ONE block of 60 docs
    (1770 candidate pairs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    # 12 first tokens x 5 docs each; identical length so every doc lands
    # in the same length bucket. Within a token group, doc j differs from
    # doc 0 by j single-char tweaks in the tail -> edit distance <= 10.
    rows = []
    doc_id = 0
    for t in range(12):
        for j in range(5):
            tail = "".join("ab"[(j >> i) & 1] for i in range(4))
            text = f"tok{t:02d} " + "x" * 30 + tail + " " + "pad " * 10
            rows.append((doc_id, text, "en", "web", len(text)))
            doc_id += 1
    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    table = pa.Table.from_pylist(
        [dict(zip(["doc_id", "text", "lang", "source", "n_chars"], r)) for r in rows],
        schema=base,
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    blocks = (
        docs.groupBy(
            "lang",
            (F.col("n_chars") / 25).cast("long"),
            F.split("text", " ").getItem(0),
        )
        .count()
        .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("n_blocks"))
        .first()
    )
    assert blocks.mx <= 5  # refined key bounds the hot block
    assert blocks.n_blocks == 12  # one block per first token

    pairs = QUERIES["q_text_fuzzy_levenshtein"](spark, str(tmp_path)).collect()
    # every within-token pair survives (edit distance <= 8 < threshold)
    assert len(pairs) == 12 * 10
    assert all(r.doc_a // 5 == r.doc_b // 5 for r in pairs)
    assert all(r.edit_dist <= 10 for r in pairs)


def test_mg_partial_bounded_and_within_undercount():
    """The MG partial summary must (a) never hold more than HH_K
    counters, and (b) undercount any token by at most n/(K+1) — checked
    against exact counts on a skewed synthetic stream, no Spark needed."""
    import collections
    import random

    import pandas as pd

    from utxo_to_parquet_spark.operators.text import HH_K, _mg_partial

    rng = random.Random(11)
    # zipf-ish: a few hot tokens + a long tail far wider than HH_K
    stream = [f"hot{i}" for i in range(5) for _ in range(2000)]
    stream += [f"tail{rng.randrange(5000)}" for _ in range(30000)]
    rng.shuffle(stream)
    batches = [
        pd.DataFrame({"token": stream[i : i + 4096]})
        for i in range(0, len(stream), 4096)
    ]
    (summary,) = list(_mg_partial(iter(batches)))
    sentinel = summary[summary["token"].isnull()]
    summary = summary[summary["token"].notnull()]
    assert len(summary) <= HH_K
    # the sentinel row carries the partition's exact total token count
    assert list(sentinel["mg_count"]) == [len(stream)]
    exact = collections.Counter(stream)
    n = len(stream)
    approx = dict(zip(summary["token"], summary["mg_count"]))
    for tok, c in exact.items():
        assert exact[tok] - approx.get(tok, 0) <= n // (HH_K + 1) + 1, tok
    # every true heavy hitter survived
    for tok, c in exact.items():
        if c * (HH_K + 1) > n:
            assert tok in approx, tok


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """Every near-dup cluster must land entirely in one split — the
    operator's whole reason to exist."""
    from pyspark.sql import functions as F

    df = QUERIES["q_split_leakage_safe"](spark, SF_DIR)
    spans = (
        df.groupBy("component")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0
    # and both splits are non-degenerate at ~80/20
    counts = {r.split: r.n for r in df.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["train"] > counts["test"] > 0


def test_decontaminate_flags_eval_overlap_only(tmp_path, spark):
    """A training doc sharing a long span with an eval doc must be
    flagged; an unrelated training doc must come back clean — and every
    training doc appears exactly once (the admission-verdict contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = [f"e{i}" for i in range(20)]
    eval_doc = " ".join(words)  # doc_id 1: 1 % 7 == 1 -> eval set
    leaky = " ".join(["x0", "x1"] + words[5:15] + ["x2", "x3"])  # shares 8 trigrams
    clean = " ".join(f"z{i}" for i in range(20))
    rows = [
        (1, eval_doc, "en", "web", len(eval_doc)),
        (2, leaky, "en", "web", len(leaky)),
        (3, clean, "en", "web", len(clean)),
    ]
    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    pq.write_table(
        pa.Table.from_pylist(
            [dict(zip(["doc_id", "text", "lang", "source", "n_chars"], r)) for r in rows],
            schema=base,
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = {r.doc_id: r for r in QUERIES["q_dedup_decontaminate"](spark, str(tmp_path)).collect()}
    assert set(out) == {2, 3}  # every training doc, eval doc excluded
    assert out[2].contaminated and out[2].n_shared == 8
    assert not out[3].contaminated and out[3].n_shared == 0
    assert out[3].shared_ratio == 0.0


def test_pii_redact_counts_and_masks(spark):
    """Planted docs (doc_id % 3 == 0) must report exactly one email and
    one phone; unplanted docs must be PII-free with redacted_md5 equal
    to md5 of the raw text (redaction touched nothing)."""
    from pyspark.sql import functions as F

    out = QUERIES["q_text_pii_redact"](spark, SF_DIR)
    planted = out.filter(F.col("doc_id") % 3 == 0)
    rest = out.filter(F.col("doc_id") % 3 != 0)
    assert planted.filter("n_emails != 1 OR n_phones != 1 OR NOT has_pii").count() == 0
    assert rest.filter("n_emails != 0 OR n_phones != 0 OR has_pii").count() == 0
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.md5("text").alias("raw_md5")
    )
    untouched = rest.join(docs, "doc_id")
    assert untouched.filter("redacted_md5 != raw_md5").count() == 0


def test_sequence_pack_is_a_contiguous_token_stream(spark):
    """The pack assignment must tile the corpus token stream exactly:
    offsets stay within budget, consecutive docs chain (next start =
    prev start + prev tokens), and crossing flags match the arithmetic."""
    from utxo_to_parquet_spark.operators.pipeline import PACK_BUDGET

    rows = sorted(
        QUERIES["q_pipeline_sequence_pack"](spark, SF_DIR).collect(),
        key=lambda r: r.doc_id,
    )
    pos = 0
    for r in rows:
        assert 0 <= r.pack_offset < PACK_BUDGET
        assert r.pack_id == pos // PACK_BUDGET
        assert r.pack_offset == pos % PACK_BUDGET
        end = pos + r.n_tokens - 1
        assert r.crosses_boundary == (pos // PACK_BUDGET != end // PACK_BUDGET)
        pos += r.n_tokens


def _write_docs(tmp_path, rows):
    """rows: (doc_id, text, lang, source) — n_chars derived."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    table = pa.Table.from_pylist(
        [
            dict(doc_id=i, text=t, lang=g, source=s, n_chars=len(t))
            for i, t, g, s in rows
        ],
        schema=base,
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))


def _write_embeddings(tmp_path, rows):
    """rows: (vec_id, embedding list[float], label)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/embeddings.parquet")
    table = pa.Table.from_pylist(
        [dict(vec_id=i, embedding=e, label=l) for i, e, l in rows],
        schema=base,
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))


def test_semantic_dedup_keeps_seeds_and_dissimilar_members(tmp_path, spark):
    """SemDeDup contract on a constructed space: two orthogonal seeds
    (sem_k=2 pins the seed count — seeds are the two lowest-rank
    vectors), one near-seed duplicate per cluster (dropped — a lower-id
    cluster member is within SEM_TAU), and one member that is NEAREST to
    seed 0 yet below the cosine threshold to every earlier member
    (kept)."""
    from utxo_to_parquet_spark.operators.dedup import q_dedup_semantic

    _write_embeddings(
        tmp_path,
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0, 0.0], 0),
            (10, [1.0, 0.01, 0.0, 0.0], 0),  # ~dup of seed 0
            (11, [0.3, 0.0, 0.954, 0.0], 0),  # cluster 0, cos(seed0)=0.3
            (12, [0.01, 1.0, 0.0, 0.0], 0),  # ~dup of seed 1
        ],
    )
    out = {
        r.vec_id: r
        for r in q_dedup_semantic(spark, str(tmp_path), sem_k=2).collect()
    }
    assert {v: out[v].cluster for v in out} == {0: 0, 1: 1, 10: 0, 11: 0, 12: 1}
    assert {v: out[v].keep for v in out} == {
        0: True,
        1: True,
        10: False,
        11: True,
        12: False,
    }
    assert out[10].n_earlier_dups >= 1 and out[12].n_earlier_dups >= 1
    assert out[11].n_earlier_dups == 0


def test_knn_graph_ranks_within_block_and_respects_blocking(tmp_path, spark):
    """Neighbor order follows exact cosine within the label block, and a
    bit-identical vector OUTSIDE the block contributes no edge — the
    single-probe recall boundary the docstring documents."""
    _write_embeddings(
        tmp_path,
        [
            (0, [1.0, 0.0], 0),
            (1, [1.0, 0.1], 0),
            (2, [0.0, 1.0], 0),
            (3, [1.0, 0.05], 0),
            (4, [1.0, 0.0], 1),  # identical to vec 0 but in another block
        ],
    )
    out = QUERIES["q_sim_knn_graph"](spark, str(tmp_path)).collect()
    src0 = sorted(
        ((r.nn_rank, r.dst) for r in out if r.src == 0),
    )
    assert src0 == [(1, 3), (2, 1), (3, 2)]
    # vec 4's block has no other member: it emits and receives no edges
    assert all(r.src != 4 and r.dst != 4 for r in out)


def test_bm25_rewards_tf_and_penalizes_length(tmp_path, spark):
    """On a corpus where exactly three docs contain the query terms, the
    ranking must follow BM25's two levers: higher tf wins at comparable
    length, and pure padding (same tf, 4x the length) loses."""
    q = " ".join(f"q{j}" for j in range(1, 9))  # q1..q8: df=3 -> ranks 5..12
    head = "h1 h2 h3 h4"
    rows = [
        # 20 background docs: head terms (df=23 -> ranks 1..4) + unique fillers
        (i, f"{head} " + " ".join(f"f{i}x{j}" for j in range(6)), "en", "web")
        for i in range(1, 21)
    ] + [
        (25, f"{head} {q} {q}", "en", "web"),  # tf=2, dl=20
        (26, f"{head} {q}", "en", "web"),  # tf=1, dl=12
        (27, f"{head} {q} " + " ".join(f"pad{j}" for j in range(36)), "en", "web"),
    ]
    _write_docs(tmp_path, rows)
    out = QUERIES["q_text_bm25_topk"](spark, str(tmp_path)).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r.query_id, []).append((r.bm25_rank, r.doc_id, r.score))
    assert set(by_query) == {0, 1}
    for qid, hits in by_query.items():
        assert sorted(hits)[:3] == [
            (1, 25, sorted(hits)[0][2]),
            (2, 26, sorted(hits)[1][2]),
            (3, 27, sorted(hits)[2][2]),
        ]
        scores = [s for _, _, s in sorted(hits)]
        assert scores[0] > scores[1] > scores[2] > 0


def test_cross_source_overlap_counts_unordered_source_pairs(tmp_path, spark):
    """Two byte-identical docs in different sources yield exactly one
    (least, greatest) source-pair row; the unrelated doc contributes
    nothing."""
    text = " ".join(f"w{i}" for i in range(30))
    _write_docs(
        tmp_path,
        [
            (1, text, "en", "web"),
            (2, text, "en", "books"),
            (3, " ".join(f"z{i}" for i in range(30)), "en", "web"),
        ],
    )
    out = QUERIES["q_dedup_cross_source_overlap"](spark, str(tmp_path)).collect()
    assert [(r.source_a, r.source_b, r.n_pairs) for r in out] == [("books", "web", 1)]


def test_ewma_recurrence_on_known_sequence(tmp_path, spark):
    """y1=1, y2=0.3*2+0.7*1=1.3, y3=0.3*3+0.7*1.3=1.81 — and ordering
    must follow (ts, event_id), not insertion order."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        # deliberately written out of time order
        dict(event_id=3, ts=t0 + dt.timedelta(minutes=2), user_id=7,
             event_type="m", value=3.0, props="{}"),
        dict(event_id=1, ts=t0, user_id=7, event_type="m", value=1.0, props="{}"),
        dict(event_id=2, ts=t0 + dt.timedelta(minutes=1), user_id=7,
             event_type="m", value=2.0, props="{}"),
        dict(event_id=4, ts=t0, user_id=8, event_type="m", value=5.0, props="{}"),
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "events.parquet"),
    )
    out = {r.user_id: r for r in QUERIES["q_events_ewma"](spark, str(tmp_path)).collect()}
    assert out[7].n_events == 3 and abs(out[7].ewma - 1.81) < 1e-9
    assert out[8].n_events == 1 and out[8].ewma == 5.0  # seed = first value


def test_triangles_count_dup_cluster_corners_once(tmp_path, spark):
    """Three identical docs form exactly one triangle (each corner
    participates once); a separate identical PAIR and a unique doc
    contribute no triangles."""
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"y{i}" for i in range(30))
    _write_docs(
        tmp_path,
        [
            (1, a, "en", "web"),
            (2, a, "en", "web"),
            (3, a, "en", "web"),
            (10, b, "en", "web"),
            (11, b, "en", "web"),
            (20, " ".join(f"z{i}" for i in range(30)), "en", "web"),
        ],
    )
    out = {
        r.doc_id: r.n_triangles
        for r in QUERIES["q_graph_triangles"](spark, str(tmp_path)).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}


def test_weighted_aes_sample_skews_toward_long_docs(spark):
    """A-ES with w = n_chars must overrepresent long documents: the
    sample's mean length exceeds the corpus mean (deterministic on the
    fixed sf0.001 fixtures), every rank 1..AES_K appears exactly once,
    and membership is stable across re-evaluation (hash-derived u)."""
    from utxo_to_parquet_spark.operators.text import AES_K

    sf = SF_DIR
    sample = QUERIES["q_sample_weighted_aes"](spark, sf)
    rows = sample.collect()
    assert sorted(r.sample_rank for r in rows) == list(range(1, AES_K + 1))
    corpus_mean = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .agg({"n_chars": "avg"})
        .first()[0]
    )
    sample_mean = sum(r.weight for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (
        f"sample mean {sample_mean:.1f} <= corpus mean {corpus_mean:.1f}"
    )
    again = {r.doc_id for r in QUERIES["q_sample_weighted_aes"](spark, sf).collect()}
    assert again == {r.doc_id for r in rows}


def test_snm_pairs_within_banding_ball_are_found_by_banding(spark):
    """Cross-operator consistency: banding is COMPLETE inside its
    hamming ball, so every sorted-neighborhood pair with hamming <=
    HAMMING_MAX must also be reported by q_dedup_simhash_pairs; SNM's
    extra pairs (hamming in (HAMMING_MAX, SNM_TAU]) are its wider-recall
    trade, and its misses are pairs banding finds but sorted order
    separates."""
    from utxo_to_parquet_spark.operators.dedup import HAMMING_MAX

    snm = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_sorted_neighborhood"](spark, SF_DIR).collect()
        if r.hamming <= HAMMING_MAX
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_simhash_pairs"](spark, SF_DIR).collect()
    }
    assert snm <= banded, snm - banded


def test_gapfill_interpolates_interior_gap_linearly(tmp_path, spark):
    """Observed hours 0 and 3 (avgs 1.0 and 4.0) with a two-hour hole:
    linear interpolation must yield exactly 2.0 and 3.0 at hours 1 and 2,
    flagged as gaps, while observed buckets pass through unrounded."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        dict(event_id=1, ts=t0, user_id=1, event_type="a", value=0.5, props="{}"),
        dict(event_id=2, ts=t0 + dt.timedelta(minutes=30), user_id=1,
             event_type="a", value=1.5, props="{}"),
        dict(event_id=3, ts=t0 + dt.timedelta(hours=3), user_id=1,
             event_type="a", value=4.0, props="{}"),
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "events.parquet"),
    )
    out = {
        r.bucket_hour - rows[0]["ts"].replace(tzinfo=dt.timezone.utc).timestamp() // 3600:
        r
        for r in QUERIES["q_events_gapfill_interp"](spark, str(tmp_path)).collect()
    }
    assert sorted(out) == [0.0, 1.0, 2.0, 3.0]  # dense grid, span-sized
    assert out[0.0].avg_interp_e4 == 10000 and not out[0.0].is_gap  # avg(0.5,1.5)
    assert out[1.0].avg_interp_e4 == 20000 and out[1.0].is_gap
    assert out[2.0].avg_interp_e4 == 30000 and out[2.0].is_gap
    assert out[3.0].avg_interp_e4 == 40000 and not out[3.0].is_gap
    assert [out[h].n for h in sorted(out)] == [2, 0, 0, 1]


def test_countmin_estimates_hot_token_exactly_on_sparse_vocab(tmp_path, spark):
    """With a vocabulary far smaller than CM_WIDTH there are no hash
    collisions to absorb, so the sketch estimate for the planted hot
    token must satisfy BOTH contract columns, and the candidate filter
    must surface the hot token (60% of all mass) and only tokens above
    the N/(K+1) threshold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    rows = []
    for i in range(30):
        # 12 hot tokens + 8 rarer ones per doc -> 'hot' owns 360 of 600
        text = " ".join(["hot"] * 12 + [f"rare{i % 10}_{j}" for j in range(8)])
        rows.append(
            dict(doc_id=i, text=text, lang="en", source="web", n_chars=len(text))
        )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "documents.parquet"),
    )
    out = {r.token: r for r in QUERIES["q_text_countmin"](spark, str(tmp_path)).collect()}
    assert "hot" in out
    assert out["hot"].exact_count == 360
    assert all(r.never_undercounts and r.within_eps for r in out.values())
    # every reported candidate really is above the heavy threshold
    n_total = 30 * 20
    from utxo_to_parquet_spark.operators.text import HH_K

    assert all(r.exact_count * (HH_K + 1) > n_total for r in out.values())


def test_quantile_sketch_rank_error_theorem_host_side():
    """The per-batch summary + merge must answer every target quantile
    within the advertised rank bound on an adversarial (sorted, then
    shuffled, heavy-tied) stream — no Spark needed."""
    import math

    import numpy as np
    import pandas as pd

    from utxo_to_parquet_spark.operators.relational import (
        QS_CAP,
        QS_TARGETS,
        _qs_merge,
        _qs_partial,
    )

    rng = np.random.default_rng(7)
    # lognormal body + 20% exact ties at one value + a sorted run
    vals = np.concatenate(
        [
            rng.lognormal(3, 1, 40000),
            np.full(10000, 42.0),
            np.sort(rng.uniform(0, 5, 10000)),
        ]
    )
    rng.shuffle(vals)
    batches = [
        pd.DataFrame({"v": vals[i : i + 3000]}) for i in range(0, len(vals), 3000)
    ]
    parts = pd.concat(list(_qs_partial(iter(batches))), ignore_index=True)
    # bounded emission: <= QS_CAP + 2 rows per batch (incl. sentinel)
    assert len(parts) <= (QS_CAP + 2) * len(batches)
    out = _qs_merge(parts)
    svals = np.sort(vals)
    n = len(vals)
    for r in out.itertuples():
        assert r.n == n
        lt = int((svals < r.approx).sum())
        le = int((svals <= r.approx).sum())
        t = max(1, math.ceil(r.q * n))
        # true rank interval of the answered value intersects the window
        assert lt + 1 <= t + r.bound and le >= t - r.bound, (r.q, lt, le, t, r.bound)


def test_kmv_partial_keeps_k_smallest_distinct_per_label():
    """The per-partition KMV partial must emit each label's KMV_K
    smallest DISTINCT hashes across batches — dedup included — so the
    global k-min merge never loses a candidate it needs."""
    import numpy as np
    import pandas as pd

    from utxo_to_parquet_spark.operators.relational import KMV_K, _kmv_partial

    rng = np.random.default_rng(3)
    h1 = rng.integers(0, 2**62, 5000)
    batches = [
        pd.DataFrame({"lbl": [1] * 5000, "h": h1}),
        pd.DataFrame(
            {"lbl": [1] * 5000 + [2] * 10, "h": np.concatenate([h1, np.arange(10)])}
        ),
    ]
    (out,) = list(_kmv_partial(iter(batches)))
    g1 = np.sort(out[out["lbl"] == 1]["h"].to_numpy())
    expect = np.unique(h1)[:KMV_K]
    assert np.array_equal(g1, expect)  # distinct, smallest, capped at K
    g2 = np.sort(out[out["lbl"] == 2]["h"].to_numpy())
    assert np.array_equal(g2, np.arange(10))  # below K: kept in full


def test_bootstrap_weights_follow_poisson_pmf(spark):
    """The integer-mix hash must produce Poisson(1)-distributed
    bootstrap weights: empirical frequencies over ~1.9M (row, replica)
    draws within 2% relative of the pmf for k=0..3 — a biased mix would
    silently destroy the CI's coverage even though the cross-engine
    hash still matches."""
    import math

    from pyspark.sql import functions as F

    from utxo_to_parquet_spark.operators.registry import load
    from utxo_to_parquet_spark.operators.relational import BOOT_THRESH, _M32

    li = load(spark, SF_DIR.replace("sf0.001", "sf0.01"), "lineitem")
    reps = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k"),
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    )
    h1 = (((F.col("k") + F.col("b") * 1000003) % _M32) * 1540483477) % _M32
    m = (
        reps.withColumn("h1", h1)
        .withColumn("h2", F.expr("(h1 ^ (h1 div 32768)) * 889871637") % _M32)
        .withColumn("h", F.expr("h2 ^ (h2 div 8192)"))
    )
    w = sum(
        (F.when(F.col("h") > t, 1).otherwise(0) for t in BOOT_THRESH), F.lit(0)
    )
    dist = {r.w: r["count"] for r in m.withColumn("w", w).groupBy("w").count().collect()}
    n = sum(dist.values())
    for k in range(4):
        expected = math.exp(-1) / math.factorial(k)
        assert abs(dist.get(k, 0) / n - expected) / expected < 0.02, (k, dist)


def test_holt_recurrence_on_known_sequence(tmp_path, spark):
    """vals [1,2,4,8]: seed (l=1, b=1); x=2 -> (2.0, 1.0); x=4 ->
    (3.4, 1.12); x=8 -> (5.912, 1.5376). Also the reason the oracle
    is a recursive CTE: DuckDB 1.0's list_reduce struct accumulator
    mutates field-by-field and yields (3.4, 0.952) at step two."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        dict(event_id=i, ts=t0 + dt.timedelta(minutes=i), user_id=5,
             event_type="m", value=float(v), props="{}")
        for i, v in enumerate([1, 2, 4, 8])
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "events.parquet"),
    )
    (r,) = QUERIES["q_events_holt_trend"](spark, str(tmp_path)).collect()
    assert r.n_events == 4
    assert abs(r.level - 5.912) < 1e-9
    assert abs(r.trend - 1.5376) < 1e-9
    assert abs(r.forecast_next - 7.4496) < 1e-9


def test_funnel_stage_semantics_on_constructed_timeline(tmp_path, spark):
    """Stage advance requires strict event order WITHIN the window:
    user 1 converts fully; user 2's click precedes the first view (no
    advance); user 3's click lands outside the 6h window (no advance);
    user 4 purchases before clicking (stage stops at 2)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 3, 1)
    m = dt.timedelta(minutes=1)
    h = dt.timedelta(hours=1)
    rows = []
    eid = 0

    def ev(user, typ, t):
        nonlocal eid
        eid += 1
        rows.append(
            dict(event_id=eid, ts=t, user_id=user, event_type=typ,
                 value=1.0, props="{}")
        )

    ev(1, "view", t0); ev(1, "click", t0 + m); ev(1, "purchase", t0 + 2 * m)
    ev(2, "click", t0 - m); ev(2, "view", t0)  # click before first view
    ev(3, "view", t0); ev(3, "click", t0 + 7 * h)  # outside the 6h window
    ev(4, "view", t0); ev(4, "purchase", t0 + m); ev(4, "click", t0 + 2 * m)
    ev(5, "error", t0)  # never enters the funnel
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "events.parquet"),
    )
    out = {
        r.user_id: r
        for r in QUERIES["q_events_funnel_conversion"](spark, str(tmp_path)).collect()
    }
    assert out[1].stage == 3 and out[1].click_delay_sec == 60
    assert out[2].stage == 1  # the pre-view click cannot advance
    assert out[3].stage == 1  # late click is outside the window
    assert out[4].stage == 2  # purchase BEFORE the click doesn't count
    assert out[5].stage == 0 and out[5].view_sec == -1


def test_stratified_split_is_stable_under_corpus_growth(tmp_path, spark):
    """The split must be a pure function of doc_id: computing it on a
    corpus and again after new documents arrive reassigns NOTHING —
    the property that keeps the train/test contamination boundary
    intact across pipeline reruns."""
    words = lambda k, n: " ".join(f"w{k}_{i}" for i in range(n))
    a = [(i, words(i, 12), "en", "web") for i in range(40)]
    b = [(i, words(i, 12), "en", "web") for i in range(40, 80)]

    def splits(rows):
        _write_docs(tmp_path, rows)
        out = QUERIES["q_split_stratified"](spark, str(tmp_path)).collect()
        return {(r.source, r.split): r.n_docs for r in out}

    small = splits(a)
    big = splits(a + b)
    # per-(source, split) counts for the original docs are untouched:
    # growth only ADDS counts, never moves an original doc across splits
    small_total = sum(small.values())
    assert small_total == 40 and sum(big.values()) == 80
    # recompute the original 40 docs' buckets directly for the check
    import hashlib

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10

    expect_small = {}
    for i in range(40):
        s = "train" if bucket(i) < 8 else ("val" if bucket(i) == 8 else "test")
        expect_small[("web", s)] = expect_small.get(("web", s), 0) + 1
    assert small == expect_small


def test_normalized_dedup_collapses_variants_exact_misses(tmp_path, spark):
    """Case/punctuation/whitespace variants collapse under the
    canonicalizer while a genuinely different doc stays solo — and
    q_dedup_exact's md5(lower(text)) groups NONE of the variant pairs,
    pinning the semantic gap between the two passes."""
    base_text = "The quick brown fox jumps over the lazy dog"
    _write_docs(
        tmp_path,
        [
            (1, base_text, "en", "web"),
            (2, "the QUICK  brown fox, jumps over the lazy dog!!", "en", "web"),
            (3, "an entirely different document body here", "en", "web"),
        ],
    )
    out = QUERIES["q_dedup_normalized"](spark, str(tmp_path)).collect()
    groups = {r.kept_doc_id: r.n_variants for r in out}
    assert groups[1] >= 2  # docs 1+2 collapse (plus any planted copy)
    assert all(r.kept_doc_id != 3 for r in out)
    exact = QUERIES["q_dedup_exact"](spark, str(tmp_path)).collect()
    # exact dedup never groups doc 1 with doc 2
    for r in exact:
        if r.n_copies > 1:
            assert r.kept_doc_id != 1 or r.n_copies == 1


def _write_trade_graph(tmp_path, edges):
    """edges: (custkey, suppkey) pairs -> minimal orders + lineitem
    parquet with one order per pair (only the join keys are populated;
    the remaining columns ride along as nulls)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    o_schema = pq.read_schema(f"{SF_DIR}/orders.parquet")
    l_schema = pq.read_schema(f"{SF_DIR}/lineitem.parquet")
    orders, lines = [], []
    for i, (c, s) in enumerate(edges, start=1):
        orders.append({"o_orderkey": i, "o_custkey": c})
        lines.append({"l_orderkey": i, "l_suppkey": s})
    pq.write_table(
        pa.Table.from_pylist(orders, schema=o_schema),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(lines, schema=l_schema),
        str(tmp_path / "lineitem.parquet"),
    )


def test_kcore_multi_round_cascade_peels_path_keeps_cycle(
    tmp_path, spark, monkeypatch
):
    """Peeling must CASCADE: a 6-node path loses its endpoints in round
    1, which drops the next nodes below K=2 in round 2, and so on until
    the whole path is gone (3 rounds) — while a 4-cycle, where every
    node keeps degree 2 forever, survives intact. A single-pass degree
    filter would wrongly keep the path's interior."""
    from utxo_to_parquet_spark.operators import graph as G

    monkeypatch.setattr(G, "KCORE_K", 2)
    # path c1-s1-c2-s2-c3-s3 (peels to nothing under K=2, 3 rounds)
    # cycle c4-s4-c5-s5-c4 (every node degree 2: the 2-core)
    edges = [(1, 1), (2, 1), (2, 2), (3, 2), (3, 3),
             (4, 4), (5, 4), (5, 5), (4, 5)]
    _write_trade_graph(tmp_path, edges)
    out = {r.node: r.core_degree
           for r in QUERIES["q_graph_kcore"](spark, str(tmp_path)).collect()}
    assert out == {"c4": 2, "c5": 2, "s4": 2, "s5": 2}


def test_survival_hazard_risk_set_and_censoring(tmp_path, spark):
    """Nelson-Aalen accounting on a constructed cohort: users leaving
    the risk set at their duration whether censored or not, hazard only
    from UNCENSORED exits, exact integer fixed-point."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 3, 1)
    h = dt.timedelta(hours=1)
    rows = []

    def ev(eid, user, t):
        rows.append(dict(event_id=eid, ts=t, user_id=user,
                         event_type="view", value=1.0, props="{}"))

    # corpus end = t0+100h (user 4 defines it and is censored)
    ev(1, 1, t0); ev(2, 1, t0 + 2 * h)      # dur 2, churned
    ev(3, 2, t0); ev(4, 2, t0 + 2 * h)      # dur 2, churned (same bucket)
    ev(5, 3, t0); ev(6, 3, t0 + 50 * h)     # dur 50, churned
    ev(7, 4, t0); ev(8, 4, t0 + 100 * h)    # dur 100, active at end -> censored
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "events.parquet"))
    out = {r.dur_hours: r
           for r in QUERIES["q_events_survival_hazard"](spark, str(tmp_path)).collect()}
    assert out[2].n_at_risk == 4 and out[2].d_events == 2
    assert out[2].hazard_e6 == 500000            # 2/4
    assert out[50].n_at_risk == 2 and out[50].hazard_e6 == 500000  # 1/2
    assert out[100].n_at_risk == 1 and out[100].d_events == 0
    assert out[100].c_censored == 1 and out[100].hazard_e6 == 0
    assert out[100].cum_hazard_e6 == 1000000     # 0.5 + 0.5 + 0


def test_autocorr_exact_on_constructed_series(tmp_path, spark):
    """A linear hourly series is perfectly lag-correlated (r=1 at every
    lag); an alternating series is anti-correlated at lag 1 and
    correlated at lag 24 (period 2 divides 24)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 3, 1)
    h = dt.timedelta(hours=1)
    rows = []
    eid = 0
    for t in range(60):
        eid += 1
        rows.append(dict(event_id=eid, ts=t0 + t * h, user_id=1,
                         event_type="lin", value=float(t + 1), props="{}"))
        eid += 1
        rows.append(dict(event_id=eid, ts=t0 + t * h, user_id=2,
                         event_type="alt", value=float(3 + (-1) ** t),
                         props="{}"))
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "events.parquet"))
    out = {(r.event_type, r.lag): r
           for r in QUERIES["q_events_autocorr_lag"](spark, str(tmp_path)).collect()}
    assert out[("lin", 1)].r_e6 == 1000000
    assert out[("lin", 24)].r_e6 == 1000000
    assert out[("alt", 1)].r_e6 == -1000000
    assert out[("alt", 24)].r_e6 == 1000000
    assert out[("lin", 1)].n_pairs == 59 and out[("lin", 24)].n_pairs == 36


def test_rrf_fusion_combines_disagreeing_rankings(tmp_path, spark):
    """Dense and lexical rankers DISAGREE by construction: candidate 1
    is the lexical twin (same tokens, orthogonal vector), candidate 2
    the dense twin (same vector, disjoint tokens), candidate 3 mediocre
    at both. RRF must be computed from the exact integer ranks."""
    docs = [
        (0, "alpha beta gamma delta", "en", "web"),
        (1, "alpha beta gamma delta", "en", "web"),   # lexical twin
        (2, "zeta eta theta iota", "en", "web"),      # dense twin
        (3, "alpha beta zeta eta", "en", "web"),      # half overlap
    ]
    embs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),   # orthogonal to query
        (2, [1.0, 0.0, 0.0, 0.0], 0),   # identical to query
        (3, [0.9, 0.1, 0.0, 0.0], 0),   # close to query
    ]
    _write_docs(tmp_path, docs)
    _write_embeddings(tmp_path, embs)
    out = {r.c_id: r
           for r in QUERIES["q_sim_rrf_fusion"](spark, str(tmp_path)).collect()}
    # dense ranks: 2 (cos 1.0) < 3 (0.99..) < 1 (0.0); lexical ranks:
    # 1 (jacc 1) < 3 (2/6) < 2 (0)
    assert (out[2].r_dense, out[2].r_lex) == (1, 3)
    assert (out[1].r_dense, out[1].r_lex) == (3, 1)
    assert (out[3].r_dense, out[3].r_lex) == (2, 2)
    for r in out.values():
        assert r.rrf_e6 == 1000000 // (60 + r.r_dense) + 1000000 // (60 + r.r_lex)
    # convexity: a rank-1 specialist (1/61 + 1/63 = 32266e-6) beats the
    # rank-2 all-rounder (2/62 = 32258e-6); the two specialists tie and
    # c_id breaks the tie
    assert [out[c].rn for c in (1, 2, 3)] == [1, 2, 3]


def test_global_ntile_matches_sql_ntile_with_ties_and_remainder(spark):
    """The two-pass distributed NTILE must be row-for-row identical to
    Spark's own single-partition ntile() — including remainder
    distribution (n % B bins get the extra row) and tie ordering."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from utxo_to_parquet_spark.operators.registry import global_ntile

    n, B = 1009, 7  # prime n: every remainder path exercised
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 13).alias("k"),  # heavy ties
    )
    got = global_ntile(df, B, [F.col("k"), F.col("id")], "bin")
    want = df.withColumn(
        "bin",
        F.ntile(B).over(Window.orderBy(F.col("k"), F.col("id"))).cast("long"),
    )
    assert got.select("id", "k", "bin").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("id", "k", "bin")).count() == 0


def test_perplexity_buckets_orders_fluent_to_disfluent(tmp_path, spark):
    """A maximally repetitive doc must land in head, a unique-bigram doc
    in tail; every doc appears in exactly one bucket."""
    docs = [
        (0, "a b a b a b a b a b a b", "en", "web"),       # repeated bigram
        (1, "a b c a b c a b c a b c", "en", "web"),       # period-3
        (2, "q w e r t y u i o p z x", "en", "web"),       # all-unique bigrams
    ]
    _write_docs(tmp_path, docs)
    out = {r.bucket: r
           for r in QUERIES["q_text_perplexity_buckets"](spark, str(tmp_path)).collect()}
    assert sorted(out) == ["head", "middle", "tail"]
    assert sum(r.n_docs for r in out.values()) == 3
    assert out["head"].max_bits_e4 <= out["middle"].min_bits_e4
    assert out["middle"].max_bits_e4 <= out["tail"].min_bits_e4


def test_temperature_mixture_upsamples_minority_language(tmp_path, spark):
    """alpha=0.5 exact-integer plan: 400-token majority vs 100-token
    minority -> sqrt weights 2:1, minority repeats 1.66 epochs while the
    majority is subsampled to 0.83."""
    docs = [
        (0, " ".join(["w"] * 400), "aa", "web"),
        (1, " ".join(["v"] * 100), "bb", "web"),
    ]
    _write_docs(tmp_path, docs)
    out = {r.lang: r
           for r in QUERIES["q_mix_temperature_weights"](spark, str(tmp_path)).collect()}
    # s_e6: 20e6 and 10e6 -> weights 2/3, 1/3 in floored e6
    assert out["aa"].w_e6 == 666666 and out["bb"].w_e6 == 333333
    # budget 500: aa target 500*2/3 tokens over 400 -> 5/6 epochs
    assert out["aa"].epochs_e4 == 8333   # floor(0.83333... * 1e4)
    assert out["bb"].epochs_e4 == 16666  # floor(1.66666... * 1e4)
    assert out["bb"].epochs_e4 > 10000 > out["aa"].epochs_e4


def test_dsir_weights_separate_on_and_off_domain(tmp_path, spark):
    """Importance weights must be positive for target-looking docs and
    negative for off-domain docs; a doc mixing both sits between."""
    docs = [
        (0, "a a a a", "en", "web"),
        (1, "a a a a", "en", "web"),
        (2, "x x x x", "zh", "web"),
        (3, "a a x x", "zh", "web"),
    ]
    _write_docs(tmp_path, docs)
    out = {r.doc_id: r.sum_bits_e6
           for r in QUERIES["q_text_dsir_weights"](spark, str(tmp_path)).collect()}
    assert out[0] > 0 and out[1] > 0      # on-domain: target LM likes them
    assert out[2] < 0                     # off-domain
    assert out[2] < out[3] < out[0]       # mixed doc in between
    assert out[0] == out[1]               # identical docs, identical score


def test_attribution_first_last_touch_on_constructed_sessions(tmp_path, spark):
    """First-touch credits the session opener, last-touch the most
    recent non-purchase event; a purchase that OPENS its session is
    'direct'; a >30-min gap splits the session and resets both."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 3, 1)
    m = dt.timedelta(minutes=1)
    rows = []

    def ev(eid, user, typ, t, v=0.0):
        rows.append(dict(event_id=eid, ts=t, user_id=user,
                         event_type=typ, value=v, props="{}"))

    ev(1, 1, "view", t0); ev(2, 1, "click", t0 + m)
    ev(3, 1, "purchase", t0 + 2 * m, 10.0)
    ev(4, 2, "purchase", t0, 7.0)              # session-opening purchase
    ev(5, 3, "view", t0)                       # session 1: no purchase
    ev(6, 3, "click", t0 + 40 * m)             # >30 min gap: session 2
    ev(7, 3, "purchase", t0 + 41 * m, 5.0)
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "events.parquet"))
    out = {r.channel: r
           for r in QUERIES["q_events_attribution"](spark, str(tmp_path)).collect()}
    assert out["view"].first_touch_value_e4 == 100000       # user 1
    assert out["purchase"].first_touch_value_e4 == 70000    # user 2 opener
    assert out["click"].first_touch_value_e4 == 50000       # user 3 session 2
    assert out["click"].last_touch_value_e4 == 150000       # users 1 + 3
    assert out["click"].n_last == 2
    assert out["direct"].last_touch_value_e4 == 70000       # user 2
    assert out["direct"].n_first == 0


def test_knn_sub_split_bounds_oversized_label_blocks(tmp_path, spark):
    """One 600-row label with ids correlated to the sub count (all even
    — the pattern that defeats a plain vec_id % n_sub split) must still
    break into ~CAP-bounded md5-hash buckets, and the graph must never
    pair vectors across different sub-buckets."""
    import numpy as np

    from utxo_to_parquet_spark.operators.similarity import KNN_BLOCK_CAP

    rng = np.random.default_rng(5)
    rows = [
        (int(i) * 2, [float(x) for x in rng.normal(size=8)], 0)
        for i in range(600)  # even ids only: vec_id % 3 could never be 1
    ]
    _write_embeddings(tmp_path, rows)
    out = QUERIES["q_sim_knn_graph"](spark, str(tmp_path)).collect()
    assert out, "graph must not be empty"
    # recompute each vector's sub-bucket with the operator's md5 key
    from pyspark.sql import functions as F

    n_sub = 3  # ceil(600 / 256)
    sub = {
        r.vec_id: r.sub
        for r in spark.read.parquet(str(tmp_path / "embeddings.parquet"))
        .select(
            "vec_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                % n_sub
            ).alias("sub"),
        )
        .collect()
    }
    sizes = {}
    for s in sub.values():
        sizes[s] = sizes.get(s, 0) + 1
    # all three residue classes populated (a plain modulus would put
    # every row in the even classes only), and no bucket far over cap
    assert len(sizes) == n_sub
    assert max(sizes.values()) <= KNN_BLOCK_CAP * 1.2
    # no cross-bucket edge
    assert all(sub[r.src] == sub[r.dst] for r in out)


def test_zipf_ranks_break_frequency_ties_by_token(tmp_path, spark):
    """Corpus with freqs {aa:4, bb:2, cc:2, dd:1}: the two freq-2 types
    must take ranks 2 and 3 (token order), dd rank 4 — and the fitted
    slope must equal a closed-form OLS over the e4-fixed-point log
    points, computed independently here in numpy."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    rows = [
        dict(doc_id=1, text="aa aa bb dd", lang="en", source="s1", n_chars=11),
        dict(doc_id=2, text="aa aa bb cc cc", lang="en", source="s1", n_chars=14),
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "documents.parquet"),
    )
    got = QUERIES["q_text_zipf_fit"](spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].n_types == 4
    # ranks: aa=1 (f4), bb=2, cc=3 (f2, token order), dd=4 (f1)
    pts = [(1, 4), (2, 2), (3, 2), (4, 1)]
    xs = [math.floor(math.log(r) * 1e4 + 0.5) for r, _ in pts]
    ys = [math.floor(math.log(f) * 1e4 + 0.5) for _, f in pts]
    n = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert got[0].slope_e4 == math.floor(slope * 1e4 + 0.5)
    assert got[0].intercept_e4 == math.floor((sy - slope * sx) / n + 0.5)
    assert got[0].slope_e4 < 0  # frequency falls with rank


def test_kl_mixture_zero_for_a_source_matching_the_corpus(tmp_path, spark):
    """Two sources with IDENTICAL token distributions: every p equals q,
    every ln(p/q) is exactly 0, so both KL sums must be exactly 0; then
    a skewed third source must come out strictly positive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    rows = [
        dict(doc_id=1, text="x x y", lang="en", source="a", n_chars=5),
        dict(doc_id=2, text="x x y", lang="en", source="b", n_chars=5),
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "documents.parquet"),
    )
    out = {r.source: r for r in
           QUERIES["q_text_kl_source_mixture"](spark, str(tmp_path)).collect()}
    assert out["a"].kl_e9 == 0 and out["b"].kl_e9 == 0
    assert out["a"].vocab_s == 2

    rows.append(dict(doc_id=3, text="z z z", lang="en", source="c", n_chars=5))
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "documents.parquet"),
    )
    out = {r.source: r for r in
           QUERIES["q_text_kl_source_mixture"](spark, str(tmp_path)).collect()}
    # a and b still share tokens with the corpus at shifted proportions
    assert out["c"].kl_e9 > 0  # all-z source diverges from the mixture


def test_benford_digit_extraction_and_chi_term(tmp_path, spark):
    """Totals 19.99/250.0/999.0/123.45 -> digits 1,2,9,1; the chi term
    for digit 9 (obs 1) must equal the closed form vs N*log10(1+1/9)."""
    import datetime as dt
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/orders.parquet")
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        dict(o_orderkey=i + 1, o_custkey=1, o_orderstatus="O",
             o_totalprice=p, o_orderdate=t0, o_orderpriority="1-URGENT")
        for i, p in enumerate([19.99, 250.0, 999.0, 123.45])
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "orders.parquet"),
    )
    out = {r.digit: r for r in
           QUERIES["q_agg_benford_audit"](spark, str(tmp_path)).collect()}
    assert sorted(out) == [1, 2, 9]
    assert out[1].n_obs == 2 and out[2].n_obs == 1 and out[9].n_obs == 1
    e9 = 4 * math.log10(1 + 1 / 9)
    assert out[9].exp_e4 == math.floor(e9 * 1e4 + 0.5)
    assert out[9].chi_e6 == math.floor((1 - e9) ** 2 / e9 * 1e6 + 0.5)


def test_dust_threshold_is_strict_and_per_template(tmp_path, spark):
    """amount == feerate*vbytes is NOT dust (strict <); one sat less is.
    p2wpkh (68 vB) at 10 sat/vB: cost 680."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/lineitem.parquet")
    t0 = dt.datetime(2025, 1, 1)

    def li(okey, partkey, price):
        return dict(l_orderkey=okey, l_partkey=partkey, l_suppkey=1,
                    l_linenumber=1, l_quantity=1.0, l_extendedprice=price,
                    l_discount=0.0, l_tax=0.0, l_returnflag="N",
                    l_linestatus="O", l_shipdate=t0)

    rows = [
        li(1, 2, 6.80),   # p2wpkh (partkey%4==2), 680 sats == cost -> kept
        li(2, 2, 6.79),   # 679 sats -> dust at 10 sat/vB
        li(3, 3, 1.00),   # op_return: excluded entirely
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "lineitem.parquet"),
    )
    out = {(r.feerate, r.script_type): r for r in
           QUERIES["q_utxo_dust_feerate"](spark, str(tmp_path)).collect()}
    assert all(st != "op_return" for _, st in out)
    r10 = out[(10, "p2wpkh")]
    assert r10.n_utxos == 2 and r10.n_dust == 1 and r10.dust_sats == 679
    assert r10.dust_bp == 5000
    r1 = out[(1, "p2wpkh")]  # cost 68: neither 680 nor 679 is dust
    assert r1.n_dust == 0 and r1.dust_bp == 0


def test_label_confusion_flags_planted_mislabel(tmp_path, spark):
    """Five 2-d vectors, one of them (vec 4, labeled 0) sitting inside
    label 1's cluster: nearest-centroid assignment must put exactly that
    vector off-diagonal, even though it drags its own centroid."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/embeddings.parquet")
    rows = [
        dict(vec_id=0, embedding=[1.0, 0.0], label=0),
        dict(vec_id=1, embedding=[0.9, 0.1], label=0),
        dict(vec_id=2, embedding=[0.0, 1.0], label=1),
        dict(vec_id=3, embedding=[0.1, 0.9], label=1),
        dict(vec_id=4, embedding=[0.0, 1.1], label=0),  # planted mislabel
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "embeddings.parquet"),
    )
    out = {(r.label, r.assigned): r.n_vecs for r in
           QUERIES["q_sim_label_confusion"](spark, str(tmp_path)).collect()}
    assert out == {(0, 0): 2, (0, 1): 1, (1, 1): 2}


def test_bot_regularity_separates_metronome_from_bursty(tmp_path, spark):
    """User 1: six events exactly 10 min apart -> cv^2 = 0, bot_like.
    User 2: bursty gaps -> cv^2 >> threshold, human. User 3: only three
    events (2 gaps) excluded; user 4: all events in one minute (sg=0)
    excluded."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(2025, 1, 1)
    rows, eid = [], 0

    def ev(uid, minutes):
        nonlocal eid
        eid += 1
        return dict(event_id=eid, ts=t0 + dt.timedelta(minutes=minutes),
                    user_id=uid, event_type="a", value=1.0, props="{}")

    rows += [ev(1, 10 * i) for i in range(6)]                # metronome
    rows += [ev(2, m) for m in [0, 1, 51, 53, 113, 116]]     # bursty
    rows += [ev(3, m) for m in [0, 10, 20]]                  # too thin
    rows += [ev(4, m) for m in [0.1 * i for i in range(6)]]  # sub-minute
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
        str(tmp_path / "events.parquet"),
    )
    out = {r.user_id: r for r in
           QUERIES["q_events_bot_regularity"](spark, str(tmp_path)).collect()}
    assert sorted(out) == [1, 2]
    assert out[1].cv2_e6 == 0 and out[1].bot_like
    # gaps: 1,50,2,60,3 min -> cv^2 = (5*6114 - 116^2)/116^2
    assert out[2].cv2_e6 == int((5 * 6114 - 116 * 116) / (116 * 116) * 1e6 + 0.5)
    assert not out[2].bot_like


def test_assortativity_is_minus_one_on_a_star(tmp_path, spark):
    """A pure star (one supplier, three customers) is perfectly
    disassortative: every edge joins degree 1 to degree 3, r = -1."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2025, 1, 1)
    li_base = pq.read_schema(f"{SF_DIR}/lineitem.parquet")
    o_base = pq.read_schema(f"{SF_DIR}/orders.parquet")
    li = [dict(l_orderkey=k, l_partkey=1, l_suppkey=7, l_linenumber=1,
               l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0,
               l_tax=0.0, l_returnflag="N", l_linestatus="O", l_shipdate=t0)
          for k in (1, 2, 3)]
    orders = [dict(o_orderkey=k, o_custkey=100 + k, o_orderstatus="O",
                   o_totalprice=1.0, o_orderdate=t0, o_orderpriority="1")
              for k in (1, 2, 3)]
    pq.write_table(pa.Table.from_pylist(li, schema=pa.schema(list(li_base))),
                   str(tmp_path / "lineitem.parquet"))
    pq.write_table(pa.Table.from_pylist(orders, schema=pa.schema(list(o_base))),
                   str(tmp_path / "orders.parquet"))
    (row,) = QUERIES["q_graph_assortativity"](spark, str(tmp_path)).collect()
    assert row.n_directed_edges == 6
    assert row.assortativity_e6 == -1_000_000


def test_silhouette_signs_match_planted_geometry(tmp_path, spark):
    """On the mislabel fixture from the confusion test, the planted
    mislabel must be the only negative-silhouette vector, and the
    per-label sums must match an independent numpy replay of the exact
    integer recipe."""
    import math

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/embeddings.parquet")
    vecs = {0: ([1.0, 0.0], 0), 1: ([0.9, 0.1], 0), 2: ([0.0, 1.0], 1),
            3: ([0.1, 0.9], 1), 4: ([0.0, 1.1], 0)}
    rows = [dict(vec_id=i, embedding=v, label=l) for i, (v, l) in vecs.items()]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "embeddings.parquet"))

    # numpy replay of the exact-integer recipe
    ve6 = {i: np.array([math.floor(x * 1e6 + 0.5) for x in v], dtype=np.int64)
           for i, (v, _) in vecs.items()}
    cents = {}
    for lbl in (0, 1):
        mem = [ve6[i] for i, (_, l) in vecs.items() if l == lbl]
        cents[lbl] = np.array(
            [math.floor(sum(int(m[d]) for m in mem) / len(mem) + 0.5)
             for d in range(2)], dtype=np.int64)
    expect = {0: [0, 0], 1: [0, 0]}  # label -> [sum_s_e6, n_negative]
    for i, (_, lbl) in vecs.items():
        a2 = int(((ve6[i] - cents[lbl]) ** 2).sum())
        b2 = int(((ve6[i] - cents[1 - lbl]) ** 2).sum())
        a, b = math.sqrt(a2), math.sqrt(b2)
        s = 0 if max(a, b) == 0 else math.floor((b - a) / max(a, b) * 1e6 + 0.5)
        expect[lbl][0] += s
        expect[lbl][1] += 1 if s < 0 else 0
    out = {r.label: r for r in
           QUERIES["q_sim_silhouette"](spark, str(tmp_path)).collect()}
    for lbl in (0, 1):
        assert out[lbl].sum_sil_e6 == expect[lbl][0]
        assert out[lbl].n_negative == expect[lbl][1]
    assert out[0].n_negative == 1 and out[1].n_negative == 0  # vec 4 only


def test_cohort_revenue_triangle_cells_and_retention(tmp_path, spark):
    """User A active weeks 0 and 1, user B only week 1: cohort 0 has
    age-0 and age-1 cells (100% retention into age 1), cohort 1 has its
    own age-0 cell; revenue mass lands in the right cells at e2."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/events.parquet")
    t0 = dt.datetime(1970, 1, 1)  # epoch-aligned so weeks are 0,1,...
    wk = dt.timedelta(seconds=604800)

    def ev(eid, uid, t, v):
        return dict(event_id=eid, ts=t, user_id=uid, event_type="a",
                    value=v, props="{}")

    rows = [
        ev(1, 1, t0, 10.0), ev(2, 1, t0 + dt.timedelta(hours=1), 2.5),
        ev(3, 1, t0 + wk, 4.0),
        ev(4, 2, t0 + wk, 7.25),
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "events.parquet"))
    out = {(r.cohort_week, r.age): r for r in
           QUERIES["q_events_cohort_revenue"](spark, str(tmp_path)).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 0)}
    assert out[(0, 0)].n_users == 1 and out[(0, 0)].rev_e2 == 1250
    assert out[(0, 1)].rev_e2 == 400 and out[(0, 1)].retained_bp == 10000
    assert out[(1, 0)].n_users == 1 and out[(1, 0)].rev_e2 == 725


def test_hhi_is_half_for_two_equal_suppliers(tmp_path, spark):
    """Two suppliers with identical discounted revenue: shares are
    exactly 0.5 each, HHI = 0.5 -> 5e11 at e12 scale."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/lineitem.parquet")
    t0 = dt.datetime(2025, 1, 1)
    rows = [dict(l_orderkey=k, l_partkey=1, l_suppkey=s, l_linenumber=1,
                 l_quantity=1.0, l_extendedprice=100.0, l_discount=0.1,
                 l_tax=0.0, l_returnflag="N", l_linestatus="O",
                 l_shipdate=t0)
            for k, s in [(1, 7), (2, 9)]]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "lineitem.parquet"))
    (row,) = QUERIES["q_agg_hhi_concentration"](spark, str(tmp_path)).collect()
    assert row.n_suppliers == 2
    assert row.total_rev_e2 == 18000  # 2 x 90.00
    assert row.hhi_e12 == 500_000_000_000


def test_pareto_skyline_dominance_semantics(tmp_path, spark):
    """Skyline = {cheapest-old, mid-fresh, duplicate freshest pair};
    the same-price-older order and the expensive-but-staler order are
    dominated. Identical duplicate points both stay (no strict edge)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/orders.parquet")

    def o(k, price, day):
        return dict(o_orderkey=k, o_custkey=1, o_orderstatus="O",
                    o_totalprice=price, o_orderdate=dt.datetime(2025, 1, day),
                    o_orderpriority="1")

    rows = [o(1, 50.0, 1), o(2, 100.0, 5), o(3, 100.0, 2), o(4, 200.0, 3),
            o(5, 150.0, 6), o(6, 150.0, 6)]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "orders.parquet"))
    keys = sorted(r.o_orderkey for r in
                  QUERIES["q_agg_pareto_skyline"](spark, str(tmp_path)).collect())
    assert keys == [1, 2, 5, 6]


def test_modularity_on_two_perfect_communities(tmp_path, spark):
    """Two nation-pure trading blocs: every pair is within-nation, so
    each community's term is A_c/M - (K_c/M)^2 with all mass on the
    diagonal; values pinned against a by-hand replay."""
    import datetime as dt
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2025, 1, 1)
    sch = {t: pq.read_schema(f"{SF_DIR}/{t}.parquet")
           for t in ("lineitem", "orders", "customer", "supplier")}
    # nation 1: customers 1,2 + supplier 11; nation 2: customer 3 + supplier 12
    cust = [dict(c_custkey=k, c_name=f"c{k}", c_nationkey=n, c_acctbal=0.0,
                 c_mktsegment="B") for k, n in [(1, 1), (2, 1), (3, 2)]]
    supp = [dict(s_suppkey=k, s_name=f"s{k}", s_nationkey=n, s_acctbal=0.0)
            for k, n in [(11, 1), (12, 2)]]
    orders = [dict(o_orderkey=k, o_custkey=c, o_orderstatus="O",
                   o_totalprice=1.0, o_orderdate=t0, o_orderpriority="1")
              for k, c in [(1, 1), (2, 2), (3, 3)]]
    li = [dict(l_orderkey=k, l_partkey=1, l_suppkey=s, l_linenumber=1,
               l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
               l_returnflag="N", l_linestatus="O", l_shipdate=t0)
          for k, s in [(1, 11), (2, 11), (3, 12)]]
    for name, rows in [("customer", cust), ("supplier", supp),
                       ("orders", orders), ("lineitem", li)]:
        pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(sch[name]))),
                       str(tmp_path / f"{name}.parquet"))
    out = {r.community: r for r in
           QUERIES["q_graph_modularity"](spark, str(tmp_path)).collect()}
    assert out[1].m == 6 and out[1].a_c == 4 and out[1].k_c == 4
    assert out[2].a_c == 2 and out[2].k_c == 2
    assert out[1].q_term_e9 == math.floor((4/6 - (4/6)*(4/6)) * 1e9 + 0.5)
    assert out[2].q_term_e9 == math.floor((2/6 - (2/6)*(2/6)) * 1e9 + 0.5)


def test_pareto_skyline_matches_bruteforce_on_random_points(tmp_path, spark):
    """200 seeded-random orders (with planted price ties and duplicate
    points) vs an O(n^2) brute-force dominance check — the bucketed
    decomposition must agree exactly, boundaries and all."""
    import datetime as dt
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(42)
    pts = []
    for k in range(1, 181):
        pts.append((k, rng.randrange(1, 40) * 25.0, rng.randrange(1, 28)))
    # planted structure: price ties, exact duplicates, extreme corners
    pts += [(181, 500.0, 27), (182, 500.0, 27), (183, 25.0, 1), (184, 975.0, 27)]
    for k in range(185, 201):
        pts.append((k, 250.0, rng.randrange(1, 28)))

    base = pq.read_schema(f"{SF_DIR}/orders.parquet")
    rows = [dict(o_orderkey=k, o_custkey=1, o_orderstatus="O", o_totalprice=p,
                 o_orderdate=dt.datetime(2025, 1, d), o_orderpriority="1")
            for k, p, d in pts]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "orders.parquet"))

    def dominated(a, b):  # b dominates a?
        return (b[1] <= a[1] and b[2] >= a[2]) and (b[1] < a[1] or b[2] > a[2])

    brute = sorted(k for k, p, d in pts
                   if not any(dominated((k, p, d), q) for q in pts))
    got = sorted(r.o_orderkey for r in
                 QUERIES["q_agg_pareto_skyline"](spark, str(tmp_path)).collect())
    assert got == brute


def test_modularity_invariants_on_fixture(spark):
    """Structural identities that must hold for ANY graph/partition:
    degree sums add to M, within-edges never exceed degree mass, and
    the Q terms sum to a value in (-0.5, 1)."""
    rows = QUERIES["q_graph_modularity"](spark, SF_DIR).collect()
    m = rows[0].m
    assert all(r.m == m for r in rows)
    assert sum(r.k_c for r in rows) == m
    assert all(0 <= r.a_c <= r.k_c for r in rows)
    q = sum(r.q_term_e9 for r in rows) / 1e9
    assert -0.5 < q < 1.0


def test_style_cosine_identical_vs_disjoint_profiles(tmp_path, spark):
    """Two sources with the same function-word mix score cosine 1.0;
    a source using a disjoint function-word basis scores 0 against both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    rows = [
        dict(doc_id=1, text="the cat saw a dog the end", lang="en",
             source="en1", n_chars=25),
        dict(doc_id=2, text="the bird a fish the tree", lang="en",
             source="en2", n_chars=24),  # same (the=2, a=1) ratio as en1
        dict(doc_id=3, text="el gato vio la casa", lang="es",
             source="es1", n_chars=19),  # disjoint basis words
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(list(base))),
                   str(tmp_path / "documents.parquet"))
    out = {(r.source_a, r.source_b): r.cosine_e6 for r in
           QUERIES["q_text_style_cosine"](spark, str(tmp_path)).collect()}
    assert out[("en1", "en2")] == 1_000_000
    assert out[("en1", "es1")] == 0 and out[("en2", "es1")] == 0


def test_degenerate_guards_drop_rows_instead_of_nan(tmp_path, spark):
    """Regular graph -> assortativity undefined -> ZERO rows (never a
    NaN cast); sub-1.0 order totals are excluded from the Benford basis;
    a single-type corpus yields no Zipf fit."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2025, 1, 1)
    # 1-regular graph: two disjoint customer-supplier pairs, all degree 1
    li_base = pq.read_schema(f"{SF_DIR}/lineitem.parquet")
    o_base = pq.read_schema(f"{SF_DIR}/orders.parquet")
    li = [dict(l_orderkey=k, l_partkey=1, l_suppkey=10 + k, l_linenumber=1,
               l_quantity=1.0, l_extendedprice=1.0, l_discount=0.0,
               l_tax=0.0, l_returnflag="N", l_linestatus="O", l_shipdate=t0)
          for k in (1, 2)]
    orders = [dict(o_orderkey=k, o_custkey=k, o_orderstatus="O",
                   o_totalprice=p, o_orderdate=t0, o_orderpriority="1")
              for k, p in [(1, 0.5), (2, 42.0)]]  # one sub-1.0 total
    pq.write_table(pa.Table.from_pylist(li, schema=pa.schema(list(li_base))),
                   str(tmp_path / "lineitem.parquet"))
    pq.write_table(pa.Table.from_pylist(orders, schema=pa.schema(list(o_base))),
                   str(tmp_path / "orders.parquet"))
    assert QUERIES["q_graph_assortativity"](spark, str(tmp_path)).count() == 0
    ben = {r.digit: r.n_obs for r in
           QUERIES["q_agg_benford_audit"](spark, str(tmp_path)).collect()}
    assert ben == {4: 1}  # the 0.5 total is excluded, 42.0 -> digit 4

    d_base = pq.read_schema(f"{SF_DIR}/documents.parquet")
    docs = [dict(doc_id=1, text="aa aa aa", lang="en", source="s", n_chars=8)]
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema(list(d_base))),
                   str(tmp_path / "documents.parquet"))
    assert QUERIES["q_text_zipf_fit"](spark, str(tmp_path)).count() == 0


def test_mm_feature_extract_rounds_ties_like_oracle(tmp_path, spark):
    """A document whose mean byte is an exact tie at the 7th decimal:
    12021/128 = 93.9140625 rounds half away from zero to 93.914063, as
    the oracle's ROUND does (Python's half-to-even round gave 93.914062)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = "]" * 11 + "^" * 117  # 11*93 + 117*94 = 12021 over 128 bytes
    texts = [text, "abc", "hello world"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["web"] * len(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = QUERIES["q_mm_feature_extract"](spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[0]["mean_byte"] == 93.914063

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    oracle = con.execute(ORACLES["q_mm_feature_extract"]).fetchall()
    assert sorted(tuple(r) for r in rows) == sorted(oracle)
