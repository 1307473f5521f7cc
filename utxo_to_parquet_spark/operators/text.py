"""Text analysis operators for a training-data pipeline, over ``documents``.

All expressions are JVM-side built-ins (no Python UDFs) so they stay in
whole-stage codegen; every query is oracle-checked against DuckDB. The
one deliberate exception is the Misra-Gries heavy-hitters sketch at the
bottom — a bounded-memory per-partition summary that has no built-in
equivalent, implemented as Arrow-batched ``mapInPandas`` (the sanctioned
Python path, never row-at-a-time).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .registry import global_ntile, load, memoized, range_parts, register

# stopword markers per language for the n-gram/stopword language-ID heuristic
_LANG_MARKERS = {
    "en": ["the", "a"],
    "es": ["el", "la"],
    "de": ["der", "die"],
    "fr": ["le", "la"],
    "zh": ["de", "le"],
}


def _occurrences_sql(col: str, word: str) -> str:
    """DuckDB: count whole-word occurrences of `word` in a single-spaced
    lowercase text column via padded-substring replacement."""
    padded = f"concat(' ', {col}, ' ')"
    needle = f"' {word} '"
    # each removed occurrence shrinks the string by len(word)+1 (one space
    # is re-consumed by the following overlap-free replace on ' '||w||' ')
    return (
        f"CAST((length({padded}) - length(replace({padded}, {needle}, ' ')))"
        f" / {len(word) + 1} AS BIGINT)"
    )


def _occurrences_col(col, word: str):
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    removed = F.regexp_replace(padded, f" {word} ", " ")
    return ((F.length(padded) - F.length(removed)) / (len(word) + 1)).cast("long")


@register(
    "q_text_quality_stats",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars_actual,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_words,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_distinct_words,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 4) AS avg_word_len,
           ROUND(CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
                 / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 4) AS ttr
    FROM documents
    """,
)
def q_text_quality_stats(spark, sf_dir):
    """Quality scoring: length, word count, type-token ratio (TTR),
    average word length — the standard cheap quality filters."""
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")
    n_words = (F.length(text) - F.length(F.regexp_replace(text, " ", "")) + 1).cast("long")
    n_nospace = F.length(F.regexp_replace(text, " ", ""))
    n_distinct = F.size(F.array_distinct(F.split(text, " "))).cast("long")
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_actual"),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        F.round(n_nospace.cast("double") / n_words, 4).alias("avg_word_len"),
        F.round(n_distinct.cast("double") / n_words, 4).alias("ttr"),
    )


@register(
    "q_text_token_freq",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 30
    """,
)
def q_text_token_freq(spark, sf_dir):
    """Token counting: whitespace tokenizer → explode → frequency table.
    The explode happens JVM-side; the groupBy is a standard partial-agg
    shuffle, so corpus size scales linearly."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(30)
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in _LANG_MARKERS.items():
        parts = " + ".join(_occurrences_sql("lower(text)", w) for w in words)
        score_cols.append(f"({parts}) AS score_{lang}")
    scores = ",\n           ".join(score_cols)
    langs = list(_LANG_MARKERS)
    # argmax with first-wins tie-break in declaration order
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"score_{lang} >= score_{other}" for other in langs if other != lang]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
           {scores}
      FROM documents
    )
    SELECT doc_id, lang AS lang_labeled, {case_sql} AS lang_predicted
    FROM scored
    """


@register("q_text_language_id", oracle=_langid_oracle())
def q_text_language_id(spark, sf_dir):
    """Language ID via stopword-marker scoring (n-gram heuristic family).
    Deterministic argmax with declaration-order tie-break; the oracle
    reproduces the same scoring in SQL."""
    docs = load(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    scores = {
        lang: sum(
            (_occurrences_col(lower, w) for w in words), F.lit(0).cast("long")
        )
        for lang, words in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    pred = None
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
    return docs.select(
        "doc_id", F.col("lang").alias("lang_labeled"), pred.alias("lang_predicted")
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT md5(lower(text)) AS fingerprint,
           md5(substr(lower(text), 1, 64)) AS prefix_fp,
           doc_id
    FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: full-text hash + prefix hash (the cheap
    rolling-hash stand-ins used for exact/near dedup bucketing)."""
    docs = load(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    return docs.select(
        F.md5(lower).alias("fingerprint"),
        F.md5(F.substring(lower, 1, 64)).alias("prefix_fp"),
        "doc_id",
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks —
# the standard GPT-2-style split shape, minus the lookaheads RE2 lacks
# (the pattern must behave identically under Java regex and DuckDB's RE2)
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "q_text_token_count_bpe",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS tokens FROM documents
    )
    SELECT doc_id,
           CAST(LEN(tokens) AS BIGINT) AS n_tokens,
           CAST(LEN(LIST_FILTER(tokens, t -> regexp_full_match(t, '[A-Za-z]+'))) AS BIGINT)
             AS n_word_tokens,
           CAST(LEN(LIST_FILTER(tokens, t -> regexp_full_match(t, '[0-9]+'))) AS BIGINT)
             AS n_number_tokens,
           ROUND(LIST_SUM(LIST_TRANSFORM(tokens, t -> LENGTH(t)))::DOUBLE
                 / GREATEST(LEN(tokens), 1), 4) AS avg_token_len
    FROM toks
    """,
)
def q_text_token_count_bpe(spark, sf_dir):
    """Token counting with a BPE-ish regex pre-tokenizer (letter runs /
    digit runs / punctuation marks), per document. regexp_extract_all +
    higher-order array functions — all JVM-side, whole-stage codegen."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit(TOKEN_RE), 0).alias("tokens")
    )
    return toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.expr("size(filter(tokens, t -> t rlike '^[A-Za-z]+$'))").cast("long").alias(
            "n_word_tokens"
        ),
        F.expr("size(filter(tokens, t -> t rlike '^[0-9]+$'))").cast("long").alias(
            "n_number_tokens"
        ),
        F.round(
            F.expr("aggregate(tokens, 0L, (acc, t) -> acc + length(t))").cast("double")
            / F.greatest(F.size("tokens"), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


@register(
    "q_text_repetition_filter",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    freq AS (
      SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
    ),
    stats AS (
      SELECT doc_id, MAX(c) AS top_word_count, CAST(SUM(c) AS BIGINT) AS n_words
      FROM freq GROUP BY doc_id
    )
    SELECT doc_id, top_word_count, n_words,
           ROUND(CAST(top_word_count AS DOUBLE) / n_words, 4) AS top_word_frac,
           (CAST(top_word_count AS DOUBLE) / n_words > 0.2) AS is_repetitive
    FROM stats
    """,
)
def q_text_repetition_filter(spark, sf_dir):
    """Repetition detection (the C4-style 'most common word fraction'
    quality filter): per document, the share of the most frequent word.
    Two partial-aggregable groupBys — explode fans out map-side, both
    shuffles are on (doc_id[, word]), linear at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    stats = freq.groupBy("doc_id").agg(
        F.max("c").alias("top_word_count"), F.sum("c").alias("n_words")
    )
    frac = F.col("top_word_count").cast("double") / F.col("n_words")
    return stats.select(
        "doc_id",
        "top_word_count",
        "n_words",
        F.round(frac, 4).alias("top_word_frac"),
        (frac > 0.2).alias("is_repetitive"),
    )


TRAIN_FRAC_HEX = "cc"  # md5-prefix threshold ≈ 0.797 train fraction


@register(
    "q_split_train_test",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{TRAIN_FRAC_HEX}'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM tagged GROUP BY split
    """,
)
def q_split_train_test(spark, sf_dir):
    """Deterministic train/test split — the reproducibility-critical
    pipeline op: membership is a pure function of the stable doc_id
    (md5 prefix vs a threshold), so the split is identical across
    engines, runs, partitionings, and cluster sizes — no RNG, no
    sampling state. Engine-native hash() functions differ across
    engines, hence md5."""
    docs = load(spark, sf_dir, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= TRAIN_FRAC_HEX,
        "train",
    ).otherwise("test")
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SAMPLE_FRAC = 0.5
SAMPLE_TOL = 0.15  # max observed |frac - 0.5| across fixtures is 0.081


@register(
    "q_sample_stratified",
    # the CHECKABLE CONTRACT, not the engine-specific Bernoulli draws
    # (q_agg_approx_distinct pattern): exact per-stratum totals plus a
    # boolean asserting the sampled fraction landed within tolerance.
    # The oracle computes the exact totals and a literal TRUE — a
    # sampler that drifts past tolerance breaks the value hash.
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs, TRUE AS within_tol
    FROM documents GROUP BY lang
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Stratified sampling (sampleBy): per-language fractions with a
    fixed seed — the corpus-balancing op. Bernoulli draws are
    engine-specific, so the hash-gated contract is per-stratum totals
    plus a within-tolerance boolean (|sampled/total - {SAMPLE_FRAC}| <=
    {SAMPLE_TOL}); the tighter proportion assertion lives in
    tests/test_scale_techniques.py. At scale this is a single map-side
    filter plus one tiny per-stratum aggregate: no wide shuffle, no
    collect."""
    docs = load(spark, sf_dir, "documents")
    fractions = {"en": SAMPLE_FRAC, "es": SAMPLE_FRAC, "de": SAMPLE_FRAC,
                 "fr": SAMPLE_FRAC, "zh": SAMPLE_FRAC}
    sampled = (
        docs.sampleBy("lang", fractions, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    frac = F.col("n_sampled") / F.col("n_docs")
    return totals.join(sampled, "lang", "left").select(
        "lang",
        "n_docs",
        (
            F.abs(F.coalesce(frac, F.lit(0.0)) - SAMPLE_FRAC) <= SAMPLE_TOL
        ).alias("within_tol"),
    )


@register(
    "q_text_bigram_novelty",
    oracle="""
    WITH bigrams AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')), 1)),
               i -> CONCAT(STRING_SPLIT(text, ' ')[i], ' ',
                           STRING_SPLIT(text, ' ')[i+1])))) AS bg
      FROM documents
    ),
    df AS (SELECT bg, COUNT(*) AS n_docs FROM bigrams GROUP BY bg)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS novelty
    FROM bigrams b JOIN df d ON b.bg = d.bg
    GROUP BY b.doc_id
    """,
)
def q_text_bigram_novelty(spark, sf_dir):
    """Bigram novelty: the fraction of a document's distinct word
    bigrams that appear in NO other document — a contamination /
    near-duplication signal dual to the dedup operators (novelty ~0
    means the text is stitched from corpus phrases). All-integer
    inverted-index computation: explode distinct bigrams, document
    frequency by bigram, join back, two partial-agg shuffles — the same
    linear shape as the shingle index, minus the pair join.
    """
    docs = load(spark, sf_dir, "documents")
    bigrams = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(words) - 2),"
                        " i -> concat(words[i], ' ', words[i+1]))"
                    )
                )
            ).alias("bg"),
        )
    )
    dfreq = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("n_docs"))
    joined = bigrams.join(dfreq, "bg")
    novel = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 4).alias("novelty"),
    )


SOURCE_CAP = 50


@register(
    "q_text_source_cap",
    oracle=f"""
    SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= {SOURCE_CAP}
    """,
)
def q_text_source_cap(spark, sf_dir):
    """Per-source document cap — the domain-cap op every pretraining
    pipeline runs (keep at most N docs per domain so one crawl host
    can't dominate the mixture). Selection is deterministic and
    order-independent: rank docs inside each source by md5(doc_id)
    (a seedless uniform shuffle both engines compute identically,
    doc_id tie-break) and keep the first {SOURCE_CAP}.

    Scale shape: one hash-partition shuffle on source + a per-partition
    ranking window; no global sort. A skewed mega-source makes this the
    classic hot-partition window — the scale fix is two-level capping
    (cap per (source, salt) then re-rank the ≤ N·S survivors), the same
    salting pattern as q_join_salted_skew."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("source", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


REDACT_PATTERN = r"\b(customer|key|value)\b"


@register(
    "q_text_redact_denylist",
    oracle=f"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{REDACT_PATTERN}')) AS BIGINT)
             AS n_redactions,
           md5(regexp_replace(text, '{REDACT_PATTERN}', '<TERM>', 'g'))
             AS scrubbed_hash
    FROM documents
    """,
)
def q_text_redact_denylist(spark, sf_dir):
    """Deny-list redaction (the PII-scrub shape: in production the
    pattern set is emails/phones/SSNs; the fixture corpus has no digits,
    so a term deny-list exercises the identical machinery): count and
    replace every match, emit a hash of the scrubbed text. Pure JVM
    regexp — no Python in the row path. Note DuckDB needs the 'g' flag
    where Spark's regexp_replace is global by default.
    q_text_pii_redact closes the no-digits gap: it plants
    deterministic emails/phones and runs the REAL PII patterns with
    typed placeholders and per-type counts."""
    docs = load(spark, sf_dir, "documents")
    pat = REDACT_PATTERN
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("long")
        .alias("n_redactions"),
        F.md5(F.regexp_replace("text", pat, "<TERM>")).alias("scrubbed_hash"),
    )


@register(
    "q_text_idf_top_terms",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT source, tf.term AS term,
             CAST(tf AS BIGINT) AS tf,
             ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY tf * LN(CAST(n_docs AS DOUBLE) / df) DESC, tf.term
             ) AS rn
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT source, term, tf, tfidf FROM scored WHERE rn <= 3
    """,
)
def q_text_idf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per source: term frequency per (source, term),
    document frequency per term, inverse-document-frequency weighting,
    then a per-source top-k window. Terms with identical (tf, df) score
    bit-identically in both engines, so the term-name tiebreak makes the
    ranking deterministic. Two partial-agg shuffles + a broadcast of the
    term-df table; the window partitions by source (bounded
    cardinality)."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tokens.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; fixture-table count, one tiny job
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    w = W.partitionBy("source").orderBy(F.desc(tfidf), F.asc("term"))
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "term", "tf", F.round(tfidf, 6).alias("tfidf"))
    )


SAMPLE_PCT = 20


@register(
    "q_sample_hash_percent",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 100 < {SAMPLE_PCT}
    """,
)
def q_sample_hash_percent(spark, sf_dir):
    """Deterministic {SAMPLE_PCT}% sample by key hash — the reproducible
    alternative to rand()-based sampling (which no oracle can check and
    which reshuffles membership on every retry/backfill). Hashing the
    stable key means the same rows are sampled on any cluster, any day,
    in any engine — the property training-data pipelines need for
    resumable subset builds. Pure map-side filter; at 100 TB it
    partition-prunes nothing but shuffles nothing either."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return docs.filter(bucket < SAMPLE_PCT).select("doc_id", "lang", "source")


@register(
    "q_text_explode_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i + 1] AS token
    FROM toks, UNNEST(range(0, LEAST(len(t), 20))) AS u(i)
    """,
)
def q_text_explode_tokens(spark, sf_dir):
    """Token explode (flatten): one row per (doc, position, token) for the
    first 20 positions — the lateral-view/UNNEST shape that turns a corpus
    into a token table. posexplode keeps the ordinal so downstream n-gram
    or positional joins stay expressible; the slice-before-explode keeps
    the row multiplication bounded (at 100 TB you explode a bounded
    prefix or repartition first, never the raw full text)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.slice(F.split("text", " "), 1, 20)).alias(
                "pos", "token"
            ),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
    )


@register(
    "q_text_chunk_fixed",
    oracle="""
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(LENGTH(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS BIGINT)
             AS chunk_len,
           md5(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS chunk_md5
    FROM documents,
         UNNEST(range(0, (LENGTH(text) - 1) // 256 + 1)) AS u(i)
    WHERE LENGTH(text) > 0
    """,
)
def q_text_chunk_fixed(spark, sf_dir):
    """Fixed-size character chunking: split each document into 256-char
    pieces with stable chunk ids and content hashes — the pre-tokenization
    sharding step for embedding/indexing pipelines. sequence+explode
    generates exactly ceil(len/256) rows per doc (no UDF, no driver
    loop); the md5 gives a content-addressable chunk key for downstream
    dedup. Row growth is data-proportional and map-side only."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chunks = (F.length("text") - 1).cast("long") / F.lit(256)
    chunks = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.floor(n_chunks))
        ).alias("chunk_id"),
    )
    piece = F.expr("substring(text, CAST(chunk_id * 256 + 1 AS INT), 256)")
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.length(piece).cast("long").alias("chunk_len"),
        F.md5(piece).alias("chunk_md5"),
    )


CHUNK_WINDOW = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = 16)


@register(
    "q_text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tok,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents WHERE LENGTH(text) > 0
    ),
    starts AS (
      SELECT doc_id, tok, n, UNNEST(range(0, n, {CHUNK_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id, CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(LEAST(n - s, {CHUNK_WINDOW}) AS BIGINT) AS n_tok,
           md5(ARRAY_TO_STRING(tok[s + 1 : s + {CHUNK_WINDOW}], ' '))
             AS chunk_md5
    FROM starts
    WHERE s = 0 OR s < n - {CHUNK_WINDOW - CHUNK_STRIDE}
    """,
)
def q_text_chunk_overlap(spark, sf_dir):
    """Sliding-window TOKEN chunking with overlap — the context-window
    preparation shape for embedding/retrieval pipelines, where adjacent
    chunks share CHUNK_WINDOW − CHUNK_STRIDE tokens so no phrase is
    ever split across a hard boundary (``q_text_chunk_fixed`` is the
    overlap-free character variant).

    A start is emitted when it contributes tokens beyond the previous
    chunk's reach (``s < n − overlap``), so short documents yield
    exactly one chunk and no chunk is a suffix of its predecessor.
    Pure sequence+explode+slice — no UDF, map-side only, row growth
    bounded by ~n/STRIDE per doc at any scale."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("tok")
    ).withColumn("n", F.size("tok"))
    overlap = CHUNK_WINDOW - CHUNK_STRIDE
    starts = toks.select(
        "doc_id",
        "tok",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    ).filter((F.col("s") == 0) | (F.col("s") < F.col("n") - overlap))
    piece = F.slice("tok", F.col("s") + 1, CHUNK_WINDOW)
    return starts.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.least(F.col("n") - F.col("s"), F.lit(CHUNK_WINDOW))
        .cast("long")
        .alias("n_tok"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


PACK_BUDGET = 2048


@register(
    "q_pack_greedy_sequential",
    oracle=f"""
    WITH RECURSIVE ordered AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, tok, rn,
             CAST(0 AS BIGINT) AS bin_id, tok AS binsum
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.source, o.doc_id, o.tok, o.rn,
             CASE WHEN p.binsum + o.tok > {PACK_BUDGET}
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.binsum + o.tok > {PACK_BUDGET}
                  THEN o.tok ELSE p.binsum + o.tok END
      FROM packed p
      JOIN ordered o ON o.source = p.source AND o.rn = p.rn + 1
    )
    SELECT source, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS sum_tokens,
           ROUND(CAST(SUM(tok) AS DOUBLE) / {PACK_BUDGET}, 4) AS fill_ratio,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, bin_id
    """,
)
def q_pack_greedy_sequential(spark, sf_dir):
    """Sequence packing: greedily pack documents (in stable doc_id order,
    per source shard) into fixed token-budget bins — the LLM-pretraining
    step that turns a corpus into fixed-length training sequences with
    minimal padding. The running-sum-with-reset is inherently sequential
    per shard, so it is expressed as applyInPandas per source (each shard
    packs independently and in parallel — exactly how a 100 TB corpus is
    packed: sequentially within a shard, embarrassingly parallel across
    shards). The oracle states the same recurrence as a recursive CTE.
    An oversized doc gets its own bin (fill_ratio > 1) rather than being
    split."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, binsum = 0, 0
        for tok in pdf["tok"]:
            if binsum > 0 and binsum + tok > PACK_BUDGET:
                bin_id += 1
                binsum = 0
            binsum += tok
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    packed = docs.groupBy("source").applyInPandas(
        pack, "source string, doc_id long, tok long, bin_id long"
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
        F.round(F.sum("tok").cast("double") / PACK_BUDGET, 4).alias(
            "fill_ratio"
        ),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "q_pipeline_clean_corpus",
    oracle="""
    WITH deduped AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY md5(text) ORDER BY doc_id
      ) AS rn
      FROM documents
    ),
    kept AS (
      SELECT source, lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS uniq_tok
      FROM deduped
      WHERE rn = 1 AND n_chars >= 50
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(uniq_tok AS DOUBLE) / tok), 4) AS avg_uniq_ratio
    FROM kept
    WHERE tok >= 10 AND CAST(uniq_tok AS DOUBLE) / tok > 0.3
    GROUP BY source, lang
    """,
)
def q_pipeline_clean_corpus(spark, sf_dir):
    """End-to-end corpus cleaning pipeline in one plan: exact dedup (keep
    lowest doc_id per content hash), length filter, token-count and
    lexical-diversity quality gates, then per-source/lang accounting —
    the composed shape of a pretraining data-prep job. Everything is
    declarative (window dedup + filters + one aggregation), so Catalyst
    pipelines the whole thing into two shuffles (hash partition for the
    dedup window, final group-by) with all filters pushed between them."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    toks = F.split("text", " ")
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_chars") >= 50))
        .select(
            "source",
            "lang",
            "doc_id",
            F.size(toks).cast("long").alias("tok"),
            F.size(F.array_distinct(toks)).cast("long").alias("uniq_tok"),
        )
    )
    ratio = F.col("uniq_tok").cast("double") / F.col("tok")
    return (
        kept.filter((F.col("tok") >= 10) & (ratio > 0.3))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("total_tokens"),
            F.round(F.avg(ratio), 4).alias("avg_uniq_ratio"),
        )
    )


@register(
    "q_text_fuzzy_levenshtein",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, n_chars // 25 AS blk,
             string_split(text, ' ')[1] AS tok0,
             substr(text, 1, 40) AS pfx
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
           ROUND(1.0 - levenshtein(a.pfx, b.pfx) / 40.0, 4) AS prefix_sim
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.blk = b.blk AND a.tok0 = b.tok0
         AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= 10
    """,
)
def q_text_fuzzy_levenshtein(spark, sf_dir):
    """Blocked fuzzy matching by edit distance: candidate pairs come from
    a cheap blocking key (language × fine length bucket × first token),
    then the quadratic levenshtein runs only within blocks — the classic
    record-linkage shape that turns an O(n²) corpus comparison into
    sum-over-blocks O(b²). The distance runs on a fixed 40-char prefix
    so per-pair cost is bounded no matter how long documents get.
    At scale the block key is the shuffle key; a hot block (one giant
    language) is the skew risk, so the key is refined — 25-char length
    buckets plus the document's first token — rather than salted,
    because blocking keys are semantic: first-token equality is a real
    similarity signal for near-duplicate prose (an edit-distance-10
    prefix match that disagrees on the leading word is already spending
    most of its budget), whereas a salt would split true pairs at
    random. test_levenshtein_blocking_bounds_hot_block pins the skew
    bound on a single-language fixture. levenshtein() is JVM-side (no
    Python in the pair loop), and the Spark side passes the threshold so
    the banded O(k·n) algorithm early-abandons hopeless pairs instead of
    filling the full O(n²) DP table — the threshold must be well under
    the string length for the band to prune (k=10 on 40 chars ≈ 2× fewer
    cells, with most pairs abandoned after a few rows)."""
    d = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 25).cast("long").alias("blk"),
            F.split("text", " ").getItem(0).alias("tok0"),
            F.substring("text", 1, 40).alias("pfx"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"), 10)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.tok0") == F.col("b.tok0"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist >= 0)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_dist"),
            F.round(1.0 - dist / F.lit(40.0), 4).alias("prefix_sim"),
        )
    )


@register(
    "q_mix_source_weights",
    oracle="""
    WITH weighted AS (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS BIGINT) AS src_k,
             10 + (CAST(substr(source, 4) AS BIGINT) * 7) % 15 AS w10
      FROM documents
    ),
    mixed AS (
      SELECT doc_id, source
      FROM weighted,
           UNNEST(range(0, w10 // 10 + CASE WHEN doc_id % 10 < w10 % 10
                                            THEN 1 ELSE 0 END)) AS u(i)
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_mixed,
           ROUND(COUNT(*) * 1.0 / COUNT(DISTINCT doc_id), 4) AS realized_ratio
    FROM mixed
    GROUP BY source
    """,
)
def q_mix_source_weights(spark, sf_dir):
    """Training-mix construction by source weight (epoch upsampling):
    each source gets a deterministic sampling weight in [1.0, 2.4] —
    here derived arithmetically from the source id so the oracle computes
    the identical mix — and every document is repeated floor(w) times
    plus one more for a doc-hash fraction of the source (fractional
    epochs without randomness). explode(sequence(...)) materializes the
    repetition map-side with data-proportional row growth; the only
    shuffle is the final per-source audit aggregation. This is the
    deterministic version of weighted sampling used to rebalance corpus
    mixtures before tokenization — reproducible across runs and
    cluster sizes because the repeat count is a pure function of the
    row, not of an RNG stream."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    src_k = F.substring("source", 4, 10).cast("long")
    w10 = F.lit(10) + (src_k * 7) % 15
    n_copies = (w10 / 10).cast("long") + F.when(
        F.col("doc_id") % 10 < w10 % 10, 1
    ).otherwise(0)
    mixed = docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), n_copies.cast("int"))).alias("copy"),
    )
    return mixed.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_mixed"),
        F.round(
            F.count(F.lit(1)) * 1.0 / F.countDistinct("doc_id"), 4
        ).alias("realized_ratio"),
    )


# per-language sampling rates for the deterministic stratified sample
STRAT_PCT = {"en": 30, "es": 50, "de": 50, "fr": 70, "zh": 90}


def _strat_pct_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in STRAT_PCT.items()
    )
    return f"CASE {col} {branches} ELSE 0 END"


@register(
    "q_sample_stratified_hash",
    oracle=f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < {_strat_pct_sql("lang")}
    GROUP BY lang
    """,
)
def q_sample_stratified_hash(spark, sf_dir):
    """Deterministic stratified sampling: per-language rates applied via
    a key-hash threshold instead of Bernoulli draws — the reproducible
    twin of sampleBy (q_sample_stratified) that an oracle CAN check and
    a backfill CAN resume, because membership is a pure function of the
    row key and the rate table. The rate lookup is a CASE over a
    broadcast-sized literal map; the whole operator is one map-side
    filter plus the audit aggregation — nothing shuffles but the final
    per-stratum counts."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = F.lit(0)
    for k, v in STRAT_PCT.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


AES_K = 64  # weighted-sample size


@register(
    "q_sample_weighted_aes",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(
               -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 0.5) / 4294967296.0) / n_chars,
               9) AS sel_key
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight, sel_key,
           CAST(ROW_NUMBER() OVER (ORDER BY sel_key, doc_id) AS BIGINT)
             AS sample_rank
    FROM keyed
    QUALIFY sample_rank <= {AES_K}
    """,
)
def q_sample_weighted_aes(spark, sf_dir):
    """Weighted reservoir sampling without replacement (Efraimidis–
    Spirakis A-ES): each doc draws a deterministic uniform u from its
    key hash and competes with exponential key -ln(u)/w, w = n_chars —
    the {AES_K} smallest keys ARE a length-weighted sample without
    replacement, the primitive behind length- or quality-proportional
    training-mix construction. The hash-derived u (same md5 recipe as
    q_sample_hash_percent) makes membership a pure function of the row
    key: resumable, backfill-stable, and oracle-checkable, unlike
    rand()-based weighted sampling. Keys are rounded to 9 decimals
    BEFORE ranking so cross-engine float ulps can't flip the order;
    ties break on doc_id. Scale shape: the key is a map-side
    expression and the global top-{AES_K} is a constant-k
    rank-then-filter Spark rewrites to TakeOrderedAndProject
    (per-partition heap + single merge) — no corpus-wide shuffle, no
    single-partition window, at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )
    u = (bucket + F.lit(0.5)) / F.lit(4294967296.0)
    keyed = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("weight"),
        F.round(-F.log(u) / F.col("n_chars"), 9).alias("sel_key"),
    )
    w = W.orderBy("sel_key", "doc_id")
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= AES_K)
    )


# --- unigram LM perplexity-proxy quality scoring -------------------------


@register(
    "q_text_perplexity_unigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    lm AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tok GROUP BY token),
    total AS (SELECT SUM(cnt) AS n FROM lm)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-LOG2(lm.cnt / total.n)), 4) AS bits_per_token
    FROM tok t JOIN lm ON lm.token = t.token CROSS JOIN total
    GROUP BY t.doc_id
    """,
)
def q_text_perplexity_unigram(spark, sf_dir):
    """Perplexity-proxy quality scoring: train a corpus-wide unigram LM
    (token relative frequencies) and score each document by its mean
    cross-entropy in bits/token — the cheap stand-in for a KenLM quality
    filter in training-data pipelines. Two aggregations plus one
    token-key join, all JVM-side.

    Scale notes: the LM table is vocab-sized (sublinear in corpus) —
    broadcast it when it fits, else this is a shuffle join on `token`
    whose heavy hitters (stopwords) are exactly the keys AQE's skew-join
    splitting handles. The grand-total N is a one-row broadcast cross
    join, never a driver collect."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    lm = tok.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("n"))
    scored = tok.join(F.broadcast(lm), "token").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg(-F.log2(F.col("cnt") / F.col("n"))), 4).alias("bits_per_token"),
    )


VOCAB_TOP = 40


@register(
    "q_text_vocab_coverage",
    oracle=f"""
    WITH lm AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, token
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS n
      FROM lm
    )
    SELECT token, cnt, CAST(rank AS BIGINT) AS rank,
           ROUND(CAST(cum AS DOUBLE) / n, 6) AS cum_coverage
    FROM ranked WHERE rank <= {VOCAB_TOP}
    """,
)
def q_text_vocab_coverage(spark, sf_dir):
    """Vocabulary construction: rank tokens by corpus frequency and
    report each prefix's cumulative coverage of all token occurrences —
    the curve a tokenizer-vocab or stopword-list decision reads.

    The global rank/cumsum window runs on the vocab-sized aggregate
    (sublinear in corpus), and only after map-side partial aggregation;
    the single-partition window is bounded by vocab, not data. The
    total-occurrences denominator rides the same window (SUM OVER ()),
    so no second pass over the tokens."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    lm = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.orderBy(F.desc("cnt"), "token")
    ranked = lm.select(
        "token",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )
    return ranked.filter(F.col("rank") <= VOCAB_TOP).select(
        "token",
        "cnt",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("cum").cast("double") / F.col("n"), 6).alias("cum_coverage"),
    )


# --- Python UDTF: sliding word-window chunking ----------------------------

WIN_SIZE, WIN_STRIDE = 32, 8


@register(
    "q_udtf_word_windows",
    oracle=f"""
    SELECT doc_id, CAST(i AS BIGINT) AS win_idx,
           CAST(LEN(list_slice(parts, i * {WIN_STRIDE} + 1,
                               i * {WIN_STRIDE} + {WIN_SIZE})) AS BIGINT) AS n_words,
           md5(ARRAY_TO_STRING(list_slice(parts, i * {WIN_STRIDE} + 1,
                                          i * {WIN_STRIDE} + {WIN_SIZE}), ' ')) AS win_md5
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS parts FROM documents),
         UNNEST(range(0, (LEN(parts) + {WIN_STRIDE} - 1) // {WIN_STRIDE})) AS u(i)
    """,
)
def q_udtf_word_windows(spark, sf_dir):
    """Overlapping word-window chunking (window {WIN_SIZE}, stride
    {WIN_STRIDE}) — the sliding-context sharding step for embedding /
    long-context pipelines — implemented as a Python UDTF consumed
    through a LATERAL join, exercising Spark's user-defined *table*
    function surface (one input row → many output rows with per-row
    Python state, where explode+sequence would need the whole window
    materialized as an array column).

    Scale notes: the UDTF runs data-parallel per partition like any
    map-side op; per-doc fan-out is bounded by doc length. The same
    semantics are available UDF-free via sequence+explode+slice (that
    form is the oracle) — the UDTF form is the extension-API
    demonstration."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="win_idx: bigint, n_words: bigint, win_md5: string")
    class WordWindows:
        def eval(self, text: str):
            import hashlib

            words = (text or "").split(" ")
            for i in range((len(words) + WIN_STRIDE - 1) // WIN_STRIDE):
                w = words[i * WIN_STRIDE : i * WIN_STRIDE + WIN_SIZE]
                yield i, len(w), hashlib.md5(" ".join(w).encode()).hexdigest()

    spark.udtf.register("word_windows", WordWindows)
    load(spark, sf_dir, "documents").createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, w.win_idx, w.n_words, w.win_md5 "
        "FROM __docs_for_udtf d, LATERAL word_windows(d.text) w"
    )


# --- benchmark decontamination: n-gram overlap vs a held-out set ----------

CONTAM_N = 5                       # shingle width (words)
EVAL_SOURCES = ("src0", "src1")    # the held-out "benchmark" slice


@register(
    "q_text_contamination_ngram",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id, source,
             ARRAY_TO_STRING(list_slice(w, i, i + {CONTAM_N - 1}), ' ') AS g
      FROM tok, UNNEST(range(1, LEN(w) - {CONTAM_N - 1} + 1)) AS u(i)
    ),
    eval_sh AS (SELECT DISTINCT g FROM sh
                WHERE source IN ('{EVAL_SOURCES[0]}', '{EVAL_SOURCES[1]}')),
    train_sh AS (SELECT doc_id, g, COUNT(*) AS n_g FROM sh
                 WHERE source NOT IN ('{EVAL_SOURCES[0]}', '{EVAL_SOURCES[1]}')
                 GROUP BY doc_id, g),
    tot AS (SELECT doc_id, CAST(SUM(n_g) AS BIGINT) AS n_shingles FROM train_sh
            GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(SUM(t.n_g) AS BIGINT) AS n_contaminated,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_hits,
           ROUND(CAST(SUM(t.n_g) AS DOUBLE) / ANY_VALUE(tot.n_shingles), 6)
             AS contamination
    FROM train_sh t JOIN eval_sh e ON t.g = e.g
      JOIN tot ON tot.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def q_text_contamination_ngram(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    {CONTAM_N}-gram with a held-out evaluation slice, reporting overlap
    counts and the contaminated fraction of each document's shingles —
    the standard pre-training hygiene pass (eval-set leakage detection).

    Scale notes: the eval side reduces to DISTINCT shingles (bounded by
    the benchmark suite, megabytes not terabytes) — broadcast it; the
    train side then never shuffles its full shingle stream, only its
    per-doc aggregates. A seen-at-eval Bloom filter is the drop-in
    replacement when even distinct eval shingles outgrow broadcast.
    The twin op q_dedup_decontaminate (dedup.py) is the admission-
    verdict form: one row per training doc including the clean ones,
    trigram shingles shared with the dedup family, and the equi-join
    shape that needs no broadcastability assumption."""
    docs = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    tok = docs.select("doc_id", "source", w.alias("w"))
    n_sh = F.greatest(F.size("w") - (CONTAM_N - 1), F.lit(0))
    sh = tok.filter(n_sh >= 1).select(
        "doc_id",
        "source",
        "w",
        F.explode(F.sequence(F.lit(1), n_sh)).alias("i"),
    ).select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice("w", F.col("i"), CONTAM_N)).alias("g"),
    )
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    eval_sh = sh.filter(is_eval).select("g").distinct()
    train_sh = (
        sh.filter(~is_eval).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n_g"))
    )
    tot = train_sh.groupBy("doc_id").agg(F.sum("n_g").cast("long").alias("n_shingles"))
    hits = train_sh.join(F.broadcast(eval_sh), "g")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum("n_g").cast("long").alias("n_contaminated"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_hits"),
        )
        .join(tot, "doc_id")
        .select(
            "doc_id",
            "n_contaminated",
            "n_distinct_hits",
            F.round(F.col("n_contaminated").cast("double") / F.col("n_shingles"), 6)
              .alias("contamination"),
        )
    )


# --- BPE trainer step: weighted adjacent-pair counting --------------------

BPE_TOP = 25


@register(
    "q_text_bpe_merge_step",
    oracle=f"""
    WITH wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
      WHERE LENGTH(word) >= 2 GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, SUM(freq) AS total
      FROM wf, UNNEST(range(1, LENGTH(word))) AS u(i)
      GROUP BY substr(word, CAST(i AS INT), 2)
    )
    SELECT pair, CAST(total AS BIGINT) AS total,
           CAST(ROW_NUMBER() OVER (ORDER BY total DESC, pair) AS BIGINT) AS rank
    FROM pairs ORDER BY total DESC, pair LIMIT {BPE_TOP}
    """,
)
def q_text_bpe_merge_step(spark, sf_dir):
    """One BPE-trainer merge round: count adjacent symbol pairs across
    the corpus weighted by word frequency and rank the merge candidates
    — the inner loop of byte-pair-encoding tokenizer training, starting
    from the character vocabulary.

    Scale notes: the pair stream is generated from the WORD-FREQUENCY
    table, not the raw corpus — the classic BPE optimization (corpus
    tokens collapse to distinct words first, so each merge round costs
    O(vocab · word_len), not O(corpus)). Both aggregations combine
    map-side; the final top-k is a sort over the small pair table."""
    docs = load(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        # length >= 2: single chars yield no pairs, and Spark's
        # sequence(1, 0) would generate a DESCENDING [1, 0] run
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = (
        wf.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("total"))
    )
    w = W.orderBy(F.desc("total"), "pair")
    return (
        pairs.select("pair", "total", F.row_number().over(w).cast("long").alias("rank"))
        .filter(F.col("rank") <= BPE_TOP)
    )


# --- BPE tokenizer: train merges, then ENCODE the corpus ------------------

BPE_ENC_MERGES = 10
_BPE_D = "·"  # symbol delimiter; outside the corpus alphabet (ASCII)


def _bpe_chain_sql(n_merges: int = BPE_ENC_MERGES, base_sql: str | None = None) -> str:
    """Machine-generated chained-CTE replay of the BPE trainer: v0 =
    per-word character symbols, then for each step m a 1-row best pair
    b{m} and the rewritten vocab v{m} via a delimited-string fold with
    greedy leftmost merge semantics. Shared by the encode / vocab /
    fertility oracles so the three replay ONE trainer definition (and,
    via ``base_sql``, by the byte-level trainer, whose v0 carries hex
    byte symbols from the regex pre-tokenizer instead — the merge
    levels are symbol-agnostic). Every level is MATERIALIZED: each
    references the previous twice (pair count + rewrite), so inlining
    would re-evaluate the chain exponentially (measured: 'Too many
    open files' at depth 10)."""
    d = _BPE_D
    if base_sql is None:
        base_sql = f"""
    WITH wf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, CAST(i AS INT), 1)) AS syms
      FROM wf
    )"""
    parts = [base_sql]
    for m in range(1, n_merges + 1):
        p = m - 1
        parts.append(
            f""",
    b{m} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT syms[CAST(u.i AS INT)] AS a,
               syms[CAST(u.i AS INT) + 1] AS b,
               SUM(freq) AS total
        FROM v{p}, UNNEST(range(1, len(syms))) AS u(i)
        GROUP BY 1, 2
      ) ORDER BY total DESC, a || '{d}' || b LIMIT 1
    ),
    -- always exactly one row (subqueries are banned inside DuckDB
    -- lambdas, and an empty b{m} must be a no-op, not an empty join):
    -- '' never matches a symbol, so an exhausted vocab passes through
    bx{m} AS MATERIALIZED (
      SELECT COALESCE((SELECT a FROM b{m}), '') AS ba,
             COALESCE((SELECT b FROM b{m}), '') AS bb
    ),
    v{m} AS MATERIALIZED (
      SELECT word, freq,
             list_filter(string_split(
               list_reduce(list_prepend('{d}', syms), (acc, x) ->
                 CASE WHEN x = bb
                       AND ends_with(acc, '{d}' || ba || '{d}')
                      THEN left(acc, length(acc) - length(ba) - 1)
                           || ba || bb || '{d}'
                      ELSE acc || x || '{d}' END),
               '{d}'), x -> x <> '') AS syms
      FROM v{p}, bx{m}
    )"""
        )
    return "".join(parts)


def _bpe_encode_oracle(n_merges: int = BPE_ENC_MERGES) -> str:
    return (
        _bpe_chain_sql(n_merges)
        + f""",
    enc AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok,
             CAST(list_max(list_transform(syms, x -> length(x)))
                  AS BIGINT) AS mx
      FROM v{n_merges}
    ),
    tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_tok) AS BIGINT) AS n_bpe_tokens,
           CAST(MAX(e.mx) AS BIGINT) AS max_token_len
    FROM tok t JOIN enc e ON e.word = t.word
    WHERE t.word <> ''
    GROUP BY t.doc_id"""
    )


# The trainer's M merge rounds (pair-count aggregate + 1-row collect +
# checkpointed fold each) are identical for every BPE entry on the same
# corpus; encode, vocab, fertility, and decode all reuse one trained
# (vocab, merges).
@memoized("bpe_train")
def _bpe_train_cached(spark, sf_dir):
    return _bpe_train(load(spark, sf_dir, "documents"))


def _bpe_train(docs):
    """Shared Spark-side trainer (the single source of truth the BPE
    entries compose, via _bpe_train_cached): returns (encoded vocab
    DataFrame with word/freq/syms, merge list [(a, b)]). See
    q_text_bpe_encode's docstring for the scale/determinism contract."""
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    v = wf.withColumn(
        "syms", F.expr("filter(split(word, ''), x -> x <> '')")
    ).localCheckpoint(eager=True)
    return _bpe_merge_rounds(v, BPE_ENC_MERGES)


def _bpe_merge_rounds(v, n_merges: int):
    """The symbol-agnostic BPE merge loop shared by the char-level and
    byte-level trainers: n_merges rounds of (adjacent-pair count over
    the vocab-bounded symbol table, 1-row top-pair collect, JVM fold
    rewrite, checkpoint). Returns (rewritten vocab, merge list)."""
    d = _BPE_D

    def _sq(s: str) -> str:
        return s.replace("'", "''")

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            v.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] as a, syms[i+1] as b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("total"))
        )
        top = (
            pairs.orderBy(
                F.desc("total"), F.concat(F.col("a"), F.lit(d), F.col("b"))
            )
            .limit(1)
            .collect()
        )
        if not top:  # vocab fully merged: oracle's NULL pair is a no-op too
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        fold = (
            f"aggregate(syms, '{d}', (acc, x) -> "
            f"CASE WHEN x = '{_sq(b)}' AND endswith(acc, '{d}{_sq(a)}{d}') "
            f"THEN concat(left(acc, length(acc) - {len(a)} - 1), "
            f"'{_sq(a)}{_sq(b)}{d}') "
            f"ELSE concat(acc, x, '{d}') END)"
        )
        # EAGER (round 15, reverting round 14's lazy form): the rewritten
        # vocab feeds BOTH the next round's pair-count collect AND the
        # caller's encode join — the same two-consumer race WordPiece hit
        # (round 14 measured and reverted it there but not here; the r14
        # suite record shows bpe/bbpe encode cells 2x slower under the
        # lazy form, exactly the race signature)
        v = (
            v.withColumn(
                "syms", F.expr(f"filter(split({fold}, '{d}'), x -> x <> '')")
            )
            .localCheckpoint(eager=True)
        )
    return v, merges


@register("q_text_bpe_encode", oracle=_bpe_encode_oracle())
def q_text_bpe_encode(spark, sf_dir):
    """BPE tokenizer ENCODE (Sennrich et al. 2016): train
    {BPE_ENC_MERGES} merges on the corpus, then apply the trained merge
    list to tokenize every document — the single most common map in an
    LLM data pipeline, and the companion to q_text_bpe_merge_step's
    one-round trainer. Per-document output: word count, BPE token count
    after merging, and the longest learned token.

    Everything iterates over the VOCAB-BOUNDED word-frequency table,
    never the corpus: each merge round is (a) an adjacent-pair count
    over the current symbol arrays (map-side combinable; the vocab
    relation is |distinct words|, orders of magnitude below corpus
    rows), (b) a 1-row top-pair collect — M = {BPE_ENC_MERGES} rows
    total over the whole query, the same constant bound class as the
    IVF centroid collects — and (c) a JVM-side fold (aggregate over a
    '{_BPE_D}'-delimited string, greedy leftmost like the reference BPE:
    'aaa' under merge (a,a) -> [aa, a]) that rewrites each word's
    symbols. localCheckpoint per round keeps the M-step lineage from
    re-executing quadratically. The corpus is touched exactly once at
    the end: explode to words, equi-join the encoded vocab (AQE decides
    the strategy — the vocab side grows with corpus vocabulary, so no
    forced broadcast), one per-doc aggregate. The oracle replays the
    identical trainer with chained CTEs + scalar-subquery best pairs;
    tie-breaks are (total DESC, a||'{_BPE_D}'||b ASC) on both engines.
    Delimiter '{_BPE_D}' is outside the fixture's ASCII alphabet —
    symbols never contain it."""
    docs = load(spark, sf_dir, "documents")
    v, _merges = _bpe_train_cached(spark, sf_dir)
    enc = v.select(
        "word",
        F.size("syms").cast("long").alias("n_tok"),
        F.expr("array_max(transform(syms, x -> length(x)))")
        .cast("long")
        .alias("mx"),
    )
    tokw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        tokw.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
            F.max("mx").cast("long").alias("max_token_len"),
        )
    )



def _bpe_vocab_oracle(n_merges: int = BPE_ENC_MERGES) -> str:
    steps = "\n    UNION ALL\n".join(
        f"    SELECT CAST({m} AS BIGINT) AS step, a, b FROM b{m}"
        for m in range(1, n_merges + 1)
    )
    return _bpe_chain_sql(n_merges) + f"""
{steps}"""


@register("q_text_bpe_vocab", oracle=_bpe_vocab_oracle())
def q_text_bpe_vocab(spark, sf_dir):
    """The trained BPE merge list itself — the merges.txt artifact a
    tokenizer ships: step number and the (a, b) symbol pair fused at
    that step, in training order. Composes the shared trainer
    (_bpe_train, the same loop q_text_bpe_encode runs) and emits its
    constant-bounded merge log as a {BPE_ENC_MERGES}-row DataFrame; the
    oracle replays the chain and unions the per-step best-pair CTEs, so
    a tie-break or fold divergence at ANY step flips this gate even if
    downstream token counts happen to collide."""
    docs = load(spark, sf_dir, "documents")
    _v, merges = _bpe_train_cached(spark, sf_dir)
    rows = [(m + 1, a, b) for m, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "step long, a string, b string")


def _bpe_fertility_oracle(n_merges: int = BPE_ENC_MERGES) -> str:
    return (
        _bpe_chain_sql(n_merges)
        + f""",
    enc AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM v{n_merges}
    ),
    tok AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(e.n_tok) * 10000 // COUNT(*) AS BIGINT)
             AS fertility_e4
    FROM tok t JOIN enc e ON e.word = t.word
    WHERE t.word <> ''
    GROUP BY t.lang"""
    )


@register("q_text_token_fertility", oracle=_bpe_fertility_oracle())
def q_text_token_fertility(spark, sf_dir):
    """Tokenizer fertility by language: BPE tokens emitted per word —
    the standard multilingual-tokenizer equity audit (a tokenizer
    trained on one language's statistics fragments the others into more
    tokens, inflating their effective sequence length and training
    cost). Composes the shared trainer + encoded vocab with a per-lang
    corpus aggregate; fertility is exact integer e4 (tokens*1e4 div
    words, positive operands). Same plan shape as q_text_bpe_encode
    with the final grain at |languages| instead of |docs|."""
    docs = load(spark, sf_dir, "documents")
    v, _merges = _bpe_train_cached(spark, sf_dir)
    enc = v.select("word", F.size("syms").cast("long").alias("n_tok"))
    tokw = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        tokw.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("(n_tokens * 10000) div n_words")
            .cast("long")
            .alias("fertility_e4"),
        )
    )


KN_D_E4 = 7500  # Kneser-Ney absolute discount 0.75, e4 fixed-point
KN_TOP = 25


@register(
    "q_text_kneser_ney",
    oracle=f"""
    WITH bg AS (
      SELECT tl[CAST(u.i AS INT)] AS w1, tl[CAST(u.i AS INT) + 1] AS w2
      FROM (SELECT string_split(text, ' ') AS tl FROM documents),
           UNNEST(range(1, len(tl))) AS u(i)
      WHERE tl[CAST(u.i AS INT)] <> '' AND tl[CAST(u.i AS INT) + 1] <> ''
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_left
             FROM c12 GROUP BY w2),
    fert AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_right
             FROM c12 GROUP BY w1),
    ndd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndd FROM c12),
    p AS (
      SELECT g.w1, g.w2, g.c12,
             CAST((GREATEST(g.c12 * 10000 - {{KN_D_E4}}, 0)::HUGEINT
                     * n.ndd::HUGEINT
                   + {{KN_D_E4}}::HUGEINT * f.n_right::HUGEINT
                     * ct.n_left::HUGEINT)
                  * 1000000000
                  // (c.c1::HUGEINT * 10000 * n.ndd::HUGEINT)
                  AS BIGINT) AS p_kn_e9
      FROM c12 g
      JOIN c1 c ON c.w1 = g.w1
      JOIN fert f ON f.w1 = g.w1
      JOIN cont ct ON ct.w2 = g.w2
      CROSS JOIN ndd n
    )
    SELECT w1, w2, c12, p_kn_e9
    FROM p ORDER BY c12 DESC, w1, w2 LIMIT {{KN_TOP}}
    """.format(KN_D_E4=KN_D_E4, KN_TOP=KN_TOP),
)
def q_text_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities for the corpus's
    top-{KN_TOP} bigrams — the smoothing that made n-gram LMs
    competitive (Kneser & Ney 1995; Chen & Goodman 1998) and the
    quality-scoring upgrade over the add-one bigram scorer
    (q_text_perplexity_bigram): continuation counts replace raw
    unigram frequency, so "francisco" stops looking probable after
    everything.

    p_KN(w2|w1) = max(c12 - D, 0)/c1 + D * n_right(w1)/c1 * p_cont(w2)
    with p_cont = n_left(w2) / |bigram types| and D = 0.75, computed as
    ONE exact integer expression: numerator and denominator are
    cross-multiplied to a common denominator in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — the established widening pair whose integer
    division semantics match exactly (q_agg_lorenz_curve precedent; a
    BIGINT e9 product overflows at the 16x probe's bigram-type count).
    All inputs are map-side-combinable counts over the VOCAB^2-bounded
    bigram-type relation; the top-{KN_TOP} cut is orderBy+limit, which
    Spark executes as TakeOrderedAndProject (per-partition top-k +
    merge, no single-partition window)."""
    docs = load(spark, sf_dir, "documents")
    # adjacent pairs straight from the split array — one explode, no
    # corpus self-join (ws is 0-indexed in Spark SQL expressions)
    ws = docs.select(F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    bg = ws.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] as w1, ws[i+1] as w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2").filter(
        (F.col("w1") != "") & (F.col("w2") != "")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n_left"))
    fert = c12.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n_right"))
    ndd = c12.agg(F.count(F.lit(1)).cast("long").alias("ndd"))
    p = (
        c12.join(c1, "w1")
        .join(fert, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ndd))  # 1-row bigram-type-count attach
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(
                f"cast((cast(greatest(c12 * 10000 - {KN_D_E4}, 0) as decimal(38,0))"
                f" * ndd"
                f" + cast({KN_D_E4} as decimal(38,0)) * n_right * n_left)"
                f" * 1000000000"
                f" div (cast(c1 as decimal(38,0)) * 10000 * ndd) as bigint)"
            ).alias("p_kn_e9"),
        )
    )
    return p.orderBy(F.desc("c12"), "w1", "w2").limit(KN_TOP)


N_SHUFFLE_SHARDS = 16


@register(
    "q_text_shuffle_shard",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR) || ':shuffle') AS skey
      FROM documents
    )
    SELECT doc_id,
           CAST(STRPOS('0123456789abcdef', substr(skey, 1, 1)) - 1 AS BIGINT)
             AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY STRPOS('0123456789abcdef', substr(skey, 1, 1))
             ORDER BY skey) AS BIGINT) AS pos,
           source
    FROM keyed
    """,
)
def q_text_shuffle_shard(spark, sf_dir):
    """Deterministic corpus shuffle + sharding — the final export step of
    a training-data pipeline: every document gets a pseudo-random but
    reproducible position (md5 of its id under a fixed salt) and a shard
    (first hex nibble of the key, {N_SHUFFLE_SHARDS} shards). No global
    sort anywhere: sharding is a hash partition and ordering is a
    per-shard sort — exactly what write.partitionBy("shard") +
    sortWithinPartitions(key) does at 100 TB, where a single global
    ORDER BY would funnel the corpus through one range-partitioned
    shuffle. Salted key (not raw md5(doc_id)) so re-exports with a new
    salt draw an independent permutation."""
    docs = load(spark, sf_dir, "documents")
    skey = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle")))
    keyed = docs.select("doc_id", "source", skey.alias("skey"))
    shard = (F.instr(F.lit("0123456789abcdef"), F.substring("skey", 1, 1)) - 1).cast(
        "long"
    )
    from pyspark.sql import Window as W

    pos = F.row_number().over(W.partitionBy("shard").orderBy("skey")).cast("long")
    return (
        keyed.withColumn("shard", shard)
        .withColumn("pos", pos)
        .select("doc_id", "shard", "pos", "source")
    )


N_CAP_SALTS = 8


@register(
    "q_text_source_cap_salted",
    oracle=f"""
    SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= {SOURCE_CAP}
    """,
)
def q_text_source_cap_salted(spark, sf_dir):
    """The skew-proof two-level form of q_text_source_cap, producing
    IDENTICAL output (same oracle): a mega-source would make the single
    ranking window one hot partition, so stage 1 ranks per (source,
    salt) — {N_CAP_SALTS}-way spread of every source — and keeps each
    salt's top {SOURCE_CAP}, a guaranteed superset of the global top
    {SOURCE_CAP}; stage 2 re-ranks only the ≤ cap×salts survivors per
    source. The heavy shuffle moves (source, salt)-partitioned rows;
    the skewed key only ever sees cap×salts rows in stage 2 — the same
    two-level trick as salted aggregation, applied to a ranking window.
    """
    docs = load(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.hash("doc_id"), F.lit(N_CAP_SALTS))
    w1 = W.partitionBy("source", "salt").orderBy("key", "doc_id")
    stage1 = (
        docs.select("source", "doc_id", key.alias("key"), salt.alias("salt"))
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= SOURCE_CAP)
    )
    w2 = W.partitionBy("source").orderBy("key", "doc_id")
    return (
        stage1.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("source", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


HH_K = 200  # Misra-Gries summary capacity per partition


def _mg_partial(batches):
    """Misra-Gries partial summary over one partition's token batches.

    Bounded memory: at most HH_K counters survive each batch (the
    generalized reduction subtracts the (K+1)-th largest count from
    everyone and keeps positives). Each reduction removes ≥ m*(K+1)
    total mass, so the sum of subtracted m's — the maximum undercount
    of any single token — is ≤ n_p/(K+1). The partition's TOTAL token
    count rides along as one sentinel row (token=NULL) so the global N
    needs no second scan of the corpus. Module-level so the theorem is
    unit-testable without Spark (tests/test_queries.py)."""
    import pandas as pd

    counts: dict[str, int] = {}
    n_p = 0
    for pdf in batches:
        n_p += len(pdf)
        for tok, c in pdf["token"].value_counts().items():
            counts[tok] = counts.get(tok, 0) + int(c)
        if len(counts) > HH_K:
            m = sorted(counts.values(), reverse=True)[HH_K]
            counts = {t: c - m for t, c in counts.items() if c > m}
    yield pd.DataFrame(
        {
            "token": pd.Series(list(counts) + [None], dtype="object"),
            "mg_count": pd.Series(list(counts.values()) + [n_p], dtype="int64"),
        }
    )


@register(
    "q_text_heavy_hitters",
    oracle=f"""
    WITH tokens AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM tokens),
    exact AS (SELECT token, COUNT(*) AS exact_count FROM tokens GROUP BY token)
    SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
           TRUE AS within_bound
    FROM exact, tot
    WHERE exact_count * {HH_K + 1} > n
    """,
)
def q_text_heavy_hitters(spark, sf_dir):
    """Approximate heavy hitters via a distributed Misra-Gries sketch:
    every token with frequency above N/(K+1) (K = {HH_K}), found without
    a full-vocabulary aggregation.

    This is the custom-sketch shape Spark lacks as a built-in: a
    BOUNDED-MEMORY streaming summary per partition (``mapInPandas``
    holds at most ~K counters however many tokens stream through),
    merged by an ordinary groupBy-sum over the ≤ K×partitions summary
    rows. Misra-Gries guarantees (a) per-partition undercount ≤
    n_p/(K+1), so globally exact − approx ≤ N/(K+1), and (b) every
    token with exact count > N/(K+1) survives in some summary. The
    query exposes both theorems as checkable contract columns: a heavy
    token missing from the candidate set would drop an output row (hash
    fail), and ``within_bound`` flips to false if the merged estimate
    ever undercounts by more than N/(K+1). Exact counts are computed
    for the CANDIDATE tokens only (a broadcast semi-join), never for
    the full vocabulary — at 100 TB the full-vocab groupBy this
    replaces is the shuffle you cannot afford, while candidates are
    bounded by K × n_partitions regardless of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    summaries = tokens.mapInPandas(_mg_partial, "token string, mg_count long")
    # ONE aggregation over the summaries (null sentinel included as its
    # own group) feeds both the candidate estimates and the global N.
    # It is localCheckpoint-ed because its two consumers land in
    # different AQE-planned subtrees (one inside the broadcast subquery)
    # where exchange reuse does not apply — without it the corpus-wide
    # sketch pass executes twice. The checkpoint is safe at any scale:
    # merged is bounded by K × n_partitions + 1 rows regardless of
    # corpus size. (On a cluster this would be checkpoint() or a cached
    # table; localCheckpoint is the local-mode form.)
    merged = (
        summaries.groupBy("token")
        .agg(F.sum("mg_count").alias("mg_sum"))
        .localCheckpoint(eager=True)
    )
    approx = merged.filter(F.col("token").isNotNull()).select(
        "token", F.col("mg_sum").alias("approx_count")
    )

    # exact counts for candidates only: broadcast the bounded candidate
    # set into a semi-join on the token stream, then aggregate
    candidates = approx.select("token")
    exact = (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    # N as a 1-row scalar attach (allowlisted broadcast NLJ shape)
    total = merged.filter(F.col("token").isNull()).select(
        F.col("mg_sum").alias("n")
    )
    return (
        exact.join(F.broadcast(approx), "token", "left_outer")
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") * (HH_K + 1) > F.col("n"))
        .select(
            "token",
            "exact_count",
            (
                (F.col("exact_count") - F.coalesce("approx_count", F.lit(0)))
                * (HH_K + 1)
                <= F.col("n")
            ).alias("within_bound"),
        )
    )


CM_DEPTH = 4  # Count-Min rows (independent hash functions)
CM_WIDTH = 2048  # Count-Min columns per row


def _cm_cells(token_col):
    """The CM_DEPTH (row, col) sketch cells for a token column, computed
    JVM-side: col_r = crc32("r:" || token) % CM_WIDTH. One expression
    serves both the build side and the point-lookup side, so the two can
    never disagree on a cell address."""
    return F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("r"),
                (
                    F.crc32(F.encode(F.concat(F.lit(f"{r}:"), token_col), "UTF-8"))
                    % CM_WIDTH
                ).alias("c"),
            )
            for r in range(CM_DEPTH)
        ]
    )


@register(
    "q_text_countmin",
    oracle=f"""
    WITH tokens AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM tokens),
    exact AS (SELECT token, COUNT(*) AS exact_count FROM tokens GROUP BY token)
    SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
           TRUE AS never_undercounts, TRUE AS within_eps
    FROM exact, tot
    WHERE exact_count * {HH_K + 1} > n
    """,
)
def q_text_countmin(spark, sf_dir):
    """Point-frequency estimation via a distributed Count-Min sketch —
    the companion to the Misra-Gries heavy-hitters summary: MG answers
    "which tokens are frequent", CM answers "how frequent is THIS token"
    without ever materializing the full vocabulary.

    Spark-first build: each token expands to its CM_DEPTH (row, col)
    cells (crc32 JVM-side, no Python anywhere) and a plain
    ``groupBy(r, c).count`` builds the sketch — the key domain is the
    fixed DEPTH x WIDTH grid, so hash aggregation combines map-side into
    at most 8192 groups per partition and the shuffle is
    corpus-size-INDEPENDENT. That is the whole trick: Spark's partial
    aggregation IS the sketch merge, no custom accumulator needed.
    Candidates come from the bounded Misra-Gries pass (reused
    ``_mg_partial``); their exact counts use a broadcast semi-join, and
    their CM estimates a broadcast lookup of CM_DEPTH cells each with
    ``min`` over rows. Contract columns expose both sketch theorems:
    ``never_undercounts`` (CM estimates only ever overcount — a strict
    guarantee) and ``within_eps`` (overcount <= 4N/WIDTH, the Markov
    bound taken to the 4th power by the min over CM_DEPTH independent
    rows; empirically the worst candidate overcount at sf0.1 is ~2% of
    the bound). A false on either — or a heavy token missing — flips the
    value hash.
    """
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    cells = tokens.select(F.explode(_cm_cells(F.col("token"))).alias("cell"))
    sketch = (
        cells.select("cell.r", "cell.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cm"))
        .localCheckpoint(eager=True)  # bounded: <= DEPTH*WIDTH rows; two consumers
    )
    # global N = total mass of any single sketch row
    total = sketch.filter(F.col("r") == 0).agg(F.sum("cm").alias("n"))

    # bounded candidate set from the Misra-Gries partial summaries
    summaries = tokens.mapInPandas(_mg_partial, "token string, mg_count long")
    candidates = (
        summaries.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("mg_count").alias("mg_sum"))
        .select("token")
        # bounded (<= HH_K x partitions rows) and consumed by BOTH the
        # exact semi-join and the cell lookup — without this the MG
        # corpus pass executes twice (same fix as q_text_heavy_hitters)
        .localCheckpoint(eager=True)
    )
    exact = (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    est = (
        candidates.select("token", F.explode(_cm_cells(F.col("token"))).alias("cell"))
        .join(F.broadcast(sketch), [F.col("cell.r") == F.col("r"), F.col("cell.c") == F.col("c")])
        .groupBy("token")
        .agg(F.min("cm").alias("cm_est"))
    )
    return (
        exact.join(F.broadcast(est), "token")
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") * (HH_K + 1) > F.col("n"))
        .select(
            "token",
            "exact_count",
            (F.col("cm_est") >= F.col("exact_count")).alias("never_undercounts"),
            (
                (F.col("cm_est") - F.col("exact_count")) * CM_WIDTH
                <= 4 * F.col("n")
            ).alias("within_eps"),
        )
    )


_LUHN_DD = "CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END"


def _luhn_sum_sql(s: str, n: int) -> str:
    """DuckDB: Luhn weighted digit sum of the length-``n`` digit string
    ``s``, doubling every second digit from the RIGHT (ISO/IEC 7812)."""
    d = f"CAST(substr(reverse({s}), CAST(j AS INT), 1) AS BIGINT)"
    return (
        f"list_sum(list_transform(range(1, {n + 1}), j -> "
        f"CASE WHEN j % 2 = 1 THEN {d} ELSE {_LUHN_DD.format(d=d)} END))"
    )


def _luhn_sum_spark(s: str, n: int) -> str:
    """Spark SQL: the identical Luhn weighted sum (HOF aggregate)."""
    d = f"cast(substring(reverse({s}), j, 1) as bigint)"
    return (
        f"aggregate(sequence(1, {n}), cast(0 as bigint), (acc, j) -> "
        f"acc + CASE WHEN j % 2 = 1 THEN {d} "
        f"ELSE {_LUHN_DD.format(d=d)} END)"
    )


@register(
    "q_quality_luhn_audit",
    # planted both ways: every 13th doc gets a 16-digit number whose
    # last digit is the CORRECT Luhn check digit (computed by the same
    # integer arithmetic on both engines), and doc_id % 13 == 5 docs get
    # the SAME shape with the check digit shifted +5 (always invalid) —
    # so the audit must count candidates AND split them by checksum,
    # pinning the doubling pattern, the 9-subtract fold, and the
    # right-anchored parity. A validator that doubled the wrong parity
    # or summed raw doubles flips n_luhn_valid on every planted doc.
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             lpad(CAST(400000000000000 + (doc_id * 371) % 100000000000000
                       AS VARCHAR), 15, '0') AS c15
      FROM documents
    ),
    planted AS (
      SELECT doc_id, c15,
             (10 - {_luhn_sum_sql("c15 || '0'", 16).replace("j ->", "j ->")}
              % 10) % 10 AS chk
      FROM base
    ),
    aug AS (
      SELECT d.doc_id,
             d.text || CASE
               WHEN d.doc_id % 13 = 0 THEN ' ' || p.c15 || CAST(p.chk AS VARCHAR)
               WHEN d.doc_id % 13 = 5
                 THEN ' ' || p.c15 || CAST((p.chk + 5) % 10 AS VARCHAR)
               ELSE '' END AS t
      FROM documents d JOIN planted p USING (doc_id)
    ),
    toks AS (
      SELECT doc_id, u.tok
      FROM aug, UNNEST(string_split(t, ' ')) AS u(tok)
      WHERE regexp_matches(u.tok, '^[0-9]{{16}}$')
    ),
    judged AS (
      SELECT doc_id, tok,
             {_luhn_sum_sql("tok", 16)} % 10 = 0 AS ok
      FROM toks
    )
    SELECT a.doc_id,
           CAST(COUNT(j.tok) AS BIGINT) AS n_digit16,
           CAST(COALESCE(SUM(CASE WHEN j.ok THEN 1 END), 0) AS BIGINT)
             AS n_luhn_valid,
           COALESCE(SUM(CASE WHEN j.ok THEN 1 END), 0) > 0 AS has_valid_pan
    FROM aug a LEFT JOIN judged j ON j.doc_id = a.doc_id
    GROUP BY 1
    """,
)
def q_quality_luhn_audit(spark, sf_dir):
    """CHECKSUM-VALIDATED PII audit — the step that separates real
    payment-card numbers from random 16-digit strings before a corpus
    ships: candidate tokens (exactly 16 digits) are validated by the
    Luhn checksum (ISO/IEC 7812: double every second digit from the
    right, fold >9 by subtracting 9, valid iff the sum is 0 mod 10).
    The fixture is digit-free word soup, so candidates are PLANTED
    deterministically both ways — a Luhn-VALID number on every 13th
    doc (check digit computed in-engine by the same integer fold) and
    a guaranteed-INVALID sibling shape on doc_id % 13 == 5 — making
    the false-positive rejection path non-degenerate and value-checked
    per doc. All JVM-side: split + rlike candidate filter, one HOF
    aggregate per candidate for the weighted sum; no UDF, no shuffle
    beyond the per-doc aggregate."""
    docs = load(spark, sf_dir, "documents")
    c15 = F.lpad(
        (F.lit(400000000000000) + (F.col("doc_id") * 371) % 100000000000000)
        .cast("string"),
        15, "0",
    )
    base = docs.select("doc_id", "text", c15.alias("c15"))
    chk = (
        F.lit(10)
        - F.expr(_luhn_sum_spark("c15 || '0'", 16)) % 10
    ) % 10
    aug = base.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.lit(" "), F.col("c15"), chk.cast("string")),
            )
            .when(
                F.col("doc_id") % 13 == 5,
                F.concat(F.lit(" "), F.col("c15"),
                         ((chk + 5) % 10).cast("string")),
            )
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    toks = aug.select(
        "doc_id", F.explode(F.split("t", " ")).alias("tok")
    ).filter(F.col("tok").rlike("^[0-9]{16}$"))
    judged = toks.select(
        "doc_id",
        (F.expr(_luhn_sum_spark("tok", 16)) % 10 == 0).alias("ok"),
    )
    return (
        aug.select("doc_id")
        .join(judged, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("ok").cast("long").alias("n_digit16"),
            F.coalesce(
                F.sum(F.when(F.col("ok"), 1)), F.lit(0)
            ).cast("long").alias("n_luhn_valid"),
            (
                F.coalesce(F.sum(F.when(F.col("ok"), 1)), F.lit(0)) > 0
            ).alias("has_valid_pan"),
        )
    )


PII_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_PHONE_RE = "555-[0-9][0-9][0-9][0-9]"


@register(
    "q_text_pii_redact",
    # the fixture corpus is a digit-free word soup, so PII is PLANTED
    # deterministically (every 3rd doc gets an email + phone derived
    # from its doc_id) by identical expressions on both engines — the
    # detection/redaction path is then exercised non-degenerately and
    # value-checked, including the negative (untouched) docs. Patterns
    # avoid regex escapes entirely ([.] not \\.) so the same literal
    # string means the same thing to Java regex and RE2.
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(LEN(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           (LEN(regexp_extract_all(t, '{PII_EMAIL_RE}')) > 0
            OR LEN(regexp_extract_all(t, '{PII_PHONE_RE}')) > 0) AS has_pii,
           md5(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def q_text_pii_redact(spark, sf_dir):
    """PII detection + redaction — the compliance pass every training
    corpus goes through before release. Emails and phone-shaped strings
    are counted (regexp_extract_all) and masked (regexp_replace to
    typed placeholders); the emitted md5 of the redacted text lets the
    oracle verify the REDACTION, not just the counts, without hauling
    full text through the comparator. All JVM-side regex on column
    expressions — no Python, no shuffle, embarrassingly parallel, so
    the pass costs one scan at any corpus size. The fixture has no
    natural PII, so every 3rd document gets a deterministic planted
    email/phone (same expression in the oracle) making both the
    positive and negative paths load-bearing — the non-degenerate twin
    of q_text_redact_denylist, whose term deny-list stands in for PII
    on the digit-free natural corpus."""
    docs = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    n_emails = F.size(F.expr(f"regexp_extract_all(t, '{PII_EMAIL_RE}', 0)"))
    n_phones = F.size(F.expr(f"regexp_extract_all(t, '{PII_PHONE_RE}', 0)"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return (
        docs.select("doc_id", aug.alias("t"))
        .select(
            "doc_id",
            n_emails.cast("long").alias("n_emails"),
            n_phones.cast("long").alias("n_phones"),
            ((n_emails > 0) | (n_phones > 0)).alias("has_pii"),
            F.md5(redacted).alias("redacted_md5"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval: the inverted-index ranking function search/RAG corpora
# are scored with. The query set is derived deterministically from the
# corpus itself (mid-document-frequency terms), so the oracle reproduces
# it without any literal tied to one fixture.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 5
BM25_RANK_LO = 5  # skip the ultra-common head terms
BM25_RANK_HI = 12  # 8 mid-df terms -> 2 queries x 4 terms
BM25_SALT = 16


# shared by the batch query and the streaming index-maintenance twin
# (q_stream_bm25_delta wraps it with the equivalence columns)
_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM doclen
    ),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    qterms AS (
      SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
      FROM dft
    ),
    qsel AS (
      SELECT term,
             (rn - {BM25_RANK_LO}) // 4 AS query_id,
             (rn - {BM25_RANK_LO}) % 4 AS tpos,
             LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
      FROM qterms CROSS JOIN stats
      WHERE rn BETWEEN {BM25_RANK_LO} AND {BM25_RANK_HI}
    ),
    tf AS (
      SELECT t.doc_id, q.query_id, q.tpos, q.idf, COUNT(*) AS tf
      FROM toks t JOIN qsel q ON t.term = q.term
      GROUP BY 1, 2, 3, 4
    ),
    contrib AS (
      SELECT f.query_id, f.doc_id, f.tpos,
             (f.idf * (f.tf * ({BM25_K1} + 1.0))) /
             (f.tf + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * (d.dl / s.avgdl))) AS c
      FROM tf f JOIN doclen d ON f.doc_id = d.doc_id CROSS JOIN stats s
    ),
    scored AS (
      SELECT query_id, doc_id,
             COALESCE(MAX(CASE WHEN tpos = 0 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 1 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 2 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 3 THEN c END), 0.0) AS score_raw
      FROM contrib GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, doc_id, score_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_raw DESC, doc_id
             ) AS rn
      FROM scored
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(rn AS BIGINT) AS bm25_rank, ROUND(score_raw, 6) AS score
    FROM ranked WHERE rn <= {BM25_TOP}
    """


@register("q_text_bm25_topk", oracle=_BM25_ORACLE)
def q_text_bm25_topk(spark, sf_dir):
    """BM25 top-{BM25_TOP} retrieval over the corpus for a
    corpus-derived query set: terms ranked {BM25_RANK_LO}..{BM25_RANK_HI}
    by document frequency (skipping the stopword-like head) form two
    4-term queries; each document is scored with
    idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), k1={BM25_K1},
    b={BM25_B}.

    Scale shape: the scoring join is the inverted-index equi-join —
    postings (term, doc) join the broadcast 8-row query-term table, so
    only postings of query terms are ever shuffled; corpus stats
    (n_docs, avgdl) are two scalar aggregates a production system
    precomputes. Per-term contributions are pivoted to fixed columns and
    summed in a FIXED left-to-right order (not a float groupBy-sum), so
    scores are bit-identical across engines and partitionings. Top-k per
    query is two-phase: a salted local top-{BM25_TOP} bounds every
    window partition, then the global window ranks only the
    {BM25_SALT}x{BM25_TOP} survivors — no corpus-sized single window at
    any scale. The term-selection window runs over the term-df
    aggregate (|vocabulary| rows, bounded)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf_rel = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    return _bm25_rank(tf_rel)


def _bm25_rank(tf_rel):
    """BM25 scoring from the INDEX RELATION (doc_id, term, tf) — shared
    by the batch query (which derives it from the token explode) and
    the streaming maintenance twin (which merges it from per-commit
    additive cells). Doc lengths, corpus stats, document frequencies
    and the query-term selection are all recomputed from the index, so
    two identical indexes rank identically bit-for-bit."""
    doclen = tf_rel.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n_docs, tot = doclen.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    ).first()
    avgdl = tot / n_docs  # exact int ratio -> same double as the oracle's
    dft = tf_rel.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    wq = W.orderBy(F.desc("df"), F.asc("term"))
    qsel = (
        dft.withColumn("rn", F.row_number().over(wq))
        .filter((F.col("rn") >= BM25_RANK_LO) & (F.col("rn") <= BM25_RANK_HI))
        .select(
            "term",
            F.floor((F.col("rn") - BM25_RANK_LO) / 4).cast("long").alias("query_id"),
            ((F.col("rn") - BM25_RANK_LO) % 4).alias("tpos"),
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    tf = (
        tf_rel.join(F.broadcast(qsel), "term")
        .select("doc_id", "query_id", "tpos", "idf", "tf")
        .join(doclen, "doc_id")
    )
    contrib = (F.col("idf") * (F.col("tf") * (F.lit(BM25_K1) + F.lit(1.0)))) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * ((F.lit(1.0) - F.lit(BM25_B)) + F.lit(BM25_B) * (F.col("dl") / F.lit(avgdl)))
    )
    scored = (
        tf.withColumn("c", contrib)
        .groupBy("query_id", "doc_id")
        .agg(
            *[
                F.max(F.when(F.col("tpos") == k, F.col("c"))).alias(f"c{k}")
                for k in range(4)
            ]
        )
        .withColumn(
            "score_raw",
            F.coalesce("c0", F.lit(0.0))
            + F.coalesce("c1", F.lit(0.0))
            + F.coalesce("c2", F.lit(0.0))
            + F.coalesce("c3", F.lit(0.0)),
        )
    )
    w1 = W.partitionBy("query_id", "salt").orderBy(F.desc("score_raw"), F.asc("doc_id"))
    w2 = W.partitionBy("query_id").orderBy(F.desc("score_raw"), F.asc("doc_id"))
    return (
        scored.withColumn("salt", F.col("doc_id") % BM25_SALT)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= BM25_TOP)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= BM25_TOP)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            F.col("rn").cast("long").alias("bm25_rank"),
            F.round("score_raw", 6).alias("score"),
        )
    )


@register(
    "q_text_perplexity_bigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tok AS (
      SELECT doc_id, tl[i] AS token, CAST(i AS BIGINT) AS pos
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
    ),
    bigr AS (
      SELECT c.doc_id, p.token AS prev_tok, c.token AS cur_tok
      FROM tok c JOIN tok p ON p.doc_id = c.doc_id AND p.pos = c.pos - 1
    ),
    cb AS (SELECT prev_tok, cur_tok, CAST(COUNT(*) AS DOUBLE) AS nb
           FROM bigr GROUP BY 1, 2),
    cp AS (SELECT prev_tok, CAST(COUNT(*) AS DOUBLE) AS np
           FROM bigr GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS vocab FROM tok)
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-LOG2((cb.nb + 1) / (cp.np + v.vocab))), 4)
             AS bits_per_bigram
    FROM bigr b
    JOIN cb ON cb.prev_tok = b.prev_tok AND cb.cur_tok = b.cur_tok
    JOIN cp ON cp.prev_tok = b.prev_tok
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q_text_perplexity_bigram(spark, sf_dir):
    """Bigram-LM perplexity scoring with Laplace smoothing — the
    context-aware upgrade of ``q_text_perplexity_unigram``: a document
    full of real words in IMPLAUSIBLE ORDER scores high here while the
    unigram proxy cannot see it.

    The adjacency structure comes from ``posexplode`` + a (doc_id,
    pos−1) self-join — the positional equi-join Spark turns into an
    ordinary shuffle hash join, no window over raw tokens. Both LM
    tables aggregate map-side first (bigram table is vocab²-bounded but
    Zipf-sparse in practice); the vocabulary size rides as a one-row
    broadcast. At 100 TB the bigram join's heavy keys are stopword
    pairs — the AQE skew-split shape — and everything else is linear
    scan work."""
    return _bigram_bits_per_doc(load(spark, sf_dir, "documents"))


def _bigram_bits_per_doc(docs, exact=False):
    """Per-document bigram-LM bits (doc_id, n_bigrams, bits_per_bigram
    rounded to 4 decimals) — the scorer behind q_text_perplexity_bigram,
    factored so q_text_perplexity_buckets can cut the same quantity into
    CCNet-style quality terciles."""
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "token"),
    )
    cur = tok.select("doc_id", F.col("pos").alias("cpos"), F.col("token").alias("cur_tok"))
    prev = tok.select("doc_id", (F.col("pos") + 1).alias("cpos"), F.col("token").alias("prev_tok"))
    # bigr itself is the expensive node (corpus-sized posexplode + the
    # positional self-join) and it has THREE consumers: the cb
    # materialization, the cp materialization, and the final scored
    # join. localCheckpoint bigr so the explode+join runs ONCE and each
    # consumer re-reads the materialized block — without it Spark
    # recomputes the whole lineage per consumer. The LM tables derived
    # from it are deliberately NOT broadcast: at scale the
    # distinct-bigram table can be huge, and the heavy join keys
    # (stopword pairs) are exactly what AQE's skew-split handles on a
    # shuffle join — a strategy that never applies to broadcast joins.
    bigr = (
        cur.join(prev, ["doc_id", "cpos"])
        .select("doc_id", "prev_tok", "cur_tok")
        .localCheckpoint(eager=True)
    )
    cb = bigr.groupBy("prev_tok", "cur_tok").agg(
        F.count(F.lit(1)).cast("double").alias("nb")
    )
    cp = bigr.groupBy("prev_tok").agg(
        F.count(F.lit(1)).cast("double").alias("np")
    )
    v = tok.agg(F.countDistinct("token").cast("double").alias("vocab"))
    scored = (
        bigr.join(cb, ["prev_tok", "cur_tok"])
        .join(cp, "prev_tok")
        .crossJoin(F.broadcast(v))
    )
    bits = -F.log2((F.col("nb") + 1) / (F.col("np") + F.col("vocab")))
    if exact:
        # Merge-order-proof variant for consumers that RANK on the
        # score (q_text_perplexity_buckets): each per-bigram bits value
        # is fixed-pointed to e6 BEFORE the reduction, so the per-doc
        # quantity is an order-free exact BIGINT sum — an AVG of raw
        # doubles is one partial-agg merge away from a .00005 rounding
        # flip, which for a ranking consumer moves NTILE boundaries.
        bits_e6 = F.floor(bits * 1e6 + F.lit(0.5)).cast("long")
        return scored.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits_e6).alias("sum_bits_e6"),
        )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(bits), 4).alias("bits_per_bigram"),
    )


@register(
    "q_text_source_entropy",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT source, token, CAST(COUNT(*) AS DOUBLE) AS c
      FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ROUND(LOG2(SUM(c)) - SUM(c * LOG2(c)) / SUM(c), 4)
             AS entropy_bits
    FROM cnt GROUP BY source
    """,
)
def q_text_source_entropy(spark, sf_dir):
    """Shannon entropy of each source's token distribution — the
    diversity audit a corpus-mixing decision reads (a low-entropy source
    is boilerplate/templated text even when its docs pass per-doc
    quality filters). Computed as log2(N) − Σc·log2(c)/N over the
    vocab-sized count table, so the entropy aggregation runs on
    sublinear input and the only corpus-sized work is the token count's
    map-side partial."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    return cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 4
        ).alias("entropy_bits"),
    )


# --- N-gram novelty scoring (round 8) -----------------------------------


@register(
    "q_text_ngram_novelty",
    oracle="""
    WITH shingles AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 1)),
               i -> CONCAT(STRING_SPLIT(text, ' ')[i], ' ',
                           STRING_SPLIT(text, ' ')[i+1], ' ',
                           STRING_SPLIT(text, ' ')[i+2])))) AS shingle
      FROM documents
    ),
    firstseen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM shingles GROUP BY 1
    ),
    per AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM shingles s JOIN firstseen f USING (shingle)
      GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(FLOOR(n_novel * 10000.0 / n_shingles + 0.5) AS BIGINT)
             AS novelty_e4
    FROM per
    """,
)
def q_text_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a document's
    trigram shingles whose FIRST appearance (by doc_id order) is this
    document — the "how much does this doc add to the corpus" score
    curation pipelines use to rank near-boilerplate below fresh
    content (a doc full of already-seen trigrams scores ~0 even when
    no single duplicate pair crosses a dedup threshold).

    First-seen attribution is a min() over the inverted shingle index —
    deterministic, order-free — and the novelty ratio is exact integer
    arithmetic snapped to fixed point. Scale shape: the same
    shingle-index aggregate the dedup family builds (map-side combine
    on shingle), one shingle-key equi-join back, one doc-key aggregate;
    no pair joins anywhere, so skew caps aren't even needed."""
    from .dedup import _shingles_df

    sh = _shingles_df(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        F.col("n_novel").cast("long").alias("n_novel"),
        F.floor(
            F.col("n_novel") * 10000.0 / F.col("n_shingles") + F.lit(0.5)
        )
        .cast("long")
        .alias("novelty_e4"),
    )


# --- CCNet-style perplexity terciles: head / middle / tail -------------

PPL_BUCKETS = 3
_PPL_BUCKET_NAME = "CASE bin WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"


@register(
    "q_text_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tok AS (
      SELECT doc_id, tl[i] AS token, CAST(i AS BIGINT) AS pos
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
    ),
    bigr AS (
      SELECT c.doc_id, p.token AS prev_tok, c.token AS cur_tok
      FROM tok c JOIN tok p ON p.doc_id = c.doc_id AND p.pos = c.pos - 1
    ),
    cb AS (SELECT prev_tok, cur_tok, CAST(COUNT(*) AS DOUBLE) AS nb
           FROM bigr GROUP BY 1, 2),
    cp AS (SELECT prev_tok, CAST(COUNT(*) AS DOUBLE) AS np
           FROM bigr GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT token) AS DOUBLE) AS vocab FROM tok)
    , sums AS (
      SELECT b.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(FLOOR(-LOG2((cb.nb + 1) / (cp.np + v.vocab))
                                 * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_bits_e6
      FROM bigr b
      JOIN cb ON cb.prev_tok = b.prev_tok AND cb.cur_tok = b.cur_tok
      JOIN cp ON cp.prev_tok = b.prev_tok
      CROSS JOIN v
      GROUP BY b.doc_id
    ),
    scored AS (
      SELECT doc_id,
             CAST((2 * sum_bits_e6 + 100 * n_bigrams)
                  // (200 * n_bigrams) AS BIGINT) AS bits_e4
      FROM sums
    ),
    binned AS (
      SELECT doc_id, bits_e4,
             NTILE({PPL_BUCKETS}) OVER (ORDER BY bits_e4, doc_id) AS bin
      FROM scored
    )
    SELECT {_PPL_BUCKET_NAME} AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(bits_e4) AS BIGINT) AS sum_bits_e4,
           CAST(MIN(bits_e4) AS BIGINT) AS min_bits_e4,
           CAST(MAX(bits_e4) AS BIGINT) AS max_bits_e4
    FROM binned
    GROUP BY bucket, bin
    """,
)
def q_text_perplexity_buckets(spark, sf_dir):
    """CCNet-style quality bucketing: score every document with the
    bigram-LM bits-per-bigram (the factored q_text_perplexity_bigram
    scorer), cut the corpus into perplexity TERCILES — head (most
    fluent), middle, tail — and report each bucket's size and exact
    fixed-point bits mass. This is the filtering step LLM data
    pipelines run before mixing: keep head+middle, drop or downsample
    the tail.

    The tercile cut is ``global_ntile`` (registry.py): two-pass
    range-partitioned global rank + closed-form bin, never a
    single-partition window. The per-doc score is merge-order-proof:
    each per-bigram bits value is e6 fixed-pointed BEFORE the per-doc
    reduction (exact BIGINT sum), and the e4 mean is the exact-integer
    round-half-up (2*sum + 100*n) div (200*n) — a float AVG here would
    be one partial-agg merge away from a .00005 flip that moves an
    NTILE boundary and changes bucket sums. doc_id breaks ties."""
    docs = load(spark, sf_dir, "documents")
    # Exact-integer mean: round-half-up of sum_e6/(100*n) computed as
    # (2*sum + 100*n) div (200*n) — positive operands, so integer div
    # agrees across engines; no float AVG ever reaches the ranking.
    scored = _bigram_bits_per_doc(docs, exact=True).select(
        "doc_id",
        F.expr(
            "(2 * sum_bits_e6 + 100 * n_bigrams) div (200 * n_bigrams)"
        ).cast("long").alias("bits_e4"),
    )
    binned = global_ntile(
        scored, PPL_BUCKETS, [F.col("bits_e4"), F.col("doc_id")]
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bits_e4").alias("sum_bits_e4"),
            F.min("bits_e4").alias("min_bits_e4"),
            F.max("bits_e4").alias("max_bits_e4"),
        )
        .select(
            F.expr(_PPL_BUCKET_NAME).alias("bucket"),
            "n_docs",
            F.col("sum_bits_e4").cast("long").alias("sum_bits_e4"),
            F.col("min_bits_e4").cast("long").alias("min_bits_e4"),
            F.col("max_bits_e4").cast("long").alias("max_bits_e4"),
        )
    )


# --- Temperature-scaled language mixture + epoch plan ------------------

MIX_ALPHA_NUM, MIX_ALPHA_DEN = 1, 2  # alpha = 0.5 (sqrt temperature)


@register(
    "q_mix_temperature_weights",
    oracle="""
    WITH g AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    s AS (
      SELECT lang, n_docs, n_tokens,
             CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS s_e6,
             SUM(CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT))
               OVER () AS tot_s,
             SUM(n_tokens) OVER () AS budget
      FROM g
    )
    SELECT lang, n_docs, n_tokens,
           CAST(FLOOR(CAST(s_e6 AS DOUBLE) / CAST(tot_s AS DOUBLE) * 1e6)
             AS BIGINT) AS w_e6,
           CAST(FLOOR(CAST(budget AS DOUBLE) * CAST(s_e6 AS DOUBLE)
                      / CAST(tot_s AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                      * 1e4) AS BIGINT) AS epochs_e4
    FROM s
    """,
)
def q_mix_temperature_weights(spark, sf_dir):
    """Temperature-scaled multilingual mixture planning (the multilingual
    pretraining standard: sampling weight w_l proportional to n_l^alpha
    with alpha = 1/2, which upsamples low-resource languages): per
    language, the token mass, the temperature weight, and the EPOCH
    MULTIPLIER a loader would apply to hit that mixture within the
    corpus's own token budget (epochs > 1 means the language repeats,
    < 1 means it is subsampled).

    Determinism: token counts are exact integer sums; n^0.5 is one
    correctly-rounded IEEE sqrt fixed-pointed to e6 BEFORE any
    cross-group arithmetic; the weight and epoch ratios are then ONE
    identical double expression tree on both engines (mul/div/floor of
    the same operands — same IEEE ops, same bits). Doubles, not BIGINT
    products, deliberately: budget*s_e6 would overflow 2^63 past ~4e8
    total tokens, silently wrapping in non-ANSI Spark while DuckDB
    errors — the double tree is scale-safe at any corpus size and
    bit-reproducible. The only windows run over the |languages|
    aggregate (single-digit rows); everything before that is one
    map-side-combinable scan."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    wall = W.orderBy("lang").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    s = g.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e6)
        .cast("long")
        .alias("s_e6"),
    ).select(
        "*",
        F.sum("s_e6").over(wall).alias("tot_s"),
        F.sum("n_tokens").over(wall).alias("budget"),
    )
    sd = F.col("s_e6").cast("double")
    td = F.col("tot_s").cast("double")
    return s.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.floor(sd / td * 1e6).cast("long").alias("w_e6"),
        F.floor(
            F.col("budget").cast("double")
            * sd
            / td
            / F.col("n_tokens").cast("double")
            * 1e4
        )
        .cast("long")
        .alias("epochs_e4"),
    )


# --- DSIR importance weights: target-vs-raw hashed-unigram log-ratio ---

DSIR_TARGET_LANG = "en"  # the fixture's high-resource "target domain"


@register(
    "q_text_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ),
    cr AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS cr FROM tok GROUP BY token),
    ct AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS ct
           FROM tok WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY token),
    tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nr,
             CAST(COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS DOUBLE) AS nt,
             CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
      FROM tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(
             (LOG2((COALESCE(ct.ct, 0) + 1) / (tot.nt + tot.v))
              - LOG2((cr.cr + 1) / (tot.nr + tot.v))) * 1e6 + 0.5
           ) AS BIGINT)) AS BIGINT) AS sum_bits_e6
    FROM tok t
    JOIN cr ON cr.token = t.token
    LEFT JOIN ct ON ct.token = t.token
    CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_text_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the average per-token log-likelihood RATIO between a target-domain
    unigram LM (here the '{DSIR_TARGET_LANG}' slice — the stand-in for
    a curated target corpus) and the raw-corpus LM, both
    Laplace-smoothed over the shared vocabulary. Documents whose token
    distribution looks like the target get dsir_bits near 0 or positive;
    off-domain documents go negative — resampling by these weights is
    the published recipe for tilting a 100-TB crawl toward a target
    domain without training a classifier.

    Plan shape: one token explode, two map-side-combinable count
    aggregations (raw and target LMs), an inverted-index equi-join of
    the corpus tokens against those count tables (heavy keys =
    stopwords, the AQE skew-split shape), and a 1-row totals broadcast.
    Determinism: each PER-TOKEN log-ratio (correctly-rounded LOG2 of
    identical doubles) is fixed-pointed to e6 BEFORE summation, so the
    per-doc score is an order-free exact BIGINT sum — an AVG of raw
    doubles here would be one segment-tree merge away from a .00005
    rounding flip (the round-8 lesson: anchor the rounding before the
    reduction, not after). The emitted quantity is the SUM plus the
    count (the mean is sum/n for the consumer): emitting the raw pair
    keeps the output pure-integer, and the consumer picks its own
    division convention for the negative sums. (Measured, and matching
    the q_events_wow_delta note: DuckDB 1.x INTEGER // truncates toward
    zero exactly like Spark's div — only its FLOAT // floors — so a
    div-based mean would also have been engine-identical; the pair is
    emitted for exactness, not to dodge a division mismatch.)"""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    cr = tok.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("cr"))
    ct = (
        tok.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    tot = tok.agg(
        F.count(F.lit(1)).cast("double").alias("nr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("double").alias("nt"),
        F.countDistinct("token").cast("double").alias("v"),
    )
    scored = (
        tok.join(cr, "token")
        .join(ct, "token", "left")
        .crossJoin(F.broadcast(tot))
    )
    bits = F.log2(
        (F.coalesce(F.col("ct"), F.lit(0.0)) + 1) / (F.col("nt") + F.col("v"))
    ) - F.log2((F.col("cr") + 1) / (F.col("nr") + F.col("v")))
    bits_e6 = F.floor(bits * 1e6 + F.lit(0.5)).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(bits_e6).cast("long").alias("sum_bits_e6"),
    )


# --- Corpus-statistics diagnostics: Zipf rank-frequency fit and per-source
#     KL divergence from the corpus unigram mixture.


@register(
    "q_text_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    types AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY token
    ),
    fc AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS n_types FROM types GROUP BY f
    ),
    cum AS (
      SELECT f,
             CAST(COALESCE(SUM(n_types) OVER (ORDER BY f DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS gt
      FROM fc
    ),
    ranked AS (
      SELECT t.f,
             c.gt + ROW_NUMBER() OVER (PARTITION BY t.f ORDER BY t.token)
               AS rnk
      FROM types t JOIN cum c USING (f)
    ),
    pts AS (
      SELECT CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(LN(CAST(f AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_types,
           CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * 1e4 + 0.5) AS BIGINT) AS slope_e4,
           CAST(FLOOR((CAST(sy AS DOUBLE)
                       - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS intercept_e4
    FROM s
    WHERE n >= 2 AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
    """,
)
def q_text_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit: OLS slope of log(freq) on log(rank) over
    the corpus vocabulary — the canonical corpus-health diagnostic (a
    natural corpus fits slope ~ -1; template/boilerplate-heavy crawls
    flatten it, generator loops steepen it).

    Scale-correct exact ranking without a global window: rank(t) =
    (#types with higher frequency) + row_number within this type's
    frequency class ordered by token. The cross-class cumulative runs
    over the DISTINCT-FREQUENCY table, whose size is bounded by the
    highest type frequency's divisor structure (hundreds of rows even
    at web scale — Zipf itself guarantees frequency collisions), so the
    one unpartitioned window is over a provably tiny relation; the
    within-class row_number is partitioned by frequency. Determinism is
    the linreg_trend recipe: both log axes are fixed-pointed to e4
    BIGINTs BEFORE the moment sums (sums exact under any partial-agg
    merge order; e4 keeps sum(x*x) within int64 to ~3e8 vocabulary
    types), then slope/intercept come from one identical IEEE double
    expression tree on both engines."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    types = tok.groupBy("token").agg(F.count(F.lit(1)).alias("f"))
    fc = types.groupBy("f").agg(F.count(F.lit(1)).alias("n_types"))
    # window over DISTINCT frequencies only: bounded-size relation (see
    # docstring), the partitioned per-type work happens in the next step
    w_gt = W.orderBy(F.col("f").desc()).rowsBetween(W.unboundedPreceding, -1)
    cum = fc.select("f", F.coalesce(F.sum("n_types").over(w_gt), F.lit(0)).alias("gt"))
    w_in = W.partitionBy("f").orderBy("token")
    ranked = types.join(cum, "f").select(
        "f", (F.col("gt") + F.row_number().over(w_in)).alias("rnk")
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1e4 + F.lit(0.5))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("f").cast("double")) * 1e4 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    slope = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )
    # degenerate guard (both engines): a 1-type corpus, or all points
    # collapsing to one log-rank value, has no fit — emit zero rows
    # instead of a NaN whose BIGINT cast is engine-defined
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    return (
        s.filter((F.col("n") >= 2) & (den != 0))
        .select(
            F.col("n").alias("n_types"),
            F.floor(slope * 1e4 + F.lit(0.5)).cast("long").alias("slope_e4"),
            F.floor((syd - slope * sxd) / nd + F.lit(0.5))
            .cast("long")
            .alias("intercept_e4"),
        )
    )


@register(
    "q_text_kl_source_mixture",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    st AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
      FROM tok GROUP BY source, token
    ),
    s_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM tok GROUP BY source
    ),
    t_tot AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c_t FROM tok GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    terms AS (
      SELECT st.source,
             CAST(FLOOR(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE)
                        * LN(CAST(c_st AS DOUBLE) * CAST(n.n AS DOUBLE)
                             / (CAST(c_t AS DOUBLE) * CAST(n_s AS DOUBLE)))
                        * 1e9 + 0.5) AS BIGINT) AS term_e9
      FROM st JOIN t_tot USING (token) JOIN s_tot USING (source), n
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_s,
           CAST(SUM(term_e9) AS BIGINT) AS kl_e9
    FROM terms GROUP BY source
    """,
)
def q_text_kl_source_mixture(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution —
    the data-mixing diagnostic behind mixture re-weighting: a source
    whose KL(p_source || p_corpus) is high contributes out-of-mixture
    text; near-zero means it duplicates the corpus distribution.

    All probability numerators/denominators are exact BIGINT counts
    from three map-side-combinable aggregations (per source+token, per
    source, per token); KL = sum_w p*ln(p/q) is assembled per term with
    an identical double expression tree on both engines and fixed-
    pointed to e9 BEFORE the per-source sum (p*ln(p/q) is bounded by
    the KL value itself, so the e9 BIGINT sum cannot overflow), making
    the result invariant to partial-agg merge order. Plan shape at
    scale: the per-(source,token) table is sources x vocabulary (small
    vs the corpus), the token-totals join shuffles on token, the
    source-totals and corpus-total joins are broadcast scalars."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_st"))
    s_tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    t_tot = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c_t"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    joined = (
        st.join(t_tot, "token")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(n))
    )
    term = (
        F.col("c_st").cast("double")
        / F.col("n_s").cast("double")
        * F.log(
            F.col("c_st").cast("double")
            * F.col("n").cast("double")
            / (F.col("c_t").cast("double") * F.col("n_s").cast("double"))
        )
    )
    return (
        joined.select("source", F.floor(term * 1e9 + F.lit(0.5)).cast("long").alias("term_e9"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_s"),
            F.sum("term_e9").alias("kl_e9"),
        )
    )


# --- Stylometry: function-word profile similarity between sources --------

# closed-class "function words" drawn from the fixture's language marker
# set — content-independent, so profile similarity tracks STYLE/register,
# not topic (the classical authorship-attribution signal)
STYLE_WORDS = ("the", "a", "el", "la", "der", "die", "le", "de")


def _style_counts_sql() -> str:
    cols = ",\n             ".join(
        f"{_occurrences_sql('lower(text)', w)} AS c{i}"
        for i, w in enumerate(STYLE_WORDS)
    )
    sums = ", ".join(
        f"CAST(SUM(c{i}) AS BIGINT) AS c{i}" for i in range(len(STYLE_WORDS))
    )
    return f"""
    per_doc AS (
      SELECT source,
             {cols}
      FROM documents
    ),
    prof AS (
      SELECT source, {sums} FROM per_doc GROUP BY source
    )"""


@register(
    "q_text_style_cosine",
    oracle=f"""
    WITH {_style_counts_sql()}
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(FLOOR(
             CAST({" + ".join(f"a.c{i} * b.c{i}" for i in range(len(STYLE_WORDS)))} AS DOUBLE)
             / (SQRT(CAST({" + ".join(f"a.c{i} * a.c{i}" for i in range(len(STYLE_WORDS)))} AS DOUBLE))
                * SQRT(CAST({" + ".join(f"b.c{i} * b.c{i}" for i in range(len(STYLE_WORDS)))} AS DOUBLE)))
             * 1e6 + 0.5) AS BIGINT) AS cosine_e6
    FROM prof a JOIN prof b ON a.source < b.source
    WHERE {" + ".join(f"a.c{i} * a.c{i}" for i in range(len(STYLE_WORDS)))} > 0
      AND {" + ".join(f"b.c{i} * b.c{i}" for i in range(len(STYLE_WORDS)))} > 0
    """,
)
def q_text_style_cosine(spark, sf_dir):
    """Stylometric source similarity: cosine between per-source
    FUNCTION-WORD count profiles (closed-class words carry register and
    style, not topic — the classical authorship-attribution signal).
    A source pair whose style cosine drifts release-over-release has
    changed scraper, template, or generator — topic metrics miss that.

    Profiles are exact BIGINT count vectors over a fixed
    {len(STYLE_WORDS)}-word basis, built with the padded-substring
    occurrence counter both engines share; every dot product and norm is
    integer arithmetic, and the only float step is one identical
    divide/sqrt expression tree (IEEE sqrt is correctly rounded),
    fixed-pointed to e6. Plan: one map-side-combinable aggregate to
    |sources| profile rows, then a self-join producing |sources|²/2
    pairs — aggregate-level, thousands of rows even at lake scale,
    never touching fact rows."""
    docs = load(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    per_doc = docs.select(
        "source",
        *[
            _occurrences_col(lower, w).alias(f"c{i}")
            for i, w in enumerate(STYLE_WORDS)
        ],
    )
    prof = per_doc.groupBy("source").agg(
        *[F.sum(f"c{i}").alias(f"c{i}") for i in range(len(STYLE_WORDS))]
    )
    a = prof.select(
        F.col("source").alias("source_a"),
        *[F.col(f"c{i}").alias(f"a{i}") for i in range(len(STYLE_WORDS))],
    )
    b = prof.select(
        F.col("source").alias("source_b"),
        *[F.col(f"c{i}").alias(f"b{i}") for i in range(len(STYLE_WORDS))],
    )
    dot = sum(
        (F.col(f"a{i}") * F.col(f"b{i}") for i in range(len(STYLE_WORDS))),
        F.lit(0),
    )
    na = sum(
        (F.col(f"a{i}") * F.col(f"a{i}") for i in range(len(STYLE_WORDS))),
        F.lit(0),
    )
    nb = sum(
        (F.col(f"b{i}") * F.col(f"b{i}") for i in range(len(STYLE_WORDS))),
        F.lit(0),
    )
    cos = dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))
    # a source with ZERO function-word occurrences has no style
    # direction; drop its pairs on both engines rather than cast a NaN
    return (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .filter((na > 0) & (nb > 0))
        .select(
            "source_a",
            "source_b",
            F.floor(cos * 1e6 + F.lit(0.5)).cast("long").alias("cosine_e6"),
        )
    )


# --- TextRank keyword extraction (integer-exact fixed-point) -------------

TR_ITERS = 3
TR_E = 10**12  # rank fixed-point scale; rank_e12 * w stays far under 2^63
TR_DAMP_NUM, TR_DAMP_DEN = 85, 100


def _textrank_oracle() -> str:
    """Unrolled integer TextRank — every quantity is a BIGINT and every
    division is a positive floor division, so the recurrence is
    bit-identical across engines with NO rounding discipline needed."""
    base = f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tok AS (
      SELECT doc_id, tl[i] AS token, CAST(i AS BIGINT) AS pos
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
    ),
    adj AS (
      SELECT p.token AS a, c.token AS b
      FROM tok c JOIN tok p ON p.doc_id = c.doc_id AND p.pos = c.pos - 1
      WHERE p.token <> c.token
    ),
    edges AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM (SELECT a AS src, b AS dst FROM adj
            UNION ALL SELECT b, a FROM adj)
      GROUP BY 1, 2
    ),
    wout AS (SELECT src, SUM(w) AS wtot FROM edges GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wout),
    r0 AS (SELECT src AS node, {TR_E} // MAX(nn.n) AS rank_e12
           FROM wout, nn GROUP BY src)
    """
    for k in range(TR_ITERS):
        base += f""",
    r{k + 1} AS (
      SELECT e.dst AS node,
             ({TR_E} * {TR_DAMP_DEN - TR_DAMP_NUM} // {TR_DAMP_DEN})
               // MAX(nn.n)
             + {TR_DAMP_NUM} * SUM((r.rank_e12 * e.w) // wo.wtot)
               // {TR_DAMP_DEN} AS rank_e12
      FROM edges e
        JOIN r{k} r ON e.src = r.node
        JOIN wout wo ON e.src = wo.src, nn
      GROUP BY e.dst
    )"""
    base += f"""
    SELECT node AS token, CAST(rank_e12 AS BIGINT) AS rank_e12
    FROM r{TR_ITERS}
    """
    return base


@register("q_text_textrank_keywords", oracle=_textrank_oracle())
def q_text_textrank_keywords(spark, sf_dir):
    """TextRank keyword scoring over the corpus co-occurrence graph:
    adjacent-token pairs (self-loops dropped) build an undirected
    weighted word graph, and TR_ITERS damped power iterations rank each
    word by how much attention flows into it from well-connected
    neighbors — the graph upgrade of raw term frequency (a word adjacent
    to many DISTINCT high-traffic words outranks one repeated in a
    single boilerplate phrase).

    Unlike q_graph_pagerank (doubles + ROUND), the recurrence here is
    INTEGER-EXACT: ranks live in e12 fixed point, every per-edge
    contribution is the positive floor division (rank*w)//wtot, and the
    damping mix is (85*sum)//100 — BIGINTs end to end, so iteration
    order, summation order, and engine cannot move the result by even
    one unit. Scale shape: the word graph is a vocab-sized AGGREGATE of
    the corpus (built by one map-side-combinable groupBy over adjacent
    pairs); each iteration is an equi-join + sum over that aggregate,
    never the raw tokens — at 100 TB the iterations cost |vocab edges|,
    and the heavy stopword hubs are exactly AQE skew-split keys."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).localCheckpoint(eager=True)  # 2 consumers: cur + prev bigram sides
    cur = tok.select(
        "doc_id", F.col("pos").alias("cpos"), F.col("token").alias("b")
    )
    prev = tok.select(
        "doc_id", (F.col("pos") + 1).alias("cpos"), F.col("token").alias("a")
    )
    adj = (
        cur.join(prev, ["doc_id", "cpos"])
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    edges = (
        adj.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wout = edges.groupBy("src").agg(F.sum("w").alias("wtot"))
    ew = edges.join(wout, "src").localCheckpoint(eager=False)
    n = wout.count()
    base = (TR_E * (TR_DAMP_DEN - TR_DAMP_NUM) // TR_DAMP_DEN) // n
    ranks = wout.select(
        F.col("src").alias("node"), F.lit(TR_E // n).alias("rank_e12")
    )
    for _ in range(TR_ITERS):
        contrib = ew.join(ranks, ew.src == ranks.node).select(
            "dst",
            F.expr("(rank_e12 * w) div wtot").alias("contrib"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit(base)
                    + F.expr(
                        f"{TR_DAMP_NUM} * sum(contrib) div {TR_DAMP_DEN}"
                    )
                ).alias("rank_e12")
            )
            .select(F.col("dst").alias("node"), "rank_e12")
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        F.col("node").alias("token"), F.col("rank_e12").cast("long")
    )


# --- ROUGE-1 overlap scoring of successive same-source documents ---------


@register(
    "q_text_rouge_overlap",
    oracle="""
    WITH pairs AS (
      SELECT doc_id AS doc_a,
             LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
               AS doc_b
      FROM documents
    ),
    p AS (SELECT doc_a, doc_b FROM pairs WHERE doc_b IS NOT NULL),
    toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tc AS (
      SELECT doc_id, tl[i] AS token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    dlen AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tc GROUP BY 1),
    ov AS (
      SELECT p.doc_a, p.doc_b,
             SUM(LEAST(a.cnt, b.cnt)) AS overlap
      FROM p
        JOIN tc a ON a.doc_id = p.doc_a
        JOIN tc b ON b.doc_id = p.doc_b AND b.token = a.token
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(la.n_tok AS BIGINT) AS n_tok_a,
           CAST(lb.n_tok AS BIGINT) AS n_tok_b,
           CAST(COALESCE(ov.overlap, 0) AS BIGINT) AS overlap,
           CAST(2 * COALESCE(ov.overlap, 0) * 1000000
                // (la.n_tok + lb.n_tok) AS BIGINT) AS rouge1_f1_e6
    FROM p
      JOIN dlen la ON la.doc_id = p.doc_a
      JOIN dlen lb ON lb.doc_id = p.doc_b
      LEFT JOIN ov ON ov.doc_a = p.doc_a AND ov.doc_b = p.doc_b
    """,
)
def q_text_rouge_overlap(spark, sf_dir):
    """ROUGE-1 F1 between every document and its SUCCESSOR within the
    same source — the summarization-eval metric repurposed as a
    boilerplate probe: crawl neighbors from one site sharing most of
    their unigram multiset are templated pages, and the multiset
    ``min(count_a, count_b)`` overlap (true ROUGE clipping, not set
    intersection) is exactly what n-gram dedup thresholds act on.

    All-integer: overlap and token totals are exact BIGINTs and
    ``F1 = 2*overlap/(n_a+n_b)`` is emitted in e6 fixed point via
    positive floor division (identical on both engines). Scale shape:
    successor pairing is one lead() in a source-partitioned window (no
    pair explosion is possible at any skew — each doc joins exactly one
    partner), and the overlap join runs on the (doc, token) COUNT
    aggregate keyed by token within pair — linear in corpus tokens.
    Zero-shared-token pairs survive via the left join with overlap 0."""
    docs = load(spark, sf_dir, "documents")
    wsrc = W.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            F.col("doc_id").alias("doc_a"),
            F.lead("doc_id").over(wsrc).alias("doc_b"),
        )
        .filter(F.col("doc_b").isNotNull())
    )
    tc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dlen = tc.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))
    a = tc.select(
        F.col("doc_id").alias("doc_a"),
        "token",
        F.col("cnt").alias("cnt_a"),
    )
    b = tc.select(
        F.col("doc_id").alias("doc_b"),
        "token",
        F.col("cnt").alias("cnt_b"),
    )
    ov = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("cnt_a", "cnt_b")).alias("overlap"))
    )
    la = dlen.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("n_tok_a"))
    lb = dlen.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("n_tok_b"))
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .join(ov, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_tok_a").cast("long"),
            F.col("n_tok_b").cast("long"),
            F.coalesce(F.col("overlap"), F.lit(0)).cast("long").alias("overlap"),
            F.expr(
                "CAST(2 * coalesce(overlap, 0) * 1000000"
                " div (n_tok_a + n_tok_b) AS BIGINT)"
            ).alias("rouge1_f1_e6"),
        )
    )


@register(
    "q_text_bleu_pairs",
    oracle="""
    WITH pairs AS (
      SELECT doc_id AS doc_a,
             LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
               AS doc_b
      FROM documents
    ),
    p AS (SELECT doc_a, doc_b FROM pairs WHERE doc_b IS NOT NULL),
    toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tok AS (
      SELECT doc_id, tl[i] AS token, CAST(i AS BIGINT) AS pos
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
    ),
    tc AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2
    ),
    bg AS (
      SELECT c.doc_id, p2.token || ' ' || c.token AS bg,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok c JOIN tok p2
        ON p2.doc_id = c.doc_id AND p2.pos = c.pos - 1
      GROUP BY 1, 2
    ),
    dlen AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tc GROUP BY 1),
    m1 AS (
      SELECT p.doc_a, p.doc_b, SUM(LEAST(a.cnt, b.cnt)) AS m
      FROM p
        JOIN tc a ON a.doc_id = p.doc_a
        JOIN tc b ON b.doc_id = p.doc_b AND b.token = a.token
      GROUP BY 1, 2
    ),
    m2 AS (
      SELECT p.doc_a, p.doc_b, SUM(LEAST(a.cnt, b.cnt)) AS m
      FROM p
        JOIN bg a ON a.doc_id = p.doc_a
        JOIN bg b ON b.doc_id = p.doc_b AND b.bg = a.bg
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(COALESCE(m1.m, 0) AS BIGINT) AS match1,
           CAST(lb.n_tok AS BIGINT) AS cand1,
           CAST(COALESCE(m2.m, 0) AS BIGINT) AS match2,
           CAST(lb.n_tok - 1 AS BIGINT) AS cand2,
           CAST(CASE
             WHEN COALESCE(m1.m, 0) = 0 OR COALESCE(m2.m, 0) = 0
                  OR lb.n_tok < 2 THEN 0
             ELSE FLOOR(
               CASE WHEN lb.n_tok >= la.n_tok THEN 1.0
                    ELSE EXP(1.0 - CAST(la.n_tok AS DOUBLE)
                             / CAST(lb.n_tok AS DOUBLE)) END
               * SQRT((CAST(m1.m AS DOUBLE) / CAST(lb.n_tok AS DOUBLE))
                      * (CAST(m2.m AS DOUBLE)
                         / CAST(lb.n_tok - 1 AS DOUBLE)))
               * 1e6 + 0.5)
           END AS BIGINT) AS bleu2_e6
    FROM p
      JOIN dlen la ON la.doc_id = p.doc_a
      JOIN dlen lb ON lb.doc_id = p.doc_b
      LEFT JOIN m1 ON m1.doc_a = p.doc_a AND m1.doc_b = p.doc_b
      LEFT JOIN m2 ON m2.doc_a = p.doc_a AND m2.doc_b = p.doc_b
    """,
)
def q_text_bleu_pairs(spark, sf_dir):
    """BLEU-2 between each document (reference) and its same-source
    successor (candidate) — the second ROUGE-family eval metric: clipped
    unigram AND bigram precisions under a geometric mean, discounted by
    the brevity penalty exp(1 - r/c) when the candidate is shorter.
    Alongside q_text_rouge_overlap this gives the recall- and
    precision- flavored pair scores a templated-page auditor compares.

    Clip counts (min of the two multisets, per n-gram) and all lengths
    are exact BIGINTs; only the final score is a double — one identical
    CASE/EXP/SQRT expression tree over those BIGINTs on both engines
    (exp/sqrt 1-ulp noise sits far below e6 granularity), snapped to e6
    fixed point, with the zero-match and single-token degeneracies
    returning literal 0 identically. Scale shape: successor pairing is
    one partitioned lead(); both n-gram tables are map-side-combinable
    aggregates joined per (pair, gram) — linear in corpus tokens, and
    heavy stopword grams are AQE skew-split keys."""
    docs = load(spark, sf_dir, "documents")
    wsrc = W.partitionBy("source").orderBy("doc_id")
    pairs = (
        docs.select(
            F.col("doc_id").alias("doc_a"),
            F.lead("doc_id").over(wsrc).alias("doc_b"),
        )
        .filter(F.col("doc_b").isNotNull())
    )
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    tc = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wpos = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.withColumn("nxt", F.lead("token").over(wpos))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            F.concat(F.col("token"), F.lit(" "), F.col("nxt")).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dlen = tc.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))

    def clipped(counts, gram_col, out):
        a = counts.select(
            F.col("doc_id").alias("doc_a"), gram_col, F.col("cnt").alias("ca")
        )
        b = counts.select(
            F.col("doc_id").alias("doc_b"), gram_col, F.col("cnt").alias("cb")
        )
        return (
            pairs.join(a, "doc_a")
            .join(b, ["doc_b", gram_col])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ca", "cb")).alias(out))
        )

    m1 = clipped(tc, "token", "m1")
    m2 = clipped(bg, "bg", "m2")
    la = dlen.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("ref_len"))
    lb = dlen.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("cand_len"))
    j = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .join(m1, ["doc_a", "doc_b"], "left")
        .join(m2, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("m1"), F.lit(0)).cast("long").alias("match1"),
            F.col("cand_len").cast("long").alias("cand1"),
            F.coalesce(F.col("m2"), F.lit(0)).cast("long").alias("match2"),
            (F.col("cand_len") - 1).cast("long").alias("cand2"),
            F.col("ref_len"),
        )
    )
    bp = F.when(F.col("cand1") >= F.col("ref_len"), F.lit(1.0)).otherwise(
        F.exp(
            F.lit(1.0)
            - F.col("ref_len").cast("double") / F.col("cand1").cast("double")
        )
    )
    score = bp * F.sqrt(
        (F.col("match1").cast("double") / F.col("cand1").cast("double"))
        * (F.col("match2").cast("double") / F.col("cand2").cast("double"))
    )
    bleu = F.when(
        (F.col("match1") == 0) | (F.col("match2") == 0) | (F.col("cand1") < 2),
        F.lit(0),
    ).otherwise(F.floor(score * F.lit(1e6) + F.lit(0.5)))
    return j.select(
        "doc_a", "doc_b", "match1", "cand1", "match2", "cand2",
        bleu.cast("long").alias("bleu2_e6"),
    )


# --- Gopher quality rules (Rae et al. 2021-style document filter) ---------

GOPHER_MIN_WORDS = 50
GOPHER_MWL_LO_E4 = 30000   # 3.0 <= mean word length <= 12.0
GOPHER_MWL_HI_E4 = 120000
GOPHER_ALPHA_MIN_E6 = 900000   # >= 90% alphabetic words
GOPHER_STOP = ("the", "scan", "join", "row", "hash")
GOPHER_MIN_STOP = 2

# the fixture corpus is an all-alpha word soup, so rule-violating
# material is PLANTED deterministically (same contract as
# q_text_pii_redact): every 7th doc gets symbol words, every 11th gets
# numeric words — identical concat expressions on both engines, so the
# filter rules are exercised non-degenerately and value-checked,
# including the untouched docs.
_GOPHER_AUG_SQL = """text
  || CASE WHEN doc_id % 7 = 0 THEN ' ### $$$ @@@' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' 0 1 22 333' ELSE '' END"""


@register(
    "q_text_gopher_quality",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_GOPHER_AUG_SQL} AS t FROM documents
    ),
    words AS (SELECT doc_id, t, STRING_SPLIT(t, ' ') AS ws FROM aug),
    m AS (
      SELECT doc_id,
             CAST(LEN(ws) AS BIGINT) AS n_words,
             CAST(FLOOR(CAST(LENGTH(t) - (LEN(ws) - 1) AS DOUBLE)
                  / LEN(ws) * 1e4 + 0.5) AS BIGINT) AS mwl_e4,
             CAST(LEN(LIST_FILTER(ws, w -> regexp_matches(w, '^[a-z]+$')))
                  AS BIGINT) AS n_alpha,
             CAST(LEN(LIST_FILTER(ws, w -> w IN {GOPHER_STOP}))
                  AS BIGINT) AS n_stop
      FROM words
    ),
    f AS (
      SELECT doc_id, n_words, mwl_e4,
             CAST(FLOOR(CAST(n_alpha AS DOUBLE) / n_words * 1e6 + 0.5)
                  AS BIGINT) AS alpha_e6,
             n_stop,
             n_words >= {GOPHER_MIN_WORDS} AS pass_words,
             mwl_e4 BETWEEN {GOPHER_MWL_LO_E4} AND {GOPHER_MWL_HI_E4}
               AS pass_mwl,
             CAST(FLOOR(CAST(n_alpha AS DOUBLE) / n_words * 1e6 + 0.5)
                  AS BIGINT) >= {GOPHER_ALPHA_MIN_E6} AS pass_alpha,
             n_stop >= {GOPHER_MIN_STOP} AS pass_stop
      FROM m
    )
    SELECT doc_id, n_words, mwl_e4, alpha_e6, n_stop,
           pass_words, pass_mwl, pass_alpha, pass_stop,
           pass_words AND pass_mwl AND pass_alpha AND pass_stop AS keep_doc
    FROM f
    """,
)
def q_text_gopher_quality(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021, the
    MassiveText filter): word-count floor, mean-word-length band,
    alphabetic-word ratio, minimum stop-word hits — the standard
    pre-training admission gate, emitted as per-rule booleans plus the
    conjunction so downstream can audit WHY a document fell.

    Everything is one narrow projection pass — split once, count with
    JVM higher-order functions (no explode, no shuffle, no Python), so
    at 100 TB this is embarrassingly parallel scan work. Counts are
    exact BIGINTs; the two ratios are single correctly-rounded double
    divisions snapped to fixed point before any comparison, so the rule
    booleans are engine-identical by construction."""
    docs = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" ### $$$ @@@")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" 0 1 22 333")).otherwise(""),
    )
    ws = F.split(aug, " ")
    n_words = F.size(ws).cast("long")
    mwl_e4 = F.floor(
        (F.length(aug) - (n_words - 1)).cast("double") / n_words * F.lit(1e4)
        + F.lit(0.5)
    ).cast("long")
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("^[a-z]+$"))).cast("long")
    n_stop = F.size(
        F.filter(ws, lambda w: w.isin(*GOPHER_STOP))
    ).cast("long")
    alpha_e6 = F.floor(
        n_alpha.cast("double") / n_words * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    pass_words = n_words >= GOPHER_MIN_WORDS
    pass_mwl = (mwl_e4 >= GOPHER_MWL_LO_E4) & (mwl_e4 <= GOPHER_MWL_HI_E4)
    pass_alpha = alpha_e6 >= GOPHER_ALPHA_MIN_E6
    pass_stop = n_stop >= GOPHER_MIN_STOP
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl_e4.alias("mwl_e4"),
        alpha_e6.alias("alpha_e6"),
        n_stop.alias("n_stop"),
        pass_words.alias("pass_words"),
        pass_mwl.alias("pass_mwl"),
        pass_alpha.alias("pass_alpha"),
        pass_stop.alias("pass_stop"),
        (pass_words & pass_mwl & pass_alpha & pass_stop).alias("keep_doc"),
    )


# --- C4-style line-level cleaning (Raffel et al. 2020) --------------------

C4_MIN_LINE_WORDS = 5

# line structure and rule-violating lines are PLANTED deterministically
# (the corpus is a single-line punctuation-free word soup): every
# occurrence of ' sort ' becomes a line break (76% of fixture docs get
# multiple lines), every 3rd doc gains a keepable terminal-punctuation
# line, every 4th a code-like '{' line, every 13th a lorem-ipsum marker
# — identical expressions on both engines, per the PII-plant contract.
_C4_AUG_SQL = """REPLACE(text, ' sort ', chr(10))
  || CASE WHEN doc_id % 3 = 0
     THEN chr(10) || 'this planted sentence is long enough to keep.'
     ELSE '' END
  || CASE WHEN doc_id % 4 = 0
     THEN chr(10) || 'function() { return 0; }' ELSE '' END
  || CASE WHEN doc_id % 13 = 0
     THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END"""


@register(
    "q_text_c4_line_filter",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_C4_AUG_SQL} AS t FROM documents),
    lines AS (SELECT doc_id, STRING_SPLIT(t, chr(10)) AS ls FROM aug),
    kept AS (
      SELECT doc_id, CAST(LEN(ls) AS BIGINT) AS n_lines,
             LIST_FILTER(ls, l ->
               LEN(STRING_SPLIT(l, ' ')) >= {C4_MIN_LINE_WORDS}
               AND substr(l, -1, 1) IN ('.', '!', '?')
               AND NOT contains(l, '{{')
               AND NOT contains(l, 'lorem ipsum')) AS kl
      FROM lines
    )
    SELECT doc_id, n_lines, CAST(LEN(kl) AS BIGINT) AS n_kept,
           -- ARRAY_TO_STRING of an EMPTY list is NULL in DuckDB (Spark's
           -- array_join gives ''): coalesce so empty docs hash alike
           CAST(LENGTH(COALESCE(ARRAY_TO_STRING(kl, chr(10)), ''))
                AS BIGINT) AS kept_chars,
           md5(COALESCE(ARRAY_TO_STRING(kl, chr(10)), '')) AS kept_hash,
           LEN(kl) > 0 AS keep_doc
    FROM kept
    """,
)
def q_text_c4_line_filter(spark, sf_dir):
    """C4-style line-level corpus cleaning (Raffel et al. 2020): split
    each document into lines, keep only lines with >= {C4_MIN_LINE_WORDS}
    words that end in terminal punctuation, and drop code-like lines
    ('{{') and boilerplate markers ('lorem ipsum'); emit the kept-line
    count and the md5 of the cleaned reassembly so the whole surviving
    TEXT is value-checked, not just its size.

    Pure JVM higher-order functions over the line array — split, filter
    with a compound predicate, array_join, hash — one scan-side
    projection with no explode and no shuffle: the exact shape that
    keeps line-level cleaning an embarrassingly parallel map at 100 TB
    (the real C4 pipeline's per-line pass is this operator)."""
    docs = load(spark, sf_dir, "documents")
    nl = "\n"
    aug = F.concat(
        F.replace(F.col("text"), F.lit(" sort "), F.lit(nl)),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(nl + "this planted sentence is long enough to keep."),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(nl + "function() { return 0; }"),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.lit(nl + "lorem ipsum dolor sit amet."),
        ).otherwise(""),
    )
    ls = F.split(aug, nl)
    kl = F.filter(
        ls,
        lambda l: (F.size(F.split(l, " ")) >= C4_MIN_LINE_WORDS)
        & F.substring(l, -1, 1).isin(".", "!", "?")
        & ~l.contains("{")
        & ~l.contains("lorem ipsum"),
    )
    joined = F.array_join(kl, nl)
    return docs.select(
        "doc_id",
        F.size(ls).cast("long").alias("n_lines"),
        F.size(kl).cast("long").alias("n_kept"),
        F.length(joined).cast("long").alias("kept_chars"),
        F.md5(joined).alias("kept_hash"),
        (F.size(kl) > 0).alias("keep_doc"),
    )


# --- URL canonicalization ---------------------------------------------------

# the corpus has no URLs, so they are PLANTED deterministically (the PII
# contract): every doc gets one of two URL shapes — an https URL with
# mixed-case host, explicit default port, trailing slash, utm_ tracking
# params, an unstable param order and a fragment; or a plain http URL —
# built by identical expressions on both engines so the canonicalizer is
# exercised non-degenerately and value-checked end to end.
_URL_SQL = """CASE WHEN doc_id % 2 = 0
  THEN 'https://WWW.Shop' || CAST(doc_id % 5 AS VARCHAR)
       || '.Example.COM:443/Category/Item' || CAST(doc_id AS VARCHAR)
       || '/?utm_source=news&id=' || CAST(doc_id AS VARCHAR)
       || '&utm_campaign=x'
       || CASE WHEN doc_id % 6 = 0 THEN '&ref=home' ELSE '' END
       || '#section2'
  ELSE 'http://blog.example.org/post-' || CAST(doc_id AS VARCHAR)
       || '?page=1' END"""


def _url_canon_sql(u_cte: str, select: str) -> str:
    """The canonicalization pipeline as a SQL template: ``u_cte`` must
    produce (doc_id, url); ``select`` is the final projection over s3's
    (doc_id, url, base, kept, n_dropped). Shared by
    q_text_url_canonicalize and q_dedup_url_exact so the two can never
    drift."""
    return f"""
    WITH u AS ({u_cte}),
    s1 AS (  -- strip fragment, split scheme://host[:port] from the rest
      SELECT doc_id, url,
             LOWER(regexp_extract(regexp_replace(url, '#.*$', ''),
                                  '^[a-zA-Z]+://[^/]*', 0)) AS pfx,
             substr(regexp_replace(url, '#.*$', ''),
                    LENGTH(regexp_extract(regexp_replace(url, '#.*$', ''),
                                          '^[a-zA-Z]+://[^/]*', 0)) + 1)
               AS rest
      FROM u
    ),
    s2 AS (  -- default-port strip + path/query split
      SELECT doc_id, url,
             CASE WHEN pfx LIKE 'https://%' AND pfx LIKE '%:443'
                  THEN substr(pfx, 1, LENGTH(pfx) - 4)
                  WHEN pfx LIKE 'http://%' AND pfx LIKE '%:80'
                  THEN substr(pfx, 1, LENGTH(pfx) - 3)
                  ELSE pfx END AS pfx,
             STRING_SPLIT(rest, '?')[1] AS path,
             CASE WHEN LEN(STRING_SPLIT(rest, '?')) > 1
                  THEN STRING_SPLIT(rest, '?')[2] ELSE '' END AS qs
      FROM s1
    ),
    s3 AS (  -- trailing-slash path, tracking-param filter + sort
      SELECT doc_id, url,
             pfx || CASE WHEN path LIKE '%/' AND LENGTH(path) > 1
                         THEN substr(path, 1, LENGTH(path) - 1)
                         ELSE path END AS base,
             LIST_SORT(LIST_FILTER(STRING_SPLIT(qs, '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS kept,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(qs, '&'),
               p -> starts_with(p, 'utm_'))) AS BIGINT) AS n_dropped
      FROM s2
    )
    {select}
    FROM s3
    """


_URL_CANON_SELECT = """SELECT doc_id, url,
           base || CASE WHEN LEN(kept) > 0
                        THEN '?' || ARRAY_TO_STRING(kept, '&')
                        ELSE '' END AS canon_url,
           md5(base || CASE WHEN LEN(kept) > 0
                            THEN '?' || ARRAY_TO_STRING(kept, '&')
                            ELSE '' END) AS canon_md5,
           n_dropped"""


# a re-crawl of the SAME resource under different dressing: host case
# flipped, default port dropped (https) or added (http), tracking params
# and fragment changed, parameter order scrambled, trailing slash
# toggled — everything the canonicalizer is supposed to erase
_URL_VARIANT_SQL = """CASE WHEN doc_id % 2 = 0
  THEN 'HTTPS://wWw.Shop' || CAST(doc_id % 5 AS VARCHAR)
       || '.ExAmPlE.CoM/Category/Item' || CAST(doc_id AS VARCHAR)
       || '/?utm_medium=email&id=' || CAST(doc_id AS VARCHAR)
       || CASE WHEN doc_id % 6 = 0 THEN '&ref=home' ELSE '' END
       || '#other'
  ELSE 'HTTP://BLOG.example.ORG:80/post-' || CAST(doc_id AS VARCHAR)
       || '?page=1&utm_source=feed' END"""


@register(
    "q_text_url_canonicalize",
    oracle=_url_canon_sql(
        f"SELECT doc_id, {_URL_SQL} AS url FROM documents",
        _URL_CANON_SELECT,
    ),
)
def q_text_url_canonicalize(spark, sf_dir):
    """URL canonicalization — the normalization step every web-scale
    dedup pipeline runs BEFORE url-level exact dedup: strip the
    fragment, lowercase scheme+host (path stays case-sensitive per RFC
    3986), drop the default port, strip the trailing slash, remove
    utm_* tracking parameters and SORT the surviving query params so
    param order can't split identical resources into distinct keys.

    All pure JVM string/array expressions (regexp_extract once for the
    authority, higher-order filter + array_sort for the params — ASCII
    sort collation is engine-identical) — one scan-side projection, no
    shuffle, no Python: at 100 TB this runs inside whole-stage codegen
    at scan speed, and its md5 output column IS the join key for the
    downstream exact-dedup window."""
    docs = load(spark, sf_dir, "documents")
    url = F.expr(_URL_SQL.replace("VARCHAR", "STRING"))
    canon, n_dropped = _canonicalize_url(url)
    return docs.select(
        "doc_id",
        url.alias("url"),
        canon.alias("canon_url"),
        F.md5(canon).alias("canon_md5"),
        n_dropped.alias("n_dropped"),
    )


def _canonicalize_url(url):
    """(canonical-url column, n-dropped-params column) for a url column
    — the Spark twin of the _url_canon_sql template; every rule change
    must land in both."""
    nofrag = F.regexp_replace(url, "#.*$", "")
    pfx_raw = F.lower(F.regexp_extract(nofrag, "^[a-zA-Z]+://[^/]*", 0))
    rest = nofrag.substr(F.length(pfx_raw) + 1, F.length(nofrag))
    pfx = (
        F.when(
            pfx_raw.like("https://%") & pfx_raw.like("%:443"),
            pfx_raw.substr(F.lit(1), F.length(pfx_raw) - 4),
        )
        .when(
            pfx_raw.like("http://%") & pfx_raw.like("%:80"),
            pfx_raw.substr(F.lit(1), F.length(pfx_raw) - 3),
        )
        .otherwise(pfx_raw)
    )
    parts = F.split(rest, "[?]")
    path = F.element_at(parts, 1)
    qs = F.when(F.size(parts) > 1, F.element_at(parts, 2)).otherwise("")
    base = F.concat(
        pfx,
        F.when(
            path.like("%/") & (F.length(path) > 1),
            path.substr(F.lit(1), F.length(path) - 1),
        ).otherwise(path),
    )
    params = F.split(qs, "&")
    kept = F.array_sort(
        F.filter(params, lambda p: (p != "") & ~p.startswith("utm_"))
    )
    n_dropped = F.size(
        F.filter(params, lambda p: p.startswith("utm_"))
    ).cast("long")
    canon = F.concat(
        base,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&")))
        .otherwise(""),
    )
    return canon, n_dropped


# --- Hapax legomena vocabulary audit ---------------------------------------


@register(
    "q_text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(c) AS BIGINT) AS tokens,
           SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
             AS hapax_ratio_e6
    FROM tf GROUP BY 1
    """,
)
def q_text_hapax_ratio(spark, sf_dir):
    """Hapax-legomena audit per source: how much of each source's
    vocabulary occurs exactly once — the classic lexical-richness /
    OCR-noise signal (a clean natural corpus runs ~40-60% hapax; near
    zero means boilerplate duplication, near one means tokenizer junk
    or OCR garbage). Complements q_text_vocab_coverage's head-mass view
    with the tail-mass view.

    One explode + one map-side-combinable (source, term) count, then a
    per-source rollup of the type table — the same two-shuffle shape as
    TF-IDF; all counts exact BIGINTs, the ratio an integer division."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
        F.sum("c").cast("long").alias("tokens"),
        F.expr(
            "sum(case when c = 1 then 1 else 0 end) * 1000000 div count(*)"
        ).alias("hapax_ratio_e6"),
    )


# --- PMI collocation mining -------------------------------------------------

PMI_TOP_V = 24  # presence pairs restricted to the TOP_V most common terms
PMI_TOP_PAIRS = 20


@register(
    "q_text_pmi_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
    topv AS (
      SELECT term, c FROM df
      ORDER BY c DESC, term LIMIT {PMI_TOP_V}
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
    kept AS (SELECT tok.doc_id, tok.term, topv.c
             FROM tok JOIN topv ON topv.term = tok.term),
    co AS (
      SELECT a.term AS term_a, b.term AS term_b,
             MAX(a.c) AS ca, MAX(b.c) AS cb,
             CAST(COUNT(*) AS BIGINT) AS cab
      FROM kept a JOIN kept b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    )
    SELECT term_a, term_b, ca, cb, cab,
           CAST(FLOOR(LN(CAST(n.n AS DOUBLE) * cab
                / (CAST(ca AS DOUBLE) * cb)) * 1e6 + 0.5) AS BIGINT)
             AS pmi_e6
    FROM co, n
    ORDER BY pmi_e6 DESC, term_a, term_b
    LIMIT {PMI_TOP_PAIRS}
    """,
)
def q_text_pmi_pairs(spark, sf_dir):
    """Pointwise-mutual-information collocation mining over document
    co-occurrence: which term PAIRS appear together more than their
    marginals predict — the classic phrase/topic-coherence signal
    (Church & Hanks). Restricted to the {PMI_TOP_V} highest-df terms so
    the per-document pair fan-out is a CONSTANT C({PMI_TOP_V},2) bound
    however large the vocabulary grows — the cap is the blocking device,
    the same role DF_CAP plays in containment dedup.

    Presence (DISTINCT doc, term), document frequencies, and
    co-occurrence counts are exact BIGINTs; PMI is ONE identical
    ln(n*cab/(ca*cb)) expression over them snapped to e6 (the
    established ln-noise-below-granularity discipline), and the top-K
    order (pmi desc, pair) is total. TakeOrderedAndProject keeps the
    global top-K heap-based. Shape: explode + two map-side-combinable
    aggs, a broadcast of the {PMI_TOP_V}-row term list, one bounded
    pair join."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    df = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    topv = df.orderBy(F.col("c").desc(), "term").limit(PMI_TOP_V)
    n_docs = tok.select("doc_id").distinct().count()  # scalar fixture count
    kept = tok.join(F.broadcast(topv), "term").localCheckpoint(eager=False)
    a = kept.select("doc_id", F.col("term").alias("term_a"), F.col("c").alias("ca0"))
    b = kept.select("doc_id", F.col("term").alias("term_b"), F.col("c").alias("cb0"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.max("ca0").alias("ca"),
            F.max("cb0").alias("cb"),
            F.count(F.lit(1)).cast("long").alias("cab"),
        )
    )
    pmi = F.floor(
        F.log(
            F.lit(float(n_docs)) * F.col("cab")
            / (F.col("ca").cast("double") * F.col("cb"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        co.select("term_a", "term_b", "ca", "cb", "cab", pmi.alias("pmi_e6"))
        .orderBy(F.col("pmi_e6").desc(), "term_a", "term_b")
        .limit(PMI_TOP_PAIRS)
    )


# --- Cross-language vocabulary overlap (Jaccard matrix) --------------------


@register(
    "q_text_lang_vocab_overlap",
    oracle="""
    WITH vt AS (
      SELECT DISTINCT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ),
    vs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS v FROM vt GROUP BY 1),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM vt a JOIN vt b ON a.token = b.token AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT i.lang_a, i.lang_b, va.v AS vocab_a, vb.v AS vocab_b, i.n_common,
           CAST((1000000 * i.n_common) // (va.v + vb.v - i.n_common)
             AS BIGINT) AS jaccard_e6
    FROM inter i
    JOIN vs va ON va.lang = i.lang_a
    JOIN vs vb ON vb.lang = i.lang_b
    """,
)
def q_text_lang_vocab_overlap(spark, sf_dir):
    """Pairwise Jaccard overlap between per-language vocabularies — the
    corpus-level view of cross-lingual token sharing (loanwords, code,
    named entities). High overlap between two language slices of a
    crawl usually means mislabelled documents; this is the audit run
    after q_text_language_id before trusting the lang column for
    mixture planning.

    Pure-integer op: distinct (lang, token) relation, a self-equi-join
    on token restricted to ordered pairs (each unordered pair counted
    once), exact BIGINT set sizes, and integer-division Jaccard —
    nothing floating anywhere. At 100 TB the token join's heavy keys
    are shared stopwords (the AQE skew shape); the |langs|-sized
    vocabulary margins broadcast."""
    docs = load(spark, sf_dir, "documents")
    vt = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    vs = vt.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("v"))
    a = vt.select(F.col("lang").alias("lang_a"), "token")
    b = vt.select(F.col("lang").alias("lang_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(vs.select(F.col("lang").alias("lang_a"), F.col("v").alias("vocab_a"))),
            "lang_a",
        )
        .join(
            F.broadcast(vs.select(F.col("lang").alias("lang_b"), F.col("v").alias("vocab_b"))),
            "lang_b",
        )
        .select(
            "lang_a", "lang_b", "vocab_a", "vocab_b", "n_common",
            F.expr(
                "(1000000 * n_common) div (vocab_a + vocab_b - n_common)"
            ).cast("long").alias("jaccard_e6"),
        )
    )


# --- Simpson lexical diversity per source ----------------------------------


@register(
    "q_text_simpson_diversity",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    g AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS s2
      FROM cnt GROUP BY 1
    )
    SELECT source, n_tokens, vocab, s2,
           CAST((2000000 * s2 + n_tokens * (n_tokens - 1))
                // (2 * n_tokens * (n_tokens - 1)) AS BIGINT) AS simpson_e6
    FROM g WHERE n_tokens > 1
    """,
)
def q_text_simpson_diversity(spark, sf_dir):
    """Simpson concentration index per source — the probability two
    tokens drawn without replacement are the same type. Low values =
    lexically diverse source, values near 1 = template/boilerplate
    farms; with q_text_hapax_ratio (rare-tail mass) and
    q_text_source_entropy (Shannon view) this completes the lexical-
    diversity panel a mixture planner reads before weighting sources.

    Pure-integer op end to end: per-(source, token) counts, the exact
    pair count sum c*(c-1), and round-half-up integer division for the
    e6 index — (2e6*S + n(n-1)) div (2n(n-1)) on positive BIGINTs is
    engine-identical. int64 bound: S <= n^2 only when one token
    dominates; the binding constraint is c*(c-1) < 2^63, i.e. ~3e9
    occurrences of one token in one source — past that, widen the
    product to DECIMAL(38,0)/HUGEINT (the documented swap). Two
    map-side-combinable aggregations; nothing shuffles wide."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    g = cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("s2"),
    )
    return g.filter(F.col("n_tokens") > 1).select(
        "source", "n_tokens", "vocab", "s2",
        F.expr(
            "(2000000 * s2 + n_tokens * (n_tokens - 1))"
            " div (2 * n_tokens * (n_tokens - 1))"
        ).cast("long").alias("simpson_e6"),
    )


# --- Character-level entropy per document ----------------------------------


@register(
    "q_text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS c
      FROM documents, UNNEST(range(1, LEN(text) + 1)) AS u(i)
    ),
    cnt AS (
      SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
      FROM ch GROUP BY 1, 2
    ),
    dn AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars_tok FROM cnt GROUP BY 1
    ),
    g AS (
      SELECT c.doc_id, dn.n_chars_tok,
             CAST(COUNT(*) AS BIGINT) AS alphabet,
             CAST(SUM(CAST(FLOOR(CAST(k AS DOUBLE)
                                 * LOG2(CAST(dn.n_chars_tok AS DOUBLE)
                                        / CAST(k AS DOUBLE))
                                 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s_e6
      FROM cnt c JOIN dn ON dn.doc_id = c.doc_id
      GROUP BY c.doc_id, dn.n_chars_tok
    )
    SELECT doc_id, n_chars_tok, alphabet,
           CAST((2 * s_e6 + n_chars_tok) // (2 * n_chars_tok) AS BIGINT)
             AS entropy_e6
    FROM g WHERE n_chars_tok > 0
    """,
)
def q_text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the garbage
    detector beneath the token-level quality panel: binary blobs and
    encoding mojibake score far above natural text (~4.1 bits/char for
    English), single-character spam far below. C4/Gopher filter words;
    this catches documents that aren't words at all.

    Oracle character access is positional substr over an integer range;
    the Spark side uses a single-pass split(text, '') — identical
    per-codepoint elements for non-empty text, and the one divergent
    edge (empty text splits to ['']) is filtered out, matching the
    oracle's zero rows for empty docs. substr(text, i, 1) on Spark's
    UTF8String re-scans from byte 0 to find char i, so a
    transform(sequence(...), i -> substr(...)) build is O(len^2) per
    document — measured 60 s / exponent 1.05 at the 16x probe vs this
    form's one O(len) scan. Per-character-class terms k*log2(n/k) are
    e6 fixed-pointed BEFORE the per-doc sum (order-free BIGINT), and
    the bits-per-char mean is exact integer round-half-up. At 100 TB
    the explode is the only corpus-sized stage and its (doc, char)
    aggregate combines map-side onto a <=|alphabet| per-doc relation."""
    docs = load(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        F.explode(F.split("text", "")).alias("c"),
    ).where(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).cast("long").alias("k"))
    n = cnt.groupBy("doc_id").agg(F.sum("k").alias("n_chars_tok"))
    term = F.floor(
        F.col("k").cast("double")
        * F.log2(F.col("n_chars_tok").cast("double") / F.col("k").cast("double"))
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    g = (
        cnt.join(n, "doc_id")
        .groupBy("doc_id", "n_chars_tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("alphabet"),
            F.sum(term).alias("s_e6"),
        )
    )
    return g.filter(F.col("n_chars_tok") > 0).select(
        "doc_id", "n_chars_tok", "alphabet",
        F.expr("(2 * s_e6 + n_chars_tok) div (2 * n_chars_tok)")
        .cast("long").alias("entropy_e6"),
    )


# --- Flesch-Kincaid readability per language --------------------------------


@register(
    "q_text_readability",
    oracle="""
    WITH words AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(LEN(regexp_extract_all(w, '[aeiou]+'))) AS BIGINT)
               AS n_syll
      FROM words GROUP BY 1, 2
    ),
    sent AS (
      SELECT doc_id,
             GREATEST(CAST(1 AS BIGINT),
                      CAST(LEN(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
               AS n_sent
      FROM documents
    ),
    g AS (
      SELECT p.lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(p.n_words) AS BIGINT) AS n_words,
             CAST(SUM(p.n_syll) AS BIGINT) AS n_syllables,
             CAST(SUM(s.n_sent) AS BIGINT) AS n_sentences
      FROM per_doc p JOIN sent s ON s.doc_id = p.doc_id
      GROUP BY 1
    )
    SELECT lang, n_docs, n_words, n_syllables, n_sentences,
           CAST(FLOOR((0.39 * CAST(n_words AS DOUBLE)
                         / CAST(n_sentences AS DOUBLE)
                       + 11.8 * CAST(n_syllables AS DOUBLE)
                         / CAST(n_words AS DOUBLE)
                       - 15.59) * 1e4 + 0.5) AS BIGINT) AS fk_grade_e4
    FROM g WHERE n_words > 0
    """,
)
def q_text_readability(spark, sf_dir):
    """Flesch-Kincaid grade level per language slice, with the exact
    word/syllable/sentence masses it derives from. Syllables are the
    standard vowel-group approximation (runs of [aeiou] per word),
    sentences the [.!?]+ terminator count clamped to >= 1 — the
    classic readability feature set quality classifiers are distilled
    from when a trained scorer is too expensive for a first pass.

    All masses are exact BIGINT sums (one tokenize + two regex counts,
    entirely JVM/whole-stage-codegen side — regexp via
    length(regexp_extract_all), identical semantics on both engines);
    the grade formula is one double tree over the aggregate masses,
    e4-snapped. Per-LANGUAGE aggregation keeps the output a
    broadcastable panel while the corpus-sized stages all combine
    map-side."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    per_doc = words.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size(F.expr("regexp_extract_all(w, '[aeiou]+', 0)")))
        .cast("long").alias("n_syll"),
    )
    sent = docs.select(
        "doc_id",
        F.greatest(
            F.lit(1).cast("long"),
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"),
        ).alias("n_sent"),
    )
    g = (
        per_doc.join(sent, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_syll").alias("n_syllables"),
            F.sum("n_sent").alias("n_sentences"),
        )
    )

    def d(c):
        return F.col(c).cast("double")

    fk = (
        F.lit(0.39) * d("n_words") / d("n_sentences")
        + F.lit(11.8) * d("n_syllables") / d("n_words")
        - F.lit(15.59)
    )
    return g.filter(F.col("n_words") > 0).select(
        "lang", "n_docs", "n_words", "n_syllables", "n_sentences",
        F.floor(fk * F.lit(1e4) + F.lit(0.5)).cast("long").alias("fk_grade_e4"),
    )


# --- Heaps' law vocabulary-growth fit ---------------------------------------


@register(
    "q_text_heaps_law",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    firsts AS (
      SELECT token, MIN(doc_id) AS f FROM tok GROUP BY 1
    ),
    new_per_doc AS (
      SELECT f AS doc_id, CAST(COUNT(*) AS BIGINT) AS nw FROM firsts GROUP BY 1
    ),
    tok_per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tc FROM tok GROUP BY 1
    ),
    cum AS (
      SELECT t.doc_id,
             SUM(t.tc) OVER (ORDER BY t.doc_id) AS cum_tc,
             SUM(COALESCE(n.nw, 0)) OVER (ORDER BY t.doc_id) AS cum_nw
      FROM tok_per_doc t LEFT JOIN new_per_doc n ON n.doc_id = t.doc_id
    ),
    pts AS (
      SELECT CAST(FLOOR(LN(CAST(cum_tc AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
               AS x,
             CAST(FLOOR(LN(CAST(cum_nw AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
               AS y
      FROM cum WHERE cum_tc > 0 AND cum_nw > 0
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n, sx, sy, sxy, sxx,
           CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * 1e6 + 0.5) AS BIGINT) AS beta_e6,
           CAST(FLOOR((CAST(sy AS DOUBLE)
                       - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE) / 1e4 * 1e6 + 0.5) AS BIGINT)
             AS lnk_e6
    FROM m
    WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
    """,
)
def q_text_heaps_law(spark, sf_dir):
    """Heaps'-law fit V = K * N^beta of vocabulary growth: walk the
    corpus in doc_id order, checkpoint (cumulative tokens, cumulative
    distinct vocabulary) after every document, and OLS the log-log
    points. beta ~ 0.5 is healthy natural text; beta collapsing toward
    0 means the crawl has started re-reading itself — the saturation
    diagnostic a data-acquisition loop watches. Zipf (q_text_zipf_fit)
    fits the frequency axis; this fits the growth axis.

    Cumulative vocabulary WITHOUT re-scanning per checkpoint: each
    token's first-occurrence doc is min(doc_id) (one aggregate), so
    V(k) is the running sum of first-occurrence counts — computed with
    ``global_cumsum`` (registry.py), the two-pass range-partitioned
    prefix sum, never a single-partition window over documents. OLS
    inputs are e4-fixed logs (1-ulp LN noise far below granularity),
    moments exact BIGINTs (e4 keeps x*x sums inside int64 through
    ~1e8 checkpoints — documented bound), slope/intercept one shared
    double tree e6-snapped, degenerate single-point fits filtered
    identically."""
    from .registry import global_cumsum

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    firsts = tok.groupBy("token").agg(F.min("doc_id").alias("doc_id"))
    new_per_doc = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nw")
    )
    tok_per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    base = tok_per_doc.join(new_per_doc, "doc_id", "left").select(
        "doc_id", "tc", F.coalesce("nw", F.lit(0).cast("long")).alias("nw")
    )
    cum = global_cumsum(base, "doc_id", ["tc", "nw"])
    pts = cum.filter((F.col("cum_tc") > 0) & (F.col("cum_nw") > 0)).select(
        F.floor(F.log(F.col("cum_tc").cast("double")) * 1e4 + F.lit(0.5))
        .cast("long").alias("x"),
        F.floor(F.log(F.col("cum_nw").cast("double")) * 1e4 + F.lit(0.5))
        .cast("long").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )

    def d(c):
        return F.col(c).cast("double")

    varx = d("n") * d("sxx") - d("sx") * d("sx")
    beta = (d("n") * d("sxy") - d("sx") * d("sy")) / varx
    lnk = (d("sy") - beta * d("sx")) / d("n") / F.lit(1e4)
    return m.filter(varx > 0).select(
        "n", "sx", "sy", "sxy", "sxx",
        F.floor(beta * F.lit(1e6) + F.lit(0.5)).cast("long").alias("beta_e6"),
        F.floor(lnk * F.lit(1e6) + F.lit(0.5)).cast("long").alias("lnk_e6"),
    )


# --- Burrows' Delta stylometric distance between sources --------------------

DELTA_TOP_WORDS = 30


@register(
    "q_text_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS nt FROM cnt GROUP BY 1),
    top AS (
      SELECT token FROM (
        SELECT token, SUM(c) AS g,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, token) AS rn
        FROM cnt GROUP BY token
      ) WHERE rn <= {DELTA_TOP_WORDS}
    ),
    grid AS (
      SELECT t.token, s.source, s.nt,
             CAST((1000000 * COALESCE(c.c, 0)) // s.nt AS BIGINT) AS f_e6
      FROM top t CROSS JOIN totals s
      LEFT JOIN cnt c ON c.token = t.token AND c.source = s.source
    ),
    ws AS (
      SELECT token,
             CAST(COUNT(*) AS BIGINT) AS ns,
             CAST(SUM(f_e6) AS BIGINT) AS sf,
             CAST(SUM(f_e6 * f_e6) AS BIGINT) AS sff
      FROM grid GROUP BY 1
    ),
    keep AS (
      SELECT token, ns, sf, sff FROM ws
      WHERE CAST(ns AS DOUBLE) * CAST(sff AS DOUBLE)
            - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE) > 0
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, k.token,
             CAST(FLOOR(ABS(CAST(k.ns AS DOUBLE)
                            * CAST(a.f_e6 - b.f_e6 AS DOUBLE))
                        / SQRT(CAST(k.ns AS DOUBLE) * CAST(k.sff AS DOUBLE)
                               - CAST(k.sf AS DOUBLE) * CAST(k.sf AS DOUBLE))
                        * 1e6 + 0.5) AS BIGINT) AS zdiff_e6
      FROM keep k
      JOIN grid a ON a.token = k.token
      JOIN grid b ON b.token = k.token AND b.source > a.source
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST((2 * SUM(zdiff_e6) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
             AS delta_e6
    FROM pairs GROUP BY 1, 2
    """,
)
def q_text_burrows_delta(spark, sf_dir):
    """Burrows' Delta between every source pair: z-score each source's
    relative frequency of the corpus's top-{DELTA_TOP_WORDS} words
    against the cross-source distribution, then Delta = mean |z_a -
    z_b|. The standard stylometric authorship distance — near-zero
    Delta between two 'different' crawl sources is a mirror/scraper
    fingerprint that URL canonicalization (q_dedup_url_exact) misses.

    Determinism: relative frequencies are INTEGER e6 (1e6*c div n_t)
    on the full top-words x sources grid (absent cells = 0); per-word
    moments are exact BIGINTs; the z-difference collapses to
    n*|f_a - f_b| / sqrt(n*Sff - Sf^2) — integer numerator, one shared
    double tree — e6-fixed per word BEFORE the pair mean, which is
    exact integer round-half-up. Zero-variance words are dropped
    identically on both engines. The top-word cut is a rank <=
    {DELTA_TOP_WORDS} filter Spark rewrites to TakeOrderedAndProject
    (no single-partition window); the pair join runs on the
    |sources|^2/2 x {DELTA_TOP_WORDS} AGGREGATE grid, never corpus
    rows."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = cnt.groupBy("source").agg(F.sum("c").alias("nt"))
    wtop = W.orderBy(F.desc("g"), F.asc("token"))
    top = (
        cnt.groupBy("token")
        .agg(F.sum("c").alias("g"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= DELTA_TOP_WORDS)
        .select("token")
    )
    grid = (
        F.broadcast(top)
        .crossJoin(totals)
        .join(cnt, ["token", "source"], "left")
        .select(
            "token", "source", "nt",
            F.expr("(1000000 * coalesce(c, 0)) div nt")
            .cast("long").alias("f_e6"),
        )
    )
    ws = grid.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("f_e6").alias("sf"),
        F.sum(F.col("f_e6") * F.col("f_e6")).alias("sff"),
    )

    def d(c):
        return F.col(c).cast("double")

    varw = d("ns") * d("sff") - d("sf") * d("sf")
    keep = ws.filter(varw > 0)
    a = grid.select(
        "token", F.col("source").alias("source_a"), F.col("f_e6").alias("fa")
    )
    b = grid.select(
        "token", F.col("source").alias("source_b"), F.col("f_e6").alias("fb")
    )
    zdiff = F.floor(
        F.abs(d("ns") * (F.col("fa") - F.col("fb")).cast("double"))
        / F.sqrt(d("ns") * d("sff") - d("sf") * d("sf"))
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    pairs = (
        F.broadcast(keep)
        .join(a, "token")
        .join(b, "token")
        .filter(F.col("source_b") > F.col("source_a"))
        .select("source_a", "source_b", zdiff.alias("zdiff_e6"))
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.expr(
            "cast((2 * sum(zdiff_e6) + count(*)) div (2 * count(*)) as long)"
        ).alias("delta_e6"),
    )


# --- MATTR: moving-average type-token ratio --------------------------------

MATTR_WIN = 50  # standard MATTR window (Covington & McFall)


@register(
    "q_text_mattr",
    oracle=f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents
    ),
    win AS (
      SELECT doc_id, n_words,
             CAST(LEAST(n_words, {MATTR_WIN}) AS BIGINT) AS width,
             CAST(n_words - LEAST(n_words, {MATTR_WIN}) + 1 AS BIGINT)
               AS n_windows,
             CAST(LIST_SUM(LIST_TRANSFORM(
                    range(0, n_words - LEAST(n_words, {MATTR_WIN}) + 1),
                    s -> len(list_distinct(
                           w[CAST(s + 1 AS INT)
                             : CAST(s + LEAST(n_words, {MATTR_WIN}) AS INT)]))))
                  AS BIGINT) AS sum_distinct
      FROM ws
    )
    SELECT doc_id, n_words, width, n_windows, sum_distinct,
           CAST(sum_distinct * 1000000 // (n_windows * width) AS BIGINT)
             AS mattr_e6
    FROM win
    """,
)
def q_text_mattr(spark, sf_dir):
    """Moving-Average Type-Token Ratio (Covington & McFall): lexical
    diversity that, unlike raw TTR, does not collapse with document
    length — the quality signal that separates vocabulary-rich prose
    from template spam at equal length. Per document: slide a
    {MATTR_WIN}-word window stride 1, count DISTINCT words per window,
    average the ratios (documents shorter than the window degrade to
    whole-document TTR: one window of width n).

    All window work happens INSIDE one JVM higher-order-function
    projection (transform over the start sequence + array_distinct over
    slices) — no explode, no shuffle, no Python; per-doc cost is
    O(len x {MATTR_WIN}), bounded by the document, embarrassingly
    parallel at any corpus size. The ratio is exact integer div of the
    window-distinct SUM (engine-identical; the avg-of-ratios equals
    sum/(n_windows*width) because every window has equal width)."""
    docs = load(spark, sf_dir, "documents")
    ws = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
    )
    width = F.least(F.col("n_words"), F.lit(MATTR_WIN)).cast("long")
    win = ws.select(
        "doc_id",
        "n_words",
        width.alias("width"),
        (F.col("n_words") - width + 1).cast("long").alias("n_windows"),
        F.aggregate(
            F.expr(
                f"transform(sequence(0, size(w) - least(size(w), {MATTR_WIN})),"
                f" s -> size(array_distinct("
                f"slice(w, s + 1, least(size(w), {MATTR_WIN})))))"
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_distinct"),
    )
    return win.withColumn(
        "mattr_e6",
        F.expr("sum_distinct * 1000000 div (n_windows * width)").cast("long"),
    )


# --- distributed suffix ranks (prefix doubling) -----------------------------

SUFFIX_LEVELS = 8  # oracle CTE depth: resolves suffixes up to 2^8 = 256
# words — 2.5x the fixture max; the Spark loop sizes itself from the
# observed max and raises if a document ever exceeds the oracle bound


def _suffix_levels_cte() -> str:
    """Shared CTE chain for the suffix-array oracles: token positions
    and the full prefix-doubling rank ladder l0..l{SUFFIX_LEVELS}
    (level k ranks order suffixes by their first 2^k words)."""
    parts = [
        """ws AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             w[CAST(u.i AS INT) + 1] AS tok
      FROM ws, UNNEST(range(0, len(w))) AS u(i)
    ),
    l0 AS MATERIALIZED (
      SELECT doc_id, pos,
             CAST(DENSE_RANK() OVER (ORDER BY tok) AS BIGINT) AS r
      FROM toks
    )"""
    ]
    for k in range(1, SUFFIX_LEVELS + 1):
        shift = 1 << (k - 1)
        parts.append(
            f""",
    l{k} AS MATERIALIZED (
      SELECT a.doc_id, a.pos,
             CAST(DENSE_RANK() OVER (ORDER BY a.r, COALESCE(b.r, 0))
                  AS BIGINT) AS r
      FROM l{k - 1} a LEFT JOIN l{k - 1} b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + {shift}
    )"""
        )
    return "".join(parts)


def _suffix_rank_oracle() -> str:
    return f"""
    WITH {_suffix_levels_cte()}
    SELECT doc_id, pos, r AS srank FROM l{SUFFIX_LEVELS}"""


@register("q_text_suffix_ranks", oracle=_suffix_rank_oracle())
def q_text_suffix_ranks(spark, sf_dir):
    """Distributed suffix-array construction via PREFIX DOUBLING (the
    Flick & Aluru distributed-memory scheme, word-granular): after
    round k every position's rank orders suffixes by their first 2^k
    words, so ceil(log2(max_doc_len)) rounds yield the full suffix
    ranks — equal ranks <=> equal suffixes, and sorting by rank IS the
    suffix array. This is the primitive that upgrades shingle-based
    substring dedup to Lee-et-al byte-exact maximal repeats (adjacent
    ranks + LCP = every repeated span, exactly): q_dedup_substring_exact
    verifies spans against witnesses; suffix ranks would enumerate them
    exhaustively.

    Plan shape, all-relational, no driver data — ACTIVE-SET form
    (Larsson & Sadakane 1999, round 13): (1) initial keys = each
    token-class's global start index (one groupBy + the two-pass
    range-partition/offset-carry cumsum — never a corpus-wide
    single-partition window); (2) each doubling round looks up the key
    2^k ahead IN THE SAME DOCUMENT (one equi-join; absent = 0) for the
    ACTIVE rows only — positions still sharing their class with
    someone — and re-keys them in place with ONE class-partitioned
    window (new key = class start + in-class rank - 1, which is again
    a global start index because refinement splits ties without
    reordering). Singleton classes are frozen forever and carried over
    by a broadcast anti-join, so per-round cost tracks the collapsing
    active set, not npos; rounds stop early at the partition fixpoint
    (no split => every later level is identical). Rounds are at most
    log2(max_doc_len) — 7 here — and a single two-pass dense-rank
    conversion at the end restores DENSE_RANK values, byte-identical
    to the oracle's {SUFFIX_LEVELS} fixed materialized CTE levels
    (levels past convergence are provably no-ops: identical suffixes
    keep identical pair keys, distinct ranks keep their order)."""
    levels, _, _ = _suffix_levels(spark, sf_dir)
    return levels[-1].select(
        "doc_id", "pos", F.col("r").cast("long").alias("srank")
    )


# The ladder is the single most expensive primitive in the library
# (~17 s at sf0.1) and both q_text_suffix_ranks and q_text_longest_repeat
# consume the SAME checkpointed rank tables — building it twice per suite
# run was 12% of total suite wall (round-10 verdict item 1).
@memoized("suffix_ladder")
def _suffix_levels(spark, sf_dir):
    """Prefix-doubling ladder builder shared by q_text_suffix_ranks and
    q_text_longest_repeat: returns (levels, maxlen, npos) where
    levels[k] is the checkpointed (doc_id, pos, r) rank table ordering
    suffixes by their first 2^k words; levels[-1] is the full suffix
    rank. See q_text_suffix_ranks for the plan-shape argument."""
    from .registry import global_cumsum

    docs = load(spark, sf_dir, "documents")
    stats = docs.agg(
        F.max(F.size(F.split("text", " "))).alias("maxlen"),
        F.sum(F.size(F.split("text", " "))).alias("npos"),
    ).collect()[0]  # one 2-scalar pull (the _span_bucket_hours class)
    maxlen, npos = int(stats.maxlen), int(stats.npos)
    if maxlen > (1 << SUFFIX_LEVELS):
        raise ValueError(
            f"document of {maxlen} words exceeds the oracle's"
            f" 2^{SUFFIX_LEVELS}-word doubling depth"
        )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    # ACTIVE-SET prefix doubling (Larsson & Sadakane 1999 "qsufsort",
    # distributed): internal levels carry RANK()-style keys — each
    # suffix's key is the GLOBAL START INDEX of its equivalence class
    # (number of strictly-smaller suffixes + 1) — instead of dense
    # ranks. Refinement never reorders classes, only splits ties, so a
    # singleton class's key is FINAL the moment it appears; each round
    # therefore touches only the positions still in size>1 classes (the
    # "active set", which collapses after 2-3 rounds once short prefixes
    # distinguish most of a corpus) instead of re-dense-ranking all
    # npos positions. A split assigns nr = class_start +
    # (rank within the class by the lookahead key) - 1, which IS the new
    # global start index, so the invariant is maintained with one
    # class-partitioned window over the active rows — no global
    # distinct, no global two-pass rank, per round. One dense-rank
    # conversion at the very end restores the DENSE_RANK values the
    # oracle CTE ladder emits, byte-identical to the old all-rows form.
    # Key equality <=> class equality holds at every internal level, so
    # the LCP walk in _sa_perpos consumes the RANK-keyed levels as-is.
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vrank = global_cumsum(vocab, "tok", ["cnt"]).select(
        "tok",
        "cnt",
        (F.col("cum_cnt") - F.col("cnt") + 1).alias("r"),
    )
    # round-14 job-count diet (guide §1/§2): every in-loop checkpoint is
    # LAZY — the per-round stats collect (which must run anyway to
    # decide the fixpoint) materializes the same partitions the old
    # eager form paid a dedicated job for, so each doubling round costs
    # ONE job instead of three. Lazy localCheckpoint caches identically
    # once materialized; every consumer below it runs inside the same
    # action that materializes it, so there is no re-sampling hazard
    # (the only range exchange, global_cumsum's, keeps its eager pin).
    cur = (
        toks.join(vrank.select("tok", "r"), "tok")
        .select("doc_id", "pos", "r")
        .localCheckpoint(eager=False)
    )
    levels = [cur]
    # active classes = class start keys with size > 1 (a |classes|-sized
    # relation, broadcastable); active rows = their member positions
    actc = vrank.filter(F.col("cnt") > 1).select("r")
    act = (
        cur.join(F.broadcast(actc), "r")
        .select("doc_id", "pos", "r")
        .localCheckpoint(eager=False)
    )
    n_act = act.count()
    rounds = 0
    while (1 << rounds) < maxlen:
        rounds += 1
    for k in range(rounds):
        if n_act == 0:
            break  # all classes singleton: every later level is a no-op
        shift = 1 << k
        ahead = cur.select(
            "doc_id",
            (F.col("pos") - F.lit(shift)).alias("pos"),
            F.col("r").alias("r2"),
        )
        keyed = act.join(ahead, ["doc_id", "pos"], "left_outer").select(
            "doc_id",
            "pos",
            "r",
            F.coalesce(F.col("r2"), F.lit(0).cast("long")).alias("r2n"),
        )
        # one class-partitioned window pass: the in-class rank by the
        # lookahead key yields the new start-index key, and the tie
        # frame (rangeBetween 0,0 on r2n — same exchange) yields the
        # new class size, deciding who stays active
        wcls = W.partitionBy("r").orderBy("r2n")
        wtie = W.partitionBy("r").orderBy("r2n").rangeBetween(0, 0)
        upd = (
            keyed.withColumn(
                "nr", (F.col("r") + F.rank().over(wcls) - 1).cast("long")
            )
            .withColumn("sz", F.count(F.lit(1)).over(wtie))
            .select("doc_id", "pos", "r", "nr", "sz")
            .localCheckpoint(eager=False)  # materialized by stats below
        )
        stats = upd.agg(
            F.sum((F.col("nr") != F.col("r")).cast("long")).alias("n_split"),
            F.sum((F.col("sz") > 1).cast("long")).alias("n_act"),
        ).collect()[0]
        if int(stats.n_split or 0) == 0:
            # fixpoint: no class split, this level's rows are identical
            # to the previous level's (remaining ties are whole-suffix-
            # identical positions) — stop without the duplicate level
            n_act = 0
            break
        # inactive rows are frozen: carry them over untouched (broadcast
        # anti-join on the small active-class-key relation), splice in
        # the re-keyed active rows
        cur = (
            cur.join(F.broadcast(actc), "r", "left_anti")
            .unionByName(
                upd.select("doc_id", "pos", F.col("nr").alias("r"))
            )
            .localCheckpoint(eager=False)  # materialized next round
        )
        levels.append(cur)
        n_act = int(stats.n_act or 0)
        still = upd.filter(F.col("sz") > 1)
        actc = still.select(F.col("nr").alias("r")).distinct()
        act = still.select("doc_id", "pos", F.col("nr").alias("r"))
    # restore DENSE_RANK values (the oracle ladder's l{k} semantics) for
    # the final level only: dense rank = running count of distinct class
    # start keys — one two-pass cumsum over the |classes| relation
    final = levels[-1]
    dkeys = final.select("r").distinct().withColumn("one", F.lit(1))
    dmap = global_cumsum(dkeys, "r", ["one"]).select(
        "r", F.col("cum_one").alias("dr")
    )
    dense = (
        final.join(dmap, "r")
        .select("doc_id", "pos", F.col("dr").alias("r"))
        .localCheckpoint(eager=False)  # first consumer materializes
    )
    levels[-1] = dense
    return levels, maxlen, npos


# --- longest repeated substring per document (SA + LCP) ---------------------

REP_MIN_WORDS = 8  # reporting threshold for repeated-position counts —
# matches dedup.SUBSTR_W so the SA path and the shingle ledger describe
# the same ">= 8-word repeat" universe


def _sa_perpos_cte() -> str:
    """WITH-body SQL from the suffix-level ladder down to ``perpos``
    (doc_id, pos, dup_len) and ``dl`` (doc_id, n_words) — shared by the
    longest-repeat and repeat-coverage oracles."""
    top = SUFFIX_LEVELS + 1
    parts = [
        f"""{_suffix_levels_cte()},
    dl AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words
      FROM toks GROUP BY doc_id
    ),
    sa AS MATERIALIZED (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (ORDER BY r, doc_id, pos) AS idx
      FROM l{SUFFIX_LEVELS}
    ),
    w{top} AS MATERIALIZED (
      SELECT a.doc_id AS ad, a.pos AS ap, b.doc_id AS bd, b.pos AS bp,
             CAST(0 AS BIGINT) AS lcp, a.pos AS pa, b.pos AS pb
      FROM sa a JOIN sa b ON b.idx = a.idx + 1
    )"""
    ]
    for k in range(SUFFIX_LEVELS, -1, -1):
        step = 1 << k
        hit = f"ra.r IS NOT NULL AND rb.r IS NOT NULL AND ra.r = rb.r"
        parts.append(
            f""",
    w{k} AS MATERIALIZED (
      SELECT t.ad, t.ap, t.bd, t.bp,
             t.lcp + CASE WHEN {hit} THEN {step} ELSE 0 END AS lcp,
             t.pa + CASE WHEN {hit} THEN {step} ELSE 0 END AS pa,
             t.pb + CASE WHEN {hit} THEN {step} ELSE 0 END AS pb
      FROM w{k + 1} t
      LEFT JOIN l{k} ra ON ra.doc_id = t.ad AND ra.pos = t.pa
      LEFT JOIN l{k} rb ON rb.doc_id = t.bd AND rb.pos = t.pb
    )"""
        )
    parts.append(
        f""",
    lcps AS (
      SELECT t.ad, t.ap, t.bd, t.bp,
             LEAST(t.lcp, la.n_words - t.ap, lb.n_words - t.bp) AS lcp
      FROM w0 t
      JOIN dl la ON la.doc_id = t.ad
      JOIN dl lb ON lb.doc_id = t.bd
    ),
    sides AS (
      SELECT ad AS doc_id, ap AS pos, lcp FROM lcps
      UNION ALL
      SELECT bd AS doc_id, bp AS pos, lcp FROM lcps
    ),
    perpos AS (
      SELECT doc_id, pos, MAX(lcp) AS dup_len FROM sides GROUP BY 1, 2
    )"""
    )
    return "".join(parts)


def _longest_repeat_oracle() -> str:
    return f"""
    WITH {_sa_perpos_cte()}
    SELECT p.doc_id, d.n_words,
           CAST(MAX(p.dup_len) AS BIGINT) AS max_rep_words,
           CAST(COUNT(CASE WHEN p.dup_len >= {REP_MIN_WORDS} THEN 1 END)
                AS BIGINT) AS n_rep_positions
    FROM perpos p JOIN dl d ON d.doc_id = p.doc_id
    GROUP BY 1, 2"""


# Per-position repeat lengths are the second most expensive text
# primitive (the LCP walk on top of the ladder); q_text_longest_repeat,
# q_text_repeat_coverage, and the SA-driven cascade all consume the same
# (doc_id, pos, dup_len) relation.
@memoized("sa_perpos")
def _sa_perpos(spark, sf_dir):
    """(perpos, dl, lcps, sa) from the suffix array: perpos = (doc_id, pos,
    dup_len) where dup_len is the longest prefix the suffix at pos
    shares with ANY other suffix in the corpus (max LCP with its two
    SA neighbors), dl = (doc_id, n_words), lcps = the raw SA-adjacent
    pair relation (ad, ap, bd, bp, lcp) the distinct-substring
    counter sums, sa = (doc_id, pos, idx) the exact-decontamination
    scan orders by. Checkpointed + memoized;
    see q_text_longest_repeat for the full plan-shape argument."""
    levels, maxlen, npos = _suffix_levels(spark, sf_dir)
    final = levels[-1]
    # SA index: inlined two-pass global row number over the tuple order
    part = (
        final.repartitionByRange(range_parts(final), "r", "doc_id", "pos")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = W.partitionBy("__pid").orderBy("r", "doc_id", "pos")
    local = part.withColumn("__li", F.row_number().over(wloc))
    woff = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        part.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            "__pid",
            F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        )
    )
    sa = (
        local.join(F.broadcast(offsets), "__pid")
        .select(
            "doc_id", "pos", (F.col("__off") + F.col("__li")).alias("idx")
        )
        .localCheckpoint(eager=True)
    )
    a = sa.select(
        F.col("doc_id").alias("ad"), F.col("pos").alias("ap"), "idx"
    )
    b = sa.select(
        F.col("doc_id").alias("bd"),
        F.col("pos").alias("bp"),
        (F.col("idx") - 1).alias("idx"),
    )
    cur = (
        a.join(b, "idx")
        .select(
            "ad", "ap", "bd", "bp",
            F.lit(0).cast("long").alias("lcp"),
            F.col("ap").alias("pa"),
            F.col("bp").alias("pb"),
        )
    )
    for k in range(len(levels) - 1, -1, -1):
        # TOP level: advance past every document end (2^SUFFIX_LEVELS >=
        # maxlen by the ladder's guard) instead of 2^k. A top-level hit
        # means the two suffixes share a whole fixpoint class — i.e. are
        # identical to their ends — so the true LCP is the shorter
        # remaining length, which the final least() clamp recovers
        # exactly; over-advancing just nulls out every deeper lookup.
        # This is what keeps the walk exact over the early-exited ladder
        # (and is value-identical on a full ladder, where the old 2^top
        # advance already cleared maxlen). Distinct pairs never hit the
        # top (fixpoint ranks separate them) and their LCP is provably
        # < 2^(top-1), within the honest budget of the deeper levels.
        step = (1 << SUFFIX_LEVELS) if k == len(levels) - 1 else (1 << k)
        lk = levels[k]
        ra = lk.select(
            F.col("doc_id").alias("__da"),
            F.col("pos").alias("__qa"),
            F.col("r").alias("__ra"),
        )
        rb = lk.select(
            F.col("doc_id").alias("__db"),
            F.col("pos").alias("__qb"),
            F.col("r").alias("__rb"),
        )
        cur = (
            cur.join(
                ra,
                (F.col("__da") == F.col("ad")) & (F.col("__qa") == F.col("pa")),
                "left_outer",
            )
            .join(
                rb,
                (F.col("__db") == F.col("bd")) & (F.col("__qb") == F.col("pb")),
                "left_outer",
            )
        )
        hit = (
            F.col("__ra").isNotNull()
            & F.col("__rb").isNotNull()
            & (F.col("__ra") == F.col("__rb"))
        )
        adv = F.when(hit, F.lit(step).cast("long")).otherwise(F.lit(0).cast("long"))
        cur = cur.select(
            "ad", "ap", "bd", "bp",
            (F.col("lcp") + adv).alias("lcp"),
            (F.col("pa") + adv).alias("pa"),
            (F.col("pb") + adv).alias("pb"),
        )
    docs = load(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words")
    )
    lcps = (
        cur.join(dl.select(F.col("doc_id").alias("ad"),
                           F.col("n_words").alias("__na")), "ad")
        .join(dl.select(F.col("doc_id").alias("bd"),
                        F.col("n_words").alias("__nb")), "bd")
        .select(
            "ad", "ap", "bd", "bp",
            F.least(
                F.col("lcp"),
                F.col("__na") - F.col("ap"),
                F.col("__nb") - F.col("bp"),
            ).alias("lcp"),
        )
        .localCheckpoint(eager=True)
    )
    sides = lcps.select(
        F.col("ad").alias("doc_id"), F.col("ap").alias("pos"), "lcp"
    ).unionByName(
        lcps.select(
            F.col("bd").alias("doc_id"), F.col("bp").alias("pos"), "lcp"
        )
    )
    perpos = (
        sides.groupBy("doc_id", "pos")
        .agg(F.max("lcp").alias("dup_len"))
        .localCheckpoint(eager=True)
    )
    return perpos, dl, lcps, sa


@register("q_text_longest_repeat", oracle=_longest_repeat_oracle())
def q_text_longest_repeat(spark, sf_dir):
    """EXACT maximal-repeat lengths per document — the Lee et al.
    suffix-array deliverable the shingle family approximates: for every
    suffix, the longest prefix it shares with ANY other suffix in the
    corpus (same or other document) equals its max LCP with its two
    neighbors in suffix-array order, so per document we report the
    longest repeated span (max over positions) and how many positions
    start a >= {REP_MIN_WORDS}-word repeat.

    Construction composes q_text_suffix_ranks' retained prefix-doubling
    ladder: (1) the SA index is a two-pass global row number over
    (rank, doc, pos) — range partition + 32-row offset carry; (2)
    adjacent pairs are one equi-self-join on idx+1; (3) each pair's LCP
    comes from the CLASSIC descending doubling walk — at level k, if
    the two cursors' level-k ranks exist and agree, both advance 2^k
    and the LCP grows by 2^k (one hash join per level per side against
    the checkpointed rank table, ~2 log2(maxlen) joins of id-sized
    rows total); (4) the claim is capped by both suffix lengths
    (rank-equal-and-exhausted pairs are whole-suffix-equal, where the
    true LCP is the shorter suffix — the cap is what makes any
    starting level equivalent, so the Spark walk over its
    log2(maxlen)+1 levels and the oracle's fixed {SUFFIX_LEVELS}+1
    levels agree exactly). Everything is integer; no floats anywhere.

    At 100 TB: the ladder is the dominant cost (log rounds of linear
    shuffles, measured exponent 0.34); the walk adds a constant number
    of linear hash joins. Internal (same-document) repeats count, as
    in Lee et al."""
    perpos, dl, _, _ = _sa_perpos(spark, sf_dir)
    return (
        perpos.groupBy("doc_id")
        .agg(
            F.max("dup_len").cast("long").alias("max_rep_words"),
            F.count(
                F.when(F.col("dup_len") >= REP_MIN_WORDS, 1)
            ).cast("long").alias("n_rep_positions"),
        )
        .join(dl, "doc_id")
        .select("doc_id", "n_words", "max_rep_words", "n_rep_positions")
    )


# --- SA-derived duplicated-word coverage ledger ------------------------------


def _repeat_coverage_oracle() -> str:
    return f"""
    WITH {_sa_perpos_cte()},
    iv AS (
      SELECT doc_id, pos AS s,
             pos + {REP_MIN_WORDS} - 1 AS e
      FROM perpos WHERE dup_len >= {REP_MIN_WORDS}
    ),
    brk AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    CAST(-1 AS BIGINT))
                  THEN 1 ELSE 0 END AS is_new
      FROM iv
    ),
    isl AS (
      SELECT doc_id, s, e,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM brk
    ),
    merged AS (
      SELECT doc_id, MIN(s) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, island
    ),
    cov AS (
      SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS dup_words,
             CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_words,
           COALESCE(cov.dup_words, CAST(0 AS BIGINT)) AS dup_words,
           COALESCE(cov.n_spans, CAST(0 AS BIGINT)) AS n_spans,
           CAST(COALESCE(cov.dup_words, 0) * 10000 // d.n_words AS BIGINT)
             AS dup_ratio_e4
    FROM dl d LEFT JOIN cov ON cov.doc_id = d.doc_id
    """


@register("q_text_repeat_coverage", oracle=_repeat_coverage_oracle())
def q_text_repeat_coverage(spark, sf_dir):
    """Per-document duplicated-word coverage ledger derived from the
    SUFFIX ARRAY instead of the shingle chain — the byte-exact half of
    the Lee et al. pipeline as a removal-ready ledger: a position is a
    repeat START when its suffix shares >= {REP_MIN_WORDS} leading
    words with any other suffix in the corpus (dup_len from the SA+LCP
    walk), each start claims the window [pos, pos+{REP_MIN_WORDS}-1],
    and per-doc interval union (the same island merge the shingle
    ledger q_dedup_substring_removal uses) yields dup_words / n_spans /
    dup_ratio_e4 with IDENTICAL output shape, so the two families are
    drop-in interchangeable downstream.

    Where they genuinely differ: the shingle ledger's hit relation
    keeps only units duplicated in ANOTHER document
    (countDistinct(doc_id) > 1), while the SA's dup_len counts
    same-document repeats too (as Lee et al. do — "within and across"
    documents), so a doc that repeats a phrase internally gets coverage
    here and zero there (constructed divergence test in
    tests/test_round11.py). On the fixture corpus the two ledgers
    coincide (the round-10 cross-family invariant).

    Scale: consumes the memoized perpos relation (ladder + LCP walk,
    measured exponent 0.28); on top of it this is one filter, two
    per-document windows bounded by document length, and two hash
    aggregations — all linear, no new corpus-wide state."""
    perpos, dl, _, _ = _sa_perpos(spark, sf_dir)
    iv = perpos.filter(F.col("dup_len") >= REP_MIN_WORDS).select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.lit(REP_MIN_WORDS - 1)).alias("e"),
    )
    wprev = W.partitionBy("doc_id").orderBy("s").rowsBetween(
        W.unboundedPreceding, -1
    )
    brk = iv.withColumn(
        "is_new",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(wprev), F.lit(-1).cast("long")),
            1,
        ).otherwise(0),
    )
    wcum = W.partitionBy("doc_id").orderBy("s").rowsBetween(
        W.unboundedPreceding, 0
    )
    isl = brk.withColumn("island", F.sum("is_new").over(wcum))
    merged = isl.groupBy("doc_id", "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    cov = merged.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_words"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    return dl.join(cov, "doc_id", "left_outer").select(
        "doc_id",
        "n_words",
        F.coalesce(F.col("dup_words"), F.lit(0).cast("long")).alias(
            "dup_words"
        ),
        F.coalesce(F.col("n_spans"), F.lit(0).cast("long")).alias("n_spans"),
        F.expr(
            "cast(coalesce(dup_words, 0) * 10000 div n_words as bigint)"
        ).alias("dup_ratio_e4"),
    )


# --- BPE detokenizer: decode(encode(text)) round trip ------------------------


def _bpe_decode_oracle(n_merges: int = BPE_ENC_MERGES) -> str:
    return (
        _bpe_chain_sql(n_merges)
        + f""",
    dec AS (
      SELECT word, array_to_string(syms, '') AS dw FROM v{n_merges}
    ),
    wlist AS (
      SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
    ),
    tokp AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             ws[CAST(u.i AS INT) + 1] AS word
      FROM wlist, UNNEST(range(0, len(ws))) AS u(i)
    ),
    rec AS (
      SELECT t.doc_id,
             string_agg(COALESCE(d.dw, ''), ' ' ORDER BY t.pos) AS decoded,
             CAST(COUNT(*) AS BIGINT) AS n_words
      FROM tokp t LEFT JOIN dec d ON d.word = t.word
      GROUP BY t.doc_id
    )
    SELECT r.doc_id, r.n_words,
           md5(r.decoded) AS decoded_md5,
           r.decoded = w.text AS roundtrip_ok
    FROM rec r JOIN wlist w ON w.doc_id = r.doc_id"""
    )


@register("q_text_bpe_decode", oracle=_bpe_decode_oracle())
def q_text_bpe_decode(spark, sf_dir):
    """BPE DETOKENIZER — the decode half the tokenizer family was
    missing: rebuild every document from its trained symbol arrays and
    prove decode(encode(text)) == text per document (the loop an
    LLM-pipeline user actually closes before trusting a tokenizer).
    Output: word count, md5 of the reconstructed text, and the
    round-trip boolean — computed as a REAL text comparison on both
    engines, not asserted.

    Decode is the exact inverse walk of encode: each word's symbols
    concatenate back to the word (merges only ever fuse adjacent
    in-word symbols, so '' -join is lossless), and the document
    reassembles by joining words in original position order —
    posexplode over the space-split (EMPTY words kept, unlike encode's
    vocabulary, so doubled spaces would round-trip too via the
    left-join + COALESCE('')), join the shared trained vocab
    (_bpe_train_cached — one trainer run per session serves
    encode/vocab/fertility/decode), then one per-doc sort_array over
    (pos, word) structs folded with concat_ws. The oracle replays the
    trainer chain and reassembles with ORDER BY pos string_agg.

    Scale: corpus touched twice (posexplode, reassembly agg); the
    reassembly carries each document's words exactly once, grouped by
    doc_id — the same shuffle class as q_text_bpe_encode's final
    aggregate. No collect beyond the trainer's M 1-row pulls."""
    v, _merges = _bpe_train_cached(spark, sf_dir)
    dec = v.select("word", F.array_join("syms", "").alias("dw"))
    docs = load(spark, sf_dir, "documents")
    tokp = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    rec = (
        tokp.join(dec, "word", "left_outer")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("dw"), F.lit("")).alias("dw"),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, dw))),"
                    " s -> s.dw)"
                ),
            ).alias("decoded"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )
    return rec.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "n_words",
        F.md5("decoded").alias("decoded_md5"),
        (F.col("decoded") == F.col("text")).alias("roundtrip_ok"),
    )


# --- BYTE-level BPE with regex pre-tokenization (GPT-2/tiktoken style) -------
#
# The production tokenizer shape (Radford et al. 2019 §2.2; tiktoken):
# (1) a regex PRE-TOKENIZER cuts text into word-ish pieces so merges
# never cross word boundaries, and (2) the symbol alphabet is the 256
# BYTES of each piece's UTF-8 encoding, so there is NO OOV — any text,
# any script, any emoji tokenizes, with unseen content falling back to
# byte symbols. Differences from GPT-2's exact recipe, both deliberate:
# the pre-tokenizer pattern drops GPT-2's lookahead clause
# (`\s+(?!\S)`) because RE2 — DuckDB's engine — supports no lookarounds;
# the simplified alternation below is still LOSSLESS (every char is
# matched by exactly one piece, proven by the round-trip gate), it just
# attaches runs of spaces to the preceding token boundary differently.
# And bytes are represented as hex pairs (hex(utf8(piece)) split every
# 2 chars) instead of GPT-2's byte-to-unicode bijection — the same
# information, engine-identical, and delimiter-safe.

BBPE_MERGES = 10
# lookahead-free GPT-2-style pre-tokenizer: optionally-space-prefixed
# letter runs / digit runs / punctuation runs, plus bare space runs
BBPE_PAT = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

_BBPE_BASE_SQL = f"""
    WITH wf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(regexp_extract_all(text, '{BBPE_PAT}')) AS word
            FROM documents)
      GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             regexp_extract_all(hex(encode(word)), '..') AS syms
      FROM wf
    )"""


@memoized("bbpe_train")
def _bbpe_train_cached(spark, sf_dir):
    """Byte-level twin of _bpe_train_cached: pre-token frequency table
    via the regex pre-tokenizer, hex-byte-pair initial symbols, then
    the SAME symbol-agnostic merge loop."""
    docs = load(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(text, '{BBPE_PAT}', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    v = wf.withColumn(
        "syms",
        F.expr("regexp_extract_all(hex(encode(word, 'utf-8')), '..', 0)"),
    ).localCheckpoint(eager=True)
    return _bpe_merge_rounds(v, BBPE_MERGES)


def _bbpe_encode_oracle() -> str:
    return (
        _bpe_chain_sql(BBPE_MERGES, base_sql=_BBPE_BASE_SQL)
        + f""",
    enc AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok,
             CAST(list_max(list_transform(syms, x -> length(x))) // 2
                  AS BIGINT) AS mxb
      FROM v{BBPE_MERGES}
    ),
    tok AS (
      SELECT doc_id, UNNEST(regexp_extract_all(text, '{BBPE_PAT}')) AS word
      FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pretokens,
           CAST(SUM(e.n_tok) AS BIGINT) AS n_bbpe_tokens,
           CAST(MAX(e.mxb) AS BIGINT) AS max_token_bytes
    FROM tok t JOIN enc e ON e.word = t.word
    GROUP BY t.doc_id"""
    )


@register("q_text_bbpe_encode", oracle=_bbpe_encode_oracle())
def q_text_bbpe_encode(spark, sf_dir):
    """BYTE-level BPE ENCODE (GPT-2/tiktoken family): regex
    pre-tokenization, UTF-8 byte alphabet (no OOV by construction),
    {BBPE_MERGES} trained merges, then per document the pre-token
    count, byte-BPE token count, and longest learned token in BYTES.
    See the section comment for the two documented deviations from
    GPT-2's exact recipe (lookahead-free pattern for RE2 parity,
    hex-pair byte rendering).

    Plan shape is q_text_bpe_encode's, with the pre-tokenizer regex as
    a JVM regexp_extract_all in place of the space split: every merge
    round iterates the VOCAB-BOUNDED pre-token frequency table (pair
    count -> 1-row top-pair collect -> JVM fold rewrite -> checkpoint),
    and the corpus is touched once at the end (explode + equi-join +
    per-doc aggregate). The oracle replays the identical trainer
    through the shared chained-CTE generator — one merge-loop
    definition serves both tokenizer families on both engines."""
    docs = load(spark, sf_dir, "documents")
    v, _merges = _bbpe_train_cached(spark, sf_dir)
    enc = v.select(
        "word",
        F.size("syms").cast("long").alias("n_tok"),
        F.expr("array_max(transform(syms, x -> length(x))) div 2")
        .cast("long")
        .alias("mxb"),
    )
    tokw = docs.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{BBPE_PAT}', 0)")).alias(
            "word"
        ),
    )
    return (
        tokw.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
            F.sum("n_tok").cast("long").alias("n_bbpe_tokens"),
            F.max("mxb").cast("long").alias("max_token_bytes"),
        )
    )


def _bbpe_roundtrip_oracle() -> str:
    return (
        _bpe_chain_sql(BBPE_MERGES, base_sql=_BBPE_BASE_SQL)
        + f""",
    dec AS (
      SELECT word, decode(unhex(array_to_string(syms, ''))) AS dw
      FROM v{BBPE_MERGES}
    ),
    plist AS (
      SELECT doc_id, text, regexp_extract_all(text, '{BBPE_PAT}') AS ws
      FROM documents
    ),
    tokp AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             ws[CAST(u.i AS INT) + 1] AS word
      FROM plist, UNNEST(range(0, len(ws))) AS u(i)
    ),
    rec AS (
      SELECT t.doc_id,
             string_agg(d.dw, '' ORDER BY t.pos) AS decoded,
             CAST(COUNT(*) AS BIGINT) AS n_pretokens
      FROM tokp t JOIN dec d ON d.word = t.word
      GROUP BY t.doc_id
    )
    SELECT r.doc_id, r.n_pretokens,
           md5(r.decoded) AS decoded_md5,
           r.decoded = p.text AS roundtrip_ok
    FROM rec r JOIN plist p ON p.doc_id = r.doc_id"""
    )


@register("q_text_bbpe_roundtrip", oracle=_bbpe_roundtrip_oracle())
def q_text_bbpe_roundtrip(spark, sf_dir):
    """Byte-level BPE ROUND TRIP: decode(encode(text)) == text per
    document, as a real text comparison on both engines. This is the
    no-OOV guarantee made checkable: every pre-token's merged symbols
    concatenate back to its exact hex byte string (merges only fuse
    adjacent in-piece symbols), unhex+utf8-decode restores the piece,
    and pieces reassemble in position order — which simultaneously
    proves the LOSSLESSNESS of the lookahead-free pre-tokenizer (every
    character lands in exactly one piece; multi-byte and whitespace
    edge cases are pinned by constructed-corpus tests).

    Scale: corpus touched twice (pre-token posexplode, per-doc
    reassembly aggregate); the trained vocab is shared with
    q_text_bbpe_encode via the session cache. Same shuffle classes as
    the char-level decode twin."""
    v, _merges = _bbpe_train_cached(spark, sf_dir)
    dec = v.select(
        "word",
        F.decode(F.unhex(F.concat_ws("", F.col("syms"))), "utf-8").alias("dw"),
    )
    docs = load(spark, sf_dir, "documents")
    tokp = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(f"regexp_extract_all(text, '{BBPE_PAT}', 0)")
        ).alias("pos", "word"),
    )
    rec = (
        tokp.join(dec, "word")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, dw))),"
                    " s -> s.dw)"
                ),
            ).alias("decoded"),
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
        )
    )
    return rec.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "n_pretokens",
        F.md5("decoded").alias("decoded_md5"),
        (F.col("decoded") == F.col("text")).alias("roundtrip_ok"),
    )


# --- Unigram LM tokenizer (SentencePiece-style seed + Viterbi) ---------------

UNI_MAXSUB = 4  # seed-vocab substring length cap (SentencePiece's
# make_seed_sentence_pieces caps candidate piece length the same way)
UNI_SEED_K = 200  # multi-char seed vocab size — a fixed hyperparameter,
# exactly as SentencePiece's --vocab_size (NOT a key-space cap: the
# candidate pool it ranks grows with the corpus)
_UNI_TIE = 64  # per-token count penalty folded into the integer DP value:
# wt = (logp_e6) * 64 - 1 makes the DP maximize (sum logp, then fewest
# tokens) in ONE exact integer — k = pmod(-dp, 64) recovers the token
# count, valid while words are < 64 chars (fixture max: 8)


def _unigram_chain_sql() -> str:
    """Shared CTE chain for the unigram-tokenizer oracles: word
    frequencies -> substring-occurrence counts -> seed vocab (all
    single chars + top-{UNI_SEED_K} multi-char substrings by corpus
    frequency, ties broken by token) -> e6 log-prob scores and the
    combined integer DP weight."""
    return f"""uwf AS MATERIALIZED (
      SELECT u.word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) u
      WHERE u.word <> '' GROUP BY 1
    ),
    ucand AS MATERIALIZED (
      SELECT substr(w.word, CAST(s.i AS INT), CAST(l.j AS INT)) AS tok,
             CAST(SUM(w.freq) AS BIGINT) AS freq
      FROM uwf w, UNNEST(range(1, length(w.word) + 1)) AS s(i),
           UNNEST(range(1, {UNI_MAXSUB} + 1)) AS l(j)
      WHERE s.i + l.j <= length(w.word) + 1 GROUP BY 1
    ),
    uvocab AS MATERIALIZED (
      SELECT tok, freq FROM ucand WHERE length(tok) = 1
      UNION ALL
      SELECT tok, freq FROM (
        SELECT tok, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rk
        FROM ucand WHERE length(tok) >= 2) WHERE rk <= {UNI_SEED_K}
    ),
    uscored AS MATERIALIZED (
      SELECT tok, freq,
             CAST(FLOOR(LN(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS score_e6,
             (CAST(FLOOR(LN(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
              - (SELECT CAST(FLOOR(LN(CAST(SUM(freq) AS DOUBLE)) * 1e6 + 0.5)
                        AS BIGINT) FROM uvocab)) * {_UNI_TIE} - 1 AS wt
      FROM uvocab
    )"""


def _unigram_dp_sql() -> str:
    """CTE chain from the scored vocab down to ``ufin`` (word, dp, k, s)
    — the per-word Viterbi value, token count, and e6 log-likelihood —
    plus ``udp``/``ucands`` retained for the backtrack oracle."""
    return f"""{_unigram_chain_sql()},
    ucands AS MATERIALIZED (
      SELECT t.word,
             LIST({{'start': t.st, 'len': t.len, 'sub': t.sub,
                    'wt': v.wt}}) AS cands
      FROM (
        SELECT w.word, CAST(s.i - 1 AS BIGINT) AS st,
               CAST(l.j AS BIGINT) AS len,
               substr(w.word, CAST(s.i AS INT), CAST(l.j AS INT)) AS sub
        FROM uwf w, UNNEST(range(1, length(w.word) + 1)) AS s(i),
             UNNEST(range(1, {UNI_MAXSUB} + 1)) AS l(j)
        WHERE s.i + l.j <= length(w.word) + 1
      ) t JOIN uscored v ON v.tok = t.sub GROUP BY t.word
    ),
    udp AS (
      SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS best FROM ucands
      UNION ALL
      SELECT d.word, d.i + 1,
             list_append(d.best, list_max(list_transform(
                 list_filter(c.cands, x -> x.start + x.len = d.i + 1),
                 x -> d.best[CAST(x.start AS INT) + 1] + x.wt)))
      FROM udp d JOIN ucands c ON c.word = d.word
      WHERE d.i < length(d.word)
    ),
    ufin AS (
      SELECT word, best,
             best[length(word) + 1] AS dp,
             ((-best[length(word) + 1]) % {_UNI_TIE} + {_UNI_TIE})
               % {_UNI_TIE} AS k,
             CAST((best[length(word) + 1]
                   + ((-best[length(word) + 1]) % {_UNI_TIE} + {_UNI_TIE})
                     % {_UNI_TIE}) / {_UNI_TIE} AS BIGINT) AS s
      FROM udp WHERE i = length(word)
    )"""


def _scored_vocab_from_wf(wf):
    """Seed vocab + e6 scores from a (word, freq) relation — the
    trainer's vocab stage, callable on BATCH word counts or on the
    streaming twin's merged per-commit counts (word frequencies are an
    additive monoid, so the two inputs must be identical)."""
    subs = (
        f"flatten(transform(sequence(1, length(word)), s -> "
        f"transform(sequence(s, least(s + {UNI_MAXSUB - 1}, length(word))),"
        f" e -> substring(word, s, e - s + 1))))"
    )
    cand = (
        wf.select("freq", F.explode(F.expr(subs)).alias("tok"))
        .groupBy("tok")
        .agg(F.sum("freq").alias("freq"))
    )
    chars = cand.filter(F.length("tok") == 1)
    # fixed-size seed vocab (the --vocab_size hyperparameter): global
    # sort + limit over the VOCAB-bounded candidate relation, never the
    # corpus; ties broken by token so both engines pick the same K
    multi = (
        cand.filter(F.length("tok") >= 2)
        .orderBy(F.desc("freq"), "tok")
        .limit(UNI_SEED_K)
    )
    vocab = chars.unionByName(multi)
    t_row = vocab.agg(
        F.floor(F.log(F.sum("freq")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("__logt_e6")
    )
    score = F.floor(F.log("freq") * 1e6 + F.lit(0.5)).cast("long")
    return (
        vocab.crossJoin(F.broadcast(t_row))
        .select(
            "tok",
            "freq",
            score.alias("score_e6"),
            ((score - F.col("__logt_e6")) * _UNI_TIE - 1).alias("wt"),
        )
        .localCheckpoint(eager=True)
    )


# vocab, segment, and hard-EM all consume the same scored seed vocab and
# the same per-word Viterbi relation
@memoized("unigram_train")
def _unigram_train_cached(spark, sf_dir):
    """Returns (wf, scored, fin): word frequencies, the scored seed
    vocab (tok, freq, score_e6, wt), and the per-word Viterbi relation
    (word, cands, best, dpv, k, s). All vocab-bounded; fin's DP is one
    JVM ``aggregate`` expression per word — no Python, no iteration."""
    docs = load(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .localCheckpoint(eager=True)
    )
    scored = _scored_vocab_from_wf(wf)
    tri = wf.select(
        "word",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), s -> "
                f"transform(sequence(s, least(s + {UNI_MAXSUB - 1},"
                f" length(word))), e -> named_struct("
                f"'start', cast(s - 1 as bigint),"
                f" 'len', cast(e - s + 1 as bigint),"
                f" 'sub', substring(word, s, e - s + 1)))))"
            )
        ).alias("c"),
    ).select("word", "c.start", "c.len", "c.sub")
    wcands = (
        tri.join(scored.select(F.col("tok").alias("sub"), "wt"), "sub")
        .groupBy("word")
        .agg(F.collect_list(F.struct("start", "len", "sub", "wt")).alias("cands"))
    )
    fin = (
        wcands.withColumn(
            "best",
            F.expr(
                "aggregate(sequence(1, length(word)),"
                " array(cast(0 as bigint)),"
                " (acc, i) -> concat(acc, array(array_max(transform("
                "filter(cands, x -> x.start + x.len = i),"
                " x -> element_at(acc, cast(x.start as int) + 1)"
                " + x.wt)))))"
            ),
        )
        .withColumn("dpv", F.element_at("best", -1))
        .withColumn("k", F.expr(f"pmod(-dpv, {_UNI_TIE})"))
        .withColumn(
            "s",
            F.expr(f"cast((dpv + pmod(-dpv, {_UNI_TIE})) / {_UNI_TIE}"
                   f" as bigint)"),
        )
        .localCheckpoint(eager=True)
    )
    return wf, scored, fin


@register(
    "q_text_unigram_vocab",
    oracle=f"""
    WITH {_unigram_chain_sql()}
    SELECT tok AS token, CAST(LENGTH(tok) AS BIGINT) AS token_len,
           freq, score_e6
    FROM uscored
    """,
)
def q_text_unigram_vocab(spark, sf_dir):
    """Unigram-LM tokenizer SEED VOCAB (Kudo 2018, the SentencePiece
    seeding stage): every single character plus the top-{UNI_SEED_K}
    most frequent substrings of length <= {UNI_MAXSUB}, scored by e6
    log frequency — the vocabulary q_text_unigram_segment's Viterbi
    maximizes over, completing the tokenizer-family pair BPE started
    (merge-driven vs likelihood-driven subwords).

    Plan: the corpus is touched ONCE (word explode + count); candidate
    generation and ranking iterate the vocab-bounded word-frequency
    table (substring explode is |vocab| x L x {UNI_MAXSUB} rows, orders
    of magnitude below corpus rows; the top-K sort is over that same
    relation). Frequency ties rank by token string on both engines.
    Scores snap with the library-standard floor(ln(x)*1e6 + 0.5) —
    integer inputs, so both engines' libm agree at e6 granularity."""
    _, scored, _ = _unigram_train_cached(spark, sf_dir)
    return scored.select(
        F.col("tok").alias("token"),
        F.length("tok").cast("long").alias("token_len"),
        "freq",
        "score_e6",
    )


@register(
    "q_text_unigram_segment",
    oracle=f"""
    WITH RECURSIVE {_unigram_dp_sql()},
    utokp AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(f.k) AS BIGINT) AS n_tokens,
           CAST(-SUM(f.s) AS BIGINT) AS neg_ll_e6
    FROM utokp t JOIN ufin f ON f.word = t.word
    WHERE t.word <> ''
    GROUP BY t.doc_id
    """,
)
def q_text_unigram_segment(spark, sf_dir):
    """Unigram-LM VITERBI SEGMENTATION: tokenize every document with
    the seed vocab by maximizing the sum of token log-probabilities —
    the decode half of the SentencePiece algorithm, and the
    likelihood-driven counterpart to q_text_bpe_encode's merge replay.
    Per document: word count, optimal token count, and the exact
    negative log-likelihood (e6-scaled) of the optimal segmentation.

    The Viterbi DP runs entirely inside ONE JVM higher-order
    expression per distinct word (aggregate over positions; each step
    maxes over the candidate tokens ending there), so there is no
    per-word iteration at the plan level and no Python anywhere. The
    objective is EXACT integer lexicographic (max sum logp_e6, then
    fewest tokens): each token's weight is logp_e6 * {_UNI_TIE} - 1,
    so k = pmod(-dp, {_UNI_TIE}) and the e6 log-likelihood
    s = (dp + k) / {_UNI_TIE} are both recovered from the single DP
    value — no float comparisons, no tie ambiguity. The oracle replays
    the identical DP as a recursive CTE over positions (bounded by max
    word length), 1-based where DuckDB lists are. Corpus is touched
    once at the end: explode to words, join the |vocab|-sized Viterbi
    relation, one per-doc aggregate — the exact q_text_bpe_encode
    shuffle shape."""
    docs = load(spark, sf_dir, "documents")
    _, _, fin = _unigram_train_cached(spark, sf_dir)
    tokw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        tokw.join(fin.select("word", "k", "s"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("k").cast("long").alias("n_tokens"),
            (-F.sum("s")).cast("long").alias("neg_ll_e6"),
        )
    )


@register(
    "q_text_unigram_hard_em",
    oracle=f"""
    WITH RECURSIVE {_unigram_dp_sql()},
    ubt AS (
      SELECT word, CAST(length(word) AS INT) AS i,
             CAST([] AS VARCHAR[]) AS toks, best
      FROM ufin
      UNION ALL
      SELECT b.word,
             CAST((list_sort(list_filter(c.cands,
                x -> x.start + x.len = b.i
                 AND b.best[CAST(x.start AS INT) + 1] + x.wt
                     = b.best[b.i + 1])))[1].start AS INT),
             list_append(b.toks,
               (list_sort(list_filter(c.cands,
                x -> x.start + x.len = b.i
                 AND b.best[CAST(x.start AS INT) + 1] + x.wt
                     = b.best[b.i + 1])))[1].sub),
             b.best
      FROM ubt b JOIN ucands c ON c.word = b.word
      WHERE b.i > 0
    ),
    uusage AS (
      SELECT t.tok, CAST(SUM(w.freq) AS BIGINT) AS viterbi_freq
      FROM (SELECT word, toks FROM ubt WHERE i = 0) p
      JOIN uwf w ON w.word = p.word, UNNEST(p.toks) AS t(tok)
      GROUP BY 1
    )
    SELECT tok AS token, viterbi_freq,
           CAST(FLOOR(LN(CAST(viterbi_freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
           - (SELECT CAST(FLOOR(LN(CAST(SUM(viterbi_freq) AS DOUBLE)) * 1e6
                          + 0.5) AS BIGINT) FROM uusage) AS logp2_e6
    FROM uusage
    """,
)
def q_text_unigram_hard_em(spark, sf_dir):
    """One HARD-EM (Viterbi-EM) refinement round of the unigram
    tokenizer — the trainer step SentencePiece iterates: E-step =
    Viterbi-segment the corpus under the current scores (the argmax
    path, recovered exactly by backtracking the integer DP), M-step =
    re-estimate token probabilities from the path counts, implicitly
    PRUNING every seed token the optimal segmentation never uses
    (SentencePiece's prune_sentence_pieces). Output: the refined vocab
    with its Viterbi usage counts and renormalized e6 log-probs.

    The backtrack is the same bounded JVM fold as the forward DP
    (aggregate over <= word-length steps, each picking the
    minimum-start candidate that achieves best[i] — start determines
    the token once the end is fixed, so the choice is unique and both
    engines' struct-sort picks it identically). M-step counts are pure
    integers (path occurrences weighted by word frequency), so the
    refined scores snap exactly like the seed's. Every word's round-1
    path tokens survive the prune by construction, so the refined
    vocab always still covers the corpus (re-segmentation feasibility
    is tested, not assumed). Corpus cost: the same single word-explode
    the seed already paid; everything else is vocab-bounded."""
    wf, _, fin = _unigram_train_cached(spark, sf_dir)
    chosen = (
        "element_at(array_sort(filter(cands, x -> x.start + x.len = st.i"
        " and element_at(best, cast(x.start as int) + 1) + x.wt ="
        " element_at(best, st.i + 1))), 1)"
    )
    bt = fin.withColumn(
        "toks",
        F.expr(
            f"aggregate(sequence(1, length(word)),"
            f" named_struct('i', cast(length(word) as int),"
            f" 'toks', cast(array() as array<string>)),"
            f" (st, z) -> if(st.i <= 0, st, named_struct("
            f"'i', cast({chosen}.start as int),"
            f" 'toks', concat(st.toks, array({chosen}.sub)))),"
            f" st -> st.toks)"
        ),
    )
    usage = (
        bt.select("word", F.explode("toks").alias("tok"))
        .join(wf, "word")
        .groupBy("tok")
        .agg(F.sum("freq").cast("long").alias("viterbi_freq"))
    )
    t2 = usage.agg(
        F.floor(F.log(F.sum("viterbi_freq")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("__logt2_e6")
    )
    return usage.crossJoin(F.broadcast(t2)).select(
        F.col("tok").alias("token"),
        "viterbi_freq",
        (
            F.floor(F.log("viterbi_freq") * 1e6 + F.lit(0.5)).cast("long")
            - F.col("__logt2_e6")
        ).alias("logp2_e6"),
    )


UNISOFT_MAXLEN = 10  # soft-EM word-length cap: den <= 2^(4L-1) paths x
# weights and num*1e6 must stay in BIGINT (L=10 -> num*1e6 <= ~5.5e18);
# the fixture's words are <= 8 chars so nothing is excluded there
_UNISOFT_OCT = 1386294  # floor(ln(4) * 1e6): one quantization octave


def _unigram_soft_sql() -> str:
    """CTE chain for the soft-EM oracle: the shared seed-vocab chain,
    3-bit octave-quantized weights, per-word candidate lists, and the
    forward/backward path-weight recursions (exact BIGINT — the 8^L
    per-char base measure cancels per word, see q_text_unigram_soft_em)."""
    return f"""{_unigram_chain_sql()},
    u8 AS MATERIALIZED (
      SELECT tok, freq,
             GREATEST(1, 8 - ((SELECT MAX(score_e6) FROM uscored)
                              - score_e6) // {_UNISOFT_OCT}) AS w8
      FROM uscored
    ),
    ucands8 AS MATERIALIZED (
      SELECT t.word,
             LIST({{'start': t.st, 'len': t.len, 'sub': t.sub,
                    'w8': v.w8}}) AS cands
      FROM (
        SELECT w.word, CAST(s.i - 1 AS BIGINT) AS st,
               CAST(l.j AS BIGINT) AS len,
               substr(w.word, CAST(s.i AS INT), CAST(l.j AS INT)) AS sub
        FROM uwf w, UNNEST(range(1, length(w.word) + 1)) AS s(i),
             UNNEST(range(1, {UNI_MAXSUB} + 1)) AS l(j)
        WHERE s.i + l.j <= length(w.word) + 1
          AND length(w.word) <= {UNISOFT_MAXLEN}
      ) t JOIN u8 v ON v.tok = t.sub GROUP BY t.word
    ),
    usf AS (
      SELECT word, 0 AS i, [CAST(1 AS BIGINT)] AS f FROM ucands8
      UNION ALL
      SELECT d.word, d.i + 1,
             list_append(d.f, COALESCE(list_sum(list_transform(
                 list_filter(c.cands, x -> x.start + x.len = d.i + 1),
                 x -> d.f[CAST(x.start AS INT) + 1] * x.w8)), 0))
      FROM usf d JOIN ucands8 c ON c.word = d.word
      WHERE d.i < length(d.word)
    ),
    ubk AS (
      SELECT word, 0 AS j, [CAST(1 AS BIGINT)] AS g FROM ucands8
      UNION ALL
      SELECT d.word, d.j + 1,
             list_append(d.g, COALESCE(list_sum(list_transform(
                 list_filter(c.cands,
                   x -> x.start = length(d.word) - d.j - 1),
                 x -> x.w8 * d.g[CAST(length(d.word) - x.start - x.len
                                      AS INT) + 1])), 0))
      FROM ubk d JOIN ucands8 c ON c.word = d.word
      WHERE d.j < length(d.word)
    ),
    uocc AS (
      SELECT c.word, x.sub AS tok,
             CAST(SUM(f.f[CAST(x.start AS INT) + 1] * x.w8
                 * b.g[CAST(length(c.word) - x.start - x.len AS INT) + 1])
               AS BIGINT) AS num,
             CAST(MAX(f.f[length(c.word) + 1]) AS BIGINT) AS den
      FROM ucands8 c, UNNEST(c.cands) AS u(x)
      JOIN (SELECT word, f FROM usf WHERE i = length(word)) f
        ON f.word = c.word
      JOIN (SELECT word, g FROM ubk WHERE j = length(word)) b
        ON b.word = c.word
      GROUP BY 1, 2
    )"""


@register(
    "q_text_unigram_soft_em",
    oracle=f"""
    WITH RECURSIVE {_unigram_soft_sql()}
    SELECT o.tok AS token,
           CAST(MAX(v.w8) AS BIGINT) AS w8,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(w.freq * (o.num * 1000000 // o.den)) AS BIGINT)
             AS soft_freq_e6
    FROM uocc o JOIN uwf w ON w.word = o.word JOIN u8 v ON v.tok = o.tok
    GROUP BY 1
    """,
)
def q_text_unigram_soft_em(spark, sf_dir):
    """One SOFT-EM E-step of the unigram tokenizer (Kudo 2018's real
    EM, vs q_text_unigram_hard_em's Viterbi-EM): per token, the
    forward-backward EXPECTED count over all segmentations, corpus-
    frequency weighted — the statistic SentencePiece's M-step
    renormalizes. Where hard EM credits only the single argmax path
    (pruning everything off it), soft EM spreads posterior mass over
    every path; the constructed disagreement case is pinned in
    tests/test_round12.py.

    Exact-integer discipline: piece scores quantize to 3-bit OCTAVE
    weights w8 = max(1, 8 - (octaves below the top score)), and the
    quantized model is p(piece) = w8 / 8^len(piece) — a per-CHAR base
    measure, so every segmentation of a length-L word carries the same
    8^L denominator, which cancels in the posterior. Expected counts
    are then ratios of plain path-weight sums: forward f[i] (weight of
    prefix segmentations) and backward g[j] fold per word inside ONE
    JVM ``aggregate`` each, num(occurrence) = f[start] * w8 * g[rest],
    den = f[L] (equal to the backward total by symmetry; the
    brute-force path-enumeration test pins den through the e6
    ratios), floored to e6 per
    (word, token) and summed with word frequencies — BIGINT throughout
    (L is capped at {UNISOFT_MAXLEN}: den <= 2^(4L-1), so num * 1e6
    stays under 2^63; the fixture's words are all shorter). The oracle
    replays the identical recursions as recursive CTEs. Vocab-bounded
    relations only; the corpus is never re-touched."""
    wf, scored, _ = _unigram_train_cached(spark, sf_dir)
    mx = scored.agg(F.max("score_e6").alias("__mx"))
    w8 = scored.crossJoin(F.broadcast(mx)).select(
        F.col("tok").alias("sub"),
        F.greatest(
            F.lit(1).cast("long"),
            F.lit(8) - F.expr(f"(__mx - score_e6) div {_UNISOFT_OCT}"),
        ).alias("w8"),
    )
    tri = wf.filter(F.length("word") <= UNISOFT_MAXLEN).select(
        "word",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), s -> "
                f"transform(sequence(s, least(s + {UNI_MAXSUB - 1},"
                f" length(word))), e -> named_struct("
                f"'start', cast(s - 1 as bigint),"
                f" 'len', cast(e - s + 1 as bigint),"
                f" 'sub', substring(word, s, e - s + 1)))))"
            )
        ).alias("c"),
    ).select("word", "c.start", "c.len", "c.sub")
    wcands = (
        tri.join(w8, "sub")
        .groupBy("word")
        .agg(F.collect_list(F.struct("start", "len", "sub", "w8"))
             .alias("cands"))
    )
    folded = (
        wcands.withColumn(
            "f",
            F.expr(
                "aggregate(sequence(1, length(word)),"
                " array(cast(1 as bigint)),"
                " (acc, i) -> concat(acc, array(coalesce(aggregate("
                "filter(cands, x -> x.start + x.len = i),"
                " cast(0 as bigint),"
                " (s, x) -> s + element_at(acc, cast(x.start as int) + 1)"
                " * x.w8), cast(0 as bigint)))))"
            ),
        )
        .withColumn(
            "g",
            F.expr(
                "aggregate(sequence(1, length(word)),"
                " array(cast(1 as bigint)),"
                " (acc, j) -> concat(acc, array(coalesce(aggregate("
                "filter(cands, x -> x.start = length(word) - j),"
                " cast(0 as bigint),"
                " (s, x) -> s + x.w8 * element_at(acc,"
                " cast(length(word) - x.start - x.len as int) + 1)),"
                " cast(0 as bigint)))))"
            ),
        )
        .withColumn("den", F.element_at("f", -1))
    )
    occ = (
        folded.select(
            "word", "den",
            F.explode("cands").alias("x"),
            F.col("f"), F.col("g"),
        )
        .select(
            "word", "den", F.col("x.sub").alias("token"),
            (
                F.element_at("f", F.col("x.start").cast("int") + 1)
                * F.col("x.w8")
                * F.element_at(
                    "g",
                    (F.length("word") - F.col("x.start") - F.col("x.len"))
                    .cast("int") + 1,
                )
            ).alias("num1"),
        )
        .groupBy("word", "token")
        .agg(
            F.sum("num1").cast("long").alias("num"),
            F.max("den").cast("long").alias("den"),
        )
    )
    return (
        occ.join(wf.select("word", "freq"), "word")
        .join(
            w8.select(F.col("sub").alias("token"), F.col("w8").alias("tw8")),
            "token",
        )
        .groupBy("token")
        .agg(
            F.max("tw8").cast("long").alias("w8"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.expr("num * 1000000 div den"))
            .cast("long")
            .alias("soft_freq_e6"),
        )
    )


# --- distinct substring count (SA + LCP closed form) -------------------------


@register(
    "q_text_distinct_substrings",
    oracle=f"""
    WITH {_sa_perpos_cte()},
    tot AS (
      SELECT CAST(SUM(n_words) AS BIGINT) AS n_positions,
             CAST(SUM(n_words * (n_words + 1) / 2) AS BIGINT) AS total_spans
      FROM dl
    ),
    sl AS (
      SELECT CAST(SUM(lcp) AS BIGINT) AS sum_lcp FROM lcps
    )
    SELECT t.n_positions, t.total_spans, s.sum_lcp,
           t.total_spans - s.sum_lcp AS distinct_spans
    FROM tot t, sl s
    """,
)
def q_text_distinct_substrings(spark, sf_dir):
    """EXACT count of distinct word-level substrings across the whole
    corpus — the classic suffix-array closed form: distinct spans =
    (total spans) - (sum of LCPs between ADJACENT suffixes in SA
    order). Each suffix contributes its length; its LCP with the
    previous suffix is exactly the prefix-spans already counted, so the
    subtraction double-counts nothing — including substrings repeated
    ACROSS documents, which per-doc counting can't dedup. The
    distinct/total ratio is the corpus's exact substring-novelty mass,
    the denominator-exact version of what q_text_ngram_novelty
    estimates at fixed n.

    Composes the memoized SA machinery end-to-end: the prefix-doubling
    ladder, the two-pass SA index, and the adjacent-pair LCP walk are
    all shared with q_text_longest_repeat (one build per session);
    this query adds only two 1-row aggregates over the checkpointed
    pair relation — no new corpus-wide state, no new shuffles beyond
    the two scalar folds. Rank-equal (whole-suffix-identical) pairs
    enter with LCP = the shorter suffix via the established length
    cap, which is precisely what the closed form requires. Everything
    is integer."""
    _, dl, lcps, _ = _sa_perpos(spark, sf_dir)
    tot = dl.agg(
        F.sum("n_words").cast("long").alias("n_positions"),
        F.sum(
            (F.col("n_words") * (F.col("n_words") + 1) / 2).cast("long")
        ).cast("long").alias("total_spans"),
    )
    sl = lcps.agg(F.sum("lcp").cast("long").alias("sum_lcp"))
    return tot.crossJoin(F.broadcast(sl)).select(
        "n_positions",
        "total_spans",
        "sum_lcp",
        (F.col("total_spans") - F.col("sum_lcp")).alias("distinct_spans"),
    )


# --- in-engine quality classifier: multinomial Naive Bayes -------------------

_NB_AUG_SQL = """concat(text,
             CASE WHEN doc_id % 7 = 0 THEN ' ### $$$ @@@' ELSE '' END,
             CASE WHEN doc_id % 11 = 0 THEN ' 0 1 22 333' ELSE '' END)"""
# the same planted low-quality markup q_text_gopher_quality injects, so
# the rule filter and the learned classifier describe one corpus

_NB_MODEL_SQL = f"""nbdocs AS MATERIALIZED (
      SELECT doc_id,
             (doc_id % 7 = 0 OR doc_id % 11 = 0) AS is_bad,
             {_NB_AUG_SQL} AS aug
      FROM documents
    ),
    nbtok AS MATERIALIZED (
      SELECT is_bad, UNNEST(string_split(aug, ' ')) AS word FROM nbdocs
    ),
    nbcnt AS MATERIALIZED (
      SELECT word,
             CAST(COUNT(CASE WHEN NOT is_bad THEN 1 END) AS BIGINT) AS c_good,
             CAST(COUNT(CASE WHEN is_bad THEN 1 END) AS BIGINT) AS c_bad
      FROM nbtok WHERE word <> '' GROUP BY 1
    ),
    nbtot AS MATERIALIZED (
      SELECT CAST(SUM(c_good) AS BIGINT) AS n_good,
             CAST(SUM(c_bad) AS BIGINT) AS n_bad,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM nbcnt
    ),
    nbmodel AS MATERIALIZED (
      SELECT c.word AS token, c.c_good, c.c_bad,
             CAST(FLOOR((LN(CAST(c.c_good + 1 AS DOUBLE))
                         - LN(CAST(t.n_good + t.v AS DOUBLE))
                         - LN(CAST(c.c_bad + 1 AS DOUBLE))
                         + LN(CAST(t.n_bad + t.v AS DOUBLE))) * 1e6 + 0.5)
                  AS BIGINT) AS logodds_e6
      FROM nbcnt c, nbtot t
      UNION ALL
      SELECT '__prior__',
             CAST(COUNT(CASE WHEN NOT is_bad THEN 1 END) AS BIGINT),
             CAST(COUNT(CASE WHEN is_bad THEN 1 END) AS BIGINT),
             CAST(FLOOR((LN(CAST(COUNT(CASE WHEN NOT is_bad THEN 1 END)
                                 AS DOUBLE))
                         - LN(CAST(COUNT(CASE WHEN is_bad THEN 1 END)
                                   AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
      FROM nbdocs
    )"""


def _nb_model(spark, sf_dir):
    """Shared Spark-side trainer: (model df, docs-with-aug df). One
    corpus explode + one vocab-bounded aggregate; see
    q_quality_naive_bayes for the plan/determinism contract."""
    docs = load(spark, sf_dir, "documents")
    is_bad = (F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 11 == 0)
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" ### $$$ @@@")).otherwise(""),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" 0 1 22 333")).otherwise(""),
    )
    nbdocs = docs.select(
        "doc_id", is_bad.alias("is_bad"), aug.alias("aug")
    )
    cnt = (
        nbdocs.select("is_bad", F.explode(F.split("aug", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(
            F.count(F.when(~F.col("is_bad"), 1)).cast("long").alias("c_good"),
            F.count(F.when(F.col("is_bad"), 1)).cast("long").alias("c_bad"),
        )
    )
    tot = cnt.agg(
        F.sum("c_good").cast("long").alias("n_good"),
        F.sum("c_bad").cast("long").alias("n_bad"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    logodds = F.floor(
        (
            F.log((F.col("c_good") + 1).cast("double"))
            - F.log((F.col("n_good") + F.col("v")).cast("double"))
            - F.log((F.col("c_bad") + 1).cast("double"))
            + F.log((F.col("n_bad") + F.col("v")).cast("double"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    word_rows = cnt.crossJoin(F.broadcast(tot)).select(
        F.col("word").alias("token"), "c_good", "c_bad",
        logodds.alias("logodds_e6"),
    )
    prior = nbdocs.agg(
        F.count(F.when(~F.col("is_bad"), 1)).cast("long").alias("c_good"),
        F.count(F.when(F.col("is_bad"), 1)).cast("long").alias("c_bad"),
    ).select(
        F.lit("__prior__").alias("token"), "c_good", "c_bad",
        F.floor(
            (F.log(F.col("c_good").cast("double"))
             - F.log(F.col("c_bad").cast("double"))) * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("logodds_e6"),
    )
    return word_rows.unionByName(prior).localCheckpoint(eager=True), nbdocs


@register(
    "q_quality_naive_bayes",
    oracle=f"""
    WITH {_NB_MODEL_SQL}
    SELECT token, c_good, c_bad, logodds_e6 FROM nbmodel
    """,
)
def q_quality_naive_bayes(spark, sf_dir):
    """Train a QUALITY CLASSIFIER inside the engine — the fastText-style
    workflow every curation pipeline runs: a rule filter labels a seed
    corpus (here the Gopher gate's planted markup/digit-run violations,
    injected exactly as q_text_gopher_quality plants them), and a
    multinomial Naive Bayes model learns per-token log-odds that
    generalize the rules. NB is the one standard text classifier whose
    TRAINING is a single distributed aggregate: per-(token, class)
    counts with Laplace smoothing — no epochs, no sequential updates,
    no learning rate — so it distributes perfectly where SGD cannot.
    Output: (token, class counts, e6 log-odds weight) plus the
    '__prior__' row (class-balance log-odds), i.e. the full model as a
    relation.

    Determinism: every LN argument is an INTEGER-valued double
    (smoothed counts and totals), the library's established snapping
    domain; the four-term sum is IEEE-identical on both engines and
    floors to e6. Plan: one corpus explode -> one vocab-bounded
    aggregate -> a 1-row totals attach (behind the checkpoint);
    map-side combinable end to end. At 100 TB training cost equals one
    token-count pass — the cheapest possible trainer."""
    model, _ = _nb_model(spark, sf_dir)
    return model


@register(
    "q_quality_nb_score",
    oracle=f"""
    WITH {_NB_MODEL_SQL},
    nbfeat AS (
      SELECT doc_id, is_bad, UNNEST(string_split(aug, ' ')) AS token
      FROM nbdocs
      UNION ALL
      SELECT doc_id, is_bad, '__prior__' FROM nbdocs
    ),
    nbscore AS (
      SELECT f.doc_id, f.is_bad,
             CAST(SUM(m.logodds_e6) AS BIGINT) AS score_e6
      FROM nbfeat f JOIN nbmodel m USING (token)
      WHERE f.token <> ''
      GROUP BY 1, 2
    )
    SELECT doc_id, is_bad, score_e6,
           score_e6 <= 0 AS predicted_bad,
           (score_e6 <= 0) = is_bad AS correct
    FROM nbscore
    """,
)
def q_quality_nb_score(spark, sf_dir):
    """APPLY the trained Naive Bayes model back over the corpus — the
    scoring pass that turns the model relation into per-document
    quality decisions: score = prior log-odds + sum of token log-odds
    (all EXACT BIGINT arithmetic once the model is snapped — the
    floating point lives only inside the trainer), predict bad when the
    good-vs-bad log-odds is <= 0, and emit the agreement with the
    rule-filter label so the accuracy audit is a SQL aggregate away
    (on the fixture the planted violations are perfectly separable and
    training accuracy is 100% — pinned by the test, not assumed).

    The '__prior__' row rides the same join as every token (each doc
    gets one synthetic '__prior__' feature), so scoring is ONE
    explode + ONE hash join against the vocab-bounded model + ONE
    per-doc aggregate — no driver state, no broadcast of corpus-scaled
    data, the exact shape of applying any bag-of-words model at
    100 TB."""
    score = _nb_scores(spark, sf_dir)
    return score.select(
        "doc_id", "is_bad", "score_e6",
        (F.col("score_e6") <= 0).alias("predicted_bad"),
        ((F.col("score_e6") <= 0) == F.col("is_bad")).alias("correct"),
    )


def _nb_scores(spark, sf_dir):
    """Per-doc exact BIGINT log-odds scores (doc_id, is_bad, score_e6)
    — the shared scoring relation behind q_quality_nb_score, the
    calibration curve, and the conformal release."""
    model, nbdocs = _nb_model(spark, sf_dir)
    feat = nbdocs.select(
        "doc_id", "is_bad", F.explode(F.split("aug", " ")).alias("token")
    ).filter(F.col("token") != "").unionByName(
        nbdocs.select("doc_id", "is_bad", F.lit("__prior__").alias("token"))
    )
    return (
        feat.join(model.select("token", "logodds_e6"), "token")
        .groupBy("doc_id", "is_bad")
        .agg(F.sum("logodds_e6").cast("long").alias("score_e6"))
    )


@register(
    "q_quality_nb_calibration",
    oracle=f"""
    WITH {_NB_MODEL_SQL},
    nbfeat AS (
      SELECT doc_id, is_bad, UNNEST(string_split(aug, ' ')) AS token
      FROM nbdocs
      UNION ALL
      SELECT doc_id, is_bad, '__prior__' FROM nbdocs
    ),
    nbscore AS (
      SELECT f.doc_id, f.is_bad,
             CAST(SUM(m.logodds_e6) AS BIGINT) AS score_e6
      FROM nbfeat f JOIN nbmodel m USING (token)
      WHERE f.token <> ''
      GROUP BY 1, 2
    )
    SELECT CAST(FLOOR(score_e6 / 1000000.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN is_bad THEN 1 END), 0) AS BIGINT)
             AS n_bad,
           CAST(COALESCE(SUM(CASE WHEN is_bad THEN 1 END), 0) * 10000
                // COUNT(*) AS BIGINT) AS bad_rate_e4,
           CAST(SUM(score_e6) AS BIGINT) AS sum_score_e6
    FROM nbscore GROUP BY 1
    """,
)
def q_quality_nb_calibration(spark, sf_dir):
    """CALIBRATION CURVE (reliability diagram) for the learned quality
    filter — the audit that must precede picking a production
    threshold: documents bucketed by unit-log-odds score bins
    (bin = floor(score_e6 / 1e6)), each bin reporting its document
    count, its PLANTED-label bad count, and the empirical bad rate
    (e4) — a calibrated classifier's bad rate falls monotonically as
    the good-vs-bad log-odds rises, and the bin where it crosses a
    target precision IS the threshold. Rides the exact BIGINT scoring
    relation (one explode + vocab-bounded join + per-doc aggregate) and
    adds ONE more map-side-combinable aggregate over the per-doc
    scores; the bin arithmetic is the identical IEEE double floor on
    both engines (score_e6 is far below 2^53, and integer-div vs
    floor-div would disagree on negative scores — the known
    cross-engine trap the double floor avoids)."""
    score = _nb_scores(spark, sf_dir)
    n_bad = F.coalesce(F.sum(F.when(F.col("is_bad"), 1)), F.lit(0))
    return (
        score.withColumn(
            "bin",
            F.floor(F.col("score_e6") / F.lit(1000000.0)).cast("long"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            n_bad.cast("long").alias("n_bad"),
            F.expr(
                "coalesce(sum(case when is_bad then 1 end), 0) * 10000"
                " div count(1)"
            ).cast("long").alias("bad_rate_e4"),
            F.sum("score_e6").cast("long").alias("sum_score_e6"),
        )
    )


@register(
    "q_text_unigram_fertility",
    oracle=f"""
    WITH RECURSIVE {_unigram_dp_sql()},
    uftok AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(f.k) AS BIGINT) AS n_tokens,
           CAST(SUM(f.k) * 10000 // COUNT(*) AS BIGINT) AS fertility_e4
    FROM uftok t JOIN ufin f ON f.word = t.word
    WHERE t.word <> ''
    GROUP BY t.lang
    """,
)
def q_text_unigram_fertility(spark, sf_dir):
    """Per-LANGUAGE unigram tokenizer fertility (tokens per word, e4) —
    the vocabulary-equity audit q_text_token_fertility runs for BPE,
    now for the likelihood-driven tokenizer: a language whose words the
    seed vocab segments into many pieces pays more sequence length per
    word, the multilingual-fairness number tokenizer papers report.
    Reuses the memoized Viterbi relation (one trainer per session
    serves vocab/segment/hard-EM/compare/fertility); the corpus is
    touched once (explode + |vocab|-join + per-lang aggregate), the
    exact q_text_bpe_encode shuffle shape keyed by language."""
    docs = load(spark, sf_dir, "documents")
    _, _, fin = _unigram_train_cached(spark, sf_dir)
    tokw = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        tokw.join(fin.select("word", "k"), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("k").cast("long").alias("n_tokens"),
            F.expr("cast(sum(k) * 10000 div count(1) as bigint)").alias(
                "fertility_e4"
            ),
        )
    )


# --- WordPiece tokenizer (BERT family) ---------------------------------------
#
# The fourth tokenizer family next to char-BPE, byte-BPE, and the
# unigram LM — the BERT lineage (Schuster & Nakajima 2012; Devlin et
# al. 2018 §A): TRAINING is BPE-shaped but ranks merge candidates by
# the LIKELIHOOD-RATIO score count(ab) / (count(a) * count(b)) instead
# of raw pair frequency (merge what co-occurs more than chance, not
# what is merely common), and ENCODING is GREEDY LONGEST-MATCH-FIRST
# against the trained vocabulary — not a replay of the merge sequence
# — with '##' marking continuation pieces. The score is a double
# division of exact BIGINTs, identical across engines (IEEE-754
# division is correctly rounded, and both engines see the same two
# integers); ties break on (score DESC, a||'·'||b).

WP_MERGES = 10
WP_UNROLL = 12  # greedy-parse unroll depth == max pieces per word; the
# Spark side guards max word length <= WP_UNROLL like the SA ladder
# (12 covers the fixture's 8-char words AND the weak-scaling sweep's
# salted copies, whose words grow a 2-3 char suffix)


def _wp_chain_sql() -> str:
    d = _BPE_D
    parts = [
        f"""
    WITH wf AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(range(1, length(word) + 1),
               i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
                         ELSE '##' || substr(word, CAST(i AS INT), 1) END)
               AS syms
      FROM wf
    )"""
    ]
    for m in range(1, WP_MERGES + 1):
        p = m - 1
        parts.append(
            f""",
    sc{m} AS MATERIALIZED (
      SELECT u.sym, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM v{p}, UNNEST(syms) AS u(sym) GROUP BY u.sym
    ),
    b{m} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT pc.a, pc.b,
               pc.total / (CAST(sa.cnt AS DOUBLE) * sb.cnt) AS score
        FROM (
          SELECT syms[CAST(u.i AS INT)] AS a,
                 syms[CAST(u.i AS INT) + 1] AS b,
                 CAST(SUM(freq) AS BIGINT) AS total
          FROM v{p}, UNNEST(range(1, len(syms))) AS u(i)
          GROUP BY 1, 2
        ) pc
        JOIN sc{m} sa ON sa.sym = pc.a
        JOIN sc{m} sb ON sb.sym = pc.b
      ) ORDER BY score DESC, a || '{d}' || b LIMIT 1
    ),
    bx{m} AS MATERIALIZED (
      SELECT COALESCE((SELECT a FROM b{m}), '') AS ba,
             COALESCE((SELECT b FROM b{m}), '') AS bb
    ),
    v{m} AS MATERIALIZED (
      SELECT word, freq,
             list_filter(string_split(
               list_reduce(list_prepend('{d}', syms), (acc, x) ->
                 CASE WHEN x = bb
                       AND ends_with(acc, '{d}' || ba || '{d}')
                      THEN left(acc, length(acc) - length(ba) - 1)
                           || ba || substr(bb, 3) || '{d}'
                      ELSE acc || x || '{d}' END),
               '{d}'), x -> x <> '') AS syms
      FROM v{p}, bx{m}
    )"""
        )
    merged_union = "\n      UNION\n      ".join(
        f"SELECT ba || substr(bb, 3) AS piece FROM bx{m} WHERE ba <> ''"
        for m in range(1, WP_MERGES + 1)
    )
    parts.append(
        f""",
    vocab AS MATERIALIZED (
      SELECT DISTINCT u.sym AS piece FROM v0, UNNEST(syms) AS u(sym)
      UNION
      {merged_union}
    )"""
    )
    return "".join(parts)


def _wp_encode_oracle() -> str:
    steps = []
    for k in range(1, WP_UNROLL + 1):
        steps.append(
            f""",
    g{k} AS (
      SELECT g.word,
             CASE WHEN g.pos > length(g.word) THEN g.pos
                  ELSE g.pos + l.adv END AS pos,
             CASE WHEN g.pos > length(g.word) THEN g.n
                  ELSE g.n + 1 END AS n,
             CASE WHEN g.pos > length(g.word) THEN g.mx
                  ELSE GREATEST(g.mx, l.adv) END AS mx
      FROM g{k - 1} g LEFT JOIN lmatch l
        ON l.word = g.word AND l.pos = g.pos
    )"""
        )
    return (
        _wp_chain_sql()
        + f""",
    vp AS (
      SELECT piece,
             CASE WHEN piece LIKE '##%' THEN substr(piece, 3)
                  ELSE piece END AS raw,
             (piece LIKE '##%') AS cont
      FROM vocab
    ),
    lmatch AS MATERIALIZED (
      SELECT w.word, CAST(u.p AS BIGINT) AS pos,
             CAST(MAX(length(vp.raw)) AS BIGINT) AS adv
      FROM wf w, UNNEST(range(1, length(w.word) + 1)) AS u(p)
      JOIN vp ON vp.cont = (u.p > 1)
            AND substr(w.word, CAST(u.p AS INT), length(vp.raw)) = vp.raw
      GROUP BY 1, 2
    ),
    g0 AS (
      SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
             CAST(0 AS BIGINT) AS mx
      FROM wf
    ){''.join(steps)},
    tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(g.n) AS BIGINT) AS n_wp_tokens,
           CAST(MAX(g.mx) AS BIGINT) AS max_piece_chars
    FROM tok t JOIN g{WP_UNROLL} g ON g.word = t.word
    WHERE t.word <> ''
    GROUP BY t.doc_id"""
    )


@memoized("wp_train")
def _wp_train_cached(spark, sf_dir):
    """WordPiece trainer: likelihood-ratio-ranked merges over the
    vocab-bounded word-frequency table. Returns (final vocab piece list,
    merge list [(a, b)])."""
    d = _BPE_D
    docs = load(spark, sf_dir, "documents")
    maxw = int(
        docs.agg(
            F.max(
                F.array_max(
                    F.transform(F.split("text", " "), lambda w: F.length(w))
                )
            )
        ).collect()[0][0]
    )  # one scalar pull, the SA-ladder guard pattern
    if maxw > WP_UNROLL:
        raise ValueError(
            f"word of {maxw} chars exceeds the oracle's {WP_UNROLL}-step"
            " greedy-parse unroll"
        )
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    v = wf.withColumn(
        "syms",
        F.expr(
            "transform(filter(split(word, ''), x -> x <> ''),"
            " (x, i) -> IF(i = 0, x, concat('##', x)))"
        ),
    ).localCheckpoint(eager=True)

    def _sq(s: str) -> str:
        return s.replace("'", "''")

    alphabet = [
        r.sym for r in v.select(F.explode("syms").alias("sym")).distinct().collect()
    ]
    merges: list[tuple[str, str]] = []
    pieces: list[str] = []
    for _ in range(WP_MERGES):
        pairs = (
            v.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] as a, syms[i+1] as b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").cast("long").alias("total"))
        )
        sc = (
            v.select("freq", F.explode("syms").alias("sym"))
            .groupBy("sym")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        top = (
            pairs.join(sc.select(F.col("sym").alias("a"), F.col("cnt").alias("ca")), "a")
            .join(sc.select(F.col("sym").alias("b"), F.col("cnt").alias("cb")), "b")
            .select(
                "a",
                "b",
                # cast BEFORE the multiply: ca*cb on two corpus-scale
                # BIGINTs overflows int64 at ~billions of tokens (Spark
                # non-ANSI wraps silently, DuckDB raises); the double
                # product + IEEE division stays engine-identical
                (
                    F.col("total")
                    / (F.col("ca").cast("double") * F.col("cb"))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.concat(F.col("a"), F.lit(d), F.col("b")))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merged = a + b[2:]  # the right element is always a continuation
        merges.append((a, b))
        pieces.append(merged)
        fold = (
            f"aggregate(syms, '{d}', (acc, x) -> "
            f"CASE WHEN x = '{_sq(b)}' AND endswith(acc, '{d}{_sq(a)}{d}') "
            f"THEN concat(left(acc, length(acc) - {len(a)} - 1), "
            f"'{_sq(merged)}{d}') "
            f"ELSE concat(acc, x, '{d}') END)"
        )
        # EAGER: unlike the BPE trainer below, each WordPiece round has
        # TWO consumers of v (the pair count and the symbol count) in
        # one collect job — a lazy fold gets raced and computed twice
        # per round (measured +2 s over the 10 rounds)
        v = (
            v.withColumn(
                "syms", F.expr(f"filter(split({fold}, '{d}'), x -> x <> '')")
            )
            .localCheckpoint(eager=True)
        )
    vocab = sorted(set(alphabet) | set(pieces))
    return vocab, merges


@register("q_text_wordpiece_encode", oracle=_wp_encode_oracle())
def q_text_wordpiece_encode(spark, sf_dir):
    """WORDPIECE tokenizer (BERT family): train {WP_MERGES} merges
    ranked by the likelihood-ratio score count(ab)/(count(a)*count(b)),
    then tokenize every document by GREEDY LONGEST-MATCH-FIRST against
    the trained vocabulary (alphabet + merged pieces, continuations
    prefixed '##') — the encode rule that distinguishes WordPiece from
    BPE's merge-replay. Per document: word count, WordPiece token
    count, longest matched piece (raw chars). See the section comment
    for the cross-engine score discipline.

    Plan shape: the trainer iterates the vocab-bounded word-frequency
    table ({WP_MERGES} rounds of pair+symbol counts, a 1-row collect,
    a JVM fold rewrite, checkpoint — the BPE pattern with one extra
    map-side-combinable aggregate for symbol counts). The greedy
    encoder runs over DISTINCT WORDS ONLY with the constant-size vocab
    in the task closure (alphabet + {WP_MERGES} pieces — never
    corpus-scaled Python), and the corpus is touched once (explode +
    equi-join + per-doc aggregate). The oracle replays the trainer as
    chained CTEs and the greedy parse as a {WP_UNROLL}-step unrolled
    cursor walk over the longest-match table (adv = MAX(piece length)
    per (word, position)) — no OOV is possible on the training corpus
    because every alphabet character is itself a piece."""
    docs = load(spark, sf_dir, "documents")
    vocab, _merges = _wp_train_cached(spark, sf_dir)
    initial = {p for p in vocab if not p.startswith("##")}
    cont = {p[2:] for p in vocab if p.startswith("##")}
    maxlen = max(len(p) for p in cont | initial)

    def encode_words(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            out = {"word": [], "n_pieces": [], "mx": []}
            for word in pdf["word"]:
                pos, n, mx = 0, 0, 0
                while pos < len(word):
                    table = initial if pos == 0 else cont
                    for ln in range(min(maxlen, len(word) - pos), 0, -1):
                        if word[pos : pos + ln] in table:
                            break
                    else:
                        # unreachable on the training corpus (every
                        # positional char is a piece) — but never
                        # silently consume an unmatched character
                        raise ValueError(
                            f"no WordPiece vocab match in {word!r} at {pos}"
                        )
                    n += 1
                    mx = max(mx, ln)
                    pos += ln
                out["word"].append(word)
                out["n_pieces"].append(n)
                out["mx"].append(mx)
            yield pd.DataFrame(out)

    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    enc = words.mapInPandas(
        encode_words, "word string, n_pieces long, mx long"
    )
    tokw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        tokw.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_wp_tokens"),
            F.max("mx").cast("long").alias("max_piece_chars"),
        )
    )


# --- positional phrase search: the inverted index with positions -------------

PHRASE_RANK_LO = 5  # skip the stopword-like head bigrams
PHRASE_RANK_HI = 8  # 4 phrase queries
PHRASE_TOP = 5
PHRASE_SALT = 16


@register(
    "q_text_phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tok AS (
      SELECT doc_id, tl[i] AS w, CAST(i AS BIGINT) AS pos
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
    ),
    bigr AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
    ),
    phrases AS (
      SELECT w1, w2, rn - {PHRASE_RANK_LO} AS query_id FROM (
        SELECT w1, w2,
               ROW_NUMBER() OVER (ORDER BY c DESC, w1, w2) AS rn
        FROM bigr
      ) WHERE rn BETWEEN {PHRASE_RANK_LO} AND {PHRASE_RANK_HI}
    ),
    hits AS (
      SELECT p.query_id, a.doc_id, COUNT(*) AS n_occ
      FROM phrases p
      JOIN tok a ON a.w = p.w1
      JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                AND b.w = p.w2
      GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(n_occ AS BIGINT) AS n_occ, CAST(rn AS BIGINT) AS phrase_rank
    FROM (
      SELECT query_id, doc_id, n_occ,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY n_occ DESC, doc_id
             ) AS rn
      FROM hits
    ) WHERE rn <= {PHRASE_TOP}
    """,
)
def q_text_phrase_search(spark, sf_dir):
    """EXACT PHRASE search through a positional inverted index — the
    Lucene/ES PhraseQuery machinery: token postings carry POSITIONS,
    and a two-word phrase matches where consecutive positions carry
    consecutive phrase terms. Queries are corpus-derived (bigrams
    ranked {PHRASE_RANK_LO}..{PHRASE_RANK_HI} by frequency, skipping
    the stopword-like head — the BM25 query-selection discipline), and
    each returns its top-{PHRASE_TOP} documents by occurrence count.

    Scale shape: the positional explode is the one corpus-sized pass (a
    production system materializes it ONCE as the index); both phrase-
    term joins key on the token against the broadcast 4-row phrase
    table, so only postings of query words ever shuffle, co-located by
    (doc_id) for the adjacency join. The bigram-selection window runs
    over the bigram-count aggregate (vocab^2-bounded, heavily skew-cut
    by the count ordering); per-query ranking is the salted two-phase
    top-k — no corpus-sized single window anywhere."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).select("doc_id", (F.col("pos") + 1).cast("long").alias("pos"), "w")
    a = tok.alias("a")
    b = tok.alias("b")
    bigr = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = W.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
    phrases = (
        bigr.withColumn("rn", F.row_number().over(wr))
        .filter(
            (F.col("rn") >= PHRASE_RANK_LO) & (F.col("rn") <= PHRASE_RANK_HI)
        )
        .select(
            "w1", "w2", (F.col("rn") - PHRASE_RANK_LO).alias("query_id")
        )
    )
    hits = (
        tok.join(F.broadcast(phrases), tok.w == phrases.w1)
        .select("query_id", "doc_id", "pos", "w2")
        .alias("h")
        .join(
            b,
            (F.col("b.doc_id") == F.col("h.doc_id"))
            & (F.col("b.pos") == F.col("h.pos") + 1)
            & (F.col("b.w") == F.col("h.w2")),
        )
        .groupBy("query_id", F.col("h.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    w1 = W.partitionBy("query_id", "salt").orderBy(
        F.desc("n_occ"), F.asc("doc_id")
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        hits.withColumn("salt", F.col("doc_id") % PHRASE_SALT)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= PHRASE_TOP)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= PHRASE_TOP)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            "n_occ",
            F.col("rn").cast("long").alias("phrase_rank"),
        )
    )


# --- isotonic calibration of the quality classifier (PAVA via minimax) -------

ISO_BIN_CLAMP = 64  # unit-log-odds bins clamped to [-64, 64]: the
# interval relation is then provably <= 129^2 rows at ANY corpus size


@register(
    "q_quality_nb_isotonic",
    oracle=f"""
    WITH {_NB_MODEL_SQL},
    nbfeat AS (
      SELECT doc_id, is_bad, UNNEST(string_split(aug, ' ')) AS token
      FROM nbdocs
      UNION ALL
      SELECT doc_id, is_bad, '__prior__' FROM nbdocs
    ),
    nbscore AS (
      SELECT f.doc_id, f.is_bad,
             CAST(SUM(m.logodds_e6) AS BIGINT) AS score_e6
      FROM nbfeat f JOIN nbmodel m USING (token)
      WHERE f.token <> ''
      GROUP BY 1, 2
    ),
    bins AS (
      SELECT GREATEST(-{ISO_BIN_CLAMP}, LEAST({ISO_BIN_CLAMP},
               CAST(FLOOR(score_e6 / 1000000.0) AS BIGINT))) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(CASE WHEN is_bad THEN 1 END), 0) AS BIGINT)
               AS n_bad
      FROM nbscore GROUP BY 1
    ),
    idx AS (
      SELECT bin, n_docs, n_bad,
             ROW_NUMBER() OVER (ORDER BY bin DESC) AS rn,
             SUM(n_docs) OVER (ORDER BY bin DESC) AS cn,
             SUM(n_bad) OVER (ORDER BY bin DESC) AS cb
      FROM bins
    ),
    intervals AS (
      SELECT j.rn AS j, k.rn AS k,
             (1000000 * (k.cb - (j.cb - j.n_bad)))
               // (k.cn - (j.cn - j.n_docs)) AS pooled_e6
      FROM idx j JOIN idx k ON k.rn >= j.rn
    ),
    mins AS (
      SELECT i.rn, v.j, MIN(v.pooled_e6) AS lo
      FROM idx i JOIN intervals v ON v.j <= i.rn AND v.k >= i.rn
      GROUP BY i.rn, v.j
    ),
    cal AS (SELECT rn, MAX(lo) AS iso_rate_e6 FROM mins GROUP BY rn)
    SELECT b.bin, b.n_docs, b.n_bad,
           CAST(1000000 * b.n_bad // b.n_docs AS BIGINT) AS raw_rate_e6,
           CAST(c.iso_rate_e6 AS BIGINT) AS iso_rate_e6
    FROM idx b JOIN cal c ON b.rn = c.rn
    """,
)
def q_quality_nb_isotonic(spark, sf_dir):
    """ISOTONIC CALIBRATION of the learned quality filter (Zadrozny &
    Elkan 2002): fit the best monotone NON-INCREASING bad-rate curve
    over the unit-log-odds score bins — the step after the reliability
    diagram (q_quality_nb_calibration), turning a possibly-noisy
    empirical curve into the monotone map a production threshold is
    read off. Computed via the MINIMAX closed form of weighted PAVA
    (Barlow et al. 1972: the isotonic fit at position i equals
    max over j <= i of min over k >= i of the pooled rate of bins
    j..k, positions indexed in descending score so the fit is
    non-decreasing there) — pooled rates are (1e6 * sum_bad) div
    sum_n on BIGINT prefix sums, so the whole fit is INTEGER-EXACT
    and engine-identical: no iterative merging, no floats, no
    order sensitivity.

    Scale shape: the per-doc scoring relation is the vocab-bounded
    join + one aggregate; bins clamp to [-{ISO_BIN_CLAMP},
    {ISO_BIN_CLAMP}] so every downstream relation (intervals,
    position mins) is bounded by 129^2 rows at ANY corpus size — the
    bounded-domain window the plan auditor's aggregate rule exists
    for."""
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
    clamp = F.greatest(
        F.lit(-ISO_BIN_CLAMP),
        F.least(
            F.lit(ISO_BIN_CLAMP),
            F.floor(F.col("score_e6") / F.lit(1000000.0)).cast("long"),
        ),
    )
    n_bad = F.coalesce(F.sum(F.when(F.col("is_bad"), 1)), F.lit(0))
    bins = (
        score.withColumn("bin", clamp)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            n_bad.cast("long").alias("n_bad"),
        )
    )
    return _isotonic_fit(bins)


def _isotonic_fit(bins):
    """Weighted antitonic (non-increasing in ``bin``) fit of n_bad /
    n_docs over a BOUNDED (bin, n_docs, n_bad) relation, via the PAVA
    minimax closed form on e6 integer pooled rates — floor commutes
    with min/max, so this equals flooring the exact rational PAVA
    solution (pinned against a Fraction-exact Python PAVA in tests)."""
    wd = W.orderBy(F.desc("bin"))
    idx = bins.select(
        "bin", "n_docs", "n_bad",
        F.row_number().over(wd).alias("rn"),
        F.sum("n_docs").over(wd).alias("cn"),
        F.sum("n_bad").over(wd).alias("cb"),
    )
    j = idx.select(
        F.col("rn").alias("j"),
        (F.col("cb") - F.col("n_bad")).alias("cb0"),
        (F.col("cn") - F.col("n_docs")).alias("cn0"),
    )
    k = idx.select(
        F.col("rn").alias("k"),
        F.col("cb").alias("cbk"),
        F.col("cn").alias("cnk"),
    )
    intervals = j.join(k, F.col("k") >= F.col("j")).select(
        "j", "k",
        F.expr("(1000000 * (cbk - cb0)) div (cnk - cn0)").alias("pooled_e6"),
    )
    pos = idx.select(F.col("rn").alias("i"))
    mins = (
        pos.join(
            intervals,
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("pooled_e6").alias("lo"))
    )
    cal = mins.groupBy("i").agg(F.max("lo").alias("iso_rate_e6"))
    return idx.join(cal, idx.rn == cal.i).select(
        "bin", "n_docs", "n_bad",
        F.expr("(1000000 * n_bad) div n_docs").cast("long").alias(
            "raw_rate_e6"
        ),
        F.col("iso_rate_e6").cast("long").alias("iso_rate_e6"),
    )


# --- RAKE keyphrase extraction (multi-word, stopword-boundary runs) ----------

RAKE_STOP_K = 12   # corpus-derived stopword list: the df head
RAKE_MIN_LEN = 2   # multi-word phrases only (TextRank covers unigrams)
RAKE_MAX_LEN = 4   # the standard RAKE phrase-length cap
RAKE_TOP = 15
RAKE_SALT = 16


@register(
    "q_text_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS tl FROM documents
    ),
    tok AS (
      SELECT doc_id, tl[i] AS w, CAST(i AS BIGINT) AS pos
      FROM toks, UNNEST(range(1, LEN(tl) + 1)) AS u(i)
    ),
    stop AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (
          ORDER BY COUNT(DISTINCT doc_id) DESC, w
        ) AS rn
        FROM tok GROUP BY w
      ) WHERE rn <= {RAKE_STOP_K}
    ),
    runs AS (
      SELECT doc_id, w, pos,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos
             ) AS grp
      FROM tok WHERE w NOT IN (SELECT w FROM stop)
    ),
    phrases AS (
      SELECT doc_id, grp,
             STRING_AGG(w, ' ' ORDER BY pos) AS phrase,
             COUNT(*) AS plen
      FROM runs GROUP BY doc_id, grp
      HAVING COUNT(*) BETWEEN {RAKE_MIN_LEN} AND {RAKE_MAX_LEN}
    ),
    pw AS (
      SELECT doc_id, grp, plen, UNNEST(STRING_SPLIT(phrase, ' ')) AS w
      FROM phrases
    ),
    wscore AS (
      SELECT w, (1000000 * CAST(SUM(plen) AS BIGINT)) // COUNT(*) AS s_e6
      FROM pw GROUP BY w
    ),
    pscore AS (
      SELECT p.doc_id, p.grp, p.phrase,
             CAST(SUM(ws.s_e6) AS BIGINT) AS score_e6
      FROM pw p2
      JOIN phrases p ON p.doc_id = p2.doc_id AND p.grp = p2.grp
      JOIN wscore ws ON ws.w = p2.w
      GROUP BY p.doc_id, p.grp, p.phrase
    ),
    agg AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(MAX(score_e6) AS BIGINT) AS score_e6
      FROM pscore GROUP BY phrase
    )
    SELECT phrase, n_occ, score_e6, CAST(rn AS BIGINT) AS rake_rank
    FROM (
      SELECT phrase, n_occ, score_e6,
             ROW_NUMBER() OVER (
               ORDER BY score_e6 DESC, n_occ DESC, phrase
             ) AS rn
      FROM agg
    ) WHERE rn <= {RAKE_TOP}
    """,
)
def q_text_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010):
    candidate phrases are maximal runs of non-stopword tokens (the
    stopword list is the corpus df head, ranked 1..{RAKE_STOP_K} — the
    BM25 head-term discipline), capped at {RAKE_MAX_LEN} words and
    multi-word only (the single-word half of keyword extraction is
    q_text_textrank_keywords); each word scores deg/freq (total length
    of phrases it appears in over its occurrence count, the RAKE
    co-occurrence degree) in e6 integer arithmetic, and a phrase
    scores the sum of its word scores. Corpus top-{RAKE_TOP} phrases
    by (score, occurrences, text).

    Scale shape: run grouping is the classic pos - row_number trick
    inside a doc-partitioned window (never single-partition); word and
    phrase scores are two map-side-combinable groupBys over the
    phrase-word explode; the stopword window runs over the vocab-
    bounded df aggregate and the final ranking over the distinct-
    phrase aggregate with the salted two-phase cap."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).select(
        "doc_id", (F.col("pos") + 1).cast("long").alias("pos"), "w"
    ).localCheckpoint(eager=True)  # 2 consumers: stopword df + runs
    wdf = W.orderBy(F.desc("df"), F.asc("w"))
    stop = (
        tok.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .withColumn("rn", F.row_number().over(wdf))
        .filter(F.col("rn") <= RAKE_STOP_K)
        .select("w")
    )
    wrun = W.partitionBy("doc_id").orderBy("pos")
    runs = (
        tok.join(F.broadcast(stop), "w", "left_anti")
        .withColumn("grp", F.col("pos") - F.row_number().over(wrun))
    )
    phrases = (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, w))), s -> s.w)"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(
            (F.col("plen") >= RAKE_MIN_LEN) & (F.col("plen") <= RAKE_MAX_LEN)
        )
        .localCheckpoint(eager=True)  # 2 consumers: pw + the text re-attach
    )
    pw = phrases.select(
        "doc_id", "grp", "plen", F.explode(F.split("phrase", " ")).alias("w")
    ).localCheckpoint(eager=True)  # 2 consumers: word scores + phrase sum
    wscore = pw.groupBy("w").agg(
        F.expr("(1000000 * sum(plen)) div count(1)").cast("long").alias("s_e6")
    )
    pscore = (
        pw.join(wscore, "w")
        .groupBy("doc_id", "grp")
        .agg(F.sum("s_e6").cast("long").alias("score_e6"))
        .join(phrases.select("doc_id", "grp", "phrase"), ["doc_id", "grp"])
    )
    agg = pscore.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.max("score_e6").cast("long").alias("score_e6"),
    )
    w1 = W.partitionBy("salt").orderBy(
        F.desc("score_e6"), F.desc("n_occ"), F.asc("phrase")
    )
    w2 = W.orderBy(F.desc("score_e6"), F.desc("n_occ"), F.asc("phrase"))
    return (
        agg.withColumn("salt", F.crc32(F.col("phrase")) % RAKE_SALT)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= RAKE_TOP)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= RAKE_TOP)
        .select(
            "phrase", "n_occ", "score_e6",
            F.col("rn").cast("long").alias("rake_rank"),
        )
    )


# --- pseudo-relevance feedback (Rocchio expansion over BM25) ------------------

PRF_FB_DOCS = 3   # feedback depth: top-k docs of the first pass
PRF_EXP = 2       # expansion terms added per query
PRF_BETA = 0.5    # Rocchio beta: weight of expansion-term contributions


def _prf_oracle() -> str:
    """Two chained BM25 passes: pass 1 is the exact q_text_bm25_topk
    pipeline; its top-{PRF_FB_DOCS} docs per query vote expansion terms
    (ranked by INTEGER feedback tf, then rarity, then term — no float
    argmax anywhere), and pass 2 rescores with the expanded weighted
    query."""
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM doclen
    ),
    dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    qsel AS (
      SELECT term, df,
             (rn - {BM25_RANK_LO}) // 4 AS query_id,
             (rn - {BM25_RANK_LO}) % 4 AS tpos,
             LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
      FROM (SELECT term, df,
                   ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
            FROM dft) CROSS JOIN stats
      WHERE rn BETWEEN {BM25_RANK_LO} AND {BM25_RANK_HI}
    ),
    tf1 AS (
      SELECT t.doc_id, q.query_id, q.tpos, q.idf, COUNT(*) AS tf
      FROM toks t JOIN qsel q ON t.term = q.term
      GROUP BY 1, 2, 3, 4
    ),
    c1 AS (
      SELECT f.query_id, f.doc_id, f.tpos,
             (f.idf * (f.tf * ({BM25_K1} + 1.0))) /
             (f.tf + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * (d.dl / s.avgdl))) AS c
      FROM tf1 f JOIN doclen d ON f.doc_id = d.doc_id CROSS JOIN stats s
    ),
    s1 AS (
      SELECT query_id, doc_id,
             COALESCE(MAX(CASE WHEN tpos = 0 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 1 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 2 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 3 THEN c END), 0.0) AS score_raw
      FROM c1 GROUP BY 1, 2
    ),
    fb AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY score_raw DESC, doc_id
               ) AS rn
        FROM s1
      ) WHERE rn <= {PRF_FB_DOCS}
    ),
    exp_terms AS (
      SELECT query_id, term, df, idf FROM (
        SELECT f.query_id, t.term, d.df,
               LN(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
                 AS idf,
               ROW_NUMBER() OVER (
                 PARTITION BY f.query_id
                 ORDER BY COUNT(*) DESC, d.df ASC, t.term
               ) AS rn
        FROM fb f
        JOIN toks t ON t.doc_id = f.doc_id
        JOIN dft d ON d.term = t.term
        CROSS JOIN stats s
        WHERE t.term NOT IN (
          SELECT term FROM qsel q2 WHERE q2.query_id = f.query_id
        )
        GROUP BY f.query_id, t.term, d.df, s.n_docs
      ) WHERE rn <= {PRF_EXP}
    ),
    qsel2 AS (
      SELECT query_id, term, tpos, idf, 1.0 AS w FROM qsel
      UNION ALL
      SELECT query_id, term,
             3 + ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY term
             ) AS tpos,
             idf, {PRF_BETA} AS w
      FROM exp_terms
    ),
    tf2 AS (
      SELECT t.doc_id, q.query_id, q.tpos, q.idf, q.w, COUNT(*) AS tf
      FROM toks t JOIN qsel2 q ON t.term = q.term
      GROUP BY 1, 2, 3, 4, 5
    ),
    c2 AS (
      SELECT f.query_id, f.doc_id, f.tpos,
             f.w * (f.idf * (f.tf * ({BM25_K1} + 1.0))) /
             (f.tf + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * (d.dl / s.avgdl))) AS c
      FROM tf2 f JOIN doclen d ON f.doc_id = d.doc_id CROSS JOIN stats s
    ),
    s2 AS (
      SELECT query_id, doc_id,
             COALESCE(MAX(CASE WHEN tpos = 0 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 1 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 2 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 3 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 4 THEN c END), 0.0)
           + COALESCE(MAX(CASE WHEN tpos = 5 THEN c END), 0.0) AS score_raw
      FROM c2 GROUP BY 1, 2
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(rn AS BIGINT) AS prf_rank, ROUND(score_raw, 6) AS score
    FROM (
      SELECT query_id, doc_id, score_raw,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY score_raw DESC, doc_id
             ) AS rn
      FROM s2
    ) WHERE rn <= {BM25_TOP}
    """


@register("q_text_bm25_prf", oracle=_prf_oracle())
def q_text_bm25_prf(spark, sf_dir):
    """PSEUDO-RELEVANCE FEEDBACK (Rocchio 1971, the classic two-pass
    query expansion every Lucene/Anserini stack ships): pass 1 runs the
    exact BM25 pipeline; each query's top-{PRF_FB_DOCS} documents are
    ASSUMED relevant and vote {PRF_EXP} expansion terms — ranked by
    INTEGER feedback term frequency, then rarity (df asc), then term,
    so term selection never argmaxes a float — and pass 2 rescores the
    corpus with the expanded query, expansion contributions damped by
    the Rocchio beta = {PRF_BETA}. Scores stay bit-identical across
    engines because per-term contributions pivot to FIXED tpos columns
    summed left-to-right (the BM25 discipline, widened to 6 slots).

    Scale shape: both passes are the inverted-index equi-join against a
    broadcast query-term table (8 rows, then 12); the feedback relation
    is {PRF_FB_DOCS} rows per query; expansion-term voting explodes
    ONLY the feedback documents and windows over their per-query term
    aggregate. Nothing new shuffles at corpus scale beyond the two
    postings joins a production PRF does anyway."""
    docs = load(spark, sf_dir, "documents")
    # EAGER (round 14): the token explode feeds five consumers across
    # the two BM25 passes (doclen, dft, both tf joins, the feedback
    # vote) — checkpoint so the corpus explodes once per query
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).localCheckpoint(eager=True)
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, tot = doclen.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
    ).first()
    avgdl = tot / n_docs
    dft = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf_of = lambda c: F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - c + F.lit(0.5)) / (c + F.lit(0.5))
    )
    wq = W.orderBy(F.desc("df"), F.asc("term"))
    qsel = (
        dft.withColumn("rn", F.row_number().over(wq))
        .filter((F.col("rn") >= BM25_RANK_LO) & (F.col("rn") <= BM25_RANK_HI))
        .select(
            "term", "df",
            F.floor((F.col("rn") - BM25_RANK_LO) / 4).cast("long").alias("query_id"),
            ((F.col("rn") - BM25_RANK_LO) % 4).alias("tpos"),
            idf_of(F.col("df")).alias("idf"),
        )
        # EAGER: three consumers (pass-1 scorer, the expansion
        # anti-join, the pass-2 union) race a lazy checkpoint
        .localCheckpoint(eager=True)
    )

    def bm25_scores(qterms, slots: int):
        tf = (
            toks.join(F.broadcast(qterms), "term")
            .groupBy("doc_id", "query_id", "tpos", "idf", "w")
            .agg(F.count(F.lit(1)).alias("tf"))
            .join(doclen, "doc_id")
        )
        contrib = (
            F.col("w")
            * (F.col("idf") * (F.col("tf") * (F.lit(BM25_K1) + F.lit(1.0))))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * (F.col("dl") / F.lit(avgdl))
                )
            )
        )
        scored = (
            tf.withColumn("c", contrib)
            .groupBy("query_id", "doc_id")
            .agg(
                *[
                    F.max(F.when(F.col("tpos") == k, F.col("c"))).alias(f"c{k}")
                    for k in range(slots)
                ]
            )
        )
        total = F.coalesce(f"c0", F.lit(0.0))
        for k in range(1, slots):
            total = total + F.coalesce(f"c{k}", F.lit(0.0))
        return scored.withColumn("score_raw", total)

    s1 = bm25_scores(qsel.withColumn("w", F.lit(1.0)), 4)
    wfb = W.partitionBy("query_id").orderBy(F.desc("score_raw"), F.asc("doc_id"))
    fb = (
        s1.withColumn("rn", F.row_number().over(wfb))
        .filter(F.col("rn") <= PRF_FB_DOCS)
        .select("query_id", "doc_id")
    )
    fb_terms = (
        fb.join(toks, "doc_id")
        .join(qsel.select("query_id", "term").withColumn("orig", F.lit(1)),
              ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("fbtf"))
        .join(dft, "term")
    )
    wexp = W.partitionBy("query_id").orderBy(
        F.desc("fbtf"), F.asc("df"), F.asc("term")
    )
    exp_terms = (
        fb_terms.withColumn("rn", F.row_number().over(wexp))
        .filter(F.col("rn") <= PRF_EXP)
        .select("query_id", "term", "df")
    )
    wpos = W.partitionBy("query_id").orderBy(F.asc("term"))
    qsel2 = qsel.select(
        "query_id", "term", "tpos", "idf", F.lit(1.0).alias("w")
    ).unionByName(
        exp_terms.select(
            "query_id",
            "term",
            (F.lit(3) + F.row_number().over(wpos)).alias("tpos"),
            idf_of(F.col("df")).alias("idf"),
            F.lit(PRF_BETA).alias("w"),
        )
    )
    s2 = bm25_scores(qsel2, 6)
    wr = W.partitionBy("query_id").orderBy(F.desc("score_raw"), F.asc("doc_id"))
    return (
        s2.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= BM25_TOP)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            F.col("rn").cast("long").alias("prf_rank"),
            F.round("score_raw", 6).alias("score"),
        )
    )


# --- memorization probe: exact passage occurrence counting -------------------
#
# The training-data-extraction audit (Carlini et al. 2021 "Extracting
# Training Data from LLMs"; Lee et al. 2022 §5): how often does an
# exact passage occur across the corpus? A passage that recurs
# verbatim in many documents is both a dedup failure and a
# memorization amplifier — counting its exact occurrences is the
# serving-side question the suffix-array family answers offline, here
# as one scan: a BOUNDED probe set (8-word passages drawn from fixed
# probe documents) is broadcast against the corpus and counted with
# pure JVM string arithmetic — (len(s) - len(replace(s, p, ''))) /
# len(p) on space-padded text, the word-boundary-safe, engine-
# identical NON-OVERLAPPING count (adjacent occurrences sharing the
# boundary space undercount identically in both engines — documented,
# deterministic).

MEMP_MOD = 25    # probe docs: doc_id % 25 == 0 ...
MEMP_MAX = 1000  # ... below this id — a CONSTANT <= 40-probe panel
MEMP_LEN = 8     # passage length in words (words 6..13 of the probe)
MEMP_SKIP = 5    # words skipped before the passage starts


@register(
    "q_text_memorization_probe",
    oracle=f"""
    WITH probes AS (
      SELECT doc_id AS probe_doc_id,
             array_to_string(list_slice(string_split(text, ' '),
               {MEMP_SKIP + 1}, {MEMP_SKIP + MEMP_LEN}), ' ') AS passage
      FROM documents
      WHERE doc_id % {MEMP_MOD} = 0 AND doc_id < {MEMP_MAX}
        AND len(string_split(text, ' ')) >= {MEMP_SKIP + MEMP_LEN}
    ),
    hits AS (
      SELECT p.probe_doc_id, p.passage, d.doc_id,
             (LENGTH(' ' || d.text || ' ')
              - LENGTH(REPLACE(' ' || d.text || ' ',
                               ' ' || p.passage || ' ', '')))
             // LENGTH(' ' || p.passage || ' ') AS cnt
      FROM probes p CROSS JOIN documents d
    )
    SELECT probe_doc_id, passage,
           CAST(SUM(cnt) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE cnt > 0 AND doc_id <> probe_doc_id)
                AS BIGINT) AS n_other_docs,
           (COUNT(*) FILTER (WHERE cnt > 0 AND doc_id <> probe_doc_id) > 0)
             AS memorized
    FROM hits
    GROUP BY 1, 2
    """,
)
def q_text_memorization_probe(spark, sf_dir):
    """MEMORIZATION PROBE — exact cross-corpus occurrence counts for a
    constant panel of {MEMP_LEN}-word passages drawn from fixed probe
    documents (Carlini et al. 2021's extraction-risk question, and the
    interactive twin of the suffix-array repeat machinery: "how often
    does THIS passage occur, and outside its source?"). ``memorized``
    flags passages recurring verbatim in any OTHER document — the
    dedup-failure signal that predicts verbatim regurgitation.

    Scale shape: the probe panel is bounded (<= {MEMP_MAX // MEMP_MOD}
    passages) and broadcast; the corpus is touched by ONE map-side
    string-arithmetic pass (whole-stage codegen, no UDF, no explode),
    and the only shuffle is the probe-sized final aggregate. The count
    is the space-padded replace trick — word-boundary-safe and
    bit-identical across engines; overlapping-adjacent occurrences
    undercount identically on both sides (documented)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    probes = (
        docs.filter(
            (F.col("doc_id") % MEMP_MOD == 0) & (F.col("doc_id") < MEMP_MAX)
        )
        .filter(F.size(F.split("text", " ")) >= MEMP_SKIP + MEMP_LEN)
        .select(
            F.col("doc_id").alias("probe_doc_id"),
            F.array_join(
                F.expr(
                    f"slice(split(text, ' '), {MEMP_SKIP + 1}, {MEMP_LEN})"
                ),
                " ",
            ).alias("passage"),
        )
    )
    cnt = F.expr(
        "(length(concat(' ', text, ' '))"
        " - length(replace(concat(' ', text, ' '),"
        "                  concat(' ', passage, ' '), '')))"
        " div length(concat(' ', passage, ' '))"
    )
    hits = (
        docs.crossJoin(F.broadcast(probes))
        .select("probe_doc_id", "passage", "doc_id", cnt.alias("cnt"))
    )
    return hits.groupBy("probe_doc_id", "passage").agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count(F.when(F.col("cnt") > 0, 1)).cast("long").alias("n_docs"),
        F.count(
            F.when(
                (F.col("cnt") > 0) & (F.col("doc_id") != F.col("probe_doc_id")),
                1,
            )
        )
        .cast("long")
        .alias("n_other_docs"),
        (
            F.count(
                F.when(
                    (F.col("cnt") > 0)
                    & (F.col("doc_id") != F.col("probe_doc_id")),
                    1,
                )
            )
            > 0
        ).alias("memorized"),
    )


# --- split-conformal prediction sets over the quality classifier -------------
#
# Conformal prediction (Vovk, Gammerman & Shafer 2005; the
# split-conformal recipe of Angelopoulos & Bates 2021): turn ANY
# scorer into prediction SETS with a distribution-free coverage
# guarantee — on exchangeable data the true label lands inside the
# set with probability >= 1 - alpha, no matter how miscalibrated the
# scores are. The machinery is pure rank arithmetic, which is why it
# integerizes perfectly: nonconformity of (doc, label) is the signed
# exact BIGINT log-odds (A(doc,bad) = +score_e6, A(doc,good) =
# -score_e6), q_hat is the ceil((n_cal+1)(1-alpha))-th smallest
# calibration nonconformity (an ORDER STATISTIC — no floats), and a
# label enters a test doc's set iff its nonconformity <= q_hat.

CONF_CAL_HEX = "01234567"  # md5(doc_id) first hex -> calibration half
CONF_ALPHA_E2 = 10         # alpha = 0.10 -> 90% target coverage
CONF_INF = 1 << 62         # q_hat when k exceeds n_cal (full sets)


def _nb_conformal_oracle() -> str:
    cal_in = ", ".join(f"'{c}'" for c in CONF_CAL_HEX)
    return f"""
    WITH {_NB_MODEL_SQL},
    nbfeat AS (
      SELECT doc_id, is_bad, UNNEST(string_split(aug, ' ')) AS token
      FROM nbdocs
      UNION ALL
      SELECT doc_id, is_bad, '__prior__' FROM nbdocs
    ),
    nbscore AS (
      SELECT f.doc_id, f.is_bad,
             CAST(SUM(m.logodds_e6) AS BIGINT) AS score_e6
      FROM nbfeat f JOIN nbmodel m USING (token)
      WHERE f.token <> ''
      GROUP BY 1, 2
    ),
    cal AS (
      SELECT doc_id,
             CASE WHEN is_bad THEN score_e6 ELSE -score_e6 END AS s
      FROM nbscore
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({cal_in})
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
             ((COUNT(*) + 1) * (100 - {CONF_ALPHA_E2}) + 99) // 100 AS k
      FROM cal
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s, doc_id) AS rn FROM cal
    ),
    qh AS (
      SELECT t.n_cal, t.k,
             CASE WHEN t.k > t.n_cal THEN CAST({CONF_INF} AS BIGINT)
                  ELSE (SELECT s FROM ranked WHERE rn = t.k) END AS q_hat
      FROM tot t
    )
    SELECT n.doc_id, n.is_bad, n.score_e6,
           (-n.score_e6 <= q.q_hat) AS in_set_good,
           (n.score_e6 <= q.q_hat) AS in_set_bad,
           CAST(CASE WHEN -n.score_e6 <= q.q_hat THEN 1 ELSE 0 END
                + CASE WHEN n.score_e6 <= q.q_hat THEN 1 ELSE 0 END
                AS BIGINT) AS set_size,
           (CASE WHEN n.is_bad THEN n.score_e6 ELSE -n.score_e6 END
            <= q.q_hat) AS covered,
           CAST(q.q_hat AS BIGINT) AS q_hat,
           q.n_cal
    FROM nbscore n, qh q
    WHERE substr(md5(CAST(n.doc_id AS VARCHAR)), 1, 1) NOT IN ({cal_in})
    """


@register("q_quality_nb_conformal", oracle=_nb_conformal_oracle())
def q_quality_nb_conformal(spark, sf_dir):
    """SPLIT-CONFORMAL PREDICTION SETS over the learned quality filter
    (Vovk et al. 2005; Angelopoulos & Bates 2021) — the release that
    upgrades per-doc scores to sets with a DISTRIBUTION-FREE coverage
    guarantee: an md5 half of the corpus calibrates (nonconformity of
    the TRUE label, exact signed BIGINT log-odds), q_hat is the
    ceil((n_cal+1)(1-alpha))-th smallest calibration nonconformity,
    and each held-out doc's set contains every label whose
    nonconformity is <= q_hat — on exchangeable data the true label is
    covered with probability >= {100 - CONF_ALPHA_E2}%, regardless of
    model calibration. ``covered`` makes the guarantee a measurable
    column; empty sets (both labels rejected) and full sets (both
    kept) are legitimate outputs the set_size column exposes.

    Everything on the cross-engine path is int64 rank arithmetic: the
    order statistic is selected by exact global rank — the two-pass
    range-partitioned rank of q_utxo_balance_gini, never a
    single-partition window over the calibration rows — and the
    bounded (q_hat, n_cal) row is broadcast onto the held-out half.
    One corpus scoring pass + one calibration rank pass; both
    map-side-combinable before their shuffles."""
    score = _nb_scores(spark, sf_dir)
    hex1 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_cal = hex1.isin(*CONF_CAL_HEX)
    s_col = F.when(F.col("is_bad"), F.col("score_e6")).otherwise(
        -F.col("score_e6")
    )
    cal = score.filter(is_cal).select("doc_id", s_col.alias("s"))
    # two-pass exact global rank of the calibration nonconformities
    part = (
        cal.repartitionByRange(range_parts(cal), "s", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = W.partitionBy("pid").orderBy("s", "doc_id")
    local = part.withColumn("li", F.row_number().over(wloc))
    woff = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        part.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "pid",
            F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"),
        )
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "s", (F.col("off") + F.col("li")).alias("rn")
    )
    tot = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal")).select(
        "n_cal",
        F.expr(
            f"((n_cal + 1) * (100 - {CONF_ALPHA_E2}) + 99) div 100"
        ).cast("long").alias("k"),
    )
    # LEFT join from the 1-row totals so a degenerate empty calibration
    # half still yields one (q_hat = INF) row, matching the oracle's
    # NULL-scalar-subquery CASE
    qsel = (
        F.broadcast(tot)
        .join(
            ranked,
            F.col("rn") == F.least(F.col("k"), F.col("n_cal")),
            "left_outer",
        )
        .select(
            "n_cal",
            F.when(F.col("k") > F.col("n_cal"), F.lit(CONF_INF))
            .otherwise(F.col("s"))
            .cast("long")
            .alias("q_hat"),
        )
    )
    test = score.filter(~is_cal)
    return test.crossJoin(F.broadcast(qsel)).select(
        "doc_id",
        "is_bad",
        "score_e6",
        (-F.col("score_e6") <= F.col("q_hat")).alias("in_set_good"),
        (F.col("score_e6") <= F.col("q_hat")).alias("in_set_bad"),
        (
            F.when(-F.col("score_e6") <= F.col("q_hat"), 1).otherwise(0)
            + F.when(F.col("score_e6") <= F.col("q_hat"), 1).otherwise(0)
        )
        .cast("long")
        .alias("set_size"),
        (s_col <= F.col("q_hat")).alias("covered"),
        F.col("q_hat").cast("long").alias("q_hat"),
        "n_cal",
    )
