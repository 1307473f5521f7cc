"""Multimodal column handling: opaque binary payloads + typed metadata.

The pattern the reference already embodies — ``script: BinaryType`` with
everything downstream operating on bytes — generalized to image/audio/
video payloads for a training-data pipeline:

- payloads are opaque ``binary`` columns with a typed metadata struct
  (mime, size, checksum) alongside;
- decode / feature-extract / frame-sample run as Arrow-batched pandas
  functions over ``mapInPandas`` — per-partition, bounded memory, no
  driver involvement;
- real image/audio codecs aren't in this container, so the *decode* step
  is a clearly-marked deterministic fake (byte-level features); the
  Spark-side plumbing — schema, batch iteration, partitioning — is real
  and tested.

Payloads are synthesized from ``documents.text`` (utf-8 bytes) so every
sf has a deterministic corpus.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .registry import load, register

FRAME_BYTES = 64  # fake "frame" granularity for the frame-sampler
SAMPLE_EVERY = 4


def _spread(df):
    """Spread a thin per-document relation across the session's full
    parallelism before an Arrow-batched decode pass. The synthetic-blob
    gates derive every payload from doc_id, so their upstream scan is
    ONE small parquet split and the whole mapInPandas codec pass would
    otherwise run in a single task (round 13: the sf0.1 fixture read as
    1 partition, serializing every decode gate). The shuffle moves only
    the id/text columns — O(input) bytes, no skew (round-robin) — and
    is exactly the operator a production pipeline uses to fan a decode
    stage wider than its scan splits; with real multi-file binary
    corpora the scan's own splits already provide this and the
    repartition collapses to a cheap rebalance."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def payloads_df(spark, sf_dir):
    """documents → (doc_id, payload binary, meta struct<mime,size,sha>)."""
    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(payload).cast("long").alias("size"),
            F.sha2(payload, 256).alias("sha256"),
        ).alias("meta"),
    )


@register(
    "q_mm_payload_metadata",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS payload_bytes,
           CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / 64) AS BIGINT) AS n_frames,
           CAST(CEIL(CEIL(CAST(LENGTH(text) AS DOUBLE) / 64) / 4) AS BIGINT) AS n_sampled
    FROM documents
    """,
)
def q_mm_payload_metadata(spark, sf_dir):
    """Typed-metadata plumbing: payload sizes and the frame-count
    arithmetic of the sampler, as pure column expressions (the ASCII
    corpus makes byte length == char length, which the oracle uses)."""
    p = payloads_df(spark, sf_dir)
    n_frames = F.ceil(F.col("meta.size").cast("double") / FRAME_BYTES)
    return p.select(
        "doc_id",
        F.col("meta.size").alias("payload_bytes"),
        n_frames.cast("long").alias("n_frames"),
        F.ceil(n_frames.cast("double") / SAMPLE_EVERY).cast("long").alias("n_sampled"),
    )


@register(
    "q_mm_feature_extract",
    # the ASCII corpus makes the payload's byte histogram equal the
    # text's character histogram, so the numpy features are fully
    # SQL-expressible: explode characters, histogram per doc, Shannon
    # entropy and mean code point. Cross-engine float-sum order differs
    # at ~1e-15 over <=256 histogram terms; both sides round to 6
    # decimals, so the hashes agree.
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM documents, LATERAL (SELECT UNNEST(RANGE(1, LENGTH(text) + 1)) AS i)
    ),
    hist AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM hist GROUP BY doc_id),
    feats AS (
      SELECT h.doc_id,
             ROUND(-SUM((h.c / t.n) * LOG2(h.c / t.n)), 6) AS entropy,
             ROUND(SUM(unicode(h.ch) * h.c) / ANY_VALUE(t.n), 6) AS mean_byte
      FROM hist h JOIN tot t ON h.doc_id = t.doc_id
      GROUP BY h.doc_id
    )
    SELECT d.doc_id, CAST(LENGTH(d.text) AS BIGINT) AS size,
           f.entropy, f.mean_byte
    FROM documents d JOIN feats f ON d.doc_id = f.doc_id
    """,
)
def q_mm_feature_extract(spark, sf_dir):
    """'Decode + feature-extract' over binary payloads via mapInPandas.

    The codec step is a DETERMINISTIC FAKE (a real pipeline would call
    PIL/ffmpeg here — not in this container): features are the byte
    histogram entropy and mean. The Spark plumbing is the real thing:
    Arrow batches in, Arrow batches out, schema declared, executes
    per-partition with no shuffle. Hash-gated: the DuckDB oracle
    recomputes both features from the character histogram (byte ==
    char on the ASCII corpus).
    """
    import numpy as np
    import pandas as pd

    p = payloads_df(spark, sf_dir).select("doc_id", "payload", F.col("meta.size").alias("size"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for blob in pdf["payload"]:
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                hist = np.bincount(arr, minlength=256).astype(np.float64)
                probs = hist[hist > 0] / len(arr)
                entropy = float(-(probs * np.log2(probs)).sum())
                feats.append((entropy, float(arr.mean())))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "size": pdf["size"],
                    "entropy": [e for e, _ in feats],
                    "mean_byte": [m for _, m in feats],
                }
            )

    # round in the JVM, half away from zero like the oracle's ROUND:
    # Python's round() is half-to-even, so an exact tie such as
    # 12021/128 = 93.9140625 came out 93.914062 against the oracle's
    # 93.914063
    return p.mapInPandas(
        extract, "doc_id long, size long, entropy double, mean_byte double"
    ).select(
        "doc_id",
        "size",
        F.round("entropy", 6).alias("entropy"),
        F.round("mean_byte", 6).alias("mean_byte"),
    )


@register(
    "q_mm_frame_sample",
    # the ASCII corpus makes byte slicing == char slicing, so the frame
    # checksums are SQL-expressible: sha256 over stepped substrings
    oracle=f"""
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           substr(sha256(substr(text, i * {FRAME_BYTES} + 1, {FRAME_BYTES})), 1, 16)
             AS frame_sha
    FROM documents,
         LATERAL (SELECT UNNEST(RANGE(0,
                    CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / {FRAME_BYTES}) AS BIGINT),
                    {SAMPLE_EVERY})) AS i)
    """,
)
def q_mm_frame_sample(spark, sf_dir):
    """Frame sampling over binary payloads: split each payload into
    FRAME_BYTES-sized 'frames', keep every SAMPLE_EVERY-th, emit one row
    per sampled frame with its checksum — the video-frame-extraction
    shape (explode-with-position), executed in Arrow batches.
    """
    import hashlib as _hashlib

    import pandas as pd

    p = payloads_df(spark, sf_dir).select("doc_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_idx, out_sha = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(blob)
                for i in range(0, (len(raw) + FRAME_BYTES - 1) // FRAME_BYTES, SAMPLE_EVERY):
                    frame = raw[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_sha.append(_hashlib.sha256(frame).hexdigest()[:16])
            yield pd.DataFrame({"doc_id": out_doc, "frame_idx": out_idx, "frame_sha": out_sha})

    return p.mapInPandas(sample, "doc_id long, frame_idx long, frame_sha string")


def decode_image_stub(payload: bytes):  # pragma: no cover - documented stub
    """Placeholder for the remaining natively-coded formats (modern
    entropy-/loop-filter-heavy video codecs — H.264/VP9/AV1 — ffmpeg/
    libav are not installed here). Video is no longer architecturally
    stubbed AT ALL: round 11 added a real Motion-JPEG AVI path
    (kernels/video.py — RIFF container walk + per-frame T.81 decode,
    ``q_mm_video_decode_stats``), round 12 the INTER-FRAME half via
    BI_RLE8 AVI (delta frames whose skipped pixels persist from the
    previous frame, ``q_mm_video_delta_stats``), and round 13 the
    MPEG-1-STYLE motion-compensated subset "MC01" (per-macroblock
    full-pel motion vectors + 8x8 residual DCT + run/level Exp-Golomb,
    closed-loop encoder, ``q_mm_video_mc_stats``) — every architectural
    ingredient of MPEG/H.26x coding now has a real, gated pure-Python
    path. Round 13 also added HALF-PEL
    motion (MPEG-1 2.4.4.2 bilinear half-sample interpolation,
    ``q_mm_video_halfpel_stats``), so sub-pel prediction is real too.
    What remains behind this stub is only what genuinely needs native
    decoders: longer sub-pel filter taps (H.264's 6-tap), in-loop
    deblocking, and CABAC/range arithmetic coding at real bitstream
    compatibility.

    Formats decodable in pure Python are NOT stubbed: kernels/image.py
    implements real PPM (P6), 24-bit BMP, PNG (stdlib zlib inflate +
    all five scanline filters), QOI, GIF, TGA, and — rounds 9/10/11 —
    FULL HUFFMAN JPEG: baseline sequential (marker parse, canonical
    huffman entropy decode with byte unstuffing and restart markers,
    dequant, IDCT, YCbCr, the 4:2:0/4:2:2 subsampled MCU interleave
    with chroma replication upsampling) AND progressive (SOF2 spectral
    selection + successive approximation per T.81 Annex G), exercised
    end-to-end by ``q_mm_decode_pixel_stats``, ``q_mm_phash_dedup``,
    ``q_mm_qoi_decode_stats``, and ``q_mm_jpeg_decode_stats``. A
    production deployment swaps this stub for the native codec; the
    mapInPandas plumbing is unchanged by that swap.
    """
    raise NotImplementedError(
        "native-bitstream video codecs (H.264/VP9/AV1) are not"
        " available in this environment; see kernels/video.py for the"
        " pure-Python Motion-JPEG, inter-frame RLE8, and MC01"
        " motion-compensated AVI paths and"
        " kernels/image.py for"
        " PPM/BMP/PNG (incl. Adam7)/QOI/GIF/TGA and JPEG (baseline"
        " incl. 4:2:0/4:2:2, plus progressive)"
    )


IMG_H = 6  # synthesized image height; width varies 5..8 to hit every
# BMP row-padding case (3*5=15 -> pad 1, 18 -> 2, 21 -> 3, 24 -> 0)


@register(
    "q_mm_decode_pixel_stats",
    # the oracle recomputes the DECODED pixel buffer independently: the
    # synthesized image's pixels are the text bytes cycled to fill
    # width x IMG_H x 3, so per-channel byte sums and the buffer sha are
    # pure string arithmetic. Any codec bug — BMP row flip, BGR/RGB
    # swap, padding miscount, PPM header off-by-one — changes sums or
    # sha and breaks the hash gate.
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(5 + doc_id % 4 AS BIGINT) AS width,
             CAST({IMG_H} AS BIGINT) AS height,
             CASE doc_id % 3 WHEN 1 THEN 'bmp' WHEN 2 THEN 'png'
                  ELSE 'ppm' END AS fmt,
             substr(repeat(text, CAST(CEIL(144.0 / LENGTH(text)) AS BIGINT)),
                    1, CAST((5 + doc_id % 4) * {IMG_H} * 3 AS INT)) AS px
      FROM documents
    )
    SELECT doc_id, fmt, width, height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 1 AS INT), 1)))) AS BIGINT) AS sum_r,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 2 AS INT), 1)))) AS BIGINT) AS sum_g,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 3 AS INT), 1)))) AS BIGINT) AS sum_b,
           substr(sha256(px), 1, 16) AS px_sha
    FROM img
    """,
)
def q_mm_decode_pixel_stats(spark, sf_dir):
    """REAL image decode end-to-end: each document becomes a small RGB
    image (text bytes cycled into width x {IMG_H} pixels, width varying
    5..8 so every BMP row-padding case occurs), encoded per doc_id % 3
    as binary PPM, 24-bit BMP (bottom-up BGR rows with padding), or PNG
    (zlib-deflated scanlines, filter type rotating through all five
    None/Sub/Up/Average/Paeth since {IMG_H} > 4 rows), then DECODED by
    the pure-Python codecs in kernels/image.py, with per-channel byte
    sums and a pixel-buffer checksum emitted per image. Encode and decode are independent code
    paths meeting at the format spec; the DuckDB oracle recomputes the
    expected pixel buffer from the text alone, so a row-order, channel-
    order, or padding bug in EITHER path breaks the hash. Runs as one
    Arrow-batched mapInPandas pass — per-partition, no shuffle, the
    exact plumbing a native-codec deployment would reuse."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.image import decode_image, encode_bmp, encode_png, encode_ppm

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "sum_r", "sum_g", "sum_b", "px_sha")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    # the oracle's pixel recipe is character arithmetic;
                    # bytes == chars only for non-empty ASCII — fail loud
                    # rather than silently diverge from the gate
                    raise ValueError(
                        f"q_mm_decode_pixel_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 5 + doc_id % 4, IMG_H
                n = w * h * 3
                raw = (text.encode("utf-8") * -(-n // len(text)))[:n]
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
                if doc_id % 3 == 2:
                    # half the PNG slots ride Adam7 so BOTH interlace
                    # methods cycle through the same pixel-recipe gate
                    payload = encode_png(arr, interlace=doc_id % 6 == 2)
                elif doc_id % 3 == 1:
                    payload = encode_bmp(arr)
                else:
                    payload = encode_ppm(arr)
                fmt, dw, dh, px = decode_image(payload)
                assert (dw, dh) == (w, h), (doc_id, dw, dh)
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
                out["px_sha"].append(_hashlib.sha256(px.tobytes()).hexdigest()[:16])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        decode_stats,
        "doc_id long, fmt string, width long, height long,"
        " sum_r long, sum_g long, sum_b long, px_sha string",
    )


RESIZE_TO = 16


@register(
    "q_mm_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS orig_bytes,
           ARRAY_TO_STRING(
             LIST_TRANSFORM(RANGE(0, {RESIZE_TO}),
               i -> substr(text, CAST((i * LENGTH(text)) // {RESIZE_TO} AS INT) + 1, 1)),
             '') AS resized
    FROM documents WHERE LENGTH(text) >= {RESIZE_TO}
    """,
)
def q_mm_resize(spark, sf_dir):
    """'Resize' over binary payloads: deterministic stride resampling to
    a fixed {RESIZE_TO}-byte output (the nearest-neighbor downsample a
    real image resize would do per axis — the codec itself is the
    documented stub). Runs as an Arrow-batched mapInPandas with numpy
    stride indexing; the oracle reproduces the identical positions with
    substr arithmetic over the ASCII corpus, so the UDF path is checked
    bit-for-bit. No shuffle: pure per-partition map.
    """
    import numpy as np
    import pandas as pd

    p = payloads_df(spark, sf_dir).select("doc_id", "payload")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(RESIZE_TO)
        for pdf in batches:
            out_doc, out_len, out_resized = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(blob)
                n = len(raw)
                if n < RESIZE_TO:
                    continue
                pos = (idx * n) // RESIZE_TO
                arr = np.frombuffer(raw, dtype=np.uint8)[pos]
                out_doc.append(doc_id)
                out_len.append(n)
                out_resized.append(arr.tobytes().decode("ascii", errors="replace"))
            yield pd.DataFrame(
                {"doc_id": out_doc, "orig_bytes": out_len, "resized": out_resized}
            )

    return p.mapInPandas(resize, "doc_id long, orig_bytes long, resized string")


AUDIO_CHUNK = 128  # bytes per "audio chunk" (PCM window stand-in)


@register(
    "q_mm_audio_chunk_stats",
    # ASCII corpus: byte value == code point, so per-chunk byte stats are
    # SQL-expressible via ASCII(substr(...)) arithmetic
    oracle=f"""
    SELECT doc_id, CAST(c AS BIGINT) AS chunk_idx,
           CAST(LENGTH(chunk) AS BIGINT) AS n_bytes,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, LENGTH(chunk) + 1),
                i -> ASCII(substr(chunk, i, 1)))) AS BIGINT) AS byte_sum,
           CAST(LIST_MAX(LIST_TRANSFORM(RANGE(1, LENGTH(chunk) + 1),
                i -> ASCII(substr(chunk, i, 1)))) AS BIGINT) AS byte_max
    FROM (
      SELECT doc_id, c, substr(text, c * {AUDIO_CHUNK} + 1, {AUDIO_CHUNK}) AS chunk
      FROM documents,
           LATERAL (SELECT UNNEST(RANGE(0,
             CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / {AUDIO_CHUNK}) AS BIGINT))) AS c)
    ) t
    """,
)
def q_mm_audio_chunk_stats(spark, sf_dir):
    """Audio-modality plumbing: fixed-duration chunking of a PCM-like
    payload with per-chunk amplitude stats (sum / max as the
    silence-detection proxies — the real decoder is the documented codec
    stub). One row per (payload, chunk), numpy-reshaped per Arrow batch,
    no shuffle; the oracle recomputes every chunk boundary and stat with
    substr/ASCII arithmetic, so the UDF path is value-checked exactly."""
    import numpy as np
    import pandas as pd

    p = payloads_df(spark, sf_dir).select("doc_id", "payload")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "chunk_idx": [], "n_bytes": [], "byte_sum": [], "byte_max": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                for c in range(0, (len(arr) + AUDIO_CHUNK - 1) // AUDIO_CHUNK):
                    chunk = arr[c * AUDIO_CHUNK : (c + 1) * AUDIO_CHUNK]
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(c)
                    out["n_bytes"].append(len(chunk))
                    out["byte_sum"].append(int(chunk.sum(dtype=np.int64)))
                    out["byte_max"].append(int(chunk.max()))
            yield pd.DataFrame(out)

    return p.mapInPandas(
        stats,
        "doc_id long, chunk_idx long, n_bytes long, byte_sum long, byte_max long",
    )


@register(
    "q_mm_phash_dedup",
    # same independent-recompute strategy as q_mm_decode_pixel_stats:
    # the oracle derives luminance bits straight from the text's pixel
    # recipe (integer cross-multiply lum*n > total avoids division), so
    # a codec bug OR a hash-packing bug on the Spark side breaks the gate
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(5 + doc_id % 4 AS BIGINT) AS w,
             CASE doc_id % 3 WHEN 1 THEN 'bmp' WHEN 2 THEN 'png'
                  ELSE 'ppm' END AS fmt,
             substr(repeat(text, CAST(CEIL(144.0 / LENGTH(text)) AS BIGINT)),
                    1, CAST((5 + doc_id % 4) * {IMG_H} * 3 AS INT)) AS px
      FROM documents
    ),
    lums AS (
      SELECT doc_id, fmt, w,
             LIST_TRANSFORM(RANGE(0, w * {IMG_H}),
               i -> CAST(ASCII(substr(px, CAST(i * 3 + 1 AS INT), 1))
                       + ASCII(substr(px, CAST(i * 3 + 2 AS INT), 1))
                       + ASCII(substr(px, CAST(i * 3 + 3 AS INT), 1))
                     AS BIGINT)) AS lum
      FROM img
    ),
    hashed AS (
      SELECT doc_id, fmt,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, w * {IMG_H}),
               i -> CASE WHEN lum[CAST(i + 1 AS INT)] * (w * {IMG_H})
                              > LIST_SUM(lum)
                         THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                         ELSE 0 END)) AS BIGINT) AS phash
      FROM lums
    )
    SELECT doc_id, fmt, phash,
           CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same_hash
    FROM hashed
    """,
)
def q_mm_phash_dedup(spark, sf_dir):
    """Perceptual (average-luminance) image hashing through the REAL
    decode path, feeding the dedup shape: each document's synthesized
    image round-trips through the pure-Python PPM/BMP/PNG codecs, its
    per-pixel luminance is thresholded against the image mean (integer
    cross-multiply, no float), bits pack into one BIGINT phash, and a
    hash-partitioned window counts perceptual duplicates — the
    decode → fingerprint → group-by-content pipeline image dedup runs
    at scale, where the phash join key replaces raw-pixel comparison.
    The oracle recomputes the bits from the pixel recipe alone, so a
    row-flip, channel-swap, or bit-packing bug on either side breaks
    the gate. One Arrow-batched mapInPandas pass plus one phash
    shuffle."""
    import numpy as np
    import pandas as pd

    from ..kernels.image import decode_image, encode_bmp, encode_png, encode_ppm

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def phash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "fmt": [], "phash": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_phash_dedup: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 5 + doc_id % 4, IMG_H
                n = w * h * 3
                raw = (text.encode("utf-8") * -(-n // len(text)))[:n]
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
                if doc_id % 3 == 2:
                    # half the PNG slots ride Adam7 so BOTH interlace
                    # methods cycle through the same pixel-recipe gate
                    payload = encode_png(arr, interlace=doc_id % 6 == 2)
                elif doc_id % 3 == 1:
                    payload = encode_bmp(arr)
                else:
                    payload = encode_ppm(arr)
                fmt, dw, dh, px = decode_image(payload)
                lum = px.reshape(-1, 3).sum(axis=1, dtype=np.int64)
                total, npx = int(lum.sum()), dw * dh
                bits = (lum * npx) > total
                phash = int(sum(1 << i for i in np.nonzero(bits)[0]))
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["phash"].append(phash)
            yield pd.DataFrame(out)

    hashed = docs.mapInPandas(phash_batch, "doc_id long, fmt string, phash long")
    wdup = W.partitionBy("phash")
    return hashed.select(
        "doc_id", "fmt", "phash", F.count(F.lit(1)).over(wdup).alias("n_same_hash")
    )


QOI_H = 5  # QOI test-image height; width varies 4..8 per doc


@register(
    "q_mm_qoi_decode_stats",
    # independent-recompute oracle, same contract as
    # q_mm_decode_pixel_stats: the planted pixels are the text bytes
    # cycled into width x QOI_H x 3, so the DECODED buffer's per-channel
    # sums and sha are pure string arithmetic — the QOI encoder and
    # decoder (kernels/image.py) are two independent walks of the spec
    # meeting at this gate, and a bug in the rolling index hash, a
    # DIFF/LUMA bias, or a run fencepost desynchronizes every later
    # pixel and flips the hash. 120 = max width (8) * QOI_H * 3.
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS width,
             CAST({QOI_H} AS BIGINT) AS height,
             substr(repeat(text, CAST(CEIL(120.0 / LENGTH(text)) AS BIGINT)),
                    1, CAST((4 + doc_id % 5) * {QOI_H} * 3 AS INT)) AS px
      FROM documents
    )
    SELECT doc_id, 'qoi' AS fmt, width, height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 1 AS INT), 1)))) AS BIGINT) AS sum_r,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 2 AS INT), 1)))) AS BIGINT) AS sum_g,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 3 AS INT), 1)))) AS BIGINT) AS sum_b,
           substr(sha256(px), 1, 16) AS px_sha
    FROM img
    """,
)
def q_mm_qoi_decode_stats(spark, sf_dir):
    """REAL QOI decode end-to-end: each document's text bytes are
    cycled into a width x QOI_H RGB image (width varying 4..8), encoded
    to QOI — whose chunk stream the ASCII corpus exercises heavily:
    repeated words produce RUN and INDEX hits, adjacent letters land in
    DIFF/LUMA range — then decoded back by the independent pure-Python
    decoder in kernels/image.py, emitting per-channel sums and the
    pixel-buffer checksum. The DuckDB oracle recomputes both from the
    text alone, so the gate proves decode(encode(px)) == px through the
    format spec rather than through shared code. One Arrow-batched
    mapInPandas pass, per-partition, no shuffle — the same plumbing
    shape a native-codec swap keeps."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.image import decode_image, encode_qoi

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def qoi_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "sum_r", "sum_g", "sum_b", "px_sha")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_qoi_decode_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 4 + doc_id % 5, QOI_H
                n = w * h * 3
                raw = (text.encode("utf-8") * -(-n // len(text)))[:n]
                arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
                fmt, dw, dh, px = decode_image(encode_qoi(arr))
                assert (fmt, dw, dh) == ("qoi", w, h), (doc_id, fmt, dw, dh)
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
                out["px_sha"].append(_hashlib.sha256(px.tobytes()).hexdigest()[:16])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        qoi_stats,
        "doc_id long, fmt string, width long, height long,"
        " sum_r long, sum_g long, sum_b long, px_sha string",
    )


# --- Real RIFF/WAV container decode --------------------------------------

WAV_BASE_N = 40  # frames = WAV_BASE_N + doc_id % 17; channels = 1 + doc_id % 2
WAV_MIX_A = 40503  # LCG-ish sample mix, engine-identical BIGINT arithmetic
WAV_MIX_B = 24036


@register(
    "q_mm_wav_decode_stats",
    # independent-recompute oracle, same contract as q_mm_qoi_decode_stats:
    # the planted PCM16 samples are a pure integer mix of (doc_id, index),
    # so the DECODED waveform's exact moments are SQL arithmetic — the RIFF
    # writer and the chunk-walking reader (kernels/audio.py) are two
    # independent walks of the WAVE spec meeting at this gate. A reader
    # that misparsed fmt fields, skipped the LIST chunk wrong (pad byte!),
    # or sliced partial frames desynchronizes every sample and flips the
    # sums.
    oracle=f"""
    WITH spec AS (
      SELECT doc_id,
             CAST({WAV_BASE_N} + doc_id % 17 AS BIGINT) AS n_frames,
             CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
             CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_frames, n_channels, sample_rate,
             LIST_TRANSFORM(RANGE(0, n_frames * n_channels),
               j -> (doc_id * {WAV_MIX_A} + j * {WAV_MIX_B}) % 65536 - 32768)
               AS xs
      FROM spec
    )
    SELECT doc_id, sample_rate, n_channels, n_frames,
           CAST(LIST_SUM(xs) AS BIGINT) AS sum_s,
           CAST(LIST_MIN(xs) AS BIGINT) AS min_s,
           CAST(LIST_MAX(xs) AS BIGINT) AS max_s,
           CAST(LIST_SUM(LIST_TRANSFORM(xs, x -> x * x)) AS BIGINT) AS sum_sq
    FROM s
    """,
)
def q_mm_wav_decode_stats(spark, sf_dir):
    """REAL audio-container decode end-to-end: per document a PCM16
    waveform (frame count, channel count and sample rate all varying by
    doc_id so mono/stereo and every rate branch are exercised) is
    synthesized by an integer mix, written to a spec-correct RIFF/WAVE
    file — including an ancillary odd-sized LIST chunk the reader must
    skip by size with the spec's pad byte — then decoded back by the
    independent chunk-walking parser in kernels/audio.py, emitting the
    decoded waveform's exact integer moments (sum/min/max/energy). The
    DuckDB oracle recomputes all four from the recipe alone, so the gate
    proves decode(encode(x)) == x through the container spec rather than
    through shared code. One Arrow-batched mapInPandas pass,
    per-partition, no shuffle — byte-identical plumbing to what a
    native-codec swap would keep."""
    import pandas as pd

    from ..kernels.audio import decode_wav, encode_wav

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def wav_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "sample_rate", "n_channels", "n_frames",
                "sum_s", "min_s", "max_s", "sum_sq",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = WAV_BASE_N + doc_id % 17
                ch = 1 + doc_id % 2
                rate = 8000 + (doc_id % 3) * 4000
                j = np.arange(n * ch, dtype=np.int64)
                xs = (doc_id * WAV_MIX_A + j * WAV_MIX_B) % 65536 - 32768
                arr = xs.astype(np.int16).reshape(n, ch)
                drate, dch, dec = decode_wav(encode_wav(arr, rate))
                assert (drate, dch, dec.shape[0]) == (rate, ch, n), doc_id
                flat = dec.astype(np.int64).reshape(-1)
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_frames"].append(n)
                out["sum_s"].append(int(flat.sum()))
                out["min_s"].append(int(flat.min()))
                out["max_s"].append(int(flat.max()))
                out["sum_sq"].append(int((flat * flat).sum()))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        wav_stats,
        "doc_id long, sample_rate long, n_channels long, n_frames long,"
        " sum_s long, min_s long, max_s long, sum_sq long",
    )


# --- Exact binary-payload dedup via content digest --------------------------


@register(
    "q_mm_payload_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 4 = 0
    ),
    grouped AS (
      SELECT sha256(text) AS digest,
             CAST(COUNT(*) AS BIGINT) AS n_copies,
             CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id,
             CAST(SUM(LENGTH(text)) - MIN(LENGTH(text)) AS BIGINT)
               AS bytes_saved
      FROM corpus GROUP BY 1
    )
    SELECT digest, n_copies, kept_doc_id, bytes_saved
    FROM grouped WHERE n_copies > 1
    """,
)
def q_mm_payload_dedup(spark, sf_dir):
    """Exact dedup over OPAQUE BINARY payloads by content digest — the
    multimodal twin of q_dedup_exact: image/audio blobs can't be
    normalized or shingled, so byte-identity via sha256 is the only
    exact key, and it's also the storage-dedup key an object store
    would use. Synthetic copies are planted (every 4th payload
    re-ingested under a shifted id) so collapse is observable; emitted
    rows are the duplicate groups with the canonical (min-id) keep and
    the exact payload bytes returned to the storage budget.

    The digest is computed JVM-side (F.sha2 over the binary column —
    no Python in the hot path) and doubles as the shuffle key:
    uniformly distributed by construction, so the groupBy cannot skew
    regardless of how duplicated the corpus is. Text stands in for the
    blob bytes (utf-8 encode, the payloads_df convention); the plan is
    byte-layout-agnostic."""
    p = payloads_df(spark, sf_dir).select("doc_id", "payload")
    dupes = p.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "payload"
    )
    grouped = (
        p.unionByName(dupes)
        .groupBy(F.sha2(F.col("payload"), 256).alias("digest"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").alias("kept_doc_id"),
            (F.sum(F.length("payload")) - F.min(F.length("payload")))
            .cast("long").alias("bytes_saved"),
        )
    )
    return grouped.filter(F.col("n_copies") > 1)


# --- Real baseline JPEG decode --------------------------------------------

JPEG_BH = 2  # block rows; block cols vary 2..4 per doc


@register(
    "q_mm_jpeg_decode_stats",
    # independent-recompute oracle, same contract as the QOI/WAV gates:
    # the planted image is TILE-CONSTANT (each MCU-sized tile one byte
    # of the text), which is the one shape a LOSSY codec reproduces
    # bit-exactly (DC-only blocks under all-8s quant tables: quantized
    # DC == the level-shifted value; gray r==g==b pixels survive the
    # YCbCr round-trip exactly, and box-mean chroma downsampling +
    # replication upsampling are identities on constant tiles). The
    # oracle rebuilds the DECODED buffer by string arithmetic — each
    # tile char repeated rep_w x (3 channels when RGB) per row and each
    # tile row repeated rep_h times — so a huffman mis-decode,
    # DC-predictor slip, dequant/IDCT scale error, zig-zag mix-up,
    # restart-marker desync, MCU-interleave walk error, chroma
    # upsampling bug, or color-transform bias changes sum_px or px_sha
    # and breaks the gate. Even docs decode grayscale (8x8 tiles); odd
    # docs decode 3-component YCbCr cycling the sampling layouts:
    # doc_id%3=0 -> 4:4:4 with restart markers (8x8 tiles), 1 -> 4:2:0
    # with restarts (16x16 tiles), 2 -> 4:2:2 (8x16 tiles).
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(2 + doc_id % 3 AS BIGINT) AS bw,
             CAST({JPEG_BH} AS BIGINT) AS bh,
             doc_id % 2 = 1 AS rgb,
             CASE WHEN doc_id % 2 = 0 THEN 8
                  WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS rep_w,
             CASE WHEN doc_id % 2 = 0 THEN 8
                  WHEN doc_id % 3 = 1 THEN 16 ELSE 8 END AS rep_h,
             substr(repeat(text, CAST(CEIL(12.0 / LENGTH(text)) AS BIGINT)),
                    1, CAST((2 + doc_id % 3) * {JPEG_BH} AS INT)) AS bpx
      FROM documents
    ),
    built AS (
      SELECT doc_id, bw, bh, rgb, bpx, rep_w, rep_h,
             array_to_string(list_transform(range(0, bh), j ->
               repeat(array_to_string(list_transform(range(0, bw), i ->
                 repeat(substr(bpx, CAST(j * bw + i + 1 AS INT), 1),
                        CAST(rep_w * CASE WHEN rgb THEN 3 ELSE 1 END
                             AS INT))), ''), CAST(rep_h AS INT))), '')
               AS buf
      FROM img
    )
    SELECT doc_id,
           CASE WHEN NOT rgb THEN
                  (CASE WHEN doc_id % 4 = 0 THEN 'jpeg_gray_prog'
                        ELSE 'jpeg_gray' END)
                WHEN doc_id % 3 = 0 THEN 'jpeg_rgb'
                WHEN doc_id % 3 = 1 THEN 'jpeg_rgb_420'
                ELSE 'jpeg_rgb_422_prog' END AS fmt,
           bw * rep_w AS width, bh * rep_h AS height,
           CAST(rep_w * rep_h * (CASE WHEN rgb THEN 3 ELSE 1 END)
                * LIST_SUM(LIST_TRANSFORM(RANGE(0, bw * bh),
                    i -> ASCII(substr(bpx, CAST(i + 1 AS INT), 1))))
                AS BIGINT) AS sum_px,
           substr(sha256(buf), 1, 16) AS px_sha
    FROM built
    """,
)
def q_mm_jpeg_decode_stats(spark, sf_dir):
    """REAL baseline JPEG decode end-to-end (ITU-T T.81 sequential DCT):
    each document's text bytes become the MCU-tile values of a small
    tile-constant image, encoded to a full JFIF byte stream (Annex K
    huffman tables, all-8s quant, interleaved MCUs, restart markers)
    and decoded back by the independent pure-Python decoder in
    kernels/image.py — marker parse, canonical huffman with byte
    unstuffing, DC prediction, de-zigzag, dequant, separable float
    IDCT, level shift, chroma replication upsample, YCbCr->RGB. The
    RGB docs cycle all three sampling layouts (4:4:4 / 4:2:0 with
    restarts / 4:2:2 — round 10 added the subsampled MCU interleave +
    chroma upsampling, the dominant real-world web-JPEG shapes).
    Tile-constant inputs are the bit-exact subset of a lossy codec
    (DC-only under all-8s quantization; box-mean downsample and
    replication upsample are identities on constant tiles), which is
    what lets the DuckDB oracle recompute the decoded buffer from the
    text alone. One Arrow-batched mapInPandas pass, per-partition, no
    shuffle. Round 11 cycles PROGRESSIVE (SOF2) variants through the
    same gate: every fourth gray doc and the 4:2:2 slot encode with the
    full Annex G scan script (interleaved DC first pass at Al=1,
    per-component spectral-band AC passes, DC+AC refinement scans), so
    the decoder's successive-approximation walk sits on the hash path;
    only video remains stubbed (decode_image_stub)."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.image import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def jpeg_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "sum_px", "px_sha")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_jpeg_decode_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the planted-block contract"
                        " requires non-empty ASCII"
                    )
                bw, bh = 2 + doc_id % 3, JPEG_BH
                n = bw * bh
                raw = (text.encode("utf-8") * -(-n // len(text)))[:n]
                vals = np.frombuffer(raw, dtype=np.uint8).reshape(bh, bw)
                if doc_id % 2:
                    # cycle sampling layouts: tile size = the MCU, so
                    # every emitted block (luma AND box-mean chroma) is
                    # constant and the round trip stays bit-exact; the
                    # 4:2:2 slot cycles PROGRESSIVE (SOF2 spectral
                    # selection + successive approximation, round 11)
                    samp, fmt, rep_w, rep_h, rst = {
                        0: ("4:4:4", "jpeg_rgb", 8, 8, 2),
                        1: ("4:2:0", "jpeg_rgb_420", 16, 16, 1),
                        2: ("4:2:2", "jpeg_rgb_422_prog", 16, 8, 0),
                    }[doc_id % 3]
                    img = np.repeat(
                        np.repeat(vals, rep_h, axis=0), rep_w, axis=1
                    )
                    rgb = np.stack([img] * 3, axis=-1)
                    if fmt.endswith("_prog"):
                        buf = encode_jpeg_progressive(rgb, sampling=samp)
                    else:
                        buf = encode_jpeg(
                            rgb, restart_interval=rst, sampling=samp
                        )
                    w, h, px = decode_jpeg(buf)
                    assert px.shape == (bh * rep_h, bw * rep_w, 3), doc_id
                    assert np.array_equal(px, rgb), doc_id
                else:
                    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                    if doc_id % 4 == 0:  # progressive grayscale slot
                        buf = encode_jpeg_progressive(img)
                        fmt = "jpeg_gray_prog"
                    else:
                        buf = encode_jpeg(img)
                        fmt = "jpeg_gray"
                    w, h, px = decode_jpeg(buf)
                    assert px.shape == (bh * 8, bw * 8), doc_id
                    assert np.array_equal(px, img), doc_id
                flat = px.tobytes()
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_px"].append(int(np.frombuffer(flat, np.uint8)
                                         .sum(dtype=np.int64)))
                out["px_sha"].append(
                    _hashlib.sha256(flat).hexdigest()[:16])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        jpeg_stats,
        "doc_id long, fmt string, width long, height long,"
        " sum_px long, px_sha string",
    )


# --- TIFF/EXIF metadata extraction ----------------------------------------


@register(
    "q_mm_exif_parse",
    # independent-recompute oracle: every planted field is
    # engine-identical arithmetic over (doc_id, text), and blob_len pins
    # the WRITER's TIFF layout arithmetic too (144 fixed bytes + the
    # out-of-line Make tail when len(make)+NUL exceeds the 4-byte inline
    # slot). A parser that misread byte order, walked the wrong IFD
    # offset, confused inline vs out-of-line placement, or swapped
    # rational num/den flips a column and breaks the hash.
    oracle="""
    WITH f AS (
      SELECT doc_id,
             string_split(text, ' ')[1] AS make
      FROM documents
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
           CAST(320 + (d.doc_id % 64) * 16 AS BIGINT) AS width,
           CAST(240 + (d.doc_id % 48) * 16 AS BIGINT) AS height,
           f.make,
           CAST(1 + d.doc_id % 8 AS BIGINT) AS orientation,
           '2024:01:01 '
             || lpad(CAST(d.doc_id % 24 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST(d.doc_id % 60 AS VARCHAR), 2, '0') || ':'
             || lpad(CAST((d.doc_id * 7) % 60 AS VARCHAR), 2, '0') AS dt,
           CAST(100 * (1 + d.doc_id % 32) AS BIGINT) AS iso,
           CAST(1 AS BIGINT) AS exp_num,
           CAST(50 + d.doc_id % 200 AS BIGINT) AS exp_den,
           CAST(144 + CASE WHEN LENGTH(f.make) >= 4
                           THEN LENGTH(f.make) + 1 ELSE 0 END
                AS BIGINT) AS blob_len
    FROM documents d JOIN f ON f.doc_id = d.doc_id
    """,
)
def q_mm_exif_parse(spark, sf_dir):
    """TIFF/EXIF metadata extraction — the multimodal path image
    pipelines run far more often than pixel decode (dedup on
    camera+timestamp, exposure/ISO quality filters, orientation-aware
    resizing). Each document plants deterministic camera fields
    (dimensions, Make = the doc's first word, orientation, datetime,
    ISO, exposure rational), writes a real TIFF/EXIF blob — IFD0 +
    ExifIFD sub-directory, alternating II/MM byte order per doc — and
    parses it back with the independent reader in kernels/exif.py.
    One Arrow-batched mapInPandas pass, no shuffle; GPS IFDs,
    maker notes, and APP1-embedded EXIF are the documented residual
    scope (kernels/exif.py module docstring)."""
    import pandas as pd

    from ..kernels.exif import decode_exif, encode_exif

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def exif_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = ("doc_id", "byte_order", "width", "height", "make",
                    "orientation", "dt", "iso", "exp_num", "exp_den",
                    "blob_len")
            out = {k: [] for k in cols}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                make = text.split(" ")[0]
                dt = "2024:01:01 {:02d}:{:02d}:{:02d}".format(
                    doc_id % 24, doc_id % 60, (doc_id * 7) % 60
                )
                blob = encode_exif(
                    width=320 + (doc_id % 64) * 16,
                    height=240 + (doc_id % 48) * 16,
                    make=make,
                    orientation=1 + doc_id % 8,
                    datetime=dt,
                    iso=100 * (1 + doc_id % 32),
                    exposure=(1, 50 + doc_id % 200),
                    big_endian=bool(doc_id % 2),
                )
                got = decode_exif(blob)
                out["doc_id"].append(doc_id)
                out["byte_order"].append(got["byte_order"])
                out["width"].append(got["width"])
                out["height"].append(got["height"])
                out["make"].append(got["make"])
                out["orientation"].append(got["orientation"])
                out["dt"].append(got["datetime"])
                out["iso"].append(got["iso"])
                out["exp_num"].append(got["exposure"][0])
                out["exp_den"].append(got["exposure"][1])
                out["blob_len"].append(len(blob))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        exif_stats,
        "doc_id long, byte_order string, width long, height long,"
        " make string, orientation long, dt string, iso long,"
        " exp_num long, exp_den long, blob_len long",
    )


# --- Real GIF (LZW) decode -------------------------------------------------

GIF_H = 6  # planted image height; width varies 4..8 per doc


@register(
    "q_mm_gif_decode_stats",
    # independent-recompute oracle, same contract as the QOI/JPEG gates
    # but STRONGER in one way: GIF's LZW is lossless, so the planted
    # pixels are the raw text bytes with NO block/tile-constant
    # restriction — every ASCII pattern exercises prefix-table growth,
    # and a width-bump off-by-one, LSB packing slip, KwKwK mishandle,
    # sub-block framing bug, or palette misread desynchronizes the
    # stream and flips sum_px/px_sha. 48 = max width (8) * GIF_H.
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS width,
             CAST({GIF_H} AS BIGINT) AS height,
             substr(repeat(text, CAST(CEIL(48.0 / LENGTH(text)) AS BIGINT)),
                    1, CAST((4 + doc_id % 5) * {GIF_H} AS INT)) AS px
      FROM documents
    )
    SELECT doc_id, 'gif' AS fmt, width, height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i + 1 AS INT), 1)))) AS BIGINT)
             AS sum_px,
           substr(sha256(px), 1, 16) AS px_sha
    FROM img
    """,
)
def q_mm_gif_decode_stats(spark, sf_dir):
    """REAL GIF decode end-to-end (GIF87a + the GIF flavor of LZW):
    each document's text bytes become a width x {GIF_H} 8-bit image
    over the grayscale identity palette, encoded to a full GIF87a byte
    stream (logical screen descriptor, 256-entry global color table,
    image descriptor, variable-width LSB-first LZW in 255-byte
    sub-blocks) and decoded back by the independent pure-Python decoder
    in kernels/image.py. LZW is LOSSLESS, so unlike the JPEG gate no
    tile-constant restriction applies — decode(encode(px)) must be
    byte-exact for arbitrary text bytes, and the DuckDB oracle
    recomputes the decoded buffer's sum and sha from the text alone.
    One Arrow-batched mapInPandas pass, per-partition, no shuffle —
    corpus-linear, the same plumbing shape a native-codec swap keeps."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.image import decode_gif, encode_gif

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def gif_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height", "sum_px", "px_sha")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_gif_decode_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 4 + doc_id % 5, GIF_H
                n = w * h
                raw = (text.encode("utf-8") * -(-n // len(text)))[:n]
                px_in = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
                dw, dh, px = decode_gif(encode_gif(px_in))
                assert (dw, dh) == (w, h), doc_id
                assert np.array_equal(px, px_in), doc_id
                flat = px.tobytes()
                out["doc_id"].append(doc_id)
                out["fmt"].append("gif")
                out["width"].append(w)
                out["height"].append(h)
                out["sum_px"].append(
                    int(np.frombuffer(flat, np.uint8).sum(dtype=np.int64)))
                out["px_sha"].append(_hashlib.sha256(flat).hexdigest()[:16])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        gif_stats,
        "doc_id long, fmt string, width long, height long,"
        " sum_px long, px_sha string",
    )


# --- GIF89a animation decode (graphic control + disposal compositing) -------

GIF_ANIM_BG = 46  # background palette index = '.' so the oracle can
# splice restore-to-background fills as plain string arithmetic


@register(
    "q_mm_gif_anim_stats",
    # per-FRAME oracle: the 89a compositing rules (sub-rectangle paste,
    # then the frame's disposal) are pure string splicing over the
    # flattened canvas, so DuckDB rebuilds each displayed canvas
    # independently — frame 0 full, frame 1 a pasted patch with
    # DISPOSAL 2 (its rect restored to background before frame 2),
    # frame 2 a second patch on the restored canvas. One hash row per
    # (doc, frame): a paste offset, disposal or LZW slip anywhere
    # flips that frame's sum_px/px_sha.
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS w,
             CAST({GIF_H} AS BIGINT) AS h,
             repeat(text, CAST(CEIL(61.0 / LENGTH(text)) AS BIGINT)) AS rep
      FROM documents
    ),
    geom AS (
      SELECT *,
             substr(rep, 1, CAST(w * h AS INT)) AS c0,
             doc_id % (w - 1) AS l1, doc_id % ({GIF_H} - 1) AS t1,
             (doc_id * 3) % (w - 2) AS l2, (doc_id * 5) % ({GIF_H} - 1) AS t2,
             substr(rep, CAST(doc_id % 11 AS INT) + 1, 4) AS pa,
             substr(rep, CAST(doc_id % 13 AS INT) + 1, 6) AS pb
      FROM img
    ),
    f1 AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= t1 AND r < t1 + 2 THEN
          substr(c0, CAST(r * w AS INT) + 1, CAST(l1 AS INT))
          || substr(pa, CAST((r - t1) * 2 AS INT) + 1, 2)
          || substr(c0, CAST(r * w + l1 + 2 AS INT) + 1,
                    CAST(w - l1 - 2 AS INT))
        ELSE substr(c0, CAST(r * w AS INT) + 1, CAST(w AS INT)) END), '')
        AS c1
      FROM geom
    ),
    f2base AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= t1 AND r < t1 + 2 THEN
          substr(c1, CAST(r * w AS INT) + 1, CAST(l1 AS INT))
          || repeat(chr({GIF_ANIM_BG}), 2)
          || substr(c1, CAST(r * w + l1 + 2 AS INT) + 1,
                    CAST(w - l1 - 2 AS INT))
        ELSE substr(c1, CAST(r * w AS INT) + 1, CAST(w AS INT)) END), '')
        AS cb
      FROM f1
    ),
    f2 AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= t2 AND r < t2 + 2 THEN
          substr(cb, CAST(r * w AS INT) + 1, CAST(l2 AS INT))
          || substr(pb, CAST((r - t2) * 3 AS INT) + 1, 3)
          || substr(cb, CAST(r * w + l2 + 3 AS INT) + 1,
                    CAST(w - l2 - 3 AS INT))
        ELSE substr(cb, CAST(r * w AS INT) + 1, CAST(w AS INT)) END), '')
        AS c2
      FROM f2base
    ),
    frames AS (
      SELECT doc_id, w, h, u.fi AS frame_idx,
             CASE u.fi WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END AS px
      FROM f2, UNNEST([0, 1, 2]) AS u(fi)
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           w AS width, h AS height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, w * h),
             i -> ASCII(substr(px, CAST(i + 1 AS INT), 1)))) AS BIGINT)
             AS sum_px,
           substr(sha256(px), 1, 16) AS px_sha
    FROM frames
    """,
)
def q_mm_gif_anim_stats(spark, sf_dir):
    """REAL GIF89a ANIMATION decode end-to-end: per document a 3-frame
    animation over the w x {GIF_H} text canvas — frame 0 full
    (disposal 1), frame 1 a 2x2 sub-rectangle patch with DISPOSAL 2
    (restore-to-background), frame 2 a 2x3 patch pasted onto the
    restored canvas — written by kernels/image.py's 89a writer
    (graphic-control extensions, NETSCAPE2.0 loop block, per-frame LZW
    streams) and decoded back by the independent compositing reader,
    which must honor paste rectangles AND the post-frame disposal to
    reproduce each displayed canvas. Emits one row PER FRAME with the
    composited canvas's exact sum and sha; the DuckDB oracle rebuilds
    all three canvases from the text by string splicing alone. One
    Arrow-batched mapInPandas pass, per-partition, no shuffle."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.image import decode_gif_anim, encode_gif_anim

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def anim_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "sum_px", "px_sha",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_gif_anim_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 4 + doc_id % 5, GIF_H
                rep = (text * -(-61 // len(text))).encode("utf-8")
                base = np.frombuffer(rep[: w * h], np.uint8).reshape(h, w)
                l1, t1 = doc_id % (w - 1), doc_id % (GIF_H - 1)
                l2, t2 = (doc_id * 3) % (w - 2), (doc_id * 5) % (GIF_H - 1)
                o1, o2 = doc_id % 11, doc_id % 13
                pa = np.frombuffer(rep[o1 : o1 + 4], np.uint8).reshape(2, 2)
                pb = np.frombuffer(rep[o2 : o2 + 6], np.uint8).reshape(2, 3)
                buf = encode_gif_anim(
                    w, h,
                    [
                        (0, 0, base, 1, 10, None),
                        (l1, t1, pa, 2, 5, None),
                        (l2, t2, pb, 1, 5, None),
                    ],
                    background=GIF_ANIM_BG,
                )
                dw, dh, frames = decode_gif_anim(buf)
                assert (dw, dh, len(frames)) == (w, h, 3), doc_id
                for fi, canvas in enumerate(frames):
                    flat = canvas.tobytes()
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_px"].append(
                        int(np.frombuffer(flat, np.uint8).sum(dtype=np.int64))
                    )
                    out["px_sha"].append(
                        _hashlib.sha256(flat).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        anim_stats,
        "doc_id long, frame_idx long, width long, height long,"
        " sum_px long, px_sha string",
    )


# --- Real TGA (RLE) decode --------------------------------------------------

TGA_H = 7  # planted image height; width varies 4..8 per doc


@register(
    "q_mm_tga_decode_stats",
    # independent-recompute oracle, QOI/GIF contract: TGA RLE is
    # lossless, pixels are raw text bytes (no tile restriction); the
    # ASCII corpus drives both packet kinds (repeated characters form
    # runs, mixed text forms raw packets) and the row-boundary rule.
    # 168 = max width (8) * TGA_H * 3.
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS width,
             CAST({TGA_H} AS BIGINT) AS height,
             substr(repeat(text, CAST(CEIL(168.0 / LENGTH(text)) AS BIGINT)),
                    1, CAST((4 + doc_id % 5) * {TGA_H} * 3 AS INT)) AS px
      FROM documents
    )
    SELECT doc_id, 'tga' AS fmt, width, height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 1 AS INT), 1)))) AS BIGINT) AS sum_r,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 2 AS INT), 1)))) AS BIGINT) AS sum_g,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, width * height),
             i -> ASCII(substr(px, CAST(i * 3 + 3 AS INT), 1)))) AS BIGINT) AS sum_b,
           substr(sha256(px), 1, 16) AS px_sha
    FROM img
    """,
)
def q_mm_tga_decode_stats(spark, sf_dir):
    """REAL TGA decode end-to-end (Truevision TARGA, 24-bit type-10
    RLE): each document's text bytes become a width x {TGA_H} RGB
    image, encoded to a full TGA byte stream (18-byte header, top-down
    descriptor, BGR order, run/raw packets that never cross row
    boundaries) and decoded back by the independent pure-Python decoder
    in kernels/image.py. Lossless, so decode(encode(px)) must be
    byte-exact for arbitrary text bytes and the DuckDB oracle
    recomputes per-channel sums and the buffer sha from the text alone
    — a run-length fencepost, BGR mixup, row-orientation slip, or
    128-pixel packet-cap bug flips the hash. One Arrow-batched
    mapInPandas pass, per-partition, no shuffle. TGA has no magic
    bytes, so it is NOT sniffed by decode_image — callers address the
    codec explicitly, as real pipelines do for extension-routed
    formats."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.image import decode_tga, encode_tga

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def tga_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "fmt", "width", "height",
                    "sum_r", "sum_g", "sum_b", "px_sha")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_tga_decode_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 4 + doc_id % 5, TGA_H
                n = w * h * 3
                raw = (text.encode("utf-8") * -(-n // len(text)))[:n]
                px_in = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
                dw, dh, px = decode_tga(encode_tga(px_in))
                assert (dw, dh) == (w, h), doc_id
                assert np.array_equal(px, px_in), doc_id
                sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["doc_id"].append(doc_id)
                out["fmt"].append("tga")
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
                out["px_sha"].append(
                    _hashlib.sha256(px.tobytes()).hexdigest()[:16])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        tga_stats,
        "doc_id long, fmt string, width long, height long,"
        " sum_r long, sum_g long, sum_b long, px_sha string",
    )


# --- G.711 companded WAV decode (mu-law / A-law, format tags 7/6) ------------

_G711_SEG_SQL = """CASE WHEN m >= 16384 THEN 7 WHEN m >= 8192 THEN 6
                 WHEN m >= 4096 THEN 5 WHEN m >= 2048 THEN 4
                 WHEN m >= 1024 THEN 3 WHEN m >= 512 THEN 2
                 WHEN m >= 256 THEN 1 ELSE 0 END"""

# A-law segment search over the 13-bit magnitude (Sun seg_aend table,
# boundaries = the mu-law ones >> 3)
_ALAW_SEG_SQL = """CASE WHEN m >= 2048 THEN 7 WHEN m >= 1024 THEN 6
                 WHEN m >= 512 THEN 5 WHEN m >= 256 THEN 4
                 WHEN m >= 128 THEN 3 WHEN m >= 64 THEN 2
                 WHEN m >= 32 THEN 1 ELSE 0 END"""


@register(
    "q_mm_g711_decode_stats",
    # independent-recompute oracle, same contract as the WAV gate but for
    # a LOSSY codec: G.711 companding is pure integer arithmetic (ITU-T
    # G.711 segment tables), so the oracle re-derives each DECODED sample
    # from the recipe by replaying encode+decode as CASE/shift arithmetic
    # — segment lookup, mantissa extraction, midpoint expansion, the
    # mu-law bias-then-complement and the A-law 0x55-toggle sign
    # convention all live in both engines independently. Any mismatch in
    # clip, bias, segment thresholds, mantissa shift, or the two formats'
    # OPPOSITE sign-bit conventions flips sum_s/sum_sq/max_abs_err.
    # Even docs ride tag 7 (mu-law), odd docs tag 6 (A-law), through the
    # real RIFF container (fmt tag + 8-bit block align validated by the
    # chunk walker).
    oracle=f"""
    WITH spec AS (
      SELECT doc_id,
             CAST({{base_n}} + doc_id % 17 AS BIGINT) AS n_frames,
             CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
             doc_id % 2 = 0 AS is_ulaw
      FROM documents
    ),
    samp AS (
      SELECT doc_id, is_ulaw, n_frames, n_channels,
             (doc_id * {{mix_a}} + u.j * {{mix_b}}) % 65536 - 32768 AS x
      FROM spec, UNNEST(range(0, n_frames * n_channels)) AS u(j)
    ),
    stage1 AS (
      -- mu-law: biased 16-bit magnitude; A-law (Sun/ITU linear2alaw):
      -- 13-bit magnitude, ONE'S-COMPLEMENTED for negatives (-x-1 >> 3)
      SELECT *, CASE WHEN is_ulaw THEN LEAST(ABS(x), 32635) + 132
                     ELSE (CASE WHEN x >= 0 THEN x ELSE -x - 1 END) >> 3
                END AS m
      FROM samp
    ),
    stage2 AS (
      SELECT *, CASE WHEN is_ulaw THEN {_G711_SEG_SQL}
                     ELSE {_ALAW_SEG_SQL} END AS e
      FROM stage1
    ),
    stage3 AS (
      SELECT *, CASE
        WHEN is_ulaw THEN ((((m >> (e + 3)) & 15) * 8 + 132) * (1 << e)) - 132
        WHEN e = 0 THEN ((m >> 1) & 15) * 16 + 8
        ELSE (((m >> GREATEST(e, 1)) & 15) * 16 + 264)
             * (1 << GREATEST(e - 1, 0)) END AS mag
      FROM stage2
    ),
    dec AS (
      SELECT doc_id, is_ulaw, n_frames, n_channels, x,
             CASE WHEN x < 0 THEN -mag ELSE mag END AS d
      FROM stage3
    )
    SELECT doc_id,
           CASE WHEN is_ulaw THEN 'ulaw' ELSE 'alaw' END AS codec,
           n_frames, n_channels,
           CAST(SUM(d) AS BIGINT) AS sum_s,
           CAST(MIN(d) AS BIGINT) AS min_s,
           CAST(MAX(d) AS BIGINT) AS max_s,
           CAST(SUM(d * d) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(d - x)) AS BIGINT) AS max_abs_err
    FROM dec GROUP BY 1, 2, 3, 4
    """.format(base_n=WAV_BASE_N, mix_a=WAV_MIX_A, mix_b=WAV_MIX_B),
)
def q_mm_g711_decode_stats(spark, sf_dir):
    """REAL lossy-codec decode end-to-end: per document the same
    PCM16 mix as the WAV gate is companded to 8-bit G.711 (mu-law for
    even docs, A-law for odd), framed as a spec-correct RIFF/WAVE file
    under the matching format tag (7/6, 8-bit block align), then
    decoded back through the independent chunk walker + kernels/g711.py
    segment expansion. Emitted: exact integer moments of the DECODED
    waveform plus the max companding error — the quantization-noise
    bound a telephony pipeline actually audits (<= half the top
    segment's step: ~512 A-law, ~644 mu-law with the 0x84 bias under
    clip). decode(encode(x)) is NOT identity here; the gate instead
    proves both engines land on the identical reconstruction, which
    pins every constant in the companding tables. One Arrow-batched
    mapInPandas pass, per-partition, no shuffle."""
    import pandas as pd

    from ..kernels.audio import decode_wav, encode_wav

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def g711_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "codec", "n_frames", "n_channels",
                "sum_s", "min_s", "max_s", "sum_sq", "max_abs_err",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = WAV_BASE_N + doc_id % 17
                ch = 1 + doc_id % 2
                codec = "ulaw" if doc_id % 2 == 0 else "alaw"
                j = np.arange(n * ch, dtype=np.int64)
                xs = (doc_id * WAV_MIX_A + j * WAV_MIX_B) % 65536 - 32768
                arr = xs.astype(np.int16).reshape(n, ch)
                rate, dch, dec = decode_wav(encode_wav(arr, 8000, codec=codec))
                assert (rate, dch, dec.shape[0]) == (8000, ch, n), doc_id
                flat = dec.astype(np.int64).reshape(-1)
                out["doc_id"].append(doc_id)
                out["codec"].append(codec)
                out["n_frames"].append(n)
                out["n_channels"].append(ch)
                out["sum_s"].append(int(flat.sum()))
                out["min_s"].append(int(flat.min()))
                out["max_s"].append(int(flat.max()))
                out["sum_sq"].append(int((flat * flat).sum()))
                out["max_abs_err"].append(int(np.abs(flat - xs).max()))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        g711_stats,
        "doc_id long, codec string, n_frames long, n_channels long,"
        " sum_s long, min_s long, max_s long, sum_sq long,"
        " max_abs_err long",
    )


# --- IMA ADPCM round trip (stateful 4-bit differential codec) ----------------

ADPCM_BASE_N = 24  # samples = ADPCM_BASE_N + doc_id % 9 (bounds the
# oracle's recursion depth at 32)
ADPCM_MIX_B = 137  # small per-step delta so the quantizer visits LOW
# step indices; the %65536 wrap injects one full-scale jump per period,
# exercising saturation and both state clamps


def _adpcm_oracle() -> str:
    from ..kernels.g711 import IMA_INDEX_TABLE, IMA_STEP_TABLE

    steps = "[" + ",".join(str(v) for v in IMA_STEP_TABLE) + "]"
    idxt = "[" + ",".join(str(v) for v in IMA_INDEX_TABLE) + "]"
    # the reconstructed sample, inlined everywhere it is consumed (the
    # recursive term cannot alias intermediates)
    vp = "(step // 8 + b4 * step + b2 * (step // 2) + b1 * (step // 4))"
    p2 = (f"GREATEST(-32768, LEAST(32767, pred + CASE WHEN diff < 0"
          f" THEN -{vp} ELSE {vp} END))")
    return f"""
    WITH RECURSIVE aspec AS MATERIALIZED (
      SELECT doc_id, CAST({ADPCM_BASE_N} + doc_id % 9 AS BIGINT) AS n
      FROM documents
    ),
    asamp AS MATERIALIZED (
      SELECT doc_id, CAST(u.j AS BIGINT) AS j,
             (doc_id * {WAV_MIX_A} + u.j * {ADPCM_MIX_B}) % 65536 - 32768 AS x
      FROM aspec, UNNEST(range(0, n)) AS u(j)
    ),
    arec AS (
      SELECT doc_id, CAST(-1 AS BIGINT) AS j, 0 AS pred, 0 AS idx,
             CAST(0 AS BIGINT) AS sum_dec, CAST(0 AS BIGINT) AS sum_sq,
             CAST(0 AS BIGINT) AS max_err
      FROM aspec
      UNION ALL
      SELECT doc_id, j, {p2} AS pred2,
             GREATEST(0, LEAST(88, idx
               + ({idxt})[b4 * 4 + b2 * 2 + b1 + 1])) AS idx2,
             sum_dec + {p2},
             sum_sq + {p2} * {p2},
             GREATEST(max_err, ABS({p2} - x))
      FROM (
        SELECT *,
               CASE WHEN ad >= step THEN 1 ELSE 0 END AS b4,
               CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END
                         >= step // 2 THEN 1 ELSE 0 END AS b2,
               CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END
                  - CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END
                             >= step // 2 THEN step // 2 ELSE 0 END
                         >= step // 4 THEN 1 ELSE 0 END AS b1
        FROM (
          SELECT r.doc_id, s.j, s.x, r.pred, r.idx, r.sum_dec, r.sum_sq,
                 r.max_err, s.x - r.pred AS diff, ABS(s.x - r.pred) AS ad,
                 ({steps})[r.idx + 1] AS step
          FROM arec r JOIN asamp s ON s.doc_id = r.doc_id AND s.j = r.j + 1
        )
      )
    )
    SELECT a.doc_id, sp.n AS n_samples, a.sum_dec,
           a.sum_sq AS sum_sq_dec, a.max_err AS max_abs_err,
           CAST(a.pred AS BIGINT) AS final_pred,
           CAST(a.idx AS BIGINT) AS final_index
    FROM arec a JOIN aspec sp ON sp.doc_id = a.doc_id AND a.j = sp.n - 1
    """


@register("q_mm_adpcm_roundtrip_stats", oracle=_adpcm_oracle())
def q_mm_adpcm_roundtrip_stats(spark, sf_dir):
    """IMA ADPCM round trip — the STATEFUL differential codec the G.711
    gate's memoryless companders can't represent: every 4-bit nibble's
    meaning depends on the (predictor, step-index) state evolved over
    ALL previous samples, so one mis-stepped table entry or clamp
    desynchronizes the entire remainder of the stream (which is why
    sum/sum_sq/final-state make an unforgiving gate). The decoder's
    output is exactly the encoder's reconstructed-predictor trajectory
    (IMA rev 3.00); the oracle replays encode+decode jointly as a
    recursive CTE over sample index — quantizer bits by subtractive
    comparison, vpdiff reconstruction, both state clamps, the step and
    index tables as spec literals — with recursion depth bounded by the
    per-doc sample count ({ADPCM_BASE_N}+8 max). The mix's small
    per-step delta keeps the quantizer in LOW step indices between the
    one full-scale wrap per period, so both the tracking and the
    saturation regimes are exercised.

    Scale: streams are per-document independent — the sequential state
    loop runs inside the Arrow batch (kernels/g711.py), parallel across
    documents/partitions, no shuffle; identical plumbing to every other
    codec gate."""
    import pandas as pd

    from ..kernels.g711 import ima_adpcm_decode, ima_adpcm_encode

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def adpcm_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_samples", "sum_dec", "sum_sq_dec",
                "max_abs_err", "final_pred", "final_index",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = ADPCM_BASE_N + doc_id % 9
                j = np.arange(n, dtype=np.int64)
                xs = (doc_id * WAV_MIX_A + j * ADPCM_MIX_B) % 65536 - 32768
                nib, fpred, fidx = ima_adpcm_encode(xs.astype(np.int16))
                dec = ima_adpcm_decode(nib).astype(np.int64)
                assert int(dec[-1]) == fpred, doc_id  # decoder mirrors encoder
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["sum_dec"].append(int(dec.sum()))
                out["sum_sq_dec"].append(int((dec * dec).sum()))
                out["max_abs_err"].append(int(np.abs(dec - xs).max()))
                out["final_pred"].append(fpred)
                out["final_index"].append(fidx)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        adpcm_stats,
        "doc_id long, n_samples long, sum_dec long, sum_sq_dec long,"
        " max_abs_err long, final_pred long, final_index long",
    )


# --- FLAC decode (lossless Rice/fixed-prediction audio) ----------------------


@register(
    "q_mm_flac_decode_stats",
    # independent-recompute oracle, same contract as q_mm_wav_decode_stats
    # but through a COMPRESSED lossless container: the planted PCM16 mix
    # is encoded to FLAC (kernels/flac.py — STREAMINFO + MD5, multi-frame
    # fixed-blocksize framing at block 16, CONSTANT/FIXED/VERBATIM
    # subframes, Rice residuals, CRC-8/16) and decoded back by the
    # independent frame walker. FLAC is LOSSLESS, so the decoded moments
    # are pure SQL arithmetic over the recipe; `lossless` is a REAL
    # sample-for-sample comparison computed in the kernel, not asserted.
    # A desync anywhere — sync code, coded number, Rice parameter,
    # predictor order, zigzag, CRC — flips sums or raises.
    oracle=f"""
    WITH spec AS (
      SELECT doc_id,
             CAST({WAV_BASE_N} + doc_id % 17 AS BIGINT) AS n_frames,
             CAST(1 + doc_id % 2 AS BIGINT) AS n_channels
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_frames, n_channels,
             LIST_TRANSFORM(RANGE(0, n_frames * n_channels),
               j -> (doc_id * {WAV_MIX_A} + j * {WAV_MIX_B}) % 65536 - 32768)
               AS xs
      FROM spec
    )
    SELECT doc_id, n_channels, n_frames,
           CAST(CEIL(n_frames / 16.0) AS BIGINT) AS n_flac_frames,
           TRUE AS lossless,
           CAST(LIST_SUM(xs) AS BIGINT) AS sum_s,
           CAST(LIST_MIN(xs) AS BIGINT) AS min_s,
           CAST(LIST_MAX(xs) AS BIGINT) AS max_s,
           CAST(LIST_SUM(LIST_TRANSFORM(xs, x -> x * x)) AS BIGINT) AS sum_sq
    FROM s
    """,
)
def q_mm_flac_decode_stats(spark, sf_dir):
    """REAL lossless-compressed audio decode end-to-end: the same PCM16
    mix as the WAV gate, per document, is encoded to FLAC (xiph/RFC 9639
    — the one mainstream lossless audio codec whose stages are all
    integer arithmetic, hence implementable without native libraries)
    at block size 16 so every document crosses MULTIPLE frame
    boundaries (n_flac_frames = ceil(n/16) pins the walk), then decoded
    back through kernels/flac.py's independent frame walker: sync +
    UTF-8 coded number + CRC-8, subframe headers, Rice residual
    expansion, fixed-predictor reconstruction, CRC-16 and the
    STREAMINFO MD5 over the whole stream. Emitted: the decoded
    waveform's exact integer moments (the oracle recomputes them from
    the recipe — losslessness through the container spec, not shared
    code) plus a REAL decoded-equals-planted comparison. One
    Arrow-batched mapInPandas pass, per-partition, no shuffle."""
    import pandas as pd

    from ..kernels.flac import decode_flac, encode_flac

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def flac_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "n_channels", "n_frames", "n_flac_frames",
                "lossless", "sum_s", "min_s", "max_s", "sum_sq",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = WAV_BASE_N + doc_id % 17
                ch = 1 + doc_id % 2
                j = np.arange(n * ch, dtype=np.int64)
                xs = (doc_id * WAV_MIX_A + j * WAV_MIX_B) % 65536 - 32768
                arr = xs.astype(np.int16).reshape(n, ch)
                rate, dch, dec = decode_flac(
                    encode_flac(arr, 8000, block_size=16)
                )
                assert (rate, dch, dec.shape[0]) == (8000, ch, n), doc_id
                flat = dec.astype(np.int64).reshape(-1)
                out["doc_id"].append(doc_id)
                out["n_channels"].append(ch)
                out["n_frames"].append(n)
                out["n_flac_frames"].append(-(-n // 16))
                out["lossless"].append(bool((flat == xs).all()))
                out["sum_s"].append(int(flat.sum()))
                out["min_s"].append(int(flat.min()))
                out["max_s"].append(int(flat.max()))
                out["sum_sq"].append(int((flat * flat).sum()))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        flac_stats,
        "doc_id long, n_channels long, n_frames long, n_flac_frames long,"
        " lossless boolean, sum_s long, min_s long, max_s long, sum_sq long",
    )



# --- REAL video decode: Motion-JPEG in AVI -----------------------------------


@register(
    "q_mm_video_decode_stats",
    # same independent-recompute contract as the image gates, extended
    # across the TIME axis: every frame is a tile-constant gray image
    # (the bit-exact subset of the lossy T.81 path), frame f's tile
    # bytes are the text window starting at offset f, and the oracle
    # rebuilds every DECODED frame buffer by string arithmetic and
    # hashes their in-order concatenation — so a frame-order slip, a
    # dropped/duplicated movi chunk, a pad-byte desync, or any
    # single-frame JPEG bug changes video_sha or sum_px.
    oracle="""
    WITH vspec AS (
      SELECT doc_id,
             CAST(3 + doc_id % 3 AS BIGINT) AS n_frames,
             CAST(2 + doc_id % 3 AS BIGINT) AS bw,
             CAST(2 AS BIGINT) AS bh,
             CAST(8 + (doc_id % 2) * 4 AS BIGINT) AS fps,
             repeat(text, CAST(CEIL(24.0 / LENGTH(text)) AS BIGINT)) AS rt
      FROM documents
    ),
    vframes AS (
      SELECT doc_id, n_frames, bw, bh, fps, CAST(u.f AS BIGINT) AS fidx,
             substr(rt, CAST(u.f + 1 AS INT), CAST(bw * bh AS INT)) AS bpx
      FROM vspec, UNNEST(range(0, n_frames)) AS u(f)
    ),
    vbuilt AS (
      SELECT doc_id, n_frames, bw, bh, fps, fidx, bpx,
             array_to_string(list_transform(range(0, bh), j ->
               repeat(array_to_string(list_transform(range(0, bw), i ->
                 repeat(substr(bpx, CAST(j * bw + i + 1 AS INT), 1), 8)),
                 ''), 8)), '') AS buf,
             CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, bw * bh),
               i -> ASCII(substr(bpx, CAST(i + 1 AS INT), 1)))) AS BIGINT)
               AS tile_sum
      FROM vframes
    )
    SELECT doc_id, fps, n_frames,
           bw * 8 AS width, bh * 8 AS height,
           CAST(64 * SUM(tile_sum) AS BIGINT) AS sum_px,
           substr(sha256(string_agg(buf, '' ORDER BY fidx)), 1, 16)
             AS video_sha
    FROM vbuilt
    GROUP BY doc_id, fps, n_frames, bw, bh
    """,
)
def q_mm_video_decode_stats(spark, sf_dir):
    """REAL video decode end-to-end — the modality that was stubbed
    until round 11: each document becomes a short Motion-JPEG AVI (the
    one mainstream video codec needing no native library: a RIFF
    container of complete per-frame baseline JFIF images), written and
    re-parsed by kernels/video.py — RIFF/'AVI ' framing, avih/strh/strf
    header consistency, the movi chunk walk with pad bytes, idx1
    entries validated against actual chunk offsets — with every frame
    decoded by the independent T.81 decoder. Frames are 8x8-tile
    -constant (the DC-exact lossless subset), frame f's tiles drawn
    from the text at offset f so consecutive frames differ; emitted per
    doc: fps (from the strh scale/rate pair), frame count, dimensions,
    the exact pixel sum over the whole clip, and a sha over the decoded
    frames in order. Inter-frame codecs (H.264, VP9) remain honestly
    stubbed — they need native decoders this container lacks.

    One Arrow-batched mapInPandas pass, per-partition, no shuffle —
    identical plumbing to every other codec gate, and the schema a
    native-decoder swap would keep."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.video import decode_avi_mjpeg, encode_avi_mjpeg

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def video_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "fps", "n_frames", "width", "height",
                "sum_px", "video_sha",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_video_decode_stats: doc {doc_id} has empty"
                        " or non-ASCII text; the tile recipe requires"
                        " non-empty ASCII"
                    )
                nf = 3 + doc_id % 3
                bw, bh = 2 + doc_id % 3, 2
                fps = 8 + (doc_id % 2) * 4
                rt = (text * -(-24 // len(text))).encode("utf-8")
                frames = []
                for f in range(nf):
                    tiles = np.frombuffer(
                        rt[f : f + bw * bh], dtype=np.uint8
                    ).reshape(bh, bw)
                    frames.append(np.kron(tiles, np.ones((8, 8), np.uint8)))
                dfps, dec = decode_avi_mjpeg(encode_avi_mjpeg(frames, fps=fps))
                assert dfps == fps and len(dec) == nf, doc_id
                sha = _hashlib.sha256()
                total = 0
                for px in dec:
                    assert px.shape == (bh * 8, bw * 8), (doc_id, px.shape)
                    sha.update(px.tobytes())
                    total += int(px.sum(dtype=np.int64))
                out["doc_id"].append(doc_id)
                out["fps"].append(fps)
                out["n_frames"].append(nf)
                out["width"].append(bw * 8)
                out["height"].append(bh * 8)
                out["sum_px"].append(total)
                out["video_sha"].append(sha.hexdigest()[:16])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        video_stats,
        "doc_id long, fps long, n_frames long, width long, height long,"
        " sum_px long, video_sha string",
    )


# --- INTER-FRAME video decode: BI_RLE8 delta frames in AVI -------------------


@register(
    "q_mm_video_delta_stats",
    # per-FRAME oracle, same splicing contract as q_mm_gif_anim_stats
    # but through the AVI/RLE8 TEMPORAL-prediction path: frame 0 is a
    # keyframe, frames 1-2 are DELTA frames carrying only the changed
    # runs — every skipped pixel must persist from the previous frame,
    # so the oracle's composite is progressive pasting (no background
    # restore: RLE8 has no disposal). A cursor-escape slip (EOL, delta
    # dx/dy, absolute-mode word pad) desynchronizes the canvas and
    # flips that frame's sum_px/px_sha.
    oracle=f"""
    WITH img AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS w,
             CAST({GIF_H} AS BIGINT) AS h,
             repeat(text, CAST(CEIL(61.0 / LENGTH(text)) AS BIGINT)) AS rep
      FROM documents
    ),
    geom AS (
      SELECT *,
             substr(rep, 1, CAST(w * h AS INT)) AS c0,
             (doc_id * 7) % (w - 1) AS l1, (doc_id * 3) % ({GIF_H} - 1) AS t1,
             (doc_id * 5) % (w - 2) AS l2, doc_id % ({GIF_H} - 1) AS t2,
             substr(rep, CAST(doc_id % 9 AS INT) + 1, 4) AS pa,
             substr(rep, CAST(doc_id % 15 AS INT) + 1, 6) AS pb
      FROM img
    ),
    f1 AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= t1 AND r < t1 + 2 THEN
          substr(c0, CAST(r * w AS INT) + 1, CAST(l1 AS INT))
          || substr(pa, CAST((r - t1) * 2 AS INT) + 1, 2)
          || substr(c0, CAST(r * w + l1 + 2 AS INT) + 1,
                    CAST(w - l1 - 2 AS INT))
        ELSE substr(c0, CAST(r * w AS INT) + 1, CAST(w AS INT)) END), '')
        AS c1
      FROM geom
    ),
    f2 AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= t2 AND r < t2 + 2 THEN
          substr(c1, CAST(r * w AS INT) + 1, CAST(l2 AS INT))
          || substr(pb, CAST((r - t2) * 3 AS INT) + 1, 3)
          || substr(c1, CAST(r * w + l2 + 3 AS INT) + 1,
                    CAST(w - l2 - 3 AS INT))
        ELSE substr(c1, CAST(r * w AS INT) + 1, CAST(w AS INT)) END), '')
        AS c2
      FROM f1
    ),
    frames AS (
      SELECT doc_id, w, h, u.fi AS frame_idx,
             CASE u.fi WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END AS px
      FROM f2, UNNEST([0, 1, 2]) AS u(fi)
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           w AS width, h AS height,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, w * h),
             i -> ASCII(substr(px, CAST(i + 1 AS INT), 1)))) AS BIGINT)
             AS sum_px,
           substr(sha256(px), 1, 16) AS px_sha
    FROM frames
    """,
)
def q_mm_video_delta_stats(spark, sf_dir):
    """INTER-FRAME video decode end-to-end (BI_RLE8 in AVI — the one
    publicly-specified video coding with temporal prediction that
    needs no native library): per document a 3-frame sequence over the
    w x {GIF_H} text canvas — keyframe, then two frames differing only
    in a pasted sub-rectangle — is encoded by kernels/video.py's RLE8
    writer (frame 0 full coverage; frames 1-2 DELTA frames that encode
    ONLY the changed runs, skipping everything else via EOL/delta
    cursor escapes) and decoded back by the strict AVI walker, which
    carries ONE persistent canvas across frames: a skipped pixel's
    value comes from the previous frame, which is precisely what
    "inter-frame" means. Emits one row per frame (composited sum +
    sha); the oracle rebuilds each canvas by string splicing. The
    in-kernel keyframe/delta split is pinned structurally: idx1 must
    flag exactly frame 0 as the keyframe. One Arrow-batched
    mapInPandas pass, per-partition, no shuffle."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.video import decode_avi_rle8, encode_avi_rle8

    docs = _spread(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def delta_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "sum_px", "px_sha",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                if not text or not text.isascii():
                    raise ValueError(
                        f"q_mm_video_delta_stats: doc {doc_id} has empty or"
                        " non-ASCII text; the synthesized-pixel contract"
                        " requires non-empty ASCII"
                    )
                w, h = 4 + doc_id % 5, GIF_H
                rep = (text * -(-61 // len(text))).encode("utf-8")
                c0 = np.frombuffer(rep[: w * h], np.uint8).reshape(h, w).copy()
                l1, t1 = (doc_id * 7) % (w - 1), (doc_id * 3) % (GIF_H - 1)
                l2, t2 = (doc_id * 5) % (w - 2), doc_id % (GIF_H - 1)
                o1, o2 = doc_id % 9, doc_id % 15
                c1 = c0.copy()
                c1[t1 : t1 + 2, l1 : l1 + 2] = np.frombuffer(
                    rep[o1 : o1 + 4], np.uint8
                ).reshape(2, 2)
                c2 = c1.copy()
                c2[t2 : t2 + 2, l2 : l2 + 3] = np.frombuffer(
                    rep[o2 : o2 + 6], np.uint8
                ).reshape(2, 3)
                fps, frames = decode_avi_rle8(
                    encode_avi_rle8([c0, c1, c2], fps=10)
                )
                assert fps == 10 and len(frames) == 3, doc_id
                for fi, canvas in enumerate(frames):
                    flat = canvas.tobytes()
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_px"].append(
                        int(np.frombuffer(flat, np.uint8).sum(dtype=np.int64))
                    )
                    out["px_sha"].append(
                        _hashlib.sha256(flat).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        delta_stats,
        "doc_id long, frame_idx long, width long, height long,"
        " sum_px long, px_sha string",
    )


# --- container sniffing: route blobs to decoders by magic bytes --------------

SNIFF_FORMATS = [  # doc_id % 10 -> planted container
    "png", "gif", "jpeg", "bmp", "qoi", "tga", "ppm", "wav", "flac",
    "avi_rle8",
]


@register(
    "q_mm_format_sniff",
    # the oracle derives the PLANTED format from doc_id alone; the
    # engine must build a REAL payload with that round's encoder and
    # re-identify it from magic bytes only — a wrong signature table,
    # a writer that emits a malformed header, or a sniffer that trusts
    # the wrong field flips fmt/sniff_ok for that row. sniff_ok is a
    # REAL comparison computed in the kernel, not asserted.
    oracle=f"""
    SELECT doc_id,
           ['png', 'gif', 'jpeg', 'bmp', 'qoi', 'tga', 'ppm', 'wav',
            'flac', 'avi_rle8'][CAST(doc_id % 10 AS INT) + 1] AS fmt,
           TRUE AS sniff_ok
    FROM documents
    """,
)
def q_mm_format_sniff(spark, sf_dir):
    """CONTAINER SNIFFING — the intake-triage stage of a multimodal
    pipeline: every blob is routed to its decoder by MAGIC BYTES (crawled
    data lies about extensions). Each document synthesizes a REAL tiny
    payload with one of the library's ten encoders (cycled by doc_id)
    and kernels/sniff.py must re-identify it from the bytes alone —
    including the no-magic TGA fallback and the RIFF form/handler split
    (WAVE vs AVI, MJPG vs MRLE). One Arrow-batched mapInPandas pass,
    no shuffle; at 100 TB this is the cheap first pass that partitions
    a mixed crawl into per-format decode jobs."""
    import pandas as pd

    from ..kernels.audio import encode_wav
    from ..kernels.flac import encode_flac
    from ..kernels.image import (
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_ppm,
        encode_qoi,
        encode_tga,
    )
    from ..kernels.sniff import sniff_format
    from ..kernels.video import encode_avi_rle8

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def sniff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "fmt": [], "sniff_ok": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                fmt = SNIFF_FORMATS[doc_id % 10]
                v = doc_id % 251
                gray = np.full((8, 8), v, dtype=np.uint8)
                rgb = np.stack([gray] * 3, axis=-1)
                if fmt == "png":
                    blob = encode_png(rgb)
                elif fmt == "gif":
                    blob = encode_gif(gray)
                elif fmt == "jpeg":
                    blob = encode_jpeg(rgb)
                elif fmt == "bmp":
                    blob = encode_bmp(rgb)
                elif fmt == "qoi":
                    blob = encode_qoi(rgb)
                elif fmt == "tga":
                    blob = encode_tga(rgb)
                elif fmt == "ppm":
                    blob = encode_ppm(rgb)
                elif fmt == "wav":
                    blob = encode_wav(
                        np.full((16, 1), v - 128, dtype=np.int16), 8000
                    )
                elif fmt == "flac":
                    blob = encode_flac(
                        np.full((16, 1), v - 128, dtype=np.int16), 8000
                    )
                else:  # avi_rle8
                    blob = encode_avi_rle8([gray, gray], fps=5)
                got = sniff_format(blob)
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["sniff_ok"].append(got == fmt)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        sniff, "doc_id long, fmt string, sniff_ok boolean"
    )


# --- exact integer autocorrelation over the decoded waveform -----------------

AC_MAX_LAG = 4


@register(
    "q_mm_audio_autocorr",
    # exact-integer DSP feature through the real decode path: the oracle
    # recomputes r_k = sum_j x_j * x_{j+k} from the recipe alone, so the
    # container walk + PCM slice must reproduce every sample in order
    # (r_0 doubles as the energy already gated by q_mm_wav_decode_stats;
    # the higher lags are order-sensitive where the sums are not)
    oracle=f"""
    WITH spec AS (
      SELECT doc_id, CAST({WAV_BASE_N} + doc_id % 17 AS BIGINT) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, n,
             LIST_TRANSFORM(RANGE(0, n),
               j -> (doc_id * {WAV_MIX_A} + j * {WAV_MIX_B}) % 65536 - 32768)
               AS xs
      FROM spec
    ),
    lags AS (
      SELECT doc_id, n, xs, CAST(u.k AS BIGINT) AS lag
      FROM s, UNNEST(range(0, {AC_MAX_LAG} + 1)) AS u(k)
    )
    SELECT doc_id, lag,
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, n - lag),
             j -> xs[CAST(j + 1 AS INT)] * xs[CAST(j + lag + 1 AS INT)]))
             AS BIGINT) AS r
    FROM lags
    """,
)
def q_mm_audio_autocorr(spark, sf_dir):
    """Audio FEATURE EXTRACTION through the real container path: exact
    integer autocorrelation r_k = sum_j x_j * x_{{j+k}} at lags
    0..{AC_MAX_LAG} over each document's decoded mono PCM — the
    periodicity/pitch feature an audio curation pipeline computes
    before filtering, and (unlike the moment gates) ORDER-SENSITIVE:
    any sample permutation the chunk walker could introduce leaves the
    sums intact but flips every lag >= 1. The waveform rides a LOSSLESS
    container round trip before the feature is computed — RIFF/WAVE for
    even docs, FLAC (round 12: Rice-coded frames, kernels/flac.py) for
    odd docs — so the feature sits downstream of both real codec paths
    exactly as a production extractor would; the recipe oracle is
    container-independent because both are lossless.

    All integer (PCM16 products summed in int64 — n < 64k samples can't
    overflow), one Arrow-batched mapInPandas pass, no shuffle; the
    per-doc lag loop is {AC_MAX_LAG + 1} vectorized numpy dot products."""
    import pandas as pd

    from ..kernels.audio import decode_wav, encode_wav
    from ..kernels.flac import decode_flac, encode_flac

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def ac_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "lag": [], "r": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = WAV_BASE_N + doc_id % 17
                j = np.arange(n, dtype=np.int64)
                xs = (doc_id * WAV_MIX_A + j * WAV_MIX_B) % 65536 - 32768
                if doc_id % 2:
                    # block_size=32 keeps every doc multi-block (n is
                    # 40..56, so 2 blocks: inter-block framing + CRC
                    # chaining stay exercised) at ~40% of the bs=16
                    # per-block-analysis cost — the round-12 FLAC
                    # cycling made this the gate's dominant term
                    _, _, dec = decode_flac(
                        encode_flac(xs.astype(np.int16), 8000, block_size=32)
                    )
                else:
                    _, _, dec = decode_wav(
                        encode_wav(xs.astype(np.int16), 8000)
                    )
                x = dec.astype(np.int64).reshape(-1)
                assert x.shape[0] == n, doc_id
                for k in range(AC_MAX_LAG + 1):
                    out["doc_id"].append(doc_id)
                    out["lag"].append(k)
                    out["r"].append(int(np.dot(x[: n - k], x[k:])))
            yield pd.DataFrame(out)

    return docs.mapInPandas(ac_stats, "doc_id long, lag long, r long")


# --- motion-compensated video decode (MC01, the MPEG-1-style subset) ---------


@register(
    "q_mm_video_mc_stats",
    # per-FRAME oracle: the sprite recipe is closed-form, so every
    # reconstructed frame is recomputed by string splicing (chr-run
    # rows) and the sum in integer arithmetic. Motion compensation is
    # exercised for real: a wrong motion vector, a residual added to
    # the wrong block, a drifted closed-loop reference, or a quant
    # round slip flips that frame's px_sha. All pixel values < 128 so
    # chr() splicing stays single-byte on both engines.
    oracle="""
    WITH geom AS (
      SELECT doc_id,
             CAST(16 * (2 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(30 + doc_id % 60 AS BIGINT) AS bg,
             (16 * (2 + doc_id % 2)) // 8 - 1 AS n,
             8 * (doc_id % 3) AS sy
      FROM documents
    ),
    frames AS (
      SELECT doc_id, w, h, bg, sy, CAST(u.fi AS BIGINT) AS frame_idx,
             CAST(95 + doc_id % 20 + 3 * u.fi AS BIGINT) AS sv,
             8 * (CASE WHEN (doc_id + u.fi) % (2 * n - 2) < n
                       THEN (doc_id + u.fi) % (2 * n - 2)
                       ELSE 2 * n - 2 - (doc_id + u.fi) % (2 * n - 2)
                  END) AS sx
      FROM geom, UNNEST([0, 1, 2, 3]) AS u(fi)
    ),
    px AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= sy AND r < sy + 16 THEN
          repeat(chr(CAST(bg AS INT)), CAST(sx AS INT))
          || repeat(chr(CAST(sv AS INT)), 16)
          || repeat(chr(CAST(bg AS INT)), CAST(w - sx - 16 AS INT))
        ELSE repeat(chr(CAST(bg AS INT)), CAST(w AS INT)) END), '')
        AS canvas
      FROM frames
    )
    SELECT doc_id, frame_idx, w AS width, h AS height,
           CAST(bg * (w * h - 256) + sv * 256 AS BIGINT) AS sum_px,
           substr(sha256(canvas), 1, 16) AS px_sha
    FROM px
    """,
)
def q_mm_video_mc_stats(spark, sf_dir):
    """MOTION-COMPENSATED video decode end-to-end (MC01 in AVI — the
    MPEG-1-style subset in kernels/video.py: per-macroblock full-pel
    motion vectors into the previous reconstruction plus an 8x8
    residual DCT, run/level Exp-Golomb coded; I-frames are complete
    baseline JFIF payloads through the T.81 codec). Per document a
    4-frame sequence — a 16x16 sprite bouncing in 8px steps over a
    uniform background with per-frame brightness drift — is encoded
    (frame 0 I, frames 1-3 P) and decoded by the strict AVI walker;
    every macroblock path is exercised: P-skip (static background),
    pure-MC blocks (the moving sprite matched at a nonzero vector),
    and coded residual blocks (the brightness drift survives only as
    DCT coefficients on top of the motion prediction). The recipe
    keeps all content 8-aligned and block-constant, so the quantizer's
    DC-exact contract makes every reconstruction EXACT and hashable —
    the oracle recomputes each frame by string splicing. The
    keyframe/P split is pinned structurally: idx1 must flag exactly
    the JFIF payload as AVIIF_KEYFRAME (the decoder cross-checks flag
    against payload type). P-frames are a fraction of the MJPEG
    equivalent's bytes — the size pin lives in tests/test_round13.py.
    One Arrow-batched mapInPandas pass, per-partition, no shuffle."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.video import decode_avi_mc, encode_avi_mc

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def mc_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "sum_px", "px_sha",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 16 * (2 + doc_id % 2), 32
                bg = 30 + doc_id % 60
                n = w // 8 - 1
                period = 2 * n - 2
                sy = 8 * (doc_id % 3)
                frames = []
                for f in range(4):
                    sv = 95 + doc_id % 20 + 3 * f
                    m = (doc_id + f) % period
                    sx = 8 * (m if m < n else period - m)
                    c = np.full((h, w), bg, np.uint8)
                    c[sy : sy + 16, sx : sx + 16] = sv
                    frames.append(c)
                fps = 6 + doc_id % 4
                dfps, dec = decode_avi_mc(encode_avi_mc(frames, fps=fps))
                assert dfps == fps and len(dec) == 4, doc_id
                for fi, px in enumerate(dec):
                    assert px.shape == (h, w), (doc_id, px.shape)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_px"].append(int(px.sum(dtype=np.int64)))
                    out["px_sha"].append(
                        _hashlib.sha256(px.tobytes()).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        mc_stats,
        "doc_id long, frame_idx long, width long, height long,"
        " sum_px long, px_sha string",
    )


# --- half-pel motion compensation (MC01's MPEG-1 MV resolution) --------------


@register(
    "q_mm_video_halfpel_stats",
    # per-FRAME oracle: each frame is the EXACT half-sample bilinear
    # interpolation of its predecessor (p[c] -> (p[c-1]+p[c]+1)//2,
    # edge column replicated), so the whole sequence is a closed-form
    # integer profile recurrence the oracle replays with chained list
    # CTEs. The encoder must discover the (dx2=-1) HALF-PEL vector —
    # a wrong rounding (+1 vs truncation), a full-pel-only search, or
    # a support-window slip leaves a nonzero residual that quantizes
    # lossily and flips px_sha.
    oracle="""
    WITH geom AS (
      SELECT doc_id,
             CAST(16 * (3 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(25 + doc_id % 50 AS BIGINT) AS bg,
             CAST(95 + doc_id % 30 AS BIGINT) AS sv,
             CAST(16 + 8 * (doc_id % 2) AS BIGINT) AS sx,
             8 * (doc_id % 3) AS sy
      FROM documents
    ),
    pr0 AS (
      SELECT *, list_transform(range(1, w + 1),
        c -> CASE WHEN c > sx AND c <= sx + 16 THEN sv ELSE bg END) AS p0
      FROM geom
    ),
    pr1 AS (SELECT *, list_transform(range(1, w + 1),
      c -> CASE WHEN c = 1 THEN p0[1]
           ELSE (p0[CAST(c AS INT) - 1] + p0[CAST(c AS INT)] + 1) // 2
           END) AS p1 FROM pr0),
    pr2 AS (SELECT *, list_transform(range(1, w + 1),
      c -> CASE WHEN c = 1 THEN p1[1]
           ELSE (p1[CAST(c AS INT) - 1] + p1[CAST(c AS INT)] + 1) // 2
           END) AS p2 FROM pr1),
    pr3 AS (SELECT *, list_transform(range(1, w + 1),
      c -> CASE WHEN c = 1 THEN p2[1]
           ELSE (p2[CAST(c AS INT) - 1] + p2[CAST(c AS INT)] + 1) // 2
           END) AS p3 FROM pr2),
    frames AS (
      SELECT doc_id, w, h, bg, sy, CAST(u.fi AS BIGINT) AS frame_idx,
             CASE u.fi WHEN 0 THEN p0 WHEN 1 THEN p1
                       WHEN 2 THEN p2 ELSE p3 END AS p
      FROM pr3, UNNEST([0, 1, 2, 3]) AS u(fi)
    ),
    px AS (
      SELECT *,
             array_to_string(list_transform(p,
               v -> chr(CAST(v AS INT))), '') AS band,
             repeat(chr(CAST(bg AS INT)), CAST(w AS INT)) AS bgrow
      FROM frames
    )
    SELECT doc_id, frame_idx, w AS width, h AS height,
           CAST((h - 16) * w * bg + 16 * list_sum(p) AS BIGINT) AS sum_px,
           substr(sha256(array_to_string(list_transform(range(0, h),
             r -> CASE WHEN r >= sy AND r < sy + 16
                       THEN band ELSE bgrow END), '')), 1, 16) AS px_sha
    FROM px
    """,
)
def q_mm_video_halfpel_stats(spark, sf_dir):
    """HALF-PEL motion compensation end-to-end (MC01's MPEG-1 §2.4.4.2
    vector resolution): per document a 4-frame sequence whose every
    P-frame is the EXACT half-sample bilinear interpolation of its
    predecessor — the content a half-pel vector models perfectly and a
    full-pel one cannot. The two-stage search must refine to dx2 = -1
    (half a sample left) where the prediction reproduces the frame
    bit-exactly (zero residual, including the (2*bg+1)>>1 == bg
    identity on the uniform background and the replicated edge
    column), so the whole reconstruction chain is hashable: any
    rounding or support-window slip leaves lossy residuals and flips
    px_sha. The sprite band blurs one half-sample per frame — the
    closed-form integer profile recurrence the oracle replays with
    chained list CTEs (swept exact across all 5000 doc recipes before
    registration). One Arrow-batched mapInPandas pass, no shuffle."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.video import decode_avi_mc, encode_avi_mc

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def hp_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "sum_px", "px_sha",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 16 * (3 + doc_id % 2), 32
                bg = 25 + doc_id % 50
                sv = 95 + doc_id % 30
                sx = 16 + 8 * (doc_id % 2)
                sy = 8 * (doc_id % 3)
                p = np.full(w, bg, np.int64)
                p[sx : sx + 16] = sv
                frames = []
                for _f in range(4):
                    c = np.full((h, w), bg, np.uint8)
                    c[sy : sy + 16, :] = p.astype(np.uint8)[None, :]
                    frames.append(c)
                    q = p.copy()
                    q[1:] = (p[:-1] + p[1:] + 1) >> 1
                    p = q
                fps = 5 + doc_id % 5
                dfps, dec = decode_avi_mc(
                    encode_avi_mc(frames, fps=fps, halfpel=True)
                )
                assert dfps == fps and len(dec) == 4, doc_id
                for fi, px in enumerate(dec):
                    assert px.shape == (h, w), (doc_id, px.shape)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_px"].append(int(px.sum(dtype=np.int64)))
                    out["px_sha"].append(
                        _hashlib.sha256(px.tobytes()).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        hp_stats,
        "doc_id long, frame_idx long, width long, height long,"
        " sum_px long, px_sha string",
    )


# --- B-frames: bidirectional prediction + decode-order reordering (MC02) -----


@register(
    "q_mm_video_bframe_stats",
    # per-FRAME oracle in PRESENTATION order: the sprite recipe is
    # closed-form (sprite at 8*fi with the tent-profile brightness
    # v0 + dh*(2-|fi-2|)), so every frame is recomputed by string
    # splicing. The B machinery is what the hash pins: a wrong
    # bidirectional rounding ((f+b)>>1 instead of (f+b+1)>>1), a
    # swapped past/future reference, a mis-reordered output queue, or
    # a B-frame contaminating the reference buffer flips the ODD
    # frames' px_sha while leaving the references green. All pixel
    # values < 128 so chr() splicing stays single-byte on both engines.
    oracle="""
    WITH geom AS (
      SELECT doc_id,
             CAST(16 * (3 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(25 + doc_id % 45 AS BIGINT) AS bg,
             CAST(95 + doc_id % 20 AS BIGINT) AS v0,
             CAST(1 + doc_id % 5 AS BIGINT) AS dh,
             8 * (doc_id % 3) AS sy
      FROM documents
    ),
    frames AS (
      SELECT doc_id, w, h, bg, sy, CAST(u.fi AS BIGINT) AS frame_idx,
             CASE WHEN doc_id % 2 = 0
                  THEN v0 + dh * (2 - ABS(u.fi - 2))
                  ELSE v0 END AS sv,
             CAST(CASE WHEN doc_id % 2 = 0 THEN 8 * u.fi
                       ELSE 8 * ((u.fi + 1) // 3) END AS BIGINT) AS sx
      FROM geom, UNNEST([0, 1, 2, 3, 4, 5, 6]) AS u(fi)
      WHERE u.fi < CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 7 END
    ),
    px AS (
      SELECT *, array_to_string(LIST_TRANSFORM(RANGE(0, h), r ->
        CASE WHEN r >= sy AND r < sy + 16 THEN
          repeat(chr(CAST(bg AS INT)), CAST(sx AS INT))
          || repeat(chr(CAST(sv AS INT)), 16)
          || repeat(chr(CAST(bg AS INT)), CAST(w - sx - 16 AS INT))
        ELSE repeat(chr(CAST(bg AS INT)), CAST(w AS INT)) END), '')
        AS canvas
      FROM frames
    )
    SELECT doc_id, frame_idx, w AS width, h AS height,
           CAST(bg * (w * h - 256) + sv * 256 AS BIGINT) AS sum_px,
           substr(sha256(canvas), 1, 16) AS px_sha
    FROM px
    """,
)
def q_mm_video_bframe_stats(spark, sf_dir):
    """BIDIRECTIONAL motion compensation end-to-end (MC02 in AVI — the
    MPEG-1 B-picture tier in kernels/video.py: ISO/IEC 11172-2
    §2.4.4.3-4): per document a 5-frame display sequence I B P B P —
    a 16x16 sprite sliding 8px per frame with a TENT brightness
    profile (up dh per frame to the middle reference, back down) —
    is encoded in CODED order (each future reference precedes the
    B-frames that cite it) and decoded by the reordering two-picture
    reference buffer back to presentation order. Every B macroblock
    mode is provably exercised across the corpus: skip (static
    background), forward/backward single-reference prediction (the
    sprite edge blocks, where one reference matches strictly better),
    and the INTERPOLATED mode — the tent profile makes each B
    sprite's value the exact (fwd+bwd+1)>>1 average of its two
    references, so bi-prediction wins at zero residual where neither
    single reference can. All content 8px-aligned and block-constant
    keeps the closed-loop reconstruction EXACT (swept over all 5000
    doc recipes before registration); the oracle replays each frame
    by string splicing. B payloads are pinned smaller than the P
    equivalents in tests/test_round13b.py.

    ODD documents instead exercise the round-14 GOP patterns: a
    7-frame display sequence coded I B B P B B I — bframes=2 (the
    IBBP pattern of real broadcast streams: two consecutive
    B-pictures sharing one (past, future) reference pair, the
    two-slot reorder buffer under its actual stress) with a gop=6 cut
    whose leading B-pictures predict forward across the cut from the
    PREVIOUS GOP's reference and backward from the new I — an OPEN
    GOP. The stepped sprite profile sx = 8*((f+1)//3) at constant
    brightness keeps every prediction inside the +-8px search and
    exact (skip where co-located, fwd/bwd MV where stepped), so the
    hash gate stays bit-exact through both patterns. One
    Arrow-batched mapInPandas pass, per-partition, no shuffle."""
    import hashlib as _hashlib

    import numpy as np
    import pandas as pd

    from ..kernels.video import decode_avi_mc_b, encode_avi_mc_b

    docs = _spread(load(spark, sf_dir, "documents").select("doc_id"))

    def bf_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "sum_px", "px_sha",
            )}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 16 * (3 + doc_id % 2), 32
                bg = 25 + doc_id % 45
                v0 = 95 + doc_id % 20
                dh = 1 + doc_id % 5
                sy = 8 * (doc_id % 3)
                frames = []
                n_f = 5 if doc_id % 2 == 0 else 7
                for f in range(n_f):
                    if doc_id % 2 == 0:
                        sv, sx = v0 + dh * (2 - abs(f - 2)), 8 * f
                    else:  # IBBP/open-GOP recipe: stepped, constant sv
                        sv, sx = v0, 8 * ((f + 1) // 3)
                    c = np.full((h, w), bg, np.uint8)
                    c[sy : sy + 16, sx : sx + 16] = sv
                    frames.append(c)
                fps = 6 + doc_id % 4
                if doc_id % 2 == 0:
                    blob = encode_avi_mc_b(frames, fps=fps)
                else:
                    blob = encode_avi_mc_b(frames, fps=fps, bframes=2, gop=6)
                dfps, dec = decode_avi_mc_b(blob)
                assert dfps == fps and len(dec) == n_f, doc_id
                for fi, px in enumerate(dec):
                    assert px.shape == (h, w), (doc_id, px.shape)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["sum_px"].append(int(px.sum(dtype=np.int64)))
                    out["px_sha"].append(
                        _hashlib.sha256(px.tobytes()).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        bf_stats,
        "doc_id long, frame_idx long, width long, height long,"
        " sum_px long, px_sha string",
    )
