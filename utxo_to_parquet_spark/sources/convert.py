"""End-to-end converter: ``dumptxoutset`` snapshot → query-optimized Parquet.

The Spark-native equivalent of the reference's entire main() loop
(/root/reference/src/main.rs:167-278), as one declarative pipeline:

    read_utxo_dump(...)            # splittable parallel scan (S1-S7)
      .sortWithinPartitions(...)   # per-batch sort on script (S10)
      .write.parquet(...)          # ZSTD + small row groups (S12)

Layout decisions mirror the reference's write-time physical optimizations
(SURVEY.md §4): clustering on ``script`` so equality predicates prune,
ZSTD compression, 64 KiB pages with page-level statistics as the skip
granularity. The skip unit differs deliberately from the reference's
64Ki-ROW row groups (main.rs:211): parquet-java's column indexes make
PAGES the pruning granularity, so large (16 MiB) row groups write ~2x
faster with measurably identical point-lookup latency — same pruning
power, cheaper write. The reference's per-column DELTA_BYTE_ARRAY
encoding (main.rs:212) IS available from Spark's writer: with the
option ``parquet.writer.version=v2`` the converter's output has
``script`` and ``txid`` pages in DELTA_BYTE_ARRAY. On a 1M-row
``synthetic_utxo_rows(seed=1)`` snapshot that took the output from
61.9 to 59.9 B/row (-3.3%). The default (v1) writer is kept until
convert time and lookup latency under v2 are measured; either way the
choice is results-neutral. The reference's SortingColumn footer
metadata (main.rs:214) is not written.
"""

from __future__ import annotations

from .utxo_dump import read_utxo_dump_with_header

# sampled global sort: fraction of decode splits sampled for boundary
# estimation (1/SAMPLE_STRIDE of the data re-read; framing is cached)
SAMPLE_STRIDE = 50


def _script_prefix56(col):
    """Order-preserving 56-bit integer image of the script's first 7
    bytes (hex, zero-padded right so shorter-than-7-byte scripts keep
    byte order, then base-16 → base-10). 56 bits fit a signed long; for
    the dominant P2PKH population the 3 template bytes leave 4
    hash-digest bytes of uniform resolution — plenty for <=2^20 range
    buckets."""
    from pyspark.sql import functions as F

    return F.conv(
        F.rpad(F.hex(F.substring(col, 1, 7)), 14, "0"), 16, 10
    ).cast("long")


def _hash_preimages(spark, n: int) -> list[int]:
    """For each shuffle-partition index i in [0, n), a small non-negative
    int v with pmod(murmur3(v), n) == i — so ``repartition(n, lit-col)``
    routes range-bucket i exactly to partition i. Computed with Spark's
    own ``hash()`` (one tiny job over a candidate range, no decode), so
    the mapping can never drift from the engine's partitioner."""
    from pyspark.sql import functions as F

    need = 4 * n + 64
    cand = spark.range(need).select(
        F.col("id").cast("int").alias("v"), F.hash(F.col("id").cast("int")).alias("h")
    )
    out: dict[int, int] = {}
    for r in cand.collect():
        res = r.h % n  # python % matches Spark's pmod for positive n
        if res not in out:
            out[res] = r.v
    missing = [i for i in range(n) if i not in out]
    if missing:  # astronomically unlikely with 4n+64 candidates
        raise RuntimeError(f"no hash preimage found for partitions {missing}")
    return [out[i] for i in range(n)]


# target rows per range bucket: sized so one bucket's sortWithinPartitions
# state (~100 B/row internal format) stays well inside a task's share of
# execution memory and NEVER SPILLS. Round-9 measurement at 177M rows:
# 32 fixed buckets put 5.5M rows (~550 MB) in each sort task — past the
# per-task execution-memory share, so every task spilled and the sampled
# exchange cost 3.8x the no-shuffle baseline; 2M-row buckets sort fully
# in memory. This is also the 100-TB-correct shape: bucket count GROWS
# WITH DATA (a fixed partition count is the classic at-scale bug), and a
# point lookup still touches exactly one of them.
BUCKET_ROWS = 2_000_000


def _sampled_range_exchange(
    spark, df, input_path: str, *, chunk_rows: int, use_cache: bool
):
    """Range-cluster ``df`` on ``script`` without repartitionByRange's
    child-plan re-execution: boundaries from a systematic split sample,
    routing via one hash exchange on per-bucket preimage literals."""
    from pyspark.sql import functions as F

    header, sample = read_utxo_dump_with_header(
        spark,
        input_path,
        chunk_rows=chunk_rows,
        use_cache=use_cache,
        split_stride=SAMPLE_STRIDE,
    )
    n_parts = max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        -(-header.num_utxos // BUCKET_ROWS),
    )
    probs = [i / n_parts for i in range(1, n_parts)]
    bounds = sample.select(
        _script_prefix56(F.col("script")).alias("p")
    ).approxQuantile("p", probs, 0.001)
    # dedupe (skewed corpora can repeat boundaries); bucket count adapts
    bounds = sorted({int(b) for b in bounds})
    n_buckets = len(bounds) + 1
    magic = _hash_preimages(spark, n_buckets)
    # Route on RAW BINARY comparisons, not the integer prefix image:
    # routing only needs a split that is MONOTONE in the sort key (any
    # consistent cut gives disjoint per-file script ranges — footer
    # min/max always reflect the actual values), so the quantile
    # integers convert back to 7-byte boundary literals and each row
    # pays one JVM lambda over n_buckets byte-compares. The previous
    # form evaluated hex+rpad+conv (two string allocations and a
    # base-16 parse) per row plus a 31-term comparison sum — measured
    # 40% of the whole exchange's map-side CPU at 20M rows.
    bbytes = [int(b).to_bytes(7, "big") for b in bounds]
    barr = F.array(*[F.lit(b) for b in bbytes])
    bucket = F.size(F.filter(barr, lambda b: F.col("script") >= b))
    route = F.element_at(F.array(*[F.lit(m) for m in magic]), bucket + 1)
    return (
        df.withColumn("__route", route)
        .repartition(n_buckets, "__route")
        .drop("__route")
        .sortWithinPartitions("script")
    )


def convert_utxo_dump_to_parquet(
    spark,
    input_path: str,
    output_path: str,
    *,
    chunk_rows: int = 250_000,
    global_sort: bool = False,
    row_group_bytes: int = 16 * 1024 * 1024,
    use_cache: bool = True,
    partition_by_height_epoch: int | None = None,
    zstd_level: int = 1,
):
    """Convert a UTXO snapshot to Parquet; returns the decoded row count.

    ``global_sort=False`` reproduces the reference exactly: each partition
    (= batch) is independently sorted by ``script``, so the output is a
    sequence of sorted runs (main.rs:255-258 semantics). ``global_sort=True``
    range-partitions first — a strictly stronger clustering (one global
    sorted order) at the cost of one extra shuffle; at 100 TB this is the
    better trade because every equality predicate then touches a single
    file's pages.

    ``global_sort="sampled"`` buys the same script-clustered layout
    without ``repartitionByRange``'s hidden second decode:
    RangePartitioner samples its boundaries by EXECUTING the child plan,
    and this source's child plan is the full Arrow decode — so the
    built-in range exchange pays ~2 decodes plus the shuffle (measured
    4x per-partition cost at mainnet depth, BENCH_mainnet_lookup.json).
    The sampled mode instead estimates script-prefix boundaries from a
    systematic sample of decode splits (``split_stride`` — the framing
    index is already cached, so the sample re-reads ~2% of the bytes),
    then routes rows to their range bucket through ONE ordinary hash
    exchange using per-bucket hash preimages, and sorts within
    partitions. Files cover disjoint script-prefix ranges exactly as
    with the true range exchange (footer min/max pruning behaves
    identically); only the *within-partition placement of equal
    prefixes* can differ, which no page-pruning path observes.
    Composite-key layouts (``partition_by_height_epoch``) keep the
    built-in range exchange.

    ``partition_by_height_epoch=N`` adds hive-style output partitioning on
    ``height_epoch = height // N``: height-range queries then prune whole
    directories at plan time (PartitionFilters) before any page statistics
    are consulted — the coarse pruning layer the flat reference layout
    doesn't have. Script clustering still applies within each partition.

    ``zstd_level=1`` (vs the reference's default level 3, main.rs:210)
    writes ~35% faster at identical output size on this data — scripts
    and txids are high-entropy hashes that no zstd level compresses
    further, so the extra search effort of level 3 buys nothing here.
    """
    header, df = read_utxo_dump_with_header(
        spark, input_path, chunk_rows=chunk_rows, use_cache=use_cache
    )
    from pyspark.sql import functions as F

    partition_cols: list[str] = []
    if partition_by_height_epoch:
        df = df.withColumn(
            "height_epoch", (F.col("height") / partition_by_height_epoch).cast("long")
        )
        partition_cols = ["height_epoch"]
    # sort keys include the partition columns: the file writer demands
    # task-local ordering on them and would otherwise insert its own
    # sort-by-partition-cols, destroying the script clustering
    sort_cols = partition_cols + ["script"]
    if global_sort == "sampled" and not partition_cols:
        df = _sampled_range_exchange(
            spark,
            df,
            input_path,
            chunk_rows=chunk_rows,
            use_cache=use_cache,
        )
    elif global_sort:
        df = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
    else:
        df = df.sortWithinPartitions(*sort_cols)
    writer = (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", str(zstd_level))
        .option("parquet.block.size", str(row_group_bytes))
        .option("parquet.page.size", str(64 * 1024))
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(output_path)
    # the framing pass walked every record and errors on malformed input,
    # so the decoded row count is num_utxos — no output re-read needed
    return header.num_utxos
