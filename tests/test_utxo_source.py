"""Golden + differential tests for the splittable dumptxoutset source
(FIXTURES.md §3; decode semantics of /root/reference/src/main.rs:167-278)."""

from __future__ import annotations

import pytest

from utxo_to_parquet_spark.kernels.header import build_header
from utxo_to_parquet_spark.sources import (
    convert_utxo_dump_to_parquet,
    index_utxo_dump,
    read_utxo_dump,
    write_utxo_dump,
)
from utxo_to_parquet_spark.sources.synthetic import EATER_SCRIPT, synthetic_utxo_rows


def expected_table(rows):
    """Reference-semantics expectation: txid byte-reversed hex."""
    return sorted(
        (txid[::-1].hex(), vout, height, coinbase, amount, script)
        for txid, vout, height, coinbase, amount, script in rows
    )


def spark_table(df):
    return sorted(
        (r.txid, r.vout, r.height, r.coinbase, r.amount, bytes(r.script))
        for r in df.collect()
    )


def test_empty_snapshot(tmp_path, spark):
    path = str(tmp_path / "empty.dump")
    write_utxo_dump(path, [])
    header, splits = index_utxo_dump(path)
    assert header.num_utxos == 0 and splits == []
    assert read_utxo_dump(spark, path).count() == 0


def test_single_coin_each_script_type(tmp_path, spark):
    rows = [r for r in synthetic_utxo_rows(200, seed=7)]
    path = str(tmp_path / "types.dump")
    write_utxo_dump(path, rows)
    df = read_utxo_dump(spark, path, chunk_rows=64)
    assert spark_table(df) == expected_table(rows)


def test_run_length_groups_and_split_boundaries(tmp_path, spark):
    # small chunk_rows forces splits to land mid-group, exercising the
    # carried-txid/carried-coins state restoration
    rows = synthetic_utxo_rows(1000, seed=3)
    path = str(tmp_path / "groups.dump")
    write_utxo_dump(path, rows)
    header, splits = index_utxo_dump(path, chunk_rows=37)
    assert header.num_utxos == 1000
    assert sum(s.num_rows for s in splits) == 1000
    assert len(splits) == (1000 + 36) // 37
    df = read_utxo_dump(spark, path, chunk_rows=37)
    assert spark_table(df) == expected_table(rows)


def test_schema(tmp_path, spark):
    rows = synthetic_utxo_rows(10, seed=1)
    path = str(tmp_path / "schema.dump")
    write_utxo_dump(path, rows)
    df = read_utxo_dump(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("txid", "string"),
        ("vout", "bigint"),
        ("height", "bigint"),
        ("coinbase", "boolean"),
        ("amount", "bigint"),
        ("script", "binary"),
    ]


def test_bad_magic_raises(tmp_path):
    path = str(tmp_path / "bad.dump")
    with open(path, "wb") as f:
        f.write(b"nope\xff" + b"\x00" * 46)
    with pytest.raises(ValueError, match="magic"):
        index_utxo_dump(path)


def test_truncated_raises(tmp_path):
    rows = synthetic_utxo_rows(50, seed=5)
    path = str(tmp_path / "trunc.dump")
    write_utxo_dump(path, rows)
    data = open(path, "rb").read()
    with open(path, "wb") as f:
        f.write(data[:-10])
    with pytest.raises(ValueError):
        index_utxo_dump(path)


def test_zero_coin_group_raises(tmp_path):
    path = str(tmp_path / "zero.dump")
    with open(path, "wb") as f:
        f.write(build_header(1))
        f.write(b"\xab" * 32)  # txid
        f.write(b"\x00")  # consensus varint 0 coins — invalid
    with pytest.raises(ValueError, match="zero coins"):
        index_utxo_dump(path)


def test_end_to_end_convert_and_flagship_query(tmp_path, spark):
    """The reference's full lifecycle: dump → parquet → point lookup
    (README.md:54-56 analog) — plus verify zstd + row-group layout."""
    from pyspark.sql import functions as F

    rows = synthetic_utxo_rows(5000, seed=42, eater_every=100)
    dump = str(tmp_path / "e2e.dump")
    out = str(tmp_path / "e2e.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(spark, dump, out, chunk_rows=1000)
    assert n == 5000

    df = spark.read.parquet(out)
    hits = (
        df.filter(F.col("script") == F.lit(EATER_SCRIPT))
        .select("txid", "vout", "amount", "height")
        .orderBy("height")
    )
    expected_hits = [r for r in rows if r[5] == EATER_SCRIPT]
    assert hits.count() == len(expected_hits) == 50

    # the scan must push the equality predicate down to parquet
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(script), EqualTo(script" in plan


def test_native_decode_matches_python_fallback(tmp_path, monkeypatch):
    """The C decode kernel and the pure-Python loop must produce
    byte-identical RecordBatches over every script type and run-length
    shape (same differential idea as the driver's oracle gate)."""
    from utxo_to_parquet_spark.sources import native, utxo_dump
    from utxo_to_parquet_spark.sources.utxo_dump import _decode_split, Split

    path = str(tmp_path / "parity.dump")
    rows = synthetic_utxo_rows(5_000, seed=99)
    write_utxo_dump(path, rows)
    _, splits = index_utxo_dump(path, chunk_rows=1_234)
    import os

    size = os.path.getsize(path)
    ends = [s.offset for s in splits[1:]] + [size]
    with open(path, "rb") as f:
        for s, end in zip(splits, ends):
            f.seek(s.offset)
            data = f.read(end - s.offset)
            rel = Split(0, s.carried_txid, s.carried_coins_left, s.num_rows)
            rb_native = native.decode_split_native(
                data, s.carried_txid, s.carried_coins_left, s.num_rows
            )
            if rb_native is None:
                pytest.skip("no C compiler available")
            monkeypatch.setattr(native, "decode_split_native", lambda *a, **k: None)
            rb_py = _decode_split(data, rel)
            monkeypatch.undo()
            assert rb_native.schema == rb_py.schema
            assert rb_native.to_pylist() == rb_py.to_pylist()


def test_cli_convert(tmp_path, spark):
    """python -m utxo_to_parquet_spark -i ... -o ... (reference CLI parity,
    main.rs:31-42)."""
    from utxo_to_parquet_spark.__main__ import main

    dump = str(tmp_path / "cli.dump")
    out = str(tmp_path / "cli_out.parquet")
    rows = synthetic_utxo_rows(2_000, seed=5)
    write_utxo_dump(dump, rows)
    main(["-i", dump, "-o", out, "--chunk-rows", "500"])
    df = spark.read.parquet(out)
    assert df.count() == 2_000
    assert spark_table(df) == expected_table(rows)


def test_datasource_format(tmp_path, spark):
    """spark.read.format("utxo_dump") — the Spark 4 Python DataSource
    registration path must decode identically to read_utxo_dump."""
    from utxo_to_parquet_spark.sources import register_utxo_datasource

    register_utxo_datasource(spark)
    rows = synthetic_utxo_rows(1_500, seed=11)
    path = str(tmp_path / "ds.dump")
    write_utxo_dump(path, rows)
    df = (
        spark.read.format("utxo_dump")
        .option("chunk_rows", 400)
        .load(path)
    )
    assert df.rdd.getNumPartitions() == (1_500 + 399) // 400
    assert spark_table(df) == expected_table(rows)


def test_native_decode_parity_property(tmp_path):
    """Property-based differential: random row shapes (hypothesis
    strategies drive amounts/heights/script forms through the dump writer)
    must decode identically through the C kernel and the Python loop."""
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    from utxo_to_parquet_spark.sources import native
    from utxo_to_parquet_spark.sources.utxo_dump import Split

    if native.get_native_framer() is None:
        pytest.skip("no C compiler available")

    import hashlib

    script_strat = st.one_of(
        st.binary(min_size=0, max_size=80),  # raw scripts incl. empty
        st.builds(
            lambda h: bytes([0x76, 0xA9, 20]) + h + bytes([0x88, 0xAC]),
            st.binary(min_size=20, max_size=20),
        ),
        st.builds(
            lambda h: bytes([0xA9, 20]) + h + bytes([0x87]),
            st.binary(min_size=20, max_size=20),
        ),
        st.builds(
            lambda b, p: bytes([33, p]) + hashlib.sha256(b).digest() + bytes([0xAC]),
            st.binary(min_size=1, max_size=8),
            st.sampled_from([2, 3]),
        ),
    )
    row_strat = st.tuples(
        st.integers(min_value=0, max_value=2**20),  # txid seed (grouping via small space)
        st.integers(min_value=0, max_value=100_000),  # vout
        st.integers(min_value=0, max_value=2**40),  # height
        st.booleans(),
        st.integers(min_value=0, max_value=2_100_000_000_000_000),  # amount <= supply
        script_strat,
    )

    @settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(row_strat, min_size=1, max_size=200), st.integers(min_value=1, max_value=50))
    def check(raw_rows, chunk_rows):
        rows = [
            (hashlib.sha256(str(seed % 7).encode()).digest(), v, h, cb, amt, s)
            for seed, v, h, cb, amt, s in raw_rows
        ]
        # consecutive equal txids group; seed%7 makes groups common
        path = str(tmp_path / "prop.dump")
        write_utxo_dump(path, rows)
        _, splits = index_utxo_dump(path, chunk_rows=chunk_rows)
        import os

        size = os.path.getsize(path)
        ends = [s.offset for s in splits[1:]] + [size]
        with open(path, "rb") as f:
            for s, end in zip(splits, ends):
                f.seek(s.offset)
                data = f.read(end - s.offset)
                rb_native = native.decode_split_native(
                    data, s.carried_txid, s.carried_coins_left, s.num_rows
                )
                from utxo_to_parquet_spark.sources import utxo_dump as ud

                # force the pure-Python path for the differential side
                orig = native.decode_split_native
                native.decode_split_native = lambda *a, **k: None
                try:
                    rb_py = ud._decode_split(
                        data, Split(0, s.carried_txid, s.carried_coins_left, s.num_rows)
                    )
                finally:
                    native.decode_split_native = orig
                assert rb_native.to_pylist() == rb_py.to_pylist()

    check()


def test_global_sort_produces_total_order(tmp_path, spark):
    """global_sort=True range-partitions by script: files are disjoint
    script ranges and concatenating them in file order yields one global
    sorted order (the strictly-stronger layout of convert.py)."""
    import glob

    rows = synthetic_utxo_rows(5_000, seed=21)
    dump = str(tmp_path / "gs.dump")
    out = str(tmp_path / "gs.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(spark, dump, out, chunk_rows=1_000, global_sort=True)
    assert n == 5_000

    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{out}/part-*"))
    assert len(files) >= 1
    ranges = []
    for fp in files:
        scripts = pq.read_table(fp, columns=["script"]).column("script").to_pylist()
        assert scripts == sorted(scripts)  # sorted within file
        if scripts:
            ranges.append((scripts[0], scripts[-1]))
    # files sorted by part number are not necessarily range-ordered;
    # check disjointness instead: ranges must not overlap pairwise
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (equal keys may straddle: allow <=)


def test_split_index_cache(tmp_path):
    """The sidecar split index skips the framing pass on repeat reads and
    invalidates on file change or different chunk_rows."""
    import json
    import os

    rows = synthetic_utxo_rows(800, seed=13)
    path = str(tmp_path / "cache.dump")
    write_utxo_dump(path, rows)
    h1, s1 = index_utxo_dump(path, chunk_rows=100)
    sidecar = path + ".splits.json"
    assert os.path.exists(sidecar)
    h2, s2 = index_utxo_dump(path, chunk_rows=100)  # cache hit
    assert s1 == s2
    # different chunk_rows: must re-frame, not serve the stale layout
    _, s3 = index_utxo_dump(path, chunk_rows=37)
    assert len(s3) == (800 + 36) // 37
    # file rewrite invalidates
    write_utxo_dump(path, synthetic_utxo_rows(900, seed=14))
    os.utime(path, ns=(1, 1))  # force distinct mtime even on coarse clocks
    h4, s4 = index_utxo_dump(path, chunk_rows=37)
    assert h4.num_utxos == 900 and sum(s.num_rows for s in s4) == 900
    # corrupt sidecar falls back to framing
    with open(sidecar, "w") as fh:
        fh.write("{not json")
    h5, s5 = index_utxo_dump(path, chunk_rows=37)
    assert sum(s.num_rows for s in s5) == 900


def test_partitioned_output_prunes_height_ranges(tmp_path, spark):
    """partition_by_height_epoch: height-range predicates prune whole
    hive partitions at plan time (PartitionFilters), before page stats."""
    from pyspark.sql import functions as F

    rows = synthetic_utxo_rows(4_000, seed=33)
    dump = str(tmp_path / "pp.dump")
    out = str(tmp_path / "pp.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(
        spark, dump, out, chunk_rows=1_000, partition_by_height_epoch=100_000
    )
    assert n == 4_000

    df = spark.read.parquet(out)
    q = df.filter((F.col("height") >= 100_000) & (F.col("height") < 200_000))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition pruning happened if height_epoch filters appear in
    # PartitionFilters (derived or explicit) OR we add them explicitly:
    q2 = q.filter(F.col("height_epoch") == 1)
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan2
    assert "height_epoch" in plan2.split("PartitionFilters:")[1][:200]
    expected = [r for r in rows if 100_000 <= r[2] < 200_000]
    assert q2.count() == len(expected)
    # full content round-trips (partition column added, the rest intact)
    assert df.drop("height_epoch").count() == 4_000


def test_address_rollup_consistent_with_script_rollup(tmp_path, spark):
    """Address decoding over the REAL dump pipeline: for template scripts
    the per-address balance rollup must equal the per-script rollup
    (address is a bijection of the script for these types)."""
    from pyspark.sql import functions as F

    from utxo_to_parquet_spark.kernels.address import script_to_address

    rows = synthetic_utxo_rows(3_000, seed=17)
    dump = str(tmp_path / "addr.dump")
    write_utxo_dump(dump, rows)
    df = read_utxo_dump(spark, dump)

    @F.pandas_udf("string")
    def to_addr(s):
        return s.map(lambda b: script_to_address(bytes(b)))

    by_addr = (
        df.withColumn("address", to_addr("script"))
        .filter(F.col("address").isNotNull())
        .groupBy("address")
        .agg(F.sum("amount").alias("bal"))
    )
    got = {r.address: r.bal for r in by_addr.collect()}
    expected = {}
    for _, _, _, _, amount, script in rows:
        a = script_to_address(script)
        if a is not None:
            expected[a] = expected.get(a, 0) + amount
    assert got == expected


def test_multi_file_dump_directory(tmp_path, spark):
    """A directory of snapshot shards reads as one table: per-file
    framing (parallel on the driver), union of all rows."""
    all_rows = []
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    for i in range(3):
        rows = synthetic_utxo_rows(700 + i * 100, seed=40 + i)
        write_utxo_dump(str(shard_dir / f"part{i}.dump"), rows)
        all_rows.extend(rows)
    from utxo_to_parquet_spark.sources import read_utxo_dump_with_header

    header, df = read_utxo_dump_with_header(spark, str(shard_dir), chunk_rows=300)
    assert header.num_utxos == len(all_rows)
    assert spark_table(df) == expected_table(all_rows)
    # glob form reads the same
    df2 = read_utxo_dump(spark, str(shard_dir / "part*.dump"), chunk_rows=300)
    assert df2.count() == len(all_rows)


def test_interrupted_write_fails_loudly_on_read(tmp_path):
    """A dump whose writer crashed mid-stream must be rejected by the
    framing pass, not parse as a valid empty/truncated snapshot — the
    streaming writer holds an impossible count (2^64-1) in the header
    until the stream completes."""
    import pytest

    from utxo_to_parquet_spark.sources.utxo_dump import index_utxo_dump

    path = str(tmp_path / "crashed.dump")

    def exploding_rows():
        yield from synthetic_utxo_rows(100, seed=1)
        raise RuntimeError("simulated mid-write crash")

    with pytest.raises(RuntimeError):
        write_utxo_dump(path, exploding_rows())
    with pytest.raises(ValueError):
        index_utxo_dump(path, use_cache=False)


def test_multi_file_corrupt_shard_fails_loudly(tmp_path, spark):
    """One corrupt shard in a directory input must raise during the
    framing pass (not silently drop the shard or emit garbage rows) —
    the validation contract (S13) holds file-by-file on sharded inputs."""
    import pytest

    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    write_utxo_dump(str(shard_dir / "part0.dump"), synthetic_utxo_rows(500, seed=60))
    write_utxo_dump(str(shard_dir / "part1.dump"), synthetic_utxo_rows(500, seed=61))
    bad = shard_dir / "part1.dump"
    data = bytearray(bad.read_bytes())
    data[:5] = b"BOGUS"  # clobber the magic
    bad.write_bytes(bytes(data))
    from utxo_to_parquet_spark.sources import read_utxo_dump_with_header

    with pytest.raises(ValueError):
        read_utxo_dump_with_header(spark, str(shard_dir), chunk_rows=300)


def test_partitioned_global_sort_combined(tmp_path, spark):
    """partition_by_height_epoch + global_sort together: hive partitions
    with range-partitioned, script-sorted files inside each."""
    import glob

    import pyarrow.parquet as pq

    rows = synthetic_utxo_rows(3_000, seed=51)
    dump = str(tmp_path / "pg.dump")
    out = str(tmp_path / "pg.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(
        spark, dump, out, chunk_rows=1_000,
        global_sort=True, partition_by_height_epoch=300_000,
    )
    assert n == 3_000
    df = spark.read.parquet(out)
    assert df.count() == 3_000
    for fp in glob.glob(f"{out}/height_epoch=*/part-*"):
        scripts = pq.read_table(fp, columns=["script"]).column("script").to_pylist()
        assert scripts == sorted(scripts)


def test_truncated_compactsize_raises_at_parse_site(tmp_path, monkeypatch):
    """A dump cut off inside a multi-byte CompactSize count must fail
    with a truncation error in BOTH framing paths — the C kernel and the
    Python fallback (which previously read a short slice silently and
    produced a wrong coins_left)."""
    import pytest

    from utxo_to_parquet_spark.kernels import build_header
    from utxo_to_parquet_spark.sources import native, utxo_dump

    path = str(tmp_path / "trunc.dump")
    with open(path, "wb") as f:
        f.write(build_header(1000))
        f.write(b"\x11" * 32)  # txid
        f.write(b"\xfd\x01")  # 0xFD CompactSize, only 1 of 2 count bytes

    # native path
    if native.get_native_framer() is not None:
        with pytest.raises(ValueError, match="truncated|EOF"):
            utxo_dump.index_utxo_dump(path, use_cache=False)

    # forced Python fallback
    monkeypatch.setattr(native, "frame_scan_native", lambda *a, **k: None)
    with pytest.raises(ValueError, match="truncated dump"):
        utxo_dump.index_utxo_dump(path, use_cache=False)


def test_streaming_datasource_replays_snapshot(tmp_path, spark):
    """readStream over the utxo_dump format: micro-batched replay must
    reproduce the batch decode exactly, across multiple triggers bounded
    by splits_per_trigger (backpressure), including a checkpoint-free
    restartable offset sequence."""
    import uuid

    from utxo_to_parquet_spark.sources import register_utxo_datasource
    from utxo_to_parquet_spark.sources.synthetic import synthetic_utxo_rows
    from utxo_to_parquet_spark.sources.utxo_dump import write_utxo_dump

    dump = str(tmp_path / "stream.dat")
    write_utxo_dump(dump, synthetic_utxo_rows(20_000, seed=11))
    register_utxo_datasource(spark)

    sdf = (
        spark.readStream.format("utxo_dump")
        .option("chunk_rows", 5_000)
        .option("splits_per_trigger", 1)
        .load(dump)
    )
    name = "utxo_stream_" + uuid.uuid4().hex[:6]
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        # recentProgress is an ASYNC-updated buffer: all data is in the
        # sink after processAllAvailable, but the progress events for the
        # last batches may not have landed yet (seen flaking under heavy
        # host throttle) — poll briefly instead of reading it once
        import time as _time

        deadline = _time.time() + 15
        n_batches = len(q.recentProgress)
        while n_batches < 4 and _time.time() < deadline:
            _time.sleep(0.25)
            n_batches = len(q.recentProgress)
    finally:
        q.stop()

    streamed = spark.table(name)
    batch = spark.read.format("utxo_dump").option("chunk_rows", 5_000).load(dump)
    assert streamed.count() == batch.count() == 20_000
    assert n_batches >= 4  # one split per trigger → many micro-batches
    # value-level equality, not just counts
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_decode_is_the_only_python_stage(tmp_path, spark):
    """The decode reads its split ids from a JVM range: the executed plan
    is MapInArrow over Range, with no Python RDD (ExistingRDD) feeding
    it, and one partition per split."""
    rows = synthetic_utxo_rows(2_000, seed=17)
    path = str(tmp_path / "plan.dump")
    write_utxo_dump(path, rows)
    _, splits = index_utxo_dump(path, chunk_rows=300)
    assert len(splits) == 7
    df = read_utxo_dump(spark, path, chunk_rows=300)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    m = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    assert "Range" in lines[m + 1], plan
    assert "ExistingRDD" not in plan
    assert df.rdd.getNumPartitions() == len(splits)
    assert spark_table(df) == expected_table(rows)


def test_sampled_global_sort_clusters_scripts(tmp_path, spark):
    """global_sort="sampled": the output is the input as a multiset,
    every file is sorted by script, and file script ranges are disjoint."""
    import glob

    import pyarrow.parquet as pq

    rows = synthetic_utxo_rows(6_000, seed=23)
    dump = str(tmp_path / "sampled.dump")
    out = str(tmp_path / "sampled.parquet")
    write_utxo_dump(dump, rows)
    n = convert_utxo_dump_to_parquet(
        spark, dump, out, chunk_rows=500, global_sort="sampled"
    )
    assert n == 6_000
    assert spark_table(spark.read.parquet(out)) == expected_table(rows)
    ranges = []
    for fp in glob.glob(f"{out}/part-*"):
        scripts = pq.read_table(fp, columns=["script"]).column("script").to_pylist()
        assert scripts == sorted(scripts)
        if scripts:
            ranges.append((scripts[0], scripts[-1]))
    assert len(ranges) > 1
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_split_stride_reads_every_kth_split(tmp_path, spark):
    """split_stride=3 decodes exactly splits 0, 3, 6 and 9, one partition
    each, while the header keeps the full row count."""
    from utxo_to_parquet_spark.sources import read_utxo_dump_with_header

    rows = synthetic_utxo_rows(1_000, seed=29)
    path = str(tmp_path / "stride.dump")
    write_utxo_dump(path, rows)
    _, splits = index_utxo_dump(path, chunk_rows=100)
    assert len(splits) == 10
    header, df = read_utxo_dump_with_header(spark, path, chunk_rows=100, split_stride=3)
    assert header.num_utxos == 1_000
    assert df.rdd.getNumPartitions() == 4
    want = [r for k in (0, 3, 6, 9) for r in rows[k * 100 : (k + 1) * 100]]
    assert spark_table(df) == expected_table(want)
