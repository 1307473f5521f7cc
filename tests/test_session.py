"""Session-lifetime state: the generated-code cache keeps a warm query
compiled, the memo-fragment cache evicts its least recently used entry
together with its files, and every session's fragment dir is removed at
exit. Also bench.py's per-trial codegen and CPU counters."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

import pyarrow as pa
import pyarrow.parquet as pq

from bench import _codegen_totals, _convert_trial
from utxo_to_parquet_spark.operators import all_queries
from utxo_to_parquet_spark.session import CODEGEN_CACHE_ENTRIES

SF_DIR = "/root/testdata/sf0.01"


def test_codegen_cache_keeps_warm_query_compiled(spark):
    """Betweenness and MinHash search together generate more classes
    than Spark's default 100-entry cache holds; with the session's cache
    size, betweenness run again after the search compiles nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    qs = all_queries()
    qs["q_graph_betweenness"](spark, SF_DIR).collect()
    qs["q_dedup_minhash_search"](spark, SF_DIR).collect()
    before, _ = _codegen_totals(spark)
    qs["q_graph_betweenness"](spark, SF_DIR).collect()
    assert _codegen_totals(spark)[0] - before == 0


def test_bench_records_codegen_totals(spark):
    """bench.py's per-query codegen counters move when a new plan
    compiles."""
    n0, ns0 = _codegen_totals(spark)
    # a literal no other test uses: a plan the cache has not seen
    spark.range(7).selectExpr("id * 7919 + 104729 AS v").collect()
    n1, ns1 = _codegen_totals(spark)
    assert n1 > n0 and ns1 > ns0


def test_bench_records_convert_cpu(tmp_path, spark):
    """bench.py's convert trial counts the CPU of the whole process tree:
    the JVM does the work, so the tree's CPU exceeds this driver's own."""
    from utxo_to_parquet_spark.sources import write_utxo_dump
    from utxo_to_parquet_spark.sources.synthetic import synthetic_utxo_rows

    dump = str(tmp_path / "cpu.dump")
    write_utxo_dump(dump, synthetic_utxo_rows(20_000, seed=5))
    own0 = time.process_time()
    n, wall, cpu = _convert_trial(spark, dump, str(tmp_path / "cpu.parquet"))
    own = time.process_time() - own0
    assert n == 20_000 and wall > 0
    assert cpu > own > 0


def _write_docs(path, ids):
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), str(path))


def test_memo_fragment_evicts_least_recently_used_and_its_files(
    tmp_path, spark, monkeypatch
):
    from utxo_to_parquet_spark.operators import registry

    monkeypatch.setattr(registry, "_FRAGMENT_CACHE_MAX", 2)
    monkeypatch.setattr(registry, "_FRAGMENT_CACHE", {})
    dirs = {}
    for name in ("a", "b", "c"):
        sf = tmp_path / name
        sf.mkdir()
        _write_docs(sf / "docs.parquet", [1, 2])
        dirs[name] = str(sf)

    def frag(name):
        sf = dirs[name]
        return registry.memo_fragment(
            spark,
            f"lru_test_{name}",
            sf,
            lambda: spark.read.parquet(f"{sf}/docs.parquet"),
        )

    def frag_path(name):
        return next(
            v[2]
            for k, v in registry._FRAGMENT_CACHE.items()
            if k[1] == f"lru_test_{name}"
        )

    frag("a")
    frag("b")
    path_a, path_b = frag_path("a"), frag_path("b")
    assert os.path.isdir(path_a) and os.path.isdir(path_b)
    assert frag("a").count() == 2  # a hit makes "a" the most recently used
    frag("c")  # full: evicts "b", the least recently used
    names = sorted(k[1] for k in registry._FRAGMENT_CACHE)
    assert names == ["lru_test_a", "lru_test_c"]
    assert not os.path.exists(path_b)  # files deleted at eviction
    assert os.path.isdir(path_a)
    assert frag("a").count() == 2


def test_memo_fragment_dirs_of_every_session_removed_at_exit(tmp_path):
    """A process that stops its session and starts another leaves no
    fragment dir behind at exit: each session's dir has its own cleanup."""
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(sf / "docs.parquet", [1, 2, 3])
    script = textwrap.dedent(
        f"""
        from utxo_to_parquet_spark.operators import registry
        from utxo_to_parquet_spark.session import get_spark

        sf = {str(sf)!r}
        for _ in range(2):
            spark = get_spark("fragment-cleanup")
            df = registry.memo_fragment(
                spark, "cleanup", sf, lambda: spark.read.parquet(sf + "/docs.parquet")
            )
            assert df.count() == 3
            spark.stop()
        """
    )
    frag_root = tmp_path / "fragments"
    env = dict(
        os.environ,
        SPARK_GRAFT_FRAGMENT_DIR=str(frag_root),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=600)
    sessions = frag_root / "spark_graft_fragments"
    assert sessions.is_dir()  # both sessions wrote there
    assert list(sessions.iterdir()) == []
