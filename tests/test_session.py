"""Session-lifetime state: the generated-code cache keeps a warm query
compiled, and the memo-fragment cache evicts its least recently used
entry together with its files."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from bench import _codegen_totals
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
