"""Session-lifetime state: the generated-code cache keeps a warm query
compiled; the session memo evicts its least recently used entry together
with its files, rebuilds a trainer whose corpus was rewritten in place,
and logs nested builds exclusive of each other; every session's fragment
dir is removed at exit, and a killed session's by the next session. Also
bench.py's per-trial codegen and CPU counters."""

from __future__ import annotations

import fcntl
import os
import shutil
import signal
import subprocess
import sys
import textwrap
import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor

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


def test_trainer_memo_rebuilds_after_in_place_rewrite(tmp_path, spark):
    """A trainer memo keyed only on (session, corpus path) would keep
    serving the old corpus after documents.parquet is rewritten in place;
    the memo's fingerprint must rebuild it, matching a fresh directory."""
    suffix_ranks = all_queries()["q_text_suffix_ranks"]
    small = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    docs = pq.read_table(os.path.join(small, "documents.parquet"))
    half = docs.slice(0, docs.num_rows // 2)
    rewritten, fresh = tmp_path / "rewritten", tmp_path / "fresh"
    rewritten.mkdir()
    fresh.mkdir()
    pq.write_table(docs, str(rewritten / "documents.parquet"))
    pq.write_table(half, str(fresh / "documents.parquet"))

    def ranks(sf):
        return sorted(map(tuple, suffix_ranks(spark, str(sf)).collect()))

    full = ranks(rewritten)
    pq.write_table(half, str(rewritten / "documents.parquet"))
    want = ranks(fresh)
    assert len(want) < len(full)
    assert ranks(rewritten) == want


def test_memo_ledger_excludes_nested_builds(tmp_path, spark):
    """A fragment built inside another fragment's build is logged once:
    the outer entry excludes the inner build's seconds, the two sum to
    the outer call's wall time, and the outer build's job description is
    restored after the inner one."""
    from utxo_to_parquet_spark.operators import registry

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(sf / "docs.parquet", [1, 2])
    sc = spark.sparkContext
    descs = []

    def inner():
        time.sleep(1.0)
        return spark.read.parquet(str(sf / "docs.parquet"))

    def outer():
        registry.memo_fragment(spark, "ledger_inner", str(sf), inner)
        descs.append(sc.getLocalProperty("spark.job.description"))
        time.sleep(0.2)
        return spark.read.parquet(str(sf / "docs.parquet"))

    n0 = len(registry.memo_build_log())
    t0 = time.time()
    registry.memo_fragment(spark, "ledger_outer", str(sf), outer)
    wall = time.time() - t0
    log = dict(registry.memo_build_log()[n0:])
    assert set(log) == {"ledger_inner", "ledger_outer"}
    assert log["ledger_inner"] >= 1.0
    assert 0.2 <= log["ledger_outer"] < 1.0
    assert abs(log["ledger_inner"] + log["ledger_outer"] - wall) < 0.25
    assert descs == ["memo: ledger_outer"]


class _ThreadLocalContext:
    """The two SparkContext calls memo makes, with Spark's per-thread
    job description."""

    applicationId = "local-memo-threads"

    def __init__(self):
        self._local = threading.local()

    def getLocalProperty(self, key):
        assert key == "spark.job.description"
        return getattr(self._local, "desc", None)

    def setJobDescription(self, value):
        self._local.desc = value


def test_memo_builds_once_under_concurrent_callers(tmp_path, monkeypatch):
    """Many threads asking for one trainer (which nests another memo)
    while it builds: each memo builds once, every caller gets the same
    object, and the ledger logs one entry per build."""
    from utxo_to_parquet_spark.operators import registry

    monkeypatch.setattr(registry, "_FRAGMENT_CACHE", {})
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(sf / "docs.parquet", [1])
    spark = types.SimpleNamespace(sparkContext=_ThreadLocalContext())
    builds = []

    def inner():
        builds.append("inner")
        time.sleep(0.05)
        return object()

    def outer():
        builds.append("outer")
        return (registry.memo(spark, "threads_inner", str(sf), inner), object())

    n0 = len(registry.memo_build_log())
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futs = [
                pool.submit(registry.memo, spark, "threads_outer", str(sf), outer)
                for _ in range(64)
            ]
            got = [f.result(timeout=60) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert sorted(builds) == ["inner", "outer"]
    assert all(g is got[0] for g in got)
    names = [n for n, _ in registry.memo_build_log()[n0:]]
    assert sorted(names) == ["threads_inner", "threads_outer"]


def test_memo_drop_rebuilds_every_parameter_set(tmp_path, monkeypatch):
    """A @memoized trainer keeps one entry per parameter set; memo_drop of
    its name drops them all and leaves other memos alone."""
    from utxo_to_parquet_spark.operators import registry

    monkeypatch.setattr(registry, "_FRAGMENT_CACHE", {})
    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(sf / "docs.parquet", [1])
    spark = types.SimpleNamespace(sparkContext=_ThreadLocalContext())
    builds = []

    @registry.memoized("drop_train")
    def train(spark, sf_dir, beam):
        builds.append(beam)
        return object()

    other = registry.memo(spark, "drop_other", str(sf), object)
    first = {beam: train(spark, str(sf), beam) for beam in (1, 2)}
    assert train(spark, str(sf), 1) is first[1]
    assert builds == [1, 2]
    registry.memo_drop("drop_train")
    assert train(spark, str(sf), 2) is not first[2]
    assert builds == [1, 2, 2]
    assert registry.memo(spark, "drop_other", str(sf), object) is other


def test_killed_session_fragment_dir_swept_by_next_session(
    tmp_path, spark, monkeypatch
):
    """atexit does not run on SIGKILL: a killed session's fragment dir is
    removed by the next session's first fragment write, while a dir whose
    owner holds its lock survives."""
    from utxo_to_parquet_spark.operators import registry

    sf = tmp_path / "sf"
    sf.mkdir()
    _write_docs(sf / "docs.parquet", [1, 2, 3])
    frag_root = tmp_path / "fragments"
    sessions = frag_root / "spark_graft_fragments"
    script = textwrap.dedent(
        f"""
        import time
        from utxo_to_parquet_spark.operators import registry
        from utxo_to_parquet_spark.session import get_spark

        sf = {str(sf)!r}
        spark = get_spark("killed-session")
        df = registry.memo_fragment(
            spark, "killed", sf, lambda: spark.read.parquet(sf + "/docs.parquet")
        )
        assert df.count() == 3
        print(spark.sparkContext.applicationId, flush=True)
        time.sleep(600)
        """
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_FRAGMENT_DIR=str(frag_root),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", script], env=env, stdout=subprocess.PIPE, text=True
    )
    try:
        dead_app = proc.stdout.readline().strip()
    finally:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=60)
    assert dead_app, "the subprocess wrote no fragment"
    assert (sessions / dead_app).is_dir()

    alive = sessions / "local-alive"
    alive.mkdir()
    lock_fd = os.open(f"{alive}.lock", os.O_RDWR | os.O_CREAT)
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        monkeypatch.setenv("SPARK_GRAFT_FRAGMENT_DIR", str(frag_root))
        df = registry.memo_fragment(
            spark,
            "sweeper",
            str(sf),
            lambda: spark.read.parquet(str(sf / "docs.parquet")),
        )
        assert df.count() == 3
        assert not (sessions / dead_app).exists()
        assert not (sessions / f"{dead_app}.lock").exists()
        assert alive.is_dir()
        assert (sessions / spark.sparkContext.applicationId).is_dir()
    finally:
        os.close(lock_fd)
        shutil.rmtree(alive, ignore_errors=True)
