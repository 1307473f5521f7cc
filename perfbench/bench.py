"""One run of one workload, driven through the program's public functions.

Started by ``run.py``, which prepares the environment (Spark cores, heap,
directories inside the run directory, event log for traced runs) and
removes whatever the run leaves. This process writes its result to
``result.json`` in the run directory.

Each workload is a closed loop with one client. A run:

1. prepares its seeded inputs (cached by seed and size) and the native
   kernel, none of it timed (the DuckDB oracles of ``analytics`` run
   beside its untimed warm-up passes);
2. sets the program up once and reports it as ``setup_s``: the first
   ``get_spark()`` of the process, which launches the JVM;
3. runs a cold pass, untimed warm-up passes, then timed passes for
   ``--seconds`` (see ``warm_and_timed_passes``), checking every output;
4. with ``--trace 1``, also records the per-layer spans and counters; the
   traced ``convert`` run also times point lookups on its last output,
   which give the ``scan.*`` layers.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

from . import checks, fixtures, layers, snapshot
from .proc import cpu_ticks, loadavg, tree_cpu_s

SNAPSHOT_ROWS = {"full": 1_000_000, "tiny": 20_000}
FIXTURE_SCALE = {"full": 1.0, "tiny": 0.1}
# one lookup round of the traced convert run. The shares are a choice,
# not a traffic record (README.md, "Lookup keys").
LOOKUP_ROUND = ["single"] * 12 + ["absent"] * 4 + ["flagship"] * 4
LOOKUP_POOL = {"single": 48, "absent": 16}
# why each query is on the list: see README.md
QUERIES = [
    "q_graph_betweenness",
    "q_utxo_balance_by_script",
    "q_utxo_snapshot_stats",
    "q_dedup_minhash_search",
    "q_mm_frame_sample",
    "q4_priority_exists",
    "q18_large_volume",
]

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "bytes_per_row": "B/row",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "cpu_ms_per_op": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.start_cpu_s": "s",
    "native.kernel_loaded": "count",
    "utxo_dump.frame_s": "s",
    "utxo_dump.frame_cpu_s": "s",
    "utxo_dump.decode_s": "s",
    "utxo_dump.decode_cpu_s": "s",
    "utxo_dump.splits": "count",
    "convert.sort_write_s": "s",
    "convert.sort_write_cpu_s": "s",
    "convert.files": "count",
    "convert.row_groups": "count",
    "convert.script_pages": "count",
    "scan.open_ms": "ms",
    "scan.open_cpu_ms": "ms",
    "scan.plan_ms": "ms",
    "scan.plan_cpu_ms": "ms",
    "scan.exec_ms": "ms",
    "scan.exec_cpu_ms": "ms",
    "scan.files_read": "count",
    "scan.bytes_read": "B",
    "scan.rows_read_per_result": "rows/row",
    "operators.build_s": "s",
    "operators.build_cpu_s": "s",
    "operators.plan_s": "s",
    "operators.plan_cpu_s": "s",
    "operators.exec_s": "s",
    "operators.exec_cpu_s": "s",
    "operators.build_jobs": "count",
    "registry.memo_builds": "count",
    "registry.memo_bytes": "B",
    "registry.pinned_rdds": "count",
    "exec.cpu_s": "s/op",
    "exec.gc_s": "s/op",
    "exec.shuffle_bytes": "B/op",
    "exec.spill_bytes": "B/op",
    "exec.python_worker_s": "s/op",
}
TIMED_GROUP = "perfbench-timed"
WARMUP_SHARE = 0.75


class Run:
    """State of one run: session, inputs, op samples, spans and checks."""

    def __init__(self, args):
        self.args = args
        self.traced = bool(args.trace)
        self.run_dir = args.run_dir
        self.cache_dir = args.cache_dir
        self.spark = None
        self.spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rng = np.random.default_rng([args.seed, 7])

    # -- measurement ------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Wall and process-tree CPU seconds of the block, kept under ``name``."""
        if not self.traced:
            yield
            return
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[name].append((t1 - t0, tree_cpu_s() - c0))

    def median(self, name: str, k: int = 0) -> float:
        vals = self.spans.get(name)
        return statistics.median(v[k] for v in vals) if vals else 0.0

    def op(self, fn, check=None):
        """One checked operation; returns (result, wall s, CPU s) or None."""
        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # the program failed this operation
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {str(exc)[:300]}")
            return None
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if check is not None:
            try:
                check(out)
            except checks.CheckFailed as exc:
                self.errors.append(f"check: {exc}")
        return out, wall, cpu

    # -- session ----------------------------------------------------------

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM has ended."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)

    def setup(self) -> None:
        """The program's set-up, once, after every input is ready:
        ``get_spark()`` in a process that has no JVM yet."""
        from utxo_to_parquet_spark.session import get_spark

        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.setup_s = self.layer["session.start_s"] = time.perf_counter() - t0
        self.layer["session.start_cpu_s"] = tree_cpu_s() - c0

    def set_group(self, group: str | None) -> None:
        if not self.traced:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    # -- inputs -----------------------------------------------------------

    def snapshot_input(self, n: int) -> tuple[snapshot.Coins, str]:
        """Coins and a link to their cached snapshot inside the run dir.

        Also builds the native kernel: it caches its compiled object in the
        temp dir, which persists on a real host but starts empty in every
        run here, so a first convert would otherwise pay the compiler."""
        from utxo_to_parquet_spark.sources.native import get_native_framer

        get_native_framer()
        coins = snapshot.make_coins(n, self.args.seed)
        cached = os.path.join(self.cache_dir, f"snapshot-{self.args.seed}-{n}.dump")
        if not os.path.exists(cached):
            snapshot.write_snapshot(cached, coins)
        os.utime(cached)  # most recently used: kept by the cache trim
        path = os.path.join(self.run_dir, "snapshot.dump")
        os.link(cached, path)  # the program's split sidecar lands in the run dir
        return coins, path

    def fixtures_input(self) -> str:
        scale = FIXTURE_SCALE[self.args.size]
        d = os.path.join(self.cache_dir, f"fixtures-{self.args.seed}-{scale}")
        if not os.path.isdir(d):
            tmp = d + f".tmp{os.getpid()}"
            fixtures.write_tables(tmp, fixtures.make_tables(self.args.seed, scale))
            os.replace(tmp, d)
        os.utime(d)
        return d

    # -- metrics ----------------------------------------------------------

    def finish(self, ops: list[tuple[float, float]], rows_per_op: int, bytes_per_row: float,
               cold_s: float, passes: list[float]) -> dict:
        """End-to-end metrics. Every time is a median over the timed
        operations, which every workload runs one pass at a time, except
        ``setup_s`` and ``cold_pass_s``."""
        walls = [w for w, _ in ops]
        e2e = {
            "setup_s": self.setup_s,
            "rows_per_s": rows_per_op / statistics.median(walls),
            "bytes_per_row": bytes_per_row,
            "cold_pass_s": cold_s,
            "warm_pass_s": statistics.median(passes),
            "cpu_ms_per_op": 1e3 * statistics.median(c for _, c in ops),
        }
        self.detail.update(
            ops=len(ops), passes=len(passes),
            op_s=[round(w, 4) for w in walls],
        )
        return e2e


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def passes_for(limit: float, one_pass) -> list[float]:
    """Whole passes until ``limit`` seconds have gone by, except that a pass
    expected to end past 1.5 x ``limit`` is not started, so that the pass
    count stays the same from run to run on a slower or faster host."""
    start = time.perf_counter()
    passes = []
    while not passes or (
        (elapsed := time.perf_counter() - start) < limit
        and elapsed + statistics.mean(passes) <= 1.5 * limit
    ):
        passes.append(one_pass())
    return passes


def warm_and_timed_passes(run: Run, one_pass, record: list, before_timed=None) -> list[float]:
    """Untimed warm-up passes for WARMUP_SHARE x ``--seconds``, then timed
    passes for ``--seconds``. Times fall for the first converts and passes
    after the cold one (README.md, "Warm-up"), so the timed passes start
    once they have levelled off. ``before_timed`` is called in between."""
    passes_for(WARMUP_SHARE * run.args.seconds, one_pass)
    if before_timed is not None:
        before_timed()
    run.set_group(TIMED_GROUP)
    passes = passes_for(run.args.seconds, lambda: one_pass(record))
    run.set_group(None)
    return passes


def convert_workload(run: Run) -> dict:
    from utxo_to_parquet_spark.sources import (
        convert_utxo_dump_to_parquet,
        index_utxo_dump,
        read_utxo_dump,
    )
    from utxo_to_parquet_spark.sources.native import get_native_framer

    coins, path = run.snapshot_input(SNAPSHOT_ROWS[run.args.size])
    run.setup()
    n = len(coins)
    outs = [os.path.join(run.run_dir, f"convert-{k}") for k in range(2)]
    ops: list[tuple[float, float]] = []
    sizes: list[float] = []
    k = [0]

    def check_count(got):
        if got != n:
            raise checks.CheckFailed(f"convert returned {got} rows, {n} generated")

    def one_pass(record=None):
        out = outs[k[0] % 2]
        k[0] += 1
        if record is not None and run.traced:
            run.set_group(None)
            with run.span("utxo_dump.frame"):
                _, splits = index_utxo_dump(path, use_cache=False)
            with run.span("utxo_dump.decode"):
                read_utxo_dump(run.spark, path).write.format("noop").mode("overwrite").save()
            run.layer["utxo_dump.splits"] = len(splits)
            run.set_group(TIMED_GROUP)
        res = run.op(lambda: convert_utxo_dump_to_parquet(run.spark, path, out, use_cache=False), check_count)
        if res is None:
            return float("nan")
        if record is not None:
            record.append((res[1], res[2]))
            lay = layers.layout(out)
            sizes.append(lay["bytes"] / n)
            run.spans["convert.total"].append((res[1], res[2]))
        return res[1]

    cold = one_pass()
    if run.traced:
        index_utxo_dump(path, use_cache=True)  # sidecar: decode spans skip framing
    passes = warm_and_timed_passes(run, one_pass, ops)
    last = outs[(k[0] - 1) % 2]
    try:
        checks.check_convert(last, coins)
    except checks.CheckFailed as exc:
        run.errors.append(f"check: {exc}")
    lay = layers.layout(last)
    run.layer.update({
        "native.kernel_loaded": int(get_native_framer() is not None),
        "convert.files": lay["files"],
        "convert.row_groups": lay["row_groups"],
        "convert.script_pages": lay["script_pages"],
    })
    if run.traced:
        for k2 in (0, 1):
            suffix = "_cpu_s" if k2 else "_s"
            frame, decode = run.median("utxo_dump.frame", k2), run.median("utxo_dump.decode", k2)
            run.layer["utxo_dump.frame" + suffix] = frame
            run.layer["utxo_dump.decode" + suffix] = decode
            run.layer["convert.sort_write" + suffix] = statistics.median(
                t[k2] - f[k2] - d[k2]
                for t, f, d in zip(run.spans["convert.total"], run.spans["utxo_dump.frame"], run.spans["utxo_dump.decode"])
            )
        traced_lookups(run, coins, last)
    return run.finish(ops, n, statistics.median(sizes), cold, passes)


def lookup_keys(run: Run, coins: snapshot.Coins) -> tuple[dict[str, list[bytes]], dict[bytes, list[tuple]]]:
    """Lookup keys by kind, and a plain-Python index of their rows."""
    rng = run.rng
    lens = coins.script_len
    eligible = np.nonzero(np.isin(lens, (22, 23, 25)) & (np.arange(len(coins)) % snapshot.EATER_EVERY != 0))[0]
    picks = rng.choice(eligible, size=min(len(eligible), 2 * LOOKUP_POOL["single"]), replace=False)
    absent = [
        bytes([0x76, 0xA9, 20]) + rng.integers(0, 256, 20, dtype=np.uint8).tobytes() + bytes([0x88, 0xAC])
        for _ in range(LOOKUP_POOL["absent"])
    ]
    cand = [coins.script_bytes(int(i)) for i in picks]
    index = checks.lookup_index(coins, cand + absent + [snapshot.EATER_SCRIPT])
    single = [s for s in cand if len(index[s]) == 1][: LOOKUP_POOL["single"]]
    return {
        "single": single,
        "absent": [s for s in absent if not index[s]],
        "flagship": [snapshot.EATER_SCRIPT],
    }, index


def traced_lookups(run: Run, coins: snapshot.Coins, table: str) -> None:
    """Point lookups by script on a convert output, for the ``scan.*``
    layers: an untimed warm-up round, then a round whose spans and scan SQL
    metrics are kept. Each lookup is built anew with ``spark.read.parquet``
    and its result is checked against a plain-Python index."""
    from pyspark.sql import functions as F

    keys, index = lookup_keys(run, coins)
    scans = []
    for rnd in range(2):
        kinds = list(LOOKUP_ROUND)
        run.rng.shuffle(kinds)
        for i, kind in enumerate(kinds):
            pool = keys[kind]
            key = pool[(rnd * len(kinds) + i) % len(pool)]

            def lookup():
                with run.span("scan.open"):
                    df = run.spark.read.parquet(table)
                q = df.filter(F.col("script") == F.lit(key)).select("txid", "vout", "amount", "height").orderBy("height")
                with run.span("scan.plan"):
                    q._jdf.queryExecution().executedPlan()
                with run.span("scan.exec"):
                    rows = [tuple(r) for r in q.collect()]
                return q, rows

            res = run.op(lookup, lambda out: checks.check_lookup(key, out[1], index))
            if res is not None and rnd == 1:
                q, rows = res[0]
                scans.append((layers.scan_metrics(q._jdf.queryExecution().executedPlan()), len(rows)))
        if rnd == 0:  # the warm-up round's spans are not kept
            for name in ("scan.open", "scan.plan", "scan.exec"):
                run.spans.pop(name, None)
    for name in ("open", "plan", "exec"):
        run.layer[f"scan.{name}_ms"] = 1e3 * run.median(f"scan.{name}")
        run.layer[f"scan.{name}_cpu_ms"] = 1e3 * run.median(f"scan.{name}", 1)
    run.layer["scan.files_read"] = statistics.median(s["files"] for s, _ in scans)
    run.layer["scan.bytes_read"] = statistics.median(s["bytes"] for s, _ in scans)
    run.layer["scan.rows_read_per_result"] = sum(s["rows"] for s, _ in scans) / max(1, sum(r for _, r in scans))
    run.detail["keys"] = {k: len(v) for k, v in keys.items()}


def analytics_workload(run: Run) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from tools.check_correctness import TABLES
    from utxo_to_parquet_spark.operators import registry

    sf = run.fixtures_input()

    def duckdb_oracles() -> dict:
        oracles = {}
        con = duckdb.connect()
        try:
            # 2 threads beside Spark's 2 cores: the host has 4
            con.execute("SET threads=2")
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            sql = entry.oracle_sql()
            for q in QUERIES:
                rel = con.sql(sql[q])
                oracles[q] = checks.table_hash(rel.columns, rel.fetchall())
        finally:
            con.close()
        return oracles

    run.setup()
    qs = entry.queries()
    sc = run.spark.sparkContext
    frag_dir = os.path.join(os.environ["SPARK_GRAFT_FRAGMENT_DIR"], "spark_graft_fragments", sc.applicationId)
    memo0 = len(registry.memo_build_log())
    ops: list[tuple[float, float]] = []
    pass_rows = [0]  # result rows of one pass: the same in every pass
    per_pass: list[dict] = []
    pinned = [0]
    n_pass = [0]
    # (query, value hash of Spark's result) of every pass, compared with
    # the DuckDB oracles once they are in
    hashes: list[tuple[str, tuple]] = []

    def run_query(name: str, tag: str):
        """Build and collect one query; untraced, the spans are no-ops."""
        run.set_group(f"{tag}:build")
        with run.span("operators.build"):
            df = qs[name](run.spark, sf)
        if run.traced:
            run.pass_jobs += len(sc.statusTracker().getJobIdsForGroup(f"{tag}:build"))
            run.set_group(f"{tag}:exec")
            with run.span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
        with run.span("operators.exec"):
            rows = [tuple(r) for r in df.collect()]
        run.set_group(None)
        if run.traced:
            pinned[0] = max(pinned[0], sc._jsc.getPersistentRDDs().size())
        return df.columns, rows

    def one_pass(record=None):
        n_pass[0] += 1
        run.pass_jobs = 0
        mark = {k: len(v) for k, v in run.spans.items()}
        total = cpu = 0.0
        rows = 0
        times = {}
        query_layers = {}
        prefix = TIMED_GROUP if record is not None else "untimed"
        for name in QUERIES:
            tag = f"{prefix}:{n_pass[0]}:{name}"
            res = run.op(
                lambda: run_query(name, tag),
                lambda out: hashes.append((name, checks.table_hash(*out))),
            )
            if res is None:
                continue
            total += res[1]
            cpu += res[2]
            times[name] = round(res[1], 4)
            if run.traced:
                query_layers[name] = {
                    layer: run.spans[f"operators.{layer}"][-1] for layer in ("build", "plan", "exec")
                }
            rows += len(res[0][1])
        pass_rows[0] = rows
        # the timed unit is the pass: the times of seven unlike queries
        # differ by 15x, so a median over them is one query's single time
        if record is not None:
            record.append((total, cpu))
        entry_ = {"pass_s": total, "timed": record is not None, "query_s": times}
        if run.traced:
            for layer in ("operators.build", "operators.plan", "operators.exec"):
                new = run.spans[layer][mark.get(layer, 0):]
                entry_[layer] = (sum(w for w, _ in new), sum(c for _, c in new))
            entry_["build_jobs"] = run.pass_jobs
            entry_["query_layers"] = query_layers
        per_pass.append(entry_)
        return total

    cold = one_pass()
    # The oracles take 8 s of DuckDB; they run beside the untimed warm-up
    # passes, and the timed passes wait until they are done.
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(duckdb_oracles)
        passes = warm_and_timed_passes(run, one_pass, ops, before_timed=oracles.result)
    for name, got in hashes:
        want = oracles.result()[name]
        if got != want:
            run.errors.append(f"check: {name}: spark {got} vs duckdb {want}")
    frag_bytes = frag_rows = 0
    for root, _dirs, files in os.walk(frag_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                frag_bytes += os.path.getsize(p)
                frag_rows += pq.ParquetFile(p).metadata.num_rows
    run.layer.update({
        "registry.memo_builds": len(registry.memo_build_log()) - memo0,
        "registry.memo_bytes": frag_bytes,
        "registry.pinned_rdds": pinned[0],
    })
    if run.traced:
        warm = [p for p in per_pass if p["timed"]]
        for layer in ("operators.build", "operators.plan", "operators.exec"):
            run.layer[layer + "_s"] = statistics.median(p[layer][0] for p in warm)
            run.layer[layer + "_cpu_s"] = statistics.median(p[layer][1] for p in warm)
        run.layer["operators.build_jobs"] = statistics.median(p["build_jobs"] for p in warm)
    run.detail["passes_detail"] = per_pass
    return run.finish(ops, pass_rows[0], frag_bytes / max(frag_rows, 1), cold, passes)


WORKLOADS = {
    "convert": convert_workload,
    "analytics": analytics_workload,
}


def _steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SNAPSHOT_ROWS), default="full")
    p.add_argument("--run-dir", required=True)
    p.add_argument("--cache-dir", required=True)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _raise_exit)
    run = Run(args)
    load_start = loadavg()
    steal_start = cpu_ticks()
    try:
        e2e = WORKLOADS[args.workload](run)
        app = run.spark.sparkContext.applicationId
        run.stop_spark()
        if run.traced:
            log = os.path.join(run.run_dir, "events", app)
            tot = layers.event_log_totals(log, TIMED_GROUP)
            n_ops = run.detail["ops"]
            for k, v in tot.items():
                run.layer[f"exec.{k}"] = v / n_ops
    finally:
        run.stop_spark()
    metrics = (
        {k: {"value": run.layer.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
        if run.traced
        else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    )
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        # share of the host's CPU time stolen by other guests during the run
        "steal_share": _steal_share(steal_start, cpu_ticks()),
        "end_to_end": e2e,
        "layers": dict(run.layer),
        "errors": run.errors[:20],
        **run.detail,
    }
    result = {
        "correct": not any(e.startswith("check:") for e in run.errors),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    with open(os.path.join(run.run_dir, "result.json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
