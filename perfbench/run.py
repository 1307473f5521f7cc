"""Benchmark entry point.

    python3 perfbench/run.py --workload {convert,analytics} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. Prints one JSON line of run details and, as
the last line, the result: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

This process supervises the run: it starts ``perfbench.bench`` in a child
process with every file it writes inside ``.perfbench/run-<pid>/`` of the
checkout, adopts any process the run orphans (child subreaper), and on
exit, normal or by SIGTERM/SIGINT, stops every process of the run, waits
until each has ended and removes the run directory. Inputs are cached in
``.perfbench/cache/`` by seed and size; the cache keeps the newest entries.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.proc import descendants  # noqa: E402

SPARK_CPUS = "2"
DRIVER_HEAP = "4g"
CACHE_KEEP = 12  # cache entries (snapshots, fixture dirs) kept between runs
GRACE_S = 30


def _subreaper() -> None:
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float) -> None:
    """Wait up to ``grace_s`` for every descendant to end, then kill the rest."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while descendants(me) and time.monotonic() < deadline:
        _reap()
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(me)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while descendants(me) and time.monotonic() < end:
            _reap()
            time.sleep(0.05)


def _trim_cache(cache: str) -> None:
    """Keep the CACHE_KEEP most recently used entries; drop partial ones."""
    entries = [os.path.join(cache, e) for e in os.listdir(cache)]
    entries.sort(key=os.path.getmtime, reverse=True)
    done = [e for e in entries if ".tmp" not in os.path.basename(e)]
    for old in [e for e in entries if e not in done] + done[CACHE_KEEP:]:
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.unlink(old)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("convert", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "utxo_to_parquet_spark", "session.py")):
        print("perfbench: utxo_to_parquet_spark/ is not in this checkout", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(state, "cache")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    for d in ("tmp", "local", "fragments", "events"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(cache, exist_ok=True)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{run_dir}/events",
            # plain JSON lines, one file per application
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    submit = [x for k, v in conf.items() for x in ("--conf", f"{k}={v}")] + ["pyspark-shell"]
    env = dict(
        os.environ,
        # Python workers import the program and the benchmark from here
        PYTHONPATH=os.pathsep.join([ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_GRAFT_CPUS=SPARK_CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_FRAGMENT_DIR=os.path.join(run_dir, "fragments"),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
        # no hsperfdata files under /tmp from the JVMs
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--run-dir", run_dir, "--cache-dir", cache,
    ]
    stopping = []
    child = None

    def on_signal(signum, _frame):
        stopping.append(signum)
        if child is not None and child.poll() is None:
            child.send_signal(signal.SIGTERM)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    _subreaper()
    rc = out = None
    try:
        child = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=sys.stderr)
        while rc is None:
            try:
                rc = child.wait()
            except InterruptedError:
                continue
        stop_tree(GRACE_S if not stopping else 10)
        result_file = os.path.join(run_dir, "result.json")
        if rc == 0 and not stopping and os.path.exists(result_file):
            with open(result_file) as fh:
                out = json.load(fh)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        if child is not None and child.poll() is None:
            child.kill()
        stop_tree(0)
        _reap()
        shutil.rmtree(run_dir, ignore_errors=True)
        _trim_cache(cache)
    if out is None:
        print(f"perfbench: run ended without a result (exit {rc})", file=sys.stderr)
        return 128 + stopping[0] if stopping else 1
    print(json.dumps({"info": out["info"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
