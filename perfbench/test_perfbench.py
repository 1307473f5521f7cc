"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The check tests build correct outputs with pyarrow, corrupt them and
expect the check to fail. The run tests start ``run.py`` in tiny mode (a
20k-row snapshot, tables at a tenth of sf0.01) with a seed the reference
figures do not use, and one of them stops a run with SIGTERM mid-workload.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import bench, checks, layers, snapshot  # noqa: E402
from perfbench.proc import descendants  # noqa: E402

TEST_SEED = 99
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]


def _expected_table(coins: snapshot.Coins) -> pa.Table:
    n = len(coins)
    return pa.table({
        "txid": [coins.txid_hex(i) for i in range(n)],
        "vout": coins.vout,
        "height": coins.height,
        "coinbase": coins.coinbase,
        "amount": coins.amount,
        "script": pa.array([coins.script_bytes(i) for i in range(n)], pa.binary()),
    })


def _write_output(out_dir: str, table: pa.Table, files: int = 3, codec: str = "zstd") -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step).sort_by("script")
        pq.write_table(part, os.path.join(out_dir, f"part-{k:05d}.parquet"), compression=codec)


@pytest.fixture(scope="module")
def coins():
    return snapshot.make_coins(3000, TEST_SEED)


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)


@pytest.mark.parametrize("seed", [1, TEST_SEED])
def test_snapshot_bytes_match_the_program_writer(tmp_path, seed):
    from utxo_to_parquet_spark.sources import write_utxo_dump

    c = snapshot.make_coins(4000, seed)
    ours, theirs = tmp_path / "ours.dump", tmp_path / "theirs.dump"
    snapshot.write_snapshot(str(ours), c, chunk=1500)
    rows = (
        (c.txid[i].tobytes(), int(c.vout[i]), int(c.height[i]), bool(c.coinbase[i]),
         int(c.amount[i]), c.script_bytes(i))
        for i in range(len(c))
    )
    write_utxo_dump(str(theirs), rows)
    assert ours.read_bytes() == theirs.read_bytes()


def test_snapshot_mix(coins):
    kinds = {25: 0, 23: 0, 22: 0}
    for length in coins.script_len:
        if int(length) in kinds:
            kinds[int(length)] += 1
    assert coins.script_bytes(0) == snapshot.EATER_SCRIPT
    assert kinds[25] > len(coins) // 2 and kinds[23] > 0 and kinds[22] > 0


def test_convert_check_accepts_a_correct_output(tmp_path, coins):
    _write_output(str(tmp_path / "out"), _expected_table(coins))
    checks.check_convert(str(tmp_path / "out"), coins)
    lay = layers.layout(str(tmp_path / "out"))
    assert lay["files"] == 3 and lay["rows"] == len(coins) and lay["script_pages"] >= 3


def test_convert_check_rejects_one_changed_amount(tmp_path, coins):
    t = _expected_table(coins)
    amount = t["amount"].to_numpy().copy()
    amount[1234] += 1
    _write_output(str(tmp_path / "out"), t.set_column(4, "amount", pa.array(amount)))
    with pytest.raises(checks.CheckFailed, match="amount differs"):
        checks.check_convert(str(tmp_path / "out"), coins)


def test_convert_check_rejects_an_unsorted_file(tmp_path, coins):
    out = tmp_path / "out"
    _write_output(str(out), _expected_table(coins))
    victim = sorted(glob.glob(str(out / "*.parquet")))[1]
    t = pq.read_table(victim)
    pq.write_table(t.take(np.arange(t.num_rows)[::-1]), victim, compression="zstd")
    with pytest.raises(checks.CheckFailed, match="not sorted by script"):
        checks.check_convert(str(out), coins)


def test_convert_check_rejects_another_codec(tmp_path, coins):
    _write_output(str(tmp_path / "out"), _expected_table(coins), codec="snappy")
    with pytest.raises(checks.CheckFailed, match="not ZSTD"):
        checks.check_convert(str(tmp_path / "out"), coins)


def test_convert_check_rejects_a_dropped_row(tmp_path, coins):
    _write_output(str(tmp_path / "out"), _expected_table(coins).slice(1))
    with pytest.raises(checks.CheckFailed, match="rows written"):
        checks.check_convert(str(tmp_path / "out"), coins)


def test_lookup_check_rejects_a_dropped_row(coins):
    index = checks.lookup_index(coins, [snapshot.EATER_SCRIPT])
    rows = sorted(index[snapshot.EATER_SCRIPT], key=lambda r: r[3])
    assert len(rows) == len(coins) // snapshot.EATER_EVERY
    checks.check_lookup(snapshot.EATER_SCRIPT, rows, index)
    with pytest.raises(checks.CheckFailed, match="expected"):
        checks.check_lookup(snapshot.EATER_SCRIPT, rows[:-1], index)
    with pytest.raises(checks.CheckFailed, match="heights decrease"):
        checks.check_lookup(snapshot.EATER_SCRIPT, rows[::-1], index)


def test_oracle_rule_sees_one_changed_value():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert checks.table_hash(cols, rows) == checks.table_hash(["a", "b"], [("y", 2), ("x", 1)])
    assert checks.table_hash(cols, rows) != checks.table_hash(cols, [(1, "x"), (3, "y")])
    assert checks.table_hash(cols, rows) != checks.table_hash(["b", "c"], rows)


def test_profile_diff_marks_code_and_host():
    from perfbench.profile_diff import diff

    a = {"scan.exec_ms": 100.0, "scan.exec_cpu_ms": 200.0, "scan.open_ms": 80.0,
         "scan.open_cpu_ms": 100.0, "scan.files_read": 4}
    b = {"scan.exec_ms": 150.0, "scan.exec_cpu_ms": 300.0, "scan.open_ms": 120.0,
         "scan.open_cpu_ms": 101.0, "scan.files_read": 1}
    marks = {r["layer"]: r["mark"] for r in diff(a, b)}
    assert marks == {"scan.exec_ms": "code", "scan.open_ms": "host", "scan.files_read": "count"}
    assert [r["layer"] for r in diff(a, b)][0] == "scan.exec_ms"


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(TEST_SEED), "--seconds", "1",
               "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(bench.WORKLOADS))
def test_tiny_run_is_correct_and_complete(workload):
    for trace, names in ((0, bench.END_TO_END), (1, bench.PER_LAYER)):
        res = _run(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert set(res["metrics"]) == set(names)
        if trace == 0:
            assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not glob.glob(os.path.join(ROOT, ".perfbench", "run-*"))


def test_sigterm_mid_workload_leaves_nothing_behind():
    proc = subprocess.Popen(
        RUN + ["--workload", "analytics", "--seed", str(TEST_SEED), "--seconds", "30",
               "--trace", "1", "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{proc.pid}")
    seen: set[int] = set()
    deadline = time.monotonic() + 120
    try:
        # wait until the run has fragments on disk and Python workers: the
        # workload is under way and every kind of process has started
        while time.monotonic() < deadline:
            seen.update(descendants(proc.pid))
            if len(seen) >= 3 and glob.glob(
                os.path.join(run_dir, "fragments", "spark_graft_fragments", "*", "*")
            ):
                break
            time.sleep(0.2)
        else:
            pytest.fail("the run never reached its workload")
        seen.update(descendants(proc.pid))
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=120)
    finally:
        if proc.poll() is None:  # a failed wait: run.py still cleans up
            proc.send_signal(signal.SIGTERM)
            proc.wait(timeout=120)
    assert proc.returncode != 0
    assert out.strip() == ""
    alive = [p for p in seen if os.path.exists(f"/proc/{p}")]
    assert alive == []
    assert not os.path.exists(run_dir)
