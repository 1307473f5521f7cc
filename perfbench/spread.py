"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/spread.py run OUT.jsonl --workloads convert analytics \\
        --seeds 1-10 [--trace 1]
    python3 perfbench/spread.py summary OUT.jsonl [OUT2.jsonl]

``run`` appends one line per run (workload, seed, trace, run details and
result) to OUT.jsonl, one run at a time, each measuring BENCHMARK.json's
``run_seconds``; ``--trace 1`` makes traced runs, whose ``info`` lines hold
the end-to-end figures the tracing-overhead table compares. ``summary`` prints, per workload
and metric, the median, the quartiles (``statistics.quantiles(n=4)``) and
the quartile distance as a share of the median; with a second file it also
prints the second set's median against the first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    for w in args.workloads:
        for seed in _seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "trace": args.trace, "exit": proc.returncode,
                   "wall_s": round(time.monotonic() - t0, 1)}
            if proc.returncode == 0 and len(lines) >= 2:
                rec["info"] = json.loads(lines[-2])["info"]
                rec["result"] = json.loads(lines[-1])
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(w, seed, proc.returncode, flush=True)
    return 0


def _load(path: str) -> dict[tuple[str, str], list[float]]:
    vals: dict[tuple[str, str], list[float]] = {}
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            res = rec.get("result")
            if not res:
                vals.setdefault((rec["workload"], "<no result>"), []).append(rec["exit"])
                continue
            vals.setdefault((rec["workload"], "failed/attempted"), []).append(
                res["failed"] / res["attempted"]
            )
            vals.setdefault((rec["workload"], "correct"), []).append(float(res["correct"]))
            if "wall_s" in rec:
                vals.setdefault((rec["workload"], "run wall s"), []).append(rec["wall_s"])
            for name, m in res["metrics"].items():
                vals.setdefault((rec["workload"], name), []).append(m["value"])
    return vals


def _stats(v: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(v)
    q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summary(args) -> int:
    first = _load(args.files[0])
    second = _load(args.files[1]) if len(args.files) > 1 else {}
    head = f"{'workload':10} {'metric':22} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8}"
    print(head + ("  median2   ratio  iqr2/med" if second else ""))
    for (w, name), v in first.items():
        med, q1, q3, spread = _stats(v)
        line = f"{w:10} {name:22} {len(v):3d} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}"
        if (w, name) in second:
            m2, _, _, s2 = _stats(second[(w, name)])
            line += f" {m2:9.5g} {m2 / med if med else 0:7.3f} {s2:8.3f}"
        print(line)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--workloads", nargs="+", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    args = p.parse_args(argv)
    return run(args) if args.cmd == "run" else summary(args)


if __name__ == "__main__":
    sys.exit(main())
