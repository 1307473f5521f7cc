"""Rank the per-layer differences between two sets of traced runs.

    python3 perfbench/profile_diff.py A.out B.out

Each file holds the standard output of one or more traced runs
(``run.py ... --trace 1``) of the same workload; a layer's value on each
side is its median over that side's runs. Time layers are paired with
their CPU twin (``x_s`` with ``x_cpu_s``, ``x_ms`` with ``x_cpu_ms``) and
each delta is marked:

- ``code``: wall time and CPU time moved the same way by more than
  ``THRESHOLD`` of their A value, so the program did more or less work;
- ``host``: wall time moved, CPU time did not: waiting, or a loaded host;
- ``cpu``: CPU time moved, wall time did not;
- ``moved``: a time without a CPU twin (the ``exec.*`` task totals) moved;
- ``-``: neither moved.

Analytics runs add one row per query and layer (build, plan, exec), taken
as medians over the timed passes.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys

_TIME = re.compile(r"^(?P<base>.+)_(?P<unit>s|ms)$")
# a layer moved when it changed by more than this share of its A value
THRESHOLD = 0.10


def load(path: str) -> tuple[dict[str, float], set[str]]:
    """Median per-layer values (and per-query layers) over the runs in a file."""
    runs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            doc = json.loads(line)
            info = doc.get("info")
            if info and info.get("trace") == 1:
                runs.append(info)
    if not runs:
        raise SystemExit(f"{path}: no traced run output (run.py --trace 1)")
    workloads = {r["workload"] for r in runs}
    samples: dict[str, list[float]] = {}
    for info in runs:
        vals = dict(info["layers"])
        per_query: dict[str, list[float]] = {}
        for p in (p for p in info.get("passes_detail", []) if p["timed"]):
            for q, spans in p.get("query_layers", {}).items():
                for layer, (wall, cpu) in spans.items():
                    per_query.setdefault(f"{q}.{layer}_s", []).append(wall)
                    per_query.setdefault(f"{q}.{layer}_cpu_s", []).append(cpu)
        vals.update({k: statistics.median(v) for k, v in per_query.items()})
        for k, v in vals.items():
            samples.setdefault(k, []).append(float(v))
    return {k: statistics.median(v) for k, v in samples.items()}, workloads


def _moved(a: float, b: float) -> int:
    if a == b:
        return 0
    if a == 0:
        return 1 if b > 0 else -1
    rel = (b - a) / abs(a)
    return 0 if abs(rel) <= THRESHOLD else (1 if rel > 0 else -1)


def diff(a: dict[str, float], b: dict[str, float]) -> list[dict]:
    rows = []
    for name in sorted(set(a) & set(b)):
        m = _TIME.match(name)
        if "_cpu_" in name:
            continue
        row = {"layer": name, "a": a[name], "b": b[name], "delta": b[name] - a[name]}
        if m:
            twin = f"{m['base']}_cpu_{m['unit']}"
            scale = 1e-3 if m["unit"] == "ms" else 1.0
            row["delta_s"] = row["delta"] * scale
            wall = _moved(a[name], b[name])
            if twin in a and twin in b:
                row["cpu_a"], row["cpu_b"] = a[twin], b[twin]
                cpu = _moved(a[twin], b[twin])
                row["mark"] = (
                    "code" if wall and cpu == wall
                    else "host" if wall
                    else "cpu" if cpu
                    else "-"
                )
            else:
                row["mark"] = "-" if not wall else "moved"
        else:
            row["mark"] = "count" if _moved(a[name], b[name]) else "-"
        rows.append(row)
    # times first, by the seconds they moved; then counters by relative change
    rows.sort(
        key=lambda r: (
            "delta_s" not in r,
            -abs(r.get("delta_s", 0.0)),
            -abs(r["delta"]) / (abs(r["a"]) or 1.0),
        )
    )
    return rows


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("a")
    p.add_argument("b")
    args = p.parse_args(argv)
    a, wa = load(args.a)
    b, wb = load(args.b)
    if wa != wb:
        print(f"warning: comparing workloads {sorted(wa)} with {sorted(wb)}", file=sys.stderr)
    rows = diff(a, b)
    print(f"{'layer':46} {'A':>12} {'B':>12} {'delta':>11} {'cpu A':>10} {'cpu B':>10}  mark")
    for r in rows:
        print(
            f"{r['layer']:46} {r['a']:12.4g} {r['b']:12.4g} {r['delta']:+11.4g}"
            f" {r.get('cpu_a', float('nan')):10.4g} {r.get('cpu_b', float('nan')):10.4g}  {r['mark']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
