"""Suffix-array family weak-scaling probe at 1x / 16x / 64x documents.

The round-10 verdict trusted the SA exponents (0.34/0.28) measured at
16x on small absolute times for the heaviest primitive in the library;
this probe adds the 64x octave (documents only — the SA family never
touches the other tables) to guard the log2(maxlen)-rounds claim before
it is trusted at 100 TB.

Corpus construction matches tools/bench_query_scale.py exactly: copy i
shifts doc_id by i*10M and suffixes every word with "c{i}", so per-copy
repeat structure is preserved while suffixes never collide across
copies — k independent corpora, the honest weak-scaling direction.

Timing protocol: the SA relations are memoized per session and corpus
since round 10, so every COLD rep explicitly drops the registry memo's
suffix_ladder and sa_perpos entries first. Each rep then times,
in order:
  1. q_text_suffix_ranks       COLD  — the full prefix-doubling ladder
  2. q_text_longest_repeat     WARM ladder — the incremental SA-index +
     LCP-walk cost on top of the shared ladder (the suite composition)
  3. q_text_distinct_substrings WARM perpos — the two scalar folds
Exponents fit log(t_64/t_1)/log(64); < 1.0 = sublinear.

Usage: python tools/bench_sa_depth.py [out_json]  (default
BENCH_sa_depth.json). Never run concurrently with another Spark job.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = sys.argv[1] if len(sys.argv) > 1 else "BENCH_sa_depth.json"
SCALES = [1, 16, 64]
REPS = {1: 3, 16: 2, 64: 2}
ID_OFFSET = 10_000_000
WORK = "/tmp/sa_depth"

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build_dirs(spark) -> dict[int, str]:
    """One dir per scale: documents.parquet = k salted copies, every
    other table a symlink to the base fixture."""
    import duckdb

    os.makedirs(WORK, exist_ok=True)
    dirs = {}
    for k in SCALES:
        d = os.path.join(WORK, f"x{k}")
        docs = os.path.join(d, "documents.parquet")
        if not os.path.exists(docs):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            for t in TABLES:
                if t != "documents":
                    os.symlink(f"{BASE}/{t}.parquet", f"{d}/{t}.parquet")
            con = duckdb.connect()
            parts = []
            for i in range(k):
                salt = (
                    "text" if i == 0 else
                    f"""array_to_string(list_transform(string_split(text, ' '),
                        w -> w || 'c{i}'), ' ')"""
                )
                parts.append(
                    f"SELECT doc_id + {i * ID_OFFSET} AS doc_id, {salt} AS text,"
                    f" lang, source, n_chars"
                    f" FROM read_parquet('{BASE}/documents.parquet')"
                )
            con.execute(
                f"COPY ({' UNION ALL '.join(parts)}) TO '{docs}'"
                f" (FORMAT PARQUET, COMPRESSION ZSTD)"
            )
            con.close()
        dirs[k] = d
    return dirs


def main() -> None:
    from utxo_to_parquet_spark.operators import all_queries
    from utxo_to_parquet_spark.operators.registry import memo_drop
    from utxo_to_parquet_spark.session import get_spark

    spark = get_spark("bench_sa_depth")
    qs = all_queries()
    dirs = build_dirs(spark)

    # warm python workers / reader on the base corpus, then drop caches
    qs["q_text_suffix_ranks"](spark, dirs[1]).collect()
    memo_drop("suffix_ladder", "sa_perpos")

    def load1() -> float:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    ops = [
        ("q_text_suffix_ranks", "cold"),
        ("q_text_longest_repeat", "warm_ladder"),
        ("q_text_distinct_substrings", "warm_perpos"),
    ]
    secs: dict[str, dict[str, float]] = {name: {} for name, _ in ops}
    loads: dict[str, list[float]] = {}
    for k in SCALES:
        best = {name: float("inf") for name, _ in ops}
        loads[str(k)] = []
        for _ in range(REPS[k]):
            memo_drop("suffix_ladder", "sa_perpos")
            loads[str(k)].append(round(load1(), 2))
            for name, _mode in ops:
                t0 = time.time()
                n = len(qs[name](spark, dirs[k]).collect())
                best[name] = min(best[name], time.time() - t0)
                print(f"{name} x{k}: {time.time() - t0:.1f}s ({n} rows)",
                      flush=True)
        for name, _mode in ops:
            secs[name][str(k)] = round(best[name], 2)

    result = {
        "metric": "sa_family_weak_scaling",
        "base": BASE,
        "scales": SCALES,
        "reps": REPS,
        "loadavg_per_rep": loads,
        "copies_note": "documents-only salted copies, protocol of"
                       " bench_query_scale.py; caches cleared per rep",
        "ops": {
            name: {
                "mode": mode,
                "sec": secs[name],
                "exponent_16": round(
                    math.log(secs[name]["16"] / secs[name]["1"])
                    / math.log(16), 2),
                "exponent_64": round(
                    math.log(secs[name]["64"] / secs[name]["1"])
                    / math.log(64), 2),
            }
            for name, mode in ops
        },
    }
    line = json.dumps(result)
    with open(OUT, "w") as f:
        f.write(line + "\n")
    print(line, flush=True)


if __name__ == "__main__":
    main()
