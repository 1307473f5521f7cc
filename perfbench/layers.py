"""Per-layer counters read from outside the program: Spark's event log,
the executed plan's SQL metrics, and Parquet footers and page headers."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import pyarrow.parquet as pq

# SQL metric holding Python-worker run time; its task updates are in ms
PYTHON_RUN_METRIC = "time to run Python workers"


def event_log_totals(path: str, group_prefix: str) -> dict[str, float]:
    """Task totals over the jobs whose job group starts with ``group_prefix``."""
    stage_in_group: set[int] = set()
    tot: dict[str, float] = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if group.startswith(group_prefix):
                    stage_in_group.update(e["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_in_group:
                tm = e.get("Task Metrics") or {}
                tot["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                tot["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                tot["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_RUN_METRIC:
                        tot["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
    return {k: tot.get(k, 0.0) for k in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "python_worker_s")}


def scan_metrics(jplan) -> dict[str, int]:
    """numFiles, filesSize and numOutputRows summed over the Parquet scans
    of an executed (possibly adaptive) physical plan."""
    tot = {"files": 0, "bytes": 0, "rows": 0}
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "FileSourceScanExec":
            m = node.metrics()
            tot["files"] += int(m.apply("numFiles").value())
            tot["bytes"] += int(m.apply("filesSize").value())
            tot["rows"] += int(m.apply("numOutputRows").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return tot


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _skip(buf: bytes, pos: int, ttype: int) -> int:
    """Skip one Thrift compact-protocol value of type ``ttype``."""
    if ttype in (1, 2):  # bool folded into the field header
        return pos
    if ttype == 3:
        return pos + 1
    if ttype in (4, 5, 6):
        return _varint(buf, pos)[1]
    if ttype == 7:
        return pos + 8
    if ttype == 8:
        n, pos = _varint(buf, pos)
        return pos + n
    if ttype in (9, 10):
        head = buf[pos]
        pos += 1
        n, etype = head >> 4, head & 0x0F
        if n == 15:
            n, pos = _varint(buf, pos)
        for _ in range(n):
            pos = _skip(buf, pos, 1 if etype == 2 else etype)
        return pos
    if ttype == 11:
        n, pos = _varint(buf, pos)
        if n:
            kv = buf[pos]
            pos += 1
            for _ in range(n):
                pos = _skip(buf, pos, kv >> 4)
                pos = _skip(buf, pos, kv & 0x0F)
        return pos
    if ttype == 12:
        return _struct(buf, pos, {})[1]
    raise ValueError(f"unknown thrift compact type {ttype}")


def _struct(buf: bytes, pos: int, want: dict[int, int]) -> tuple[dict[int, int], int]:
    """Read a compact struct; return the i32 fields listed in ``want``."""
    got: dict[int, int] = {}
    fid = 0
    while True:
        head = buf[pos]
        pos += 1
        if head == 0:
            return got, pos
        ttype, delta = head & 0x0F, head >> 4
        if delta:
            fid += delta
        else:
            z, pos = _varint(buf, pos)
            fid = (z >> 1) ^ -(z & 1)
        if fid in want and ttype == 5:
            z, pos = _varint(buf, pos)
            got[fid] = (z >> 1) ^ -(z & 1)
        else:
            pos = _skip(buf, pos, ttype)


def data_pages(path: str, column: str) -> int:
    """Data pages of ``column`` in one Parquet file, from its page headers."""
    meta = pq.ParquetFile(path).metadata
    idx = meta.schema.names.index(column)
    pages = 0
    with open(path, "rb") as fh:
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(idx)
            start = col.data_page_offset
            if col.has_dictionary_page:
                start = min(col.dictionary_page_offset, start)
            fh.seek(start)
            buf = fh.read(col.total_compressed_size)
            pos = 0
            while pos < len(buf):
                # PageHeader: 1 type, 2 uncompressed size, 3 compressed size
                hdr, pos = _struct(buf, pos, {1: 0, 3: 0})
                if hdr.get(1) in (0, 3):  # DATA_PAGE, DATA_PAGE_V2
                    pages += 1
                pos += hdr[3]
    return pages


def layout(out_dir: str) -> dict[str, int]:
    """Files, row groups, script data pages, bytes and rows of a Parquet dir."""
    files = sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    row_groups = rows = size = pages = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        row_groups += meta.num_row_groups
        rows += meta.num_rows
        size += os.path.getsize(f)
        pages += data_pages(f, "script")
    return {"files": len(files), "row_groups": row_groups, "script_pages": pages, "bytes": size, "rows": rows}
