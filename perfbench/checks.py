"""Output checks made apart from the program.

Each check raises ``CheckFailed`` with the first difference it finds:

- ``check_convert``: the Parquet output, read with pyarrow, is the
  generator's multiset of rows; every file is ZSTD-compressed (footer) and
  sorted by ``script``.
- ``check_lookup``: a lookup result equals the rows a plain-Python index of
  the generator's coins holds for that script, with heights not decreasing.
- ``table_hash``: the differential rule of the program's correctness gate
  ``tools/check_correctness.py`` (same row count, same column names, same
  order-insensitive value hash), used to compare a query with its DuckDB
  ``oracle_sql()``.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.check_correctness import table_hash as _gate_hash

from .snapshot import SCRIPT_W, Coins


class CheckFailed(AssertionError):
    pass


def part_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "*.parquet")))


def _hex_txids(col: pa.Array) -> np.ndarray:
    """64-char display txids -> (n, 32) internal-order bytes."""
    col = col.cast(pa.binary())
    offsets = np.frombuffer(col.buffers()[1], np.int32)[col.offset : col.offset + len(col) + 1]
    if not np.array_equal(np.diff(offsets), np.full(len(col), 64)):
        raise CheckFailed("txid column holds a value that is not 64 hex digits")
    data = np.frombuffer(col.buffers()[2], np.uint8)[offsets[0] : offsets[-1]]
    lut = np.full(256, 255, np.uint8)
    lut[np.frombuffer(b"0123456789abcdef", np.uint8)] = np.arange(16, dtype=np.uint8)
    nib = lut[data].reshape(-1, 64)
    if (nib == 255).any():
        raise CheckFailed("txid column holds a non-hex character")
    return ((nib[:, 0::2] << 4) | nib[:, 1::2])[:, ::-1]


def _row_order(txid: np.ndarray, vout: np.ndarray) -> np.ndarray:
    """Sort order on (first 8 txid bytes, vout): the snapshot's row key.

    Two random txids sharing 8 bytes would only make the check report a
    false difference, never hide one."""
    return np.lexsort((vout, txid[:, :8].copy().view(">u8")[:, 0]))


def _first_diff(name: str, got: np.ndarray, want: np.ndarray, order: np.ndarray, coins: Coins):
    bad = np.nonzero(np.any((got != want).reshape(len(got), -1), axis=1))[0]
    if len(bad):
        i = int(order[bad[0]])
        raise CheckFailed(
            f"{name} differs for txid {coins.txid_hex(i)} vout {coins.vout[i]}"
            f" ({len(bad)} rows differ)"
        )


def check_convert(out_dir: str, coins: Coins) -> None:
    files = part_files(out_dir)
    if not files:
        raise CheckFailed(f"no parquet files under {out_dir}")
    tables = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                codec = meta.row_group(rg).column(c).compression
                if codec != "ZSTD":
                    raise CheckFailed(f"{os.path.basename(f)}: column {c} is {codec}, not ZSTD")
        t = pq.read_table(f)
        s = t["script"].combine_chunks()
        if len(s) > 1 and not pc.all(pc.less_equal(s[:-1], s[1:])).as_py():
            raise CheckFailed(f"{os.path.basename(f)} is not sorted by script")
        tables.append(t)
    got = pa.concat_tables(tables).combine_chunks()
    if got.num_rows != len(coins):
        raise CheckFailed(f"{got.num_rows} rows written, {len(coins)} generated")
    g_txid = _hex_txids(got["txid"].chunk(0))
    g_vout = got["vout"].to_numpy()
    go = _row_order(g_txid, g_vout)
    eo = _row_order(coins.txid, coins.vout)
    for name, g, e in [
        ("txid", g_txid[go], coins.txid[eo]),
        ("vout", g_vout[go], coins.vout[eo]),
        ("height", got["height"].to_numpy()[go], coins.height[eo]),
        ("coinbase", got["coinbase"].to_numpy(zero_copy_only=False)[go], coins.coinbase[eo]),
        ("amount", got["amount"].to_numpy()[go], coins.amount[eo]),
    ]:
        _first_diff(name, g, e, eo, coins)
    # scripts: compare lengths, then the concatenated payloads in row order
    g_script = pc.take(got["script"].chunk(0), pa.array(go))
    offs = np.frombuffer(g_script.buffers()[1], np.int32)[: len(go) + 1]
    e_len = coins.script_len[eo]
    _first_diff("script length", np.diff(offs), e_len, eo, coins)
    e_mat = coins.script[eo]
    want = e_mat[np.arange(e_mat.shape[1])[None, :] < e_len[:, None]]
    have = np.frombuffer(g_script.buffers()[2], np.uint8)[offs[0] : offs[-1]]
    diff = np.nonzero(have != want)[0]
    if len(diff):
        row = int(np.searchsorted(offs - offs[0], diff[0], side="right")) - 1
        i = int(eo[row])
        raise CheckFailed(f"script differs for txid {coins.txid_hex(i)} vout {coins.vout[i]}")


def lookup_index(coins: Coins, keys: list[bytes]) -> dict[bytes, list[tuple]]:
    """Plain-Python index: script -> sorted (txid, vout, amount, height) rows."""
    index: dict[bytes, list[tuple]] = {k: [] for k in keys}
    # candidate rows share the key's length and first 8 payload-bearing bytes
    probe = coins.script[:, 3:11].copy().view("<u8")[:, 0]
    for k in set(keys):
        kb = np.frombuffer(k.ljust(SCRIPT_W, b"\0"), np.uint8)
        cand = np.nonzero(
            (coins.script_len == len(k)) & (probe == kb[3:11].copy().view("<u8")[0])
        )[0]
        for i in cand:
            if coins.script_bytes(i) == k:
                index[k].append(
                    (coins.txid_hex(i), int(coins.vout[i]), int(coins.amount[i]), int(coins.height[i]))
                )
        index[k].sort()
    return index


def check_lookup(key: bytes, rows: list[tuple], index: dict[bytes, list[tuple]]) -> None:
    heights = [r[3] for r in rows]
    if any(a > b for a, b in zip(heights, heights[1:])):
        raise CheckFailed(f"lookup {key.hex()}: heights decrease")
    if sorted(rows) != index[key]:
        raise CheckFailed(
            f"lookup {key.hex()}: {len(rows)} rows returned, {len(index[key])} expected"
        )


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, value hash): the gate's own
    ``table_hash`` with the column names it compares beside it."""
    count, digest = _gate_hash(cols, rows)
    return count, tuple(sorted(cols)), digest
