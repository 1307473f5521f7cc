"""Seeded synthetic ``dumptxoutset`` snapshots, written without the program.

The benchmark's own encoder: it draws the coins with numpy and serializes
them in Bitcoin Core's snapshot format (run-length txid groups, core
VARINTs, compressed amounts and scripts), so the program receives only a
file and every check compares against rows the program never produced.

Script mix per row (the mix of the program's FIXTURES.md §2): every 50th
row is the flagship ``EATER_SCRIPT``; of the rest about 60% P2PKH, 15%
P2SH, 5% compressed P2PK, 2% uncompressed P2PK (two distinct keys, so
they repeat), 8% short OP_RETURN and 10% witness-v0 scripts. Coins come
in txid groups: 70% single, 30% of 1-20 outputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

EATER_SCRIPT = bytes.fromhex("76a914759d6677091e973b9e9d99f19c68fbf43e3f05f988ac")
EATER_EVERY = 50

_P = 2**256 - 2**32 - 977
_GEN_X = bytes.fromhex("79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798")

SCRIPT_W = 67  # widest script: uncompressed P2PK
_HEADER = b"utxo\xff" + (2).to_bytes(2, "little") + bytes.fromhex("f9beb4d9") + b"\x00" * 32


def _uncompressed(parity: int) -> bytes:
    x = int.from_bytes(_GEN_X, "big")
    y = pow((pow(x, 3, _P) + 7) % _P, (_P + 1) // 4, _P)
    if y & 1 != parity:
        y = _P - y
    return bytes([65, 4]) + _GEN_X + y.to_bytes(32, "big") + bytes([0xAC])


@dataclass
class Coins:
    """Column arrays of a snapshot; scripts are right-padded to SCRIPT_W."""

    txid: np.ndarray  # (n, 32) uint8, internal byte order
    vout: np.ndarray  # int64
    height: np.ndarray  # int64
    coinbase: np.ndarray  # bool
    amount: np.ndarray  # int64
    script: np.ndarray  # (n, SCRIPT_W) uint8
    script_len: np.ndarray  # int64
    group_start: np.ndarray  # bool: row opens a txid group
    group_size: np.ndarray  # int64: size of the row's group

    def __len__(self) -> int:
        return len(self.vout)

    def script_bytes(self, i: int) -> bytes:
        return self.script[i, : self.script_len[i]].tobytes()

    def txid_hex(self, i: int) -> str:
        return self.txid[i, ::-1].tobytes().hex()


def make_coins(n: int, seed: int) -> Coins:
    rng = np.random.default_rng([seed, n])
    # group sizes until n rows are covered; the last group is clipped
    sizes = np.where(
        rng.random(n) < 0.3, rng.integers(1, 21, n), 1
    ).astype(np.int64)
    ends = np.cumsum(sizes)
    g = int(np.searchsorted(ends, n)) + 1
    sizes = sizes[:g]
    sizes[-1] -= int(ends[g - 1]) - n
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    group_of = np.repeat(np.arange(g), sizes)
    vout = np.arange(n, dtype=np.int64) - starts[group_of]
    group_start = vout == 0
    txid = rng.integers(0, 256, (g, 32), dtype=np.uint8)[group_of]

    height = rng.integers(1, 900_001, n, dtype=np.int64)
    coinbase = rng.random(n) < 0.01
    r = rng.random(n)
    round_amt = np.array([1, 546, 10_000, 100_000, 1_000_000, 100_000_000], np.int64)
    amount = np.where(
        r < 0.3,
        round_amt[rng.integers(0, 6, n)],
        np.where(
            r < 0.6,
            rng.integers(0, 11, n) * 10 ** rng.integers(0, 9, n),
            rng.integers(0, 2_000_000_001, n),
        ),
    ).astype(np.int64)

    script = np.zeros((n, SCRIPT_W), np.uint8)
    slen = np.zeros(n, np.int64)
    h = rng.integers(0, 256, (n, 32), dtype=np.uint8)
    s = rng.random(n)
    kind = np.select(
        [s < 0.60, s < 0.75, s < 0.80, s < 0.82, s < 0.90], [0, 1, 2, 3, 4], 5
    )
    kind[np.arange(n) % EATER_EVERY == 0] = 6
    m = kind == 0  # P2PKH
    script[m, :3] = (0x76, 0xA9, 20)
    script[m, 3:23] = h[m, :20]
    script[m, 23:25] = (0x88, 0xAC)
    slen[m] = 25
    m = kind == 1  # P2SH
    script[m, :2] = (0xA9, 20)
    script[m, 2:22] = h[m, :20]
    script[m, 22] = 0x87
    slen[m] = 23
    m = kind == 2  # compressed P2PK
    script[m, 0] = 33
    script[m, 1] = rng.integers(2, 4, int(m.sum()))
    script[m, 2:34] = h[m]
    script[m, 34] = 0xAC
    slen[m] = 35
    m = kind == 3  # uncompressed P2PK, one of two valid keys
    pubs = np.frombuffer(_uncompressed(0) + _uncompressed(1), np.uint8).reshape(2, 67)
    script[m] = pubs[rng.integers(0, 2, int(m.sum()))]
    slen[m] = 67
    m = kind == 4  # OP_RETURN with a 1-40 byte push
    push = rng.integers(1, 41, int(m.sum()))
    script[m, 0] = 0x6A
    script[m, 1] = push
    body = h[m, :].copy()
    body[np.arange(32)[None, :] >= push[:, None]] = 0
    script[m, 2:34] = body
    wide = push > 32
    tail = rng.integers(0, 256, (int(wide.sum()), 8), dtype=np.uint8)
    tail[np.arange(8)[None, :] >= (push[wide] - 32)[:, None]] = 0
    idx = np.nonzero(m)[0][wide]
    script[idx, 34:42] = tail
    slen[m] = 2 + push
    m = kind == 5  # witness v0 key hash
    script[m, :2] = (0x00, 0x14)
    script[m, 2:22] = h[m, :20]
    slen[m] = 22
    m = kind == 6
    script[m, :25] = np.frombuffer(EATER_SCRIPT, np.uint8)
    slen[m] = 25
    return Coins(
        txid, vout, height, coinbase, amount, script, slen, group_start,
        sizes[group_of],
    )


def _core_varint(v: np.ndarray, width: int) -> tuple[np.ndarray, np.ndarray]:
    """Bitcoin Core VARINT of each value, right-aligned in ``width`` bytes."""
    out = np.zeros((len(v), width), np.uint8)
    length = np.zeros(len(v), np.int64)
    active = np.ones(len(v), bool)
    v = v.astype(np.int64).copy()
    for k in range(width):
        byte = (v & 0x7F) | (0x80 if k else 0)
        out[:, width - 1 - k] = np.where(active, byte, 0)
        length += active
        more = active & (v > 0x7F)
        v = np.where(more, (v >> 7) - 1, v)
        active = more
    if active.any():
        raise ValueError("varint wider than its field")
    return out, length


def compress_amounts(amount: np.ndarray) -> np.ndarray:
    n = amount.copy()
    e = np.zeros_like(n)
    for _ in range(9):
        m = (n != 0) & (n % 10 == 0) & (e < 9)
        n = np.where(m, n // 10, n)
        e += m
    out = np.where(e < 9, 1 + ((n // 10) * 9 + n % 10 - 1) * 10 + e, 1 + (n - 1) * 10 + 9)
    return np.where(amount == 0, 0, out)


def _compressed_scripts(c: Coins, sl: slice) -> tuple[np.ndarray, np.ndarray]:
    sc, ln = c.script[sl], c.script_len[sl]
    k = len(ln)
    out = np.zeros((k, 1 + 48), np.uint8)
    olen = np.zeros(k, np.int64)
    p2pkh = (ln == 25) & (sc[:, 0] == 0x76) & (sc[:, 1] == 0xA9)
    p2sh = (ln == 23) & (sc[:, 0] == 0xA9)
    p2pk = (ln == 35) & (sc[:, 0] == 33)
    p2pku = (ln == 67) & (sc[:, 0] == 65)
    raw = ~(p2pkh | p2sh | p2pk | p2pku)
    out[p2pkh, 0] = 0
    out[p2pkh, 1:21] = sc[p2pkh, 3:23]
    olen[p2pkh] = 21
    out[p2sh, 0] = 1
    out[p2sh, 1:21] = sc[p2sh, 2:22]
    olen[p2sh] = 21
    out[p2pk, 0] = sc[p2pk, 1]
    out[p2pk, 1:33] = sc[p2pk, 2:34]
    olen[p2pk] = 33
    out[p2pku, 0] = 4 + (sc[p2pku, 65] & 1)
    out[p2pku, 1:33] = sc[p2pku, 2:34]
    olen[p2pku] = 33
    if (ln[raw] + 6 > 0x7F).any():
        raise ValueError("raw script too long for a one-byte size")
    out[raw, 0] = ln[raw] + 6
    out[raw, 1:43] = sc[raw, :42]
    olen[raw] = 1 + ln[raw]
    return out, olen


def write_snapshot(path: str, c: Coins, chunk: int = 250_000) -> None:
    """Serialize ``c`` as a ``dumptxoutset`` file at ``path``."""
    n = len(c)
    if (c.group_size >= 0xFD).any() or (c.vout >= 0xFD).any():
        raise ValueError("group too large for one-byte CompactSize fields")
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(_HEADER + n.to_bytes(8, "little"))
        for a in range(0, n, chunk):
            sl = slice(a, min(n, a + chunk))
            start = c.group_start[sl]
            code, code_len = _core_varint(c.height[sl] * 2 + c.coinbase[sl], 4)
            amt, amt_len = _core_varint(compress_amounts(c.amount[sl]), 6)
            scr, scr_len = _compressed_scripts(c, sl)
            fields = [
                (c.txid[sl], np.where(start, 32, 0)),
                (c.group_size[sl, None].astype(np.uint8), start.astype(np.int64)),
                (c.vout[sl, None].astype(np.uint8), np.ones(len(start), np.int64)),
                (code, code_len),
                (amt, amt_len),
                (scr, scr_len),
            ]
            mats, masks = [], []
            for mat, ln in fields:
                w = mat.shape[1]
                col = np.arange(w)[None, :]
                # txid, counts and scripts are left-aligned, varints right
                right = mat is code or mat is amt
                masks.append(col >= w - ln[:, None] if right else col < ln[:, None])
                mats.append(mat)
            f.write(np.hstack(mats)[np.hstack(masks)].tobytes())
    os.replace(tmp, path)
