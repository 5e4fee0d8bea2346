"""Varint codecs for the postings' positions column.

Every postings table of every field stores its positions in this one
format: a posting's positions are one ``bytes`` value, varint(count) then
varint position deltas (:func:`encode_positions`); a docs-only field stores
an empty value. The analyzer pass emits that buffer directly, so positions
never travel as Arrow int arrays through shuffles (≈3× smaller rows through
sort/exchange/parquet), and the phrase scorers decode it
(:func:`decode_positions`, or one :func:`varint_decode_np` over many rows'
buffers at once). The pure-Python coders are the reference implementations
the numpy decoder is property-tested against.
"""

from __future__ import annotations

from typing import Iterable, List

import numpy as np


def varint_encode(values: Iterable[int]) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def encode_positions(plist: List[int]) -> bytes:
    """One posting's positions → varint(count) + varint deltas. Produced
    directly inside the analyzer UDF."""
    out = bytearray()
    prev = 0
    vals = [len(plist)]
    for p in plist:
        vals.append(p - prev)
        prev = p
    for v in vals:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def decode_positions(buf: bytes) -> List[int]:
    """Inverse of encode_positions (numpy-vectorized decode + prefix sum)."""
    vals = varint_decode_np(buf)
    if not len(vals):
        return []
    return np.cumsum(vals[1:1 + int(vals[0])]).tolist()


def varint_decode(buf: bytes) -> List[int]:
    out: List[int] = []
    v = 0
    shift = 0
    for byte in buf:
        v |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            out.append(v)
            v = 0
            shift = 0
    return out


def varint_decode_np(buf: bytes) -> np.ndarray:
    """Vectorized varint decode (int64 array) — the hot-loop replacement for
    ``varint_decode``. Whole-buffer numpy: terminal bytes
    (high bit clear) delimit groups; each byte contributes
    ``(b & 0x7F) << (7 · offset_in_group)``, summed per group.

    Property-tested equal to ``varint_decode`` for values up to 2^62
    (9 varint bytes — our encoder never emits more for in-range inputs)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if not len(arr):
        return np.empty(0, dtype=np.int64)
    ends = (arr & 0x80) == 0
    gid = np.cumsum(ends) - ends           # 0-based group id per byte
    term_idx = np.flatnonzero(ends)
    group_start = np.empty(len(term_idx), dtype=np.int64)
    group_start[0] = 0
    group_start[1:] = term_idx[:-1] + 1
    pos = np.arange(len(arr), dtype=np.int64) - group_start[gid]
    vals = (arr & 0x7F).astype(np.int64) << (7 * pos)
    out = np.zeros(len(term_idx), dtype=np.int64)
    np.add.at(out, gid, vals)
    return out
