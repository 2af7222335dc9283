"""Spark's ``xxhash64`` (XXH64, seed 42) of short strings, vectorised in numpy,
so the history seed can carry the program's surrogate keys without a Spark job.
Only inputs shorter than 32 bytes (one accumulator-free pass) are supported.
"""

from __future__ import annotations

import numpy as np

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
SEED = 42


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64(strings) -> np.ndarray:
    """int64 hashes of equal-length ASCII ``strings``, as Spark's
    ``xxhash64(col)`` returns them for a string column."""
    b = np.char.encode(np.asarray(strings, dtype=str), "ascii")
    n, length = len(b), b.dtype.itemsize
    if length >= 32:
        raise ValueError("only strings shorter than 32 bytes are supported")
    raw = np.frombuffer(b.tobytes(), dtype=np.uint8).reshape(n, length)
    with np.errstate(over="ignore"):
        h = np.full(n, np.uint64(SEED) + P5 + np.uint64(length), dtype=np.uint64)
        at = 0
        while at + 8 <= length:
            k = raw[:, at:at + 8].copy().view("<u8")[:, 0]
            h ^= _rotl(k * P2, 31) * P1
            h = _rotl(h, 27) * P1 + P4
            at += 8
        if at + 4 <= length:
            k = raw[:, at:at + 4].copy().view("<u4")[:, 0].astype(np.uint64)
            h ^= k * P1
            h = _rotl(h, 23) * P2 + P3
            at += 4
        while at < length:
            h ^= raw[:, at].astype(np.uint64) * P5
            h = _rotl(h, 11) * P1
            at += 1
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)
