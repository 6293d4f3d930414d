"""Vectorised XXH64 over fixed-width byte strings, bit-compatible with Spark's
``xxhash64`` (seed 42) on UTF-8 strings shorter than 32 bytes.

The planted truth needs the logical partition of every generated key
(``pmod(xxhash64(key), P)``, the same formula the engine uses); hashing in numpy
keeps that truth closed-form and independent of the engine under test.
"""

from __future__ import annotations

import numpy as np

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_fixed(data: np.ndarray, seed: int = SPARK_SEED) -> np.ndarray:
    """Hash each row of a (n, width) uint8 matrix; returns signed int64 like
    Spark. Width must be below 32 (the engine's short-input path)."""
    n, width = data.shape
    if width >= 32:
        raise ValueError("xxh64_fixed handles widths below 32 bytes")
    data = np.ascontiguousarray(data, dtype=np.uint8)
    with np.errstate(over="ignore"):
        h = np.full(n, np.uint64(seed) + P5 + np.uint64(width), dtype=np.uint64)
        pos = 0
        while pos + 8 <= width:
            k = data[:, pos : pos + 8].copy().view("<u8").ravel()
            h ^= _rotl(k * P2, 31) * P1
            h = _rotl(h, 27) * P1 + P4
            pos += 8
        if pos + 4 <= width:
            k = data[:, pos : pos + 4].copy().view("<u4").ravel().astype(np.uint64)
            h ^= k * P1
            h = _rotl(h, 23) * P2 + P3
            pos += 4
        while pos < width:
            h ^= data[:, pos].astype(np.uint64) * P5
            h = _rotl(h, 11) * P1
            pos += 1
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def pmod_partition(data: np.ndarray, num_partitions: int) -> np.ndarray:
    """``pmod(xxhash64(key), P)`` for each row of a fixed-width byte matrix."""
    return np.mod(xxh64_fixed(data), num_partitions).astype(np.int64)
