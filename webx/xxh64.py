"""Spark-compatible XXH64, in pure Python and vectorized numpy.

Spark's ``F.xxhash64(...)`` folds its arguments left-to-right starting
from seed 42: ``hash = seed; for child: hash = H(child, hash)`` where H
dispatches on type — longs hash as 8 little-endian bytes via a closed
form (no stripe loop), ints as 4 bytes, strings as their UTF-8 bytes
through the full XXH64 algorithm, and arrays fold element-wise. This
module mirrors that exactly (bit-for-bit, verified in
tests/test_xxh64.py against the JVM implementation) so that:

* the MinHash signature fold can run as vectorized numpy inside
  ``mapInPandas`` (webx/dedup.py) instead of an interpreted Catalyst
  expression tree, and
* the DuckDB oracles for the hash-based dedup queries can recompute the
  same signatures/ bands/ simhashes independently (see
  ``webx/oracles.py`` for the pure-SQL port).

Reference: the XXH64 algorithm (Yann Collet, public domain / BSD) as
implemented by Spark's ``sql/catalyst`` XXH64 with seed 42.
"""

from __future__ import annotations

import numpy as np

P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
M64 = (1 << 64) - 1

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


def _round(acc: int, inp: int) -> int:
    return (_rotl((acc + inp * P2) & M64, 31) * P1) & M64


def _merge_round(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * P1 + P4) & M64


def hash_long(v: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 8-byte little-endian long (Spark hashLong)."""
    h = (seed + P5 + 8) & M64
    h ^= _round(0, v & M64)
    h = (_rotl(h, 27) * P1 + P4) & M64
    return _fmix(h)


def hash_int(v: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 4-byte int (Spark hashInt)."""
    h = (seed + P5 + 4) & M64
    h ^= ((v & 0xFFFFFFFF) * P1) & M64
    h = (_rotl(h, 23) * P2 + P3) & M64
    return _fmix(h)


def hash_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Full XXH64 over a byte string (Spark hashUnsafeBytes)."""
    length = len(data)
    off = 0
    if length >= 32:
        v1 = (seed + P1 + P2) & M64
        v2 = (seed + P2) & M64
        v3 = seed & M64
        v4 = (seed - P1) & M64
        while off + 32 <= length:
            v1 = _round(v1, int.from_bytes(data[off : off + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[off + 8 : off + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[off + 16 : off + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[off + 24 : off + 32], "little"))
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + P5) & M64
    h = (h + length) & M64
    while off + 8 <= length:
        h ^= _round(0, int.from_bytes(data[off : off + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & M64
        off += 8
    if off + 4 <= length:
        h ^= (int.from_bytes(data[off : off + 4], "little") * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        off += 4
    while off < length:
        h ^= (data[off] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        off += 1
    return _fmix(h)


def to_signed(h: int) -> int:
    """Unsigned 64-bit → Java signed long (what F.xxhash64 returns)."""
    return h - (1 << 64) if h >= (1 << 63) else h


def to_unsigned(v: int) -> int:
    return v & M64


# ------------------------------------------------------------- numpy kernels
# uint64 arithmetic wraps natively; keep overflow warnings silenced locally.


def _np_rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _np_fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(P3)
    h = h ^ (h >> np.uint64(32))
    return h


def hash_long_np(v: np.ndarray, seed) -> np.ndarray:
    """Vectorized hash_long. ``v`` uint64 array; ``seed`` scalar or
    broadcastable uint64 array. Returns uint64."""
    with np.errstate(over="ignore"):
        v = v.astype(np.uint64, copy=False)
        k1 = _np_rotl(v * np.uint64(P2), 31) * np.uint64(P1)
        h = np.asarray(seed, dtype=np.uint64) + np.uint64((P5 + 8) & M64)
        h = h ^ k1
        h = _np_rotl(h, 27) * np.uint64(P1) + np.uint64(P4)
        return _np_fmix(h)


def hash_int_np(v: np.ndarray, seed) -> np.ndarray:
    """Vectorized hash_int. ``v`` int/uint array (treated as u32)."""
    with np.errstate(over="ignore"):
        u = (np.asarray(v).astype(np.uint64, copy=False)) & np.uint64(0xFFFFFFFF)
        h = np.asarray(seed, dtype=np.uint64) + np.uint64((P5 + 4) & M64)
        h = h ^ (u * np.uint64(P1))
        h = _np_rotl(h, 23) * np.uint64(P2) + np.uint64(P3)
        return _np_fmix(h)


def minhash_slots_np(h0: np.ndarray, starts: np.ndarray, n_hashes: int) -> np.ndarray:
    """MinHash signatures by a per-slot fold: row r, slot i is the signed
    min of Spark's ``xxhash64(h, i)`` = hash_int(i, seed=hash_long(h, 42))
    (i is IntegerType: 4-byte path) over the shingle hashes ``h`` of
    segment r. ``h0`` is a flat uint64 array of shingle hashes and
    ``starts`` the first index of each non-empty segment; returns a
    (len(starts), n_hashes) int64 matrix.

    One slot at a time: hash_long runs once, then each slot is one
    hash_int pass and one ``np.minimum.reduceat``, so the working set is
    a few len(h0) vectors, never the (len(h0), n_hashes) matrix."""
    inner = hash_long_np(h0, np.uint64(SPARK_SEED))  # slot-independent
    sig = np.empty((len(starts), n_hashes), dtype=np.int64)
    for i in range(n_hashes):
        slot = hash_int_np(np.uint64(i), inner).view(np.int64)
        np.minimum.reduceat(slot, starts, out=sig[:, i])
    return sig
