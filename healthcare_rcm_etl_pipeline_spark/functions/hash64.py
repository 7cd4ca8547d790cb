"""Vectorized NumPy twin of Spark's ``xxhash64`` over LONG inputs.

Spark evaluates ``xxhash64(c1, c2, ...)`` as a left fold of
``XXH64.hashLong(value, seed)`` starting from seed 42: the hash of the
first column becomes the seed for the second, and so on (see
org.apache.spark.sql.catalyst.expressions.XxHash64 /
org.apache.spark.unsafe.hash.XXH64 in the Apache Spark source). For an
8-byte long the XXH64 algorithm collapses to a fixed arithmetic sequence —
no buffers, no tail handling — which makes it exactly reproducible with
uint64 NumPy arithmetic, element-wise over whole arrays.

Bit-exactness matters: every minhash-derived oracle (LSH pairs, band
tables, ingest state) is pinned to these hash values, so the Arrow fast
path in ``operators/dedup.minhash_signatures`` must produce the SAME longs
the expression path does. ``tests/test_dedup_similarity.py`` pins parity
against the live Spark expression.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
SEED = np.uint64(42)
_U8 = np.uint64(8)
_U23 = np.uint64(23)
_U27 = np.uint64(27)
_U29 = np.uint64(29)
_U31 = np.uint64(31)
_U32 = np.uint64(32)
_U33 = np.uint64(33)
_U37 = np.uint64(37)
_U64 = np.uint64(64)
# the 4-byte hashInt path's mask (rotation 23 above): the minhash kernel in
# operators/dedup.py applies it to its INT permutation seeds
_M32 = np.uint64(0xFFFFFFFF)


def _rotl(x: np.ndarray, r: np.uint64) -> np.ndarray:
    return (x << r) | (x >> (_U64 - r))


def k1_mix(value) -> np.ndarray:
    """The per-value mixing constant of hashLong: rotl31(v * P2) * P1.
    Depends only on the hashed VALUE, not the seed — precompute it when
    the same values are hashed under many seeds (the minhash inner loop).
    """
    v = np.asarray(value, dtype=np.uint64)
    return _rotl(v * _P2, _U31) * _P1


def fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U33)
    h = h * _P2
    h = h ^ (h >> _U29)
    h = h * _P3
    h = h ^ (h >> _U32)
    return h


def xxh64_long(value, seed=SEED) -> np.ndarray:
    """Spark ``XXH64.hashLong(value, seed)`` element-wise. ``value`` and
    ``seed`` broadcast against each other; int64 inputs are reinterpreted
    as uint64 (same bits). Returns uint64; view as int64 for Spark longs.
    The uint64 wraparound is the algorithm, so NumPy's overflow warning
    (raised for 0-d inputs only) is silenced."""
    v = np.asarray(value)
    if v.dtype != np.uint64:
        v = v.astype(np.int64, copy=False).view(np.uint64)
    s = np.asarray(seed)
    if s.dtype != np.uint64:
        s = s.astype(np.int64, copy=False).view(np.uint64)
    with np.errstate(over="ignore"):
        h = s + _P5 + _U8
        h = h ^ k1_mix(v)
        h = _rotl(h, _U27) * _P1 + _P4
        return fmix(h)
