"""Spark's ``xxhash64`` on the driver, in pure Python.

The store lays series out in ``p_bucket = pmod(xxhash64(key), n)``
directories. A key-pruned read needs the same bucket for a handful of
literal keys at plan time; computing it here keeps that lookup free of any
Spark job. Spark's string ``xxhash64`` is standard XXH64 with seed 42 over
the key's UTF-8 bytes, read little-endian
(``org.apache.spark.sql.catalyst.expressions.XXH64``).
"""

from __future__ import annotations

import struct

SPARK_SEED = 42

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes) -> int:
    """XXH64 of ``data`` under Spark's seed, as a signed 64-bit int
    (Spark's ``LongType``)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (SPARK_SEED + _P1 + _P2) & _M
        v2 = (SPARK_SEED + _P2) & _M
        v3 = SPARK_SEED
        v4 = (SPARK_SEED - _P1) & _M
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = SPARK_SEED + _P5
    h = (h + n) & _M
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((k * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def spark_bucket(key: str, n_buckets: int) -> int:
    """``pmod(xxhash64(key), n_buckets)`` exactly as Spark computes it."""
    return xxh64(key.encode("utf-8")) % n_buckets
