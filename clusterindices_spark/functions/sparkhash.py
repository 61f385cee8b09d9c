"""NumPy twins of Spark's ``xxhash64`` and ``hash`` (Murmur3), bit-exact.

Spark folds a multi-column hash left to right: the running value starts
at the seed 42 and each child is hashed with the running value as its
seed. ``xxhash64`` hashes an int child with ``XXH64.hashInt``, a long
child with ``XXH64.hashLong`` and a string child with
``XXH64.hashUnsafeBytes`` over its UTF-8 bytes; ``hash`` hashes a long
child with ``Murmur3_x86_32.hashLong`` and returns an int.

The arithmetic is unsigned 64-bit (32-bit for Murmur3) NumPy arithmetic,
which wraps as the JVM's signed arithmetic does; results are viewed back
as int64 (int32). ``tests/test_sparkhash.py`` checks every function
against Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SPARK_SEED = 42

P1, P2, P5 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x27D4EB2F165667C5
_P1, _P2, _P5 = np.uint64(P1), np.uint64(P2), np.uint64(P5)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_U = {r: (np.uint64(r), np.uint64(64 - r)) for r in (1, 7, 11, 12, 18, 23, 27, 31)}


def _u64(x: int) -> np.uint64:
    return np.uint64(x % (1 << 64))


def _rotl(x, r):
    left, right = _U[r]
    return (x << left) | (x >> right)


def _fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _round(acc, word):
    return _rotl(acc + word * _P2, 31) * _P1


def xxhash64_ints(values) -> np.ndarray:
    """``XXH64.hashInt`` of each int32 value with seed 42:
    ``xxhash64(lit(i))``, the running value after a fold's first child."""
    v = np.asarray(values, np.int32).view(np.uint32).astype(np.uint64)
    h = _u64(SPARK_SEED + P5 + 4)
    h = h ^ (v * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3).view(np.int64)


def xxhash64_long_key(values) -> np.ndarray:
    """The seed-independent half of ``XXH64.hashLong`` for each int64
    value, ``rotl(v·P2, 31)·P1``: computed once and finished per seed by
    ``xxhash64_long_finish``."""
    return _round(np.uint64(0), np.asarray(values, np.int64).view(np.uint64))


def xxhash64_long_finish(key: np.ndarray, seed: int, out: np.ndarray | None = None):
    """``XXH64.hashLong(v, seed)`` (int64) from ``key = xxhash64_long_key(v)``.
    ``out``, when given, is a uint64 buffer of ``key``'s length that
    receives the result in place."""
    h = np.bitwise_xor(key, _u64(seed + P5 + 8), out=out)
    t = h >> _U[27][1]
    h <<= _U[27][0]
    h |= t
    h *= _P1
    h += _P4
    for shift, mult in ((33, _P2), (29, _P3)):
        np.right_shift(h, np.uint64(shift), out=t)
        h ^= t
        h *= mult
    np.right_shift(h, np.uint64(32), out=t)
    h ^= t
    return h.view(np.int64)


def _words(buf: np.ndarray, dtype: str) -> np.ndarray:
    """Every little-endian ``dtype`` word of ``buf``, one per byte offset
    (an overlapping, unaligned view)."""
    width = np.dtype(dtype).itemsize
    return np.ndarray((len(buf) - width + 1,), dtype, buffer=buf, strides=(1,))


def arrow_bytes(values: pa.Array):
    """(data, start, length) of a string or binary Arrow array: its data
    buffer as uint8 and each value's byte span in it."""
    wide = pa.types.is_large_string(values.type) or pa.types.is_large_binary(values.type)
    off_type = np.dtype(np.int64 if wide else np.int32)
    n = len(values)
    bufs = values.buffers()
    offsets = np.frombuffer(bufs[1], off_type, n + 1, values.offset * off_type.itemsize)
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return data, offsets[:-1].astype(np.int64), np.diff(offsets).astype(np.int64)


# spans per block of the tail phases: a block's temporaries stay in cache
_BLOCK = 1 << 15


def xxhash64_spans(data, start, length) -> np.ndarray:
    """``XXH64.hashUnsafeBytes`` with seed 42 of each byte span
    data[start:start+length] of the uint8 array ``data``: Spark's
    ``xxhash64(s)`` of a string s with those UTF-8 bytes."""
    seed = SPARK_SEED
    buf = np.zeros(len(data) + 32, np.uint8)
    buf[: len(data)] = data
    w8, w4 = _words(buf, "<u8"), _words(buf, "<u4")
    start = np.asarray(start, np.int64)
    length = np.asarray(length, np.int64)

    h = np.full(len(start), _u64(seed + P5), np.uint64)
    n_stripes = length // 32
    big = np.flatnonzero(n_stripes)
    if len(big):
        v = [
            np.full(len(big), _u64(seed + init), np.uint64)
            for init in (P1 + P2, P2, 0, -P1)
        ]
        act = np.arange(len(big))
        k = 0
        while len(act):
            at = start[big[act]] + 32 * k
            for lane in range(4):
                v[lane][act] = _round(v[lane][act], w8[at + 8 * lane])
            k += 1
            act = act[n_stripes[big[act]] > k]
        acc = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for lane in range(4):
            acc = (acc ^ _round(np.uint64(0), v[lane])) * _P1 + _P4
        h[big] = acc
    h += length.astype(np.uint64)
    pos = start + 32 * n_stripes
    rest = length - 32 * n_stripes  # < 32: up to 3 words, a half word, 3 bytes
    # every span runs every step, and np.where keeps the result of those
    # it has bytes for; the reads past a span's end stay inside the padding
    for lo in range(0, len(h), _BLOCK):
        hb, p, r = (a[lo : lo + _BLOCK] for a in (h, pos, rest))
        for k in range(3):
            live = r >= 8 * (k + 1)
            word = _round(np.uint64(0), w8[p + 8 * k])
            hb = np.where(live, _rotl(hb ^ word, 27) * _P1 + _P4, hb)
        p = p + (r & ~7)
        live = (r & 4) != 0
        half = w4[p].astype(np.uint64) * _P1
        hb = np.where(live, _rotl(hb ^ half, 23) * _P2 + _P3, hb)
        p = p + (r & 4)
        for k in range(3):
            byte = buf[p + k].astype(np.uint64) * _P5
            hb = np.where((r & 3) > k, _rotl(hb ^ byte, 11) * _P1, hb)
        h[lo : lo + _BLOCK] = _fmix(hb)
    return h.view(np.int64)


_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)


def _rotl32(x, r):
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix(h, k):
    k = _rotl32(k * _C1, 15) * _C2
    return _rotl32(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def murmur3_longs(columns) -> np.ndarray:
    """Spark's ``hash(c1, c2, …)`` (int32) over int64 columns without
    nulls: ``Murmur3_x86_32.hashLong`` folded left to right from 42."""
    columns = [np.asarray(c, np.int64).view(np.uint64) for c in columns]
    h = np.full(len(columns[0]), SPARK_SEED, np.uint32)
    for v in columns:
        h = _mix(h, (v & np.uint64(0xFFFFFFFF)).astype(np.uint32))
        h = _mix(h, (v >> np.uint64(32)).astype(np.uint32))
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)
