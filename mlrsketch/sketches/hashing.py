"""Vectorized 64-bit hashing helpers shared by the sketch cores.

Primary hashing happens JVM-side via ``F.xxhash64`` (codegen'd, zero
Python cost) — the sketch cores receive int64 hash columns. These
helpers derive additional independent hashes from that one 64-bit hash
(Kirsch-Mitzenmacher double hashing) and hash raw values when a sketch
is used outside Spark (tests, driver-side merges).

splitmix64 is the public-domain mixer from Steele et al., used by
java.util.SplittableRandom; it is a bijection on uint64 so it preserves
distinctness of its inputs.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MASK = _U64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        z = (x + _U64(0x9E3779B97F4A7C15)) & _MASK
        z = ((z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK
        z = ((z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK
        return z ^ (z >> _U64(31))


def to_u64(h: np.ndarray) -> np.ndarray:
    """Reinterpret an int64 array (e.g. Spark xxhash64 output) as uint64."""
    return np.ascontiguousarray(h, dtype=np.int64).view(np.uint64)


def hash_strings(values, seed: int = 0) -> np.ndarray:
    """Hash an iterable of python strings/bytes to uint64 (test/driver path).

    blake2b (hashlib, C implementation) truncated to 8 bytes — stable
    across processes and platforms, ~0.5us/string. Only used off the
    executor hot path; executors hash JVM-side (F.xxhash64), and the
    heavy-hitter summary is keyed by the string itself, so this is
    never called inside a Spark job.
    """
    import hashlib

    key = seed.to_bytes(8, "little") if seed else b""
    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        if isinstance(v, str):
            v = v.encode("utf-8")
        elif not isinstance(v, (bytes, bytearray)):
            v = str(v).encode("utf-8")
        out[i] = int.from_bytes(
            hashlib.blake2b(v, digest_size=8, key=key).digest(), "little"
        )
    return out


def kirsch_mitzenmacher(h: np.ndarray, k: int, modulus: int) -> np.ndarray:
    """Derive k hash indices in [0, modulus) from one uint64 hash each.

    g_i(x) = (h1(x) + i*h2(x)) mod m  — Kirsch & Mitzenmacher 2006 show
    this preserves Bloom guarantees. Returns shape (k, n).
    """
    h1 = h
    h2 = splitmix64(h) | _U64(1)  # odd, so strides cover the table
    idx = np.empty((k, h.shape[0]), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(k):
            idx[i] = (h1 + _U64(i) * h2) % _U64(modulus)
    return idx


def floor_log2(x: np.ndarray) -> np.ndarray:
    """Exact vectorized floor(log2(x)) for uint64 x > 0 (bit twiddling —
    float log2 rounds near 2^53 and is not safe here)."""
    bl = np.zeros(x.shape, dtype=np.int64)
    v = x.copy()
    for s in (32, 16, 8, 4, 2, 1):
        m = v >= (_U64(1) << _U64(s))
        bl[m] += s
        v[m] >>= _U64(s)
    return bl
