"""MurmurHash3 x64_128 — from-spec pure-Python implementation + Spark UDF wrappers.

Why this exists
---------------
The reference hashes favicon bytes with ``mmh3.hash64(content)[0]``
(``/root/reference/httpz_scanner/parsers.py:249-250``) and the engine's
north-star mandates murmur3-hashed canonical URLs for the frontier seen-set.
The ``mmh3`` wheel is not available in this environment, so we implement
MurmurHash3 x64_128 directly from the public algorithm (Austin Appleby's
MurmurHash3, public domain).  ``mmh3.hash64(data)`` is defined as the two
64-bit halves of MurmurHash3_x64_128 interpreted as *signed* int64, seed 0 —
``hash64_low`` below is bit-compatible with ``mmh3.hash64(data)[0]``.

Correctness is pinned by the SMHasher verification value for
MurmurHash3_x64_128 (``0x6384BA69``) in ``tests/test_hashing.py``.

Scale notes
-----------
* These hashes run inside Arrow-batched pandas UDFs (never per-row Python
  UDFs registered on the JVM hot path).
* Spark's builtin ``F.hash()`` (murmur3 **x86_32**, seed 42) is used ONLY for
  partition routing (``pmod(hash(host), P)``) where bit-compat with mmh3 is
  irrelevant; the 64-bit identity hash of a URL is always ``url_hash64``.
"""

from __future__ import annotations

_MASK64 = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3_x64_128(data, seed) -> (h1, h2) as unsigned 64-bit ints."""
    length = len(data)
    nblocks = length // 16
    h1 = seed & _MASK64
    h2 = seed & _MASK64

    view = memoryview(data)
    for i in range(nblocks):
        base = i * 16
        k1 = int.from_bytes(view[base : base + 8], "little")
        k2 = int.from_bytes(view[base + 8 : base + 16], "little")

        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64

        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    tail = bytes(view[nblocks * 16 :])
    tl = len(tail)
    if tl > 8:
        k2 = int.from_bytes(tail[8:], "little")
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
    if tl > 0:
        k1 = int.from_bytes(tail[:8], "little")
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return h1, h2


def _to_signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def hash64_low(data: bytes, seed: int = 0) -> int:
    """``mmh3.hash64(data)[0]`` — the favicon-hash / url_hash primitive
    (reference usage: ``parsers.py:249``)."""
    return _to_signed64(murmur3_x64_128(data, seed)[0])


# ---------------------------------------------------------------------------
# numpy-vectorized murmur3 x64_128 over Arrow string buffers.
#
# Frontier ingest hashes every canonical URL; at 10^10-URL scale the pure-
# python path (~20us/key) is untenable.  This implementation reads the
# Arrow string array's (offsets, data) buffers directly and vectorizes the
# block mixing over all rows sharing a block count (URLs cluster into very
# few length buckets), with masked tail handling — bit-identical to
# murmur3_x64_128 (property-tested against the scalar reference).
# ---------------------------------------------------------------------------

import numpy as np

_NC1 = np.uint64(_C1)
_NC2 = np.uint64(_C2)
_POW8 = (np.uint64(1) << (np.uint64(8) * np.arange(8, dtype=np.uint64)))


def _nrotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _nfmix(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> np.uint64(33))
    return k


def _gather_u64(data: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Little-endian uint64 at byte positions pos (vector) — fancy-gather
    8 bytes per row then reinterpret (little-endian platforms)."""
    b = np.ascontiguousarray(data[pos[:, None] + np.arange(8)])
    return b.view(np.uint64).ravel()


def _gather_tail_u64(data, pos, nbytes):
    """LE uint64 from up to 8 bytes starting at pos, zero-padded; nbytes is
    a per-row vector (0..8)."""
    b = np.ascontiguousarray(data[pos[:, None] + np.arange(8)])
    b[np.arange(8)[None, :] >= nbytes[:, None]] = 0
    return b.view(np.uint64).ravel()


def murmur3_x64_128_np(offsets: np.ndarray, data: np.ndarray, seed: int = 0):
    """Vectorized murmur3_x64_128 over a packed string buffer.

    offsets: int64 array of n+1 byte offsets; data: uint8 buffer (must have
    >= 16 bytes of zero padding past the last offset).  Returns (h1, h2)
    uint64 arrays of length n.
    """
    with np.errstate(over="ignore"):
        n = len(offsets) - 1
        lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)
        starts = offsets[:-1].astype(np.int64)
        h1 = np.full(n, seed, dtype=np.uint64)
        h2 = np.full(n, seed, dtype=np.uint64)
        nblocks = lengths // 16

        # block rounds: at round j, rows with nblocks > j participate
        max_b = int(nblocks.max()) if n else 0
        for j in range(max_b):
            rows = np.nonzero(nblocks > j)[0]
            base = starts[rows] + 16 * j
            k1 = _gather_u64(data, base)
            k2 = _gather_u64(data, base + 8)
            k1 = _nrotl(k1 * _NC1, 31) * _NC2
            h1j = h1[rows] ^ k1
            h1j = (_nrotl(h1j, 27) + h2[rows]) * np.uint64(5) + np.uint64(0x52DCE729)
            k2 = _nrotl(k2 * _NC2, 33) * _NC1
            h2j = h2[rows] ^ k2
            h2j = (_nrotl(h2j, 31) + h1j) * np.uint64(5) + np.uint64(0x38495AB5)
            h1[rows] = h1j
            h2[rows] = h2j

        # tails (masked, zero-padded reads; data buffer is padded)
        tl = (lengths - 16 * nblocks).astype(np.int64)
        tbase = starts + 16 * nblocks
        has2 = tl > 8
        if has2.any():
            rows = np.nonzero(has2)[0]
            k2 = _gather_tail_u64(data, tbase[rows] + 8, tl[rows] - 8)
            k2 = _nrotl(k2 * _NC2, 33) * _NC1
            h2[rows] ^= k2
        has1 = tl > 0
        if has1.any():
            rows = np.nonzero(has1)[0]
            k1 = _gather_tail_u64(data, tbase[rows], np.minimum(tl[rows], 8))
            k1 = _nrotl(k1 * _NC1, 31) * _NC2
            h1[rows] ^= k1

        ln = lengths.astype(np.uint64)
        h1 ^= ln
        h2 ^= ln
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _nfmix(h1)
        h2 = _nfmix(h2)
        h1 = h1 + h2
        h2 = h2 + h1
        return h1, h2


def hash64_str_batch_np(s, seed: int = 0):
    """Series[str|None] -> Series[Int64]: the signed low half of the
    UTF-8 encoding's hash, element-wise equal to :func:`hash64_low`
    (mmh3-compatible).  Nulls hash to null."""
    import pandas as pd
    import pyarrow as pa

    arr = pa.array(s, type=pa.string())
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        filled = pa.array(s.fillna(""), type=pa.string())
    else:
        valid = None
        filled = arr
    bufs = filled.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32,
                            count=len(filled) + 1,
                            offset=filled.offset * 4).astype(np.int64)
    raw = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    data = np.zeros(len(raw) + 16, dtype=np.uint8)  # zero padding for tails
    data[: len(raw)] = raw
    h1, _h2 = murmur3_x64_128_np(offsets, data, seed)
    out = h1.astype(np.int64)
    res = pd.Series(out, index=s.index, dtype="Int64")
    if valid is not None:
        res[~valid] = pd.NA
    return res

