"""The term-bucket hash, and numpy mirrors of Spark's string hashes.

The postings, term-stats, spell and completion tables are
hash-partitioned by the bucket ``pmod(xxhash64(key), n)``. It has two
sides, both here and nowhere else: :func:`bucket_column`, the Spark
Column the writers partition by, and :func:`term_buckets`, the same
bucket computed on the driver with numpy (XXH64 seed 42 over the
UTF-8 bytes, as Spark's ``xxhash64``), which the driver-side stage
and every bucket probe (``index.store.read_buckets``) use to touch
only a key's partition without a Spark job. XXH64 is a public,
spec-stable algorithm (https://xxhash.com). :func:`spark_hash` mirrors
Spark's ``hash()`` (Murmur3 x86_32), which ranks builder docids.
"""

from __future__ import annotations

from itertools import accumulate

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MASK64 = (1 << 64) - 1
P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261


def bucket_column(col: str | Column, n_buckets: int) -> Column:
    """``pmod(xxhash64(col), n_buckets)`` as int: the bucket column of
    every bucket-partitioned table written from Spark (postings
    ``tbucket``, spell ``dbucket``, completions ``pbucket``)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _utf8_rows(values):
    """(bytes as uint8, int64 offsets, validity) of ``values`` — a
    pyarrow string array (chunked or not) or a sequence of str/None."""
    import pyarrow as pa

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        # a probe's handful of keys: cheaper joined in Python than
        # converted to Arrow
        values = list(values)
        enc = [b"" if v is None else v.encode("utf-8") for v in values]
        offsets = np.array([0, *accumulate(map(len, enc))], dtype=np.int64)
        valid = np.array([v is not None for v in values], dtype=bool)
        return np.frombuffer(b"".join(enc), dtype=np.uint8), offsets, valid
    if not pa.types.is_large_string(values.type):
        values = values.cast(pa.large_string())
    n = len(values)
    bufs = values.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[
        values.offset : values.offset + n + 1
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    valid = (
        np.ones(n, dtype=bool)
        if values.null_count == 0
        else values.is_valid().to_numpy(zero_copy_only=False)
    )
    return data, offsets, valid


def _by_length(data, offsets, rows):
    """Yield ``(row indices, (k, L) uint8 matrix)`` per byte length L
    of the strings at ``rows``."""
    lens = offsets[1:][rows] - offsets[:-1][rows]
    for n in np.unique(lens):
        idx = rows[lens == n]
        starts = offsets[:-1][idx]
        yield idx, data[starts[:, None] + np.arange(n, dtype=np.int64)]


def _words(mat, at: int, width: int, dtype):
    """The little-endian ``width``-byte word at byte ``at`` of each row."""
    return np.ascontiguousarray(mat[:, at : at + width]).view(dtype)[:, 0]


_U = np.uint64


def _rotl64(x, r: int):
    return (x << _U(r)) | (x >> _U(64 - r))


def _round64(acc, inp):
    return _rotl64(acc + inp * _U(P2), 31) * _U(P1)


def _xxh64_rows(mat, seed: int):
    """XXH64 of each row of a (k, L) uint8 matrix (all rows L bytes)."""
    k, n = mat.shape
    i = 0
    if n >= 32:
        # the four lanes as the columns of one (k, 4) array
        init = [seed + P1 + P2, seed + P2, seed, seed - P1]
        v = np.tile(np.array([x & MASK64 for x in init], dtype=_U), (k, 1))
        while i <= n - 32:
            v = _round64(v, np.ascontiguousarray(mat[:, i : i + 32]).view("<u8"))
            i += 32
        h = (
            _rotl64(v[:, 0], 1) + _rotl64(v[:, 1], 7)
            + _rotl64(v[:, 2], 12) + _rotl64(v[:, 3], 18)
        )
        for j in range(4):
            h = (h ^ _round64(_U(0), v[:, j])) * _U(P1) + _U(P4)
    else:
        h = np.full(k, (seed + P5) & MASK64, dtype=_U)
    h = h + _U(n)
    while i <= n - 8:
        h = h ^ _round64(_U(0), _words(mat, i, 8, "<u8"))
        h = _rotl64(h, 27) * _U(P1) + _U(P4)
        i += 8
    if i <= n - 4:
        h = h ^ (_words(mat, i, 4, "<u4").astype(_U) * _U(P1))
        h = _rotl64(h, 23) * _U(P2) + _U(P3)
        i += 4
    while i < n:
        h = h ^ (mat[:, i].astype(_U) * _U(P5))
        h = _rotl64(h, 11) * _U(P1)
        i += 1
    h = h ^ (h >> _U(33))
    h = h * _U(P2)
    h = h ^ (h >> _U(29))
    h = h * _U(P3)
    return h ^ (h >> _U(32))


def spark_xxhash64(values, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(col)`` of every string in ``values`` as int64
    (XXH64 of the UTF-8 bytes, two's complement; a null keeps the
    seed).

    XXH64's steps depend on the byte length, so the strings hash as one
    (strings, L) byte matrix per distinct length L: the Python steps
    number the byte positions of each length, never the strings —
    cheap for terms, whose lengths are few and short."""
    data, offsets, valid = _utf8_rows(values)
    out = np.full(len(valid), seed, dtype=_U)
    for idx, mat in _by_length(data, offsets, np.flatnonzero(valid)):
        out[idx] = _xxh64_rows(mat, seed)
    return out.view(np.int64)


def term_buckets(terms, n_buckets: int) -> np.ndarray:
    """The :func:`bucket_column` bucket of every term in ``terms`` (a
    pyarrow string array or a sequence of str) in one call, as int32."""
    return (spark_xxhash64(terms) % n_buckets).astype(np.int32)


_M32 = np.uint32
_C1, _C2 = _M32(0xCC9E2D51), _M32(0x1B873593)


def _rotl32(x, r: int):
    return (x << _M32(r)) | (x >> _M32(32 - r))


def _mix32(h1, k1):
    """Murmur3 x86_32's mixK1 then mixH1."""
    k1 = _rotl32(k1 * _C1, 15) * _C2
    return _rotl32(h1 ^ k1, 13) * _M32(5) + _M32(0xE6546B64)


def spark_hash(values, seed: int = 42) -> np.ndarray:
    """Spark's ``hash(col)`` of every string in ``values`` as int32:
    Murmur3 x86_32 over the UTF-8 bytes, 4-byte little-endian words
    first, then each of the 0–3 tail bytes mixed as a whole word of
    its own, sign-extended (Spark's ``hashUnsafeBytes``, which differs
    from textbook Murmur3 there). A null keeps the seed.

    Each word's own scramble (``mixK1``) runs over all words at once.
    Only the running-hash update is sequential: one numpy step per word
    position, over every string still that long (the strings sort
    longest first, so those are a prefix, and the words are laid out
    step by step, so their inputs are one slice). The steps number the
    longest string's words, not the strings; once at most four strings
    are left, each one's remaining words mix as Python ints, which is
    cheaper per word than a numpy step."""
    data, offsets, valid = _utf8_rows(values)
    rows = np.flatnonzero(valid)
    order = rows[np.argsort(offsets[rows] - offsets[rows + 1], kind="stable")]
    start = offsets[order]
    n_bytes = offsets[order + 1] - start
    n_words = n_bytes // 4
    # the word at byte p is by_align[p % 4, p // 4]
    padded = np.concatenate([data, np.zeros(7, dtype=np.uint8)])
    m = (len(padded) - 3) // 4
    by_align = np.stack(
        [padded[a : a + 4 * m].view("<u4") for a in range(4)]
    )
    active = np.searchsorted(-n_words, -np.arange(n_words.max(initial=0)))
    slot = np.cumsum(active) - active  # where step w's inputs start
    step = np.repeat(np.arange(len(active)), active)
    pos = start[np.arange(len(step)) - slot[step]] + 4 * step
    h = np.full(len(order), seed, dtype=_M32)
    with np.errstate(over="ignore"):
        k1 = _rotl32(by_align[pos % 4, pos // 4] * _C1, 15) * _C2
        tmp = np.empty_like(h)
        c13, c19, c5, c = (
            np.array(v, dtype=_M32) for v in (13, 19, 5, 0xE6546B64)
        )
        w = 0
        for w, (k, at) in enumerate(zip(active.tolist(), slot.tolist())):
            if k <= 4:
                break
            hk, tk = h[:k], tmp[:k]
            np.bitwise_xor(hk, k1[at : at + k], out=hk)
            np.left_shift(hk, c13, out=tk)
            np.right_shift(hk, c19, out=hk)
            np.bitwise_or(hk, tk, out=hk)
            np.multiply(hk, c5, out=hk)
            np.add(hk, c, out=hk)
        else:
            w = len(active)
        if w < len(active):  # the few longest strings' remaining words
            rest, at = active[w:], slot[w:]
            for i in range(int(rest[0])):
                x = int(h[i])
                for k in k1[at[rest > i] + i].tolist():
                    x ^= k
                    x = (((x << 13) | (x >> 19)) & 0xFFFFFFFF) * 5
                    x = (x + 0xE6546B64) & 0xFFFFFFFF
                h[i] = x
        # then each string's 0-3 tail bytes (strings hash independently)
        tail_at = start + 4 * n_words
        for t in range(3):
            sel = np.flatnonzero(n_bytes - 4 * n_words > t)
            byte = padded[tail_at[sel] + t].view(np.int8).astype(np.int32)
            h[sel] = _mix32(h[sel], byte.view(_M32))
        h = h ^ n_bytes.astype(_M32)
        h = (h ^ (h >> _M32(16))) * _M32(0x85EBCA6B)
        h = (h ^ (h >> _M32(13))) * _M32(0xC2B2AE35)
        h = h ^ (h >> _M32(16))
    out = np.full(len(valid), seed, dtype=_M32)
    out[order] = h
    return out.view(np.int32)
