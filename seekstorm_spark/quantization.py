"""Doc-length quantization (Lucene SmallFloat byte4 scheme).

Semantics match the reference engine's quantization exactly
(`/root/reference/seekstorm/src/index.rs:4232-4279`, itself a port of
the public Apache Lucene SmallFloat.java algorithm): a u32 token count
is compressed to one byte keeping 4 significant bits, with the first
24 values free (identity-coded). BM25 uses the *decompressed quantized*
length, via the precomputed 256-entry table.

avgdl = sum(decompressed quantized per-field lengths over all docs) /
indexed_doc_count (`/root/reference/seekstorm/src/commit.rs:318-319`).
"""

from __future__ import annotations

import numpy as np

NUM_FREE_VALUES = 24


def int_to_byte4(i: int) -> int:
    """Compress a non-negative int to one byte, 4 significant bits."""
    if i < 0:
        raise ValueError("negative length")
    if i < NUM_FREE_VALUES:
        return i
    ii = i - NUM_FREE_VALUES
    num_bits = ii.bit_length()
    if num_bits < 4:
        return NUM_FREE_VALUES + ii
    shift = num_bits - 4
    return NUM_FREE_VALUES + (((ii >> shift) & 0x07) | ((shift + 1) << 3))


def byte4_to_int(b: int) -> int:
    """Decompress a byte produced by :func:`int_to_byte4`."""
    if b < NUM_FREE_VALUES:
        return b
    i = b - NUM_FREE_VALUES
    bits = i & 0x07
    shift = i >> 3
    if shift == 0:
        return NUM_FREE_VALUES + bits
    return NUM_FREE_VALUES + ((bits | 0x08) << (shift - 1))


# 256-entry decode table (reference: DOCUMENT_LENGTH_COMPRESSION).
DOCUMENT_LENGTH_COMPRESSION: list[int] = [byte4_to_int(b) for b in range(256)]

_DECODE_NP = np.asarray(DOCUMENT_LENGTH_COMPRESSION, dtype=np.int64)

# Vectorized encode: quantization is monotonic, so encode via
# searchsorted on the boundaries of the decode table.
# byte b covers raw values in [decode[b], decode[b+1]) for b<255.
_ENCODE_BOUNDARIES = _DECODE_NP  # decode table is strictly increasing


def encode_lengths(raw: np.ndarray) -> np.ndarray:
    """Vectorized int_to_byte4 over an int array → uint8 array."""
    raw = np.asarray(raw, dtype=np.int64)
    idx = np.searchsorted(_ENCODE_BOUNDARIES, raw, side="right") - 1
    return np.clip(idx, 0, 255).astype(np.uint8)


def decode_lengths(b: np.ndarray) -> np.ndarray:
    """Vectorized byte4_to_int over a uint8 array → int64 array."""
    return _DECODE_NP[np.asarray(b, dtype=np.int64)]


def length_stats(dl_hist: dict[tuple[int, int], int]) -> tuple[int, int]:
    """(n_docs, Σ quantized dl) from a {(field, dl_byte): doc count}
    histogram: field-0 rows count the docs, every field's decoded
    length adds to the positions sum (reference commit.rs:318-319)."""
    n_docs = sum(c for (fid, _b), c in dl_hist.items() if fid == 0)
    pos_sum = sum(
        int(decode_lengths(np.array([b]))[0]) * c
        for (_f, b), c in dl_hist.items()
    )
    return int(n_docs), int(pos_sum)


def avgdl_f32(pos_sum: int, n_docs: int) -> float:
    """avgdl = f32(Σ quantized dl) / f32(N), the reference's f32
    division (commit.rs:318-319); 1.0 for an empty index."""
    return float(np.float32(pos_sum) / np.float32(n_docs)) if n_docs else 1.0


def quantize_length(raw: int) -> int:
    """raw token count → decompressed quantized length (round trip)."""
    return DOCUMENT_LENGTH_COMPRESSION[int_to_byte4(raw)]
