"""Delta+varbyte codec roundtrip tests, incl. property-style randoms."""

from __future__ import annotations

import numpy as np

from seekstorm_spark.codecs import (
    decode_docids,
    decode_positions,
    decode_tfs,
    encode_docids,
    encode_positions,
    encode_tfs,
    vb_decode,
    vb_encode,
)


def test_vb_roundtrip_edges():
    for vals in (
        [],
        [0],
        [1],
        [127],
        [128],
        [16383],
        [16384],
        [65535],
        [2**32 - 1],
        [2**40],
        [0, 0, 0],
        list(range(300)),
    ):
        arr = np.array(vals, dtype=np.uint64)
        out = vb_decode(vb_encode(arr))
        assert out.tolist() == vals


def test_vb_roundtrip_random():
    rng = np.random.default_rng(42)
    for _ in range(20):
        n = int(rng.integers(1, 5000))
        vals = rng.integers(0, 2**40, size=n, dtype=np.uint64)
        assert vb_decode(vb_encode(vals)).tolist() == vals.tolist()


def test_docid_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(10):
        n = int(rng.integers(1, 2000))
        ids = np.sort(rng.choice(65536, size=n, replace=False))
        assert decode_docids(encode_docids(ids)).tolist() == ids.tolist()


def test_tf_roundtrip():
    tfs = np.array([1, 1, 2, 5, 100, 65536], dtype=np.int64)
    assert decode_tfs(encode_tfs(tfs)).tolist() == tfs.tolist()


def test_positions_roundtrip():
    # three docs with position lists [0,3,4], [7], [2,5]
    flat = np.array([0, 3, 4, 7, 2, 5], dtype=np.int64)
    tfs = np.array([3, 1, 2], dtype=np.int64)
    buf = encode_positions(flat, tfs)
    out = decode_positions(buf, tfs)
    assert out.tolist() == [0, 3, 4, 7, 2, 5]


def test_positions_roundtrip_random():
    rng = np.random.default_rng(11)
    for _ in range(10):
        ndocs = int(rng.integers(1, 200))
        lists = [
            np.sort(rng.choice(65536, size=int(rng.integers(1, 50)), replace=False))
            for _ in range(ndocs)
        ]
        flat = np.concatenate(lists)
        tfs = np.array([len(x) for x in lists])
        out = decode_positions(encode_positions(flat, tfs), tfs)
        assert out.tolist() == flat.tolist()


def test_vb_encode_chunks_matches_per_chunk_encode():
    import numpy as np

    from seekstorm_spark.codecs import (
        vb_byte_lengths,
        vb_encode,
        vb_encode_chunk_offsets,
    )

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 40, 5000).astype(np.uint64)
    # byte lengths agree with the real encoding
    assert int(vb_byte_lengths(vals).sum()) == len(vb_encode(vals))
    # random chunking: slices equal per-chunk encodes
    lens = []
    left = len(vals)
    while left:
        n = int(rng.integers(0, min(9, left) + 1))
        lens.append(n)
        left -= n
    lens = np.array(lens, dtype=np.int64)
    buf, offsets = vb_encode_chunk_offsets(vals, lens)
    off = 0
    for i, n in enumerate(lens):
        chunk = bytes(buf[offsets[i] : offsets[i + 1]])
        assert chunk == vb_encode(vals[off : off + n])
        off += n


def test_vb_encode_chunk_offsets_matches_chunks():
    """The (buffer, offsets) form tiles the buffer with each chunk's
    own :func:`vb_encode` — including boundary byte-length values and
    empty chunks."""
    import numpy as np

    from seekstorm_spark.codecs import (
        vb_byte_lengths,
        vb_encode,
        vb_encode_chunk_offsets,
    )

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 1 << 50, 4000).astype(np.uint64)
    # varint width boundaries (128^k - 1, 128^k) and the u64 extremes
    edges = []
    for k in range(1, 10):
        edges += [(1 << (7 * k)) - 1, 1 << (7 * k)]
    vals[: len(edges) + 2] = np.array(
        edges + [0, (1 << 64) - 1], dtype=np.uint64
    )
    for v, want in zip(vals[: len(edges)], edges):
        enc = vb_encode(np.array([v], np.uint64))
        assert len(enc) == int(vb_byte_lengths(np.array([v], np.uint64))[0])
    lens = []
    left = len(vals)
    while left:
        n = int(rng.integers(0, min(7, left) + 1))
        lens.append(n)
        left -= n
    lens = np.array(lens + [0], dtype=np.int64)
    buf, offsets = vb_encode_chunk_offsets(vals, lens)
    assert len(offsets) == len(lens) + 1
    assert offsets[0] == 0 and offsets[-1] == len(buf)
    sliced = [
        bytes(buf[a:b]) for a, b in zip(offsets[:-1], offsets[1:])
    ]
    starts = np.concatenate(([0], np.cumsum(lens)))
    assert sliced == [
        vb_encode(vals[a:b]) for a, b in zip(starts[:-1], starts[1:])
    ]
    ebuf, eoff = vb_encode_chunk_offsets(
        np.empty(0, np.uint64), np.array([0, 0])
    )
    assert ebuf == b"" and eoff.tolist() == [0, 0, 0]
