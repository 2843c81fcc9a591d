"""The segment-row build shuffle (tokenize emit + the ``_build_seg``
reduce) must produce EXACTLY the posting rows the former pair-row
kernel produced for the same corpus — same bytes, same counts, same
block-max metadata — including multi-segment runs whose boundary docid
varint the reduce re-encodes, n-gram payloads, synonyms, stopwords,
multi-field df unions and non-zero base docids.

The pair kernel is gone; its output for each config is frozen here as
a digest of the sorted posting rows (``FROZEN``)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest


class _FakeSel:
    def select(self, *a):
        return self

    def mapInArrow(self, fn, schema):
        return fn


class _FakeGrouped:
    def __init__(self, sink):
        self.sink = sink

    def applyInPandas(self, fn, schema):
        self.sink.append(fn)
        return None


class _FakeDF:
    def __init__(self, sink):
        self.sink = sink

    def withColumn(self, *a, **k):
        return self

    def groupBy(self, *a):
        return _FakeGrouped(self.sink)


def _capture_kernel(block_size):
    """The reduce kernel, closure-bound to ``block_size`` (needs an
    active SparkContext for the plan expressions in the wrapper)."""
    import seekstorm_spark.index.builder as B

    sink: list = []
    B.build_posting_blocks(_FakeDF(sink), n_buckets=8, block_size=block_size)
    return sink[0]


def _make_batches(n_docs, n_batches, vocab, seed, base_docid=0, fields=1):
    rng = np.random.default_rng(seed)
    per = n_docs // n_batches
    out, docid = [], base_docid
    for _ in range(n_batches):
        ids, t1, t2 = [], [], []
        for _ in range(per):
            n = int(rng.integers(5, 60))
            toks = [f"term{int(p):05d}" for p in rng.integers(0, vocab, n)]
            if rng.random() < 0.05:
                toks = []
            if rng.random() < 0.1:
                toks = toks[:3] * 5
            t1.append(" ".join(toks))
            t2.append(" ".join(reversed(toks[:8])))
            ids.append(docid)
            docid += int(rng.integers(1, 3))
        arrays = [pa.array(ids, pa.int64()), pa.array(t1, pa.string())]
        names = ["docid", "text"]
        if fields == 2:
            arrays.append(pa.array(t2, pa.string()))
            names.append("title")
        out.append(pa.RecordBatch.from_arrays(arrays, names=names))
    return out


CONFIGS = {
    # small blocks force runs spanning many segments (boundary splice)
    "smallblocks": (dict(text_col="text"), 128, dict(n_docs=400, n_batches=4, vocab=80, seed=2)),
    "ngrams_all": (
        dict(
            text_col="text",
            frequent_terms=frozenset(f"term{i:05d}" for i in range(12)),
            ngram_patterns=("ff", "fr", "rf", "fff", "rff", "ffr", "frf"),
        ),
        256,
        dict(n_docs=240, n_batches=3, vocab=30, seed=3),
    ),
    "syn_stop": (
        dict(
            text_col="text",
            stop_words=frozenset(["term00003"]),
            synonym_map={"term00005": ["term00001", "zsyn"]},
            frequent_terms=frozenset(f"term{i:05d}" for i in range(8)),
        ),
        256,
        dict(n_docs=240, n_batches=3, vocab=40, seed=4),
    ),
    "multifield": (
        dict(text_col="text", fields=["text", "title"]),
        512,
        dict(n_docs=300, n_batches=3, vocab=60, seed=5, fields=2),
    ),
    "base_offset": (dict(text_col="text"), 1 << 16, dict(n_docs=200, n_batches=2, vocab=60, seed=6, base_docid=65000)),
}

# (row count, sha256 of the sorted posting rows) the pair-row kernel
# produced for each config
FROZEN = {
    "base_offset": (
        61, "4bffc9718445b4f1a1aa6abdfd26b670a4ec1b3ebb29cd0efccd6f80afa3083a"
    ),
    "multifield": (
        122, "789054c7cf7805fbc92029de1695ac744e22f0fac2a950a973b0de5d1ba6a283"
    ),
    "ngrams_all": (
        2998, "7ceeba7b3d2ec0a16dcb20931563995bfb1e3ffad3e74af811120279d9df0d22"
    ),
    "smallblocks": (
        405, "f06317bc3fa5ce6e1b88b40712367c047713f07863171327e24d1c3e94be7213"
    ),
    "syn_stop": (
        197, "cdefae0a135b3be80c15d3550f44f134b21d8a625352e407ddcd05d0660c8b39"
    ),
}


def _rows_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of posting rows: sort by key, then hash
    every column's values (bytes, ints, None) in schema order."""
    df = df.sort_values(
        ["tbucket", "block_id", "term", "field"], kind="mergesort"
    ).reset_index(drop=True)
    h = hashlib.sha256()
    for col in df.columns:
        h.update(repr((col, df[col].tolist())).encode())
    return h.hexdigest()


def _segment_postings(name):
    import seekstorm_spark.index.builder as B
    from seekstorm_spark.hashing import term_buckets

    tok_kwargs, block_size, mk = CONFIGS[name]
    batches = _make_batches(**mk)
    build = _capture_kernel(block_size)
    tok = B.tokenize_to_term_rows(
        _FakeSel(), **tok_kwargs, block_size=block_size
    )
    # two map tasks, each covering a contiguous ascending docid range
    half = max(1, len(batches) // 2)
    seg_tabs: list = []
    for tb in (batches[:half], batches[half:]):
        if tb:
            seg_tabs += list(tok(iter(tb)))
    st = pa.Table.from_batches(seg_tabs).to_pandas()
    st["tbucket"] = term_buckets(st["term"].tolist(), 8)
    out = pd.concat(
        [
            build(
                (int(k[0]), int(k[1])),
                g.drop(columns=["tbucket"]).reset_index(drop=True),
            )
            for k, g in st.groupby(["tbucket", "block_id"], sort=True)
        ],
        ignore_index=True,
    )
    return st, out


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_segment_shuffle_bit_identical(spark, name):
    st, out = _segment_postings(name)
    assert (len(out), _rows_digest(out)) == FROZEN[name]
    # splice coverage: at least one run actually joined >1 segment
    if name == "smallblocks":
        assert (st.groupby(["term", "field", "block_id"]).size() > 1).any()


def _tokenize_one(ids):
    import seekstorm_spark.index.builder as B

    fn = B.tokenize_to_term_rows(
        _FakeSel(), text_col="text", block_size=1 << 16
    )
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(ids, pa.int64()),
            pa.array(["a b"] * len(ids), pa.string()),
        ],
        names=["docid", "text"],
    )
    return list(fn(iter([rb])))


def test_segment_emit_rejects_unsorted_docids():
    with pytest.raises(ValueError, match="ascending"):
        _tokenize_one([5, 3])


def test_segment_emit_names_duplicate_docid():
    with pytest.raises(ValueError, match="duplicate docid 7"):
        _tokenize_one([3, 7, 7, 9])


def test_emit_accepts_only_segments():
    import seekstorm_spark.index.builder as B

    with pytest.raises(ValueError, match="emit"):
        B.tokenize_to_term_rows(_FakeSel(), text_col="text", emit="pairs")


def test_binary_column_rejects_int32_offset_overflow():
    import seekstorm_spark.index.builder as B

    with pytest.raises(OverflowError, match="int32"):
        B._binary_column(pa, b"", np.array([0, 2**31], dtype=np.int64))
