"""Tests for training-data operators: dedup, simsearch, textstats,
multimodal plumbing, streaming incremental indexing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (0, "alpha beta gamma delta epsilon"),
        (1, "alpha beta gamma delta epsilon"),  # exact dup of 0
        (2, "alpha beta gamma delta zeta"),  # near dup
        (3, "completely different words here now"),
        (4, "alpha beta gamma delta epsilon"),  # exact dup of 0
    ]
    return spark.createDataFrame(pd.DataFrame(data, columns=["doc_id", "text"]))


def test_exact_dup_groups(docs):
    from seekstorm_spark.functions.dedup import exact_dup_groups

    rows = exact_dup_groups(docs).collect()
    assert len(rows) == 1
    assert rows[0]["dup_count"] == 3
    assert rows[0]["keeper_docid"] == 0


def test_jaccard_pairs(docs):
    from seekstorm_spark.functions.dedup import jaccard_pairs

    rows = jaccard_pairs(docs, threshold=0.3).collect()
    pairs = {(r["docid_a"], r["docid_b"]): r["jaccard"] for r in rows}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 4)] == 1.0 and pairs[(1, 4)] == 1.0
    # 0 vs 2: shingles {abg, bgd, gde} vs {abg, bgd, gdz}: 2/4 = 0.5
    assert pairs[(0, 2)] == 0.5
    assert (0, 3) not in pairs



def test_jaccard_pairs_filters_hot_shingle_before_collect(spark):
    """The max_docs_per_shingle guard runs BEFORE the doc lists are
    collected: a shingle in every doc never builds an array. In the
    optimized plan each collect_list aggregate must read the
    df-filtered shingles, and the pairs must match a brute-force
    computation over the same guard."""
    from itertools import combinations

    from seekstorm_spark.functions.dedup import jaccard_pairs

    texts = [
        "boiler plate text alpha beta gamma",
        "boiler plate text alpha beta delta",
        "boiler plate text omega psi chi",
        "boiler plate text omega psi phi",
        "boiler plate text kappa lambda mu",
    ]
    df = spark.createDataFrame(
        pd.DataFrame(list(enumerate(texts)), columns=["doc_id", "text"])
    )
    out = jaccard_pairs(df, threshold=0.0, max_docs_per_shingle=2)

    lines = out._jdf.queryExecution().optimizedPlan().toString().splitlines()
    depth = lambda ln: ln.find("+-") if "+-" in ln else 0
    aggs = [i for i, ln in enumerate(lines) if "collect_list" in ln]
    assert aggs
    for i in aggs:
        below = []
        for ln in lines[i + 1 :]:
            if depth(ln) <= depth(lines[i]) or "InMemoryRelation" in ln:
                break
            below.append(ln)
        assert any("Filter" in ln and "<= 2" in ln for ln in below), lines[i]

    sh = []
    for t in texts:
        w = t.split()
        sh.append({" ".join(w[k : k + 3]) for k in range(len(w) - 2)})
    df_of = {}
    for doc_sh in sh:
        for g in doc_sh:
            df_of[g] = df_of.get(g, 0) + 1
    want = {}
    for a, b in combinations(range(len(texts)), 2):
        # a shared shingle has df >= 2; the guard keeps df <= 2
        common = sum(1 for g in sh[a] & sh[b] if df_of[g] <= 2)
        if common:
            want[(a, b)] = round(common / (len(sh[a]) + len(sh[b]) - common), 6)
    got = {(r["docid_a"], r["docid_b"]): r["jaccard"] for r in out.collect()}
    assert got == want
    assert set(want) == {(0, 1), (2, 3)}

def test_minhash_identical_docs_always_collide(docs):
    from seekstorm_spark.functions.dedup import minhash_lsh_pairs

    rows = minhash_lsh_pairs(docs).collect()
    got = {(r["docid_a"], r["docid_b"]) for r in rows}
    assert {(0, 1), (0, 4), (1, 4)} <= got
    assert (0, 3) not in got and (1, 3) not in got


def test_simhash_matches_duckdb_oracle(spark, docs):
    """The SQL oracle in __spark_entry__ must produce bit-identical
    simhash values — verify the construction on a local corpus."""
    import duckdb

    from seekstorm_spark.functions.dedup import simhash_udf

    got = {
        r["doc_id"]: r["simhash"]
        for r in docs.select(
            "doc_id", simhash_udf(F.col("text")).alias("simhash")
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs_pd", docs.toPandas())
    want = dict(
        con.sql(
            """
WITH docs AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                         x -> x <> '') AS toks FROM docs_pd),
tcnt AS (SELECT doc_id, t.tok AS term, count(*) AS cnt
         FROM docs, unnest(toks) AS t(tok) GROUP BY 1, 2),
th AS (SELECT doc_id, term, cnt,
              ('0x' || substr(md5(term), 1, 16))::UBIGINT AS h FROM tcnt),
bits AS (SELECT doc_id, b.b AS bit,
                sum(CASE WHEN (h >> b.b) & 1 = 1 THEN cnt ELSE -cnt END) AS w
         FROM th CROSS JOIN generate_series(0, 63) AS b(b) GROUP BY 1, 2)
SELECT doc_id, sum(CASE WHEN w > 0 THEN
         CASE WHEN bit = 63 THEN -9223372036854775808
              ELSE (1::BIGINT << bit) END ELSE 0 END)::BIGINT
FROM bits GROUP BY doc_id
"""
        ).fetchall()
    )
    assert got == want
    assert got[0] == got[1] == got[4]  # identical docs → identical simhash


def test_cosine_topk(spark):
    from seekstorm_spark.functions.simsearch import cosine_topk, lsh_ann_topk

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    vecs[7] = vecs[0] * 2.0  # same direction as query → cos 1.0
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(50), "embedding": [v.tolist() for v in vecs]})
    )
    q = [float(x) for x in vecs[0]]
    top = cosine_topk(df.filter(F.col("vec_id") != 0), q, k=3).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cos_sim"] == 1.0
    # LSH with identical-direction vector: same signature bucket
    ann = lsh_ann_topk(df.filter(F.col("vec_id") != 0), q, k=3).collect()
    assert ann[0]["vec_id"] == 7


def test_quality_and_langid(spark):
    from seekstorm_spark.functions.textstats import (
        lang_id_udf,
        quality_features,
        ws_token_count,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "the cat is on the mat",
                    "der hund ist nicht das problem",
                    "xyzzy qwerty",
                ],
            }
        )
    )
    rows = df.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("n"),
        lang_id_udf(F.col("text")).alias("lang"),
    ).collect()
    assert [r["n"] for r in rows] == [6, 6, 2]
    assert [r["lang"] for r in rows] == ["en", "de", "und"]
    q = quality_features(df).collect()
    assert q[0]["stopword_ratio"] > 0.3
    assert q[2]["stopword_ratio"] == 0.0


def test_multimodal_plumbing(spark):
    from seekstorm_spark.functions.multimodal import (
        decode_image_meta,
        extract_features,
    )

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + (64).to_bytes(4, "big") + (
        32
    ).to_bytes(4, "big")
    rows = [("u1", bytearray(png)), ("u2", bytearray(b"\xff\xd8rest")), ("u3", bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "url string, html binary")
    meta = {r["url"]: r for r in decode_image_meta(df).collect()}
    assert meta["u1"]["format"] == "png" and meta["u1"]["width"] == 64
    assert meta["u2"]["format"] == "jpeg"
    assert meta["u3"]["format"] == "unknown"
    feats = extract_features(df, dim=8).collect()
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic: same bytes → same feature
    again = extract_features(df, dim=8).collect()
    assert [r["feature"] for r in feats] == [r["feature"] for r in again]


def test_streaming_incremental_index(spark, tmp_path):
    """Micro-batches appended via append_batch are immediately
    searchable; stats accumulate across batches."""
    from seekstorm_spark.index.store import IndexStore
    from seekstorm_spark.query.engine import count_matches, search
    from seekstorm_spark.streaming.incremental import append_batch

    path = str(tmp_path / "stream_idx")
    import os

    os.makedirs(path)
    store = IndexStore(path=path)
    store.meta = {
        "version": 1,
        "tokenizer": "unicode_alphanumeric",
        "stop_words": [],
        "n_docs": 0,
        "positions_sum_normalized": 0,
        "avgdl": 1.0,
        "n_buckets": 8,
        "block_size": 65536,
        "next_docid": 0,
        "complete": True,
    }
    store.write_meta()

    b1 = spark.createDataFrame(
        pd.DataFrame({"text": ["alpha beta", "alpha gamma", "beta gamma"]})
    )
    append_batch(spark, store, b1)
    assert store.n_docs == 3
    assert count_matches(spark, store, "alpha", "union") == 2

    b2 = spark.createDataFrame(
        pd.DataFrame({"text": ["alpha beta gamma", "delta epsilon"]})
    )
    append_batch(spark, store, b2)
    assert store.n_docs == 5
    assert count_matches(spark, store, "alpha", "union") == 3
    assert count_matches(spark, store, "delta", "union") == 1
    top = search(spark, store, "alpha beta", top_k=3, default_type="intersection")
    assert len(top.collect()) == 2


def test_append_batch_idempotent_replay(spark, tmp_path):
    """A replayed batch_id is skipped; a partially-promoted batch that
    retries overwrites its own files instead of duplicating rows."""
    from seekstorm_spark.index.store import IndexStore
    from seekstorm_spark.query.engine import count_matches
    from seekstorm_spark.streaming.incremental import append_batch

    path = str(tmp_path / "replay_idx")
    import os

    os.makedirs(path)
    store = IndexStore(path=path)
    store.meta = {
        "version": 2,
        "tokenizer": "unicode_alphanumeric",
        "stop_words": [],
        "n_docs": 0,
        "positions_sum_normalized": 0,
        "avgdl": 1.0,
        "n_buckets": 8,
        "block_size": 65536,
        "next_docid": 0,
        "complete": True,
    }
    store.write_meta()

    b1 = spark.createDataFrame(
        pd.DataFrame({"text": ["alpha beta", "alpha gamma"]})
    )
    append_batch(spark, store, b1, batch_id=0)
    assert store.n_docs == 2
    # full replay of an applied batch: no-op
    append_batch(spark, store, b1, batch_id=0)
    assert store.n_docs == 2
    assert count_matches(spark, store, "alpha", "union") == 2

    # partial-failure replay: data files were promoted but the meta
    # commit was lost — rerunning the same batch_id must overwrite the
    # promoted files (deterministic names), not append duplicates
    import json

    with open(store.meta_path) as f:
        meta_before = json.load(f)
    b2 = spark.createDataFrame(pd.DataFrame({"text": ["delta epsilon"]}))
    append_batch(spark, store, b2, batch_id=1)
    with open(store.meta_path, "w") as f:
        json.dump(meta_before, f)  # simulate: crash before meta commit
    store.meta = meta_before
    append_batch(spark, store, b2, batch_id=1)  # retry
    assert store.n_docs == 3
    assert count_matches(spark, store, "delta", "union") == 1


def test_ann_index_recall_and_partition_pruning(spark, tmp_path):
    """Signature-partitioned ANN: recall@10 >= 0.9 vs exact cosine on
    planted near-neighbors, and the probed scan is partition-pruned."""
    import io
    from contextlib import redirect_stdout

    import numpy as np

    from seekstorm_spark.functions.simsearch import AnnIndex, cosine_topk

    rng = np.random.default_rng(7)
    base = rng.standard_normal((400, 64))
    q = rng.standard_normal(64)
    for i in range(15):  # plant near-duplicates of the query
        base[i] = q + 0.05 * rng.standard_normal(64)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [float(x) for x in q]

    idx = AnnIndex.build(spark, df, str(tmp_path / "ann"), n_planes=8)
    exact = {r["vec_id"] for r in cosine_topk(df, qv, k=10).collect()}
    approx_df = idx.search(spark, qv, k=10, probe_hamming=1)
    approx = {r["vec_id"] for r in approx_df.collect()}
    assert len(exact & approx) / 10 >= 0.9

    buf = io.StringIO()
    with redirect_stdout(buf):
        approx_df.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "sig" in plan
    # the sig filter must actually prune: fewer files read than exist
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*sig", plan)
    assert m, plan


def test_jpeg_sof_dimensions():
    """Real JPEG dimension parse (SOF marker walk, no decoder)."""
    from seekstorm_spark.functions.multimodal import _sniff

    # minimal JPEG: SOI, APP0 stub, SOF0 (8-bit, 480x640), EOI
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + (480).to_bytes(2, "big")  # height
        + (640).to_bytes(2, "big")  # width
        + b"\x03" + b"\x00" * 9
    )
    data = b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    assert _sniff(data) == ("jpeg", 640, 480)


def test_wav_audio_frames(spark):
    """PCM WAV parse + frame sampling through mapInPandas."""
    import struct

    from seekstorm_spark.functions.multimodal import decode_audio_frames

    rate, n = 8000, 2048
    samples = np.ascontiguousarray(
        (np.sin(np.arange(n) * 0.1) * 20000).astype("<i2")
    ).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    wav = (
        b"RIFF" + (36 + len(samples)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt
        + b"data" + len(samples).to_bytes(4, "little") + samples
    )
    df = spark.createDataFrame([("u1", bytearray(wav)), ("u2", bytearray(b"oggs-not-wav"))],
                               "url string, audio binary")
    rows = decode_audio_frames(df, frame_samples=1024).collect()
    assert {r["url"] for r in rows} == {"u1"}  # non-WAV yields no rows
    assert len(rows) == 2 and all(r["sample_rate"] == rate for r in rows)
    assert all(len(r["frame"]) == 1024 for r in rows)
    assert max(abs(x) for x in rows[0]["frame"]) <= 1.0


def test_json_flatten_values(spark):
    from seekstorm_spark.functions.textstats import json_flatten_values

    df = spark.createDataFrame(
        [
            ('{"a": "x", "b": {"c": ["y", 5, "z"], "d": 3.2}, "e": null}',),
            ("not json",),
            (None,),
        ],
        "j string",
    )
    got = [r[0] for r in df.select(json_flatten_values(F.col("j"))).collect()]
    assert got == ["x y z", "", ""]


def test_dot_and_euclidean_topk(spark):
    from seekstorm_spark.functions.simsearch import (
        dot_topk,
        euclidean_topk,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0]
    dots = [(r["vec_id"], r["dot"]) for r in dot_topk(df, q, k=4).collect()]
    assert dots == [(2, 2.0), (1, 1.0), (3, 0.0), (4, -1.0)]
    dists = [
        (r["vec_id"], r["dist"])
        for r in euclidean_topk(df, q, k=4).collect()
    ]
    assert dists[0] == (1, 0.0) and dists[1] == (2, 1.0)
    assert dists[3][0] == 4  # farthest


def test_quantize_i8_roundtrip_and_search(spark):
    """i8 SQ: codes stay in [-127, 127], scale reconstructs values to
    within scale/2, and quantized cosine top-k ≈ exact top-k."""
    import numpy as np

    from seekstorm_spark.functions.simsearch import (
        cosine_topk,
        quantize_i8,
        quantized_cosine_topk,
    )

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((200, 16))
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = quantize_i8(df)
    got = codes.collect()
    assert len(got) == 200
    for r in got[:20]:
        c = np.array(r["codes"], dtype=np.int64)
        assert np.abs(c).max() <= 127
        recon = c * r["scale"]
        orig = np.array(
            [x for x in mat[r["vec_id"]]], dtype=np.float32
        ).astype(np.float64)
        assert np.abs(recon - orig).max() <= r["scale"] / 2 + 1e-12

    q = [float(x) for x in mat[0]]
    exact = [r["vec_id"] for r in cosine_topk(
        df.filter(F.col("vec_id") != 0), q, k=10).collect()]
    approx = [r["vec_id"] for r in quantized_cosine_topk(
        codes.filter(F.col("vec_id") != 0), q, k=10).collect()]
    # 8-bit quantization preserves the neighborhood: ≥8/10 overlap
    assert len(set(exact) & set(approx)) >= 8

    # zero vector quantizes to all-zero codes without dividing by zero
    zdf = spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    zr = quantize_i8(zdf).collect()[0]
    assert list(zr["codes"]) == [0, 0, 0] and zr["scale"] == 0.0


def test_quantize_u8_affine_roundtrip_and_search(spark):
    """Affine SQ: codes span [0, 255], zero point + scale reconstruct
    to within scale/2, full-range use beats symmetric SQ on shifted
    distributions, and affine cosine top-k ≈ exact top-k."""
    import numpy as np

    from seekstorm_spark.functions.simsearch import (
        affine_cosine_topk,
        cosine_topk,
        quantize_u8_affine,
    )

    rng = np.random.default_rng(11)
    # shifted distribution: values in [3, 5] — symmetric SQ would
    # spend half its code range on the never-used negative side
    mat = 4.0 + 0.5 * rng.standard_normal((200, 16)).clip(-2, 2)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = quantize_u8_affine(df)
    for r in codes.collect()[:20]:
        c = np.array(r["codes"], dtype=np.int64)
        assert c.min() >= 0 and c.max() <= 255
        assert 0 in set(c.tolist()) and 255 in set(c.tolist())  # full range
        recon = r["zero"] + c * r["scale"]
        orig = np.array(mat[r["vec_id"]], dtype=np.float32).astype(np.float64)
        assert np.abs(recon - orig).max() <= r["scale"] / 2 + 1e-12

    q = [float(x) for x in mat[0]]
    exact = [r["vec_id"] for r in cosine_topk(
        df.filter(F.col("vec_id") != 0), q, k=10).collect()]
    approx = [r["vec_id"] for r in affine_cosine_topk(
        codes.filter(F.col("vec_id") != 0), q, k=10).collect()]
    assert len(set(exact) & set(approx)) >= 8

    # constant vector: scale 0, codes 0, reconstruction = zero point
    zdf = spark.createDataFrame(
        [(99, [2.5, 2.5, 2.5])], "vec_id long, embedding array<float>"
    )
    zr = quantize_u8_affine(zdf).collect()[0]
    assert list(zr["codes"]) == [0, 0, 0]
    assert zr["scale"] == 0.0 and zr["zero"] == 2.5


def _make_png(px, color_type, filters=None, plte=None):
    """Minimal PNG encoder for the decoder tests: 8-bit, non-
    interlaced, chosen per-row filter bytes (0=None, 2=Up)."""
    import struct
    import zlib as _z

    import numpy as np

    h, w = px.shape[:2]
    n_ch = 1 if px.ndim == 2 else px.shape[2]
    body = px.reshape(h, w * n_ch).astype(np.int32)
    filters = filters or [0] * h
    raw = bytearray()
    for y in range(h):
        f = filters[y]
        raw.append(f)
        if f == 0:
            line = body[y]
        elif f == 2:
            prev = body[y - 1] if y else np.zeros(w * n_ch, np.int32)
            line = (body[y] - prev) & 0xFF
        else:
            raise ValueError(f)
        raw += bytes(line.astype(np.uint8))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte.astype(np.uint8).ravel()))
    out += chunk(b"IDAT", _z.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_png_pixel_decode(spark):
    """Pure-zlib PNG decode (no imaging library): RGB + gray +
    palette, None and Up filters, bit-exact pixels."""
    import numpy as np

    from seekstorm_spark.functions.multimodal import decode_image_pixels

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, size=(6, 3), dtype=np.uint8)
    plte = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    pal_idx = rng.randint(0, 4, size=(3, 5), dtype=np.uint8)
    rows = [
        ("rgb", bytearray(_make_png(rgb, 2, filters=[0, 2, 0, 2, 0]))),
        ("gray", bytearray(_make_png(gray, 0))),
        ("pal", bytearray(_make_png(pal_idx, 3, plte=plte))),
        ("junk", bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r for r in decode_image_pixels(df).collect()}
    assert set(got) == {"rgb", "gray", "pal"}  # junk dropped
    r = got["rgb"]
    assert (r["width"], r["height"], r["channels"]) == (4, 5, 3)
    assert np.array_equal(
        np.frombuffer(r["pixels"], np.uint8).reshape(5, 4, 3), rgb
    )
    g = got["gray"]
    assert (g["width"], g["height"], g["channels"]) == (3, 6, 1)
    assert np.array_equal(
        np.frombuffer(g["pixels"], np.uint8).reshape(6, 3), gray
    )
    p = got["pal"]
    assert p["channels"] == 3  # palette expanded to RGB
    assert np.array_equal(
        np.frombuffer(p["pixels"], np.uint8).reshape(3, 5, 3),
        plte[pal_idx],
    )


def test_png_pixel_resize(spark):
    import numpy as np

    from seekstorm_spark.functions.multimodal import (
        _resize_nearest,
        decode_image_pixels,
    )

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [("a", bytearray(_make_png(rgb, 2)))], "url string, html binary"
    )
    r = decode_image_pixels(df, resize=(4, 2)).collect()[0]
    assert (r["width"], r["height"]) == (4, 2)
    assert np.array_equal(
        np.frombuffer(r["pixels"], np.uint8).reshape(2, 4, 3),
        _resize_nearest(rgb, 4, 2),
    )


def test_contamination_pairs(spark):
    """Cross-table shingle overlap: exact counts vs a brute-force
    check, and the probe side broadcasts (no shuffle of the corpus
    scan, no all-pairs)."""
    from seekstorm_spark.functions.dedup import contamination_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a quick brown fox jumps over fences daily"),
        (2, "completely unrelated text about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog again"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    probes = docs.filter("doc_id = 0")
    out = contamination_pairs(docs, probes, n=4)
    got = {
        (r["docid"], r["probe_id"]): r["n_common"] for r in out.collect()
    }
    # doc 3 shares all six of doc 0's distinct 4-gram shingles; doc 1
    # shares two ("quick brown fox jumps", "brown fox jumps over");
    # doc 2 none
    assert got[(3, 0)] == 6 and got[(1, 0)] == 2
    assert (2, 0) not in got and got[(0, 0)] == 6
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_html_extraction_byte_identical(spark):
    """The input-contract invariant: extracting text from the corpus
    html column reproduces the text column BYTE-IDENTICALLY, for
    every row."""
    from pyspark.sql import functions as F

    from seekstorm_spark.sources.webtext import extract_text, synth_webtext

    docs = synth_webtext(spark, 400, seed=31)
    mismatches = (
        extract_text(docs, "html", "extracted")
        .filter(F.col("extracted") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_html_to_text_edge_cases():
    from seekstorm_spark.sources.webtext import html_to_text

    assert html_to_text(
        b"<html><head><title>T</title><style>p{}</style></head>"
        b"<body><p>a &amp; b</p><script>var x=1;</script></body></html>"
    ) == "a & b"
    assert html_to_text(b"<!-- c --><p class='x'>hi</p>") == "hi"
    assert html_to_text(None) == ""
    assert html_to_text("plain no tags") == "plain no tags"
    # broken utf-8 degrades, never raises
    assert "ok" in html_to_text(b"<p>ok\xff</p>")


def _wav_bytes(samples_bytes, bits, audio_fmt=1, rate=8000, channels=1):
    import struct

    fmt_body = struct.pack(
        "<HHIIHH", audio_fmt, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
        + b"data" + struct.pack("<I", len(samples_bytes)) + samples_bytes
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_24bit_and_float_formats():
    """24-bit PCM and IEEE-float WAVE payloads decode without codec
    libraries (public RIFF layouts)."""
    import numpy as np

    from seekstorm_spark.functions.multimodal import _parse_wav

    # float32: samples pass through bit-exactly
    vals = np.array([0.5, -0.25, 0.125, 1.0], dtype="<f4")
    got = _parse_wav(_wav_bytes(vals.tobytes(), 32, audio_fmt=3))
    assert got is not None and np.array_equal(got[3], vals)

    # 24-bit PCM: max positive / min negative / zero hit the scale ends
    s24 = (
        b"\xff\xff\x7f"   # +2^23-1
        + b"\x00\x00\x80"  # -2^23
        + b"\x00\x00\x00"  # 0
    )
    got = _parse_wav(_wav_bytes(s24, 24))
    arr = got[3]
    assert abs(arr[0] - (2**23 - 1) / 2**23) < 1e-6
    assert arr[1] == -1.0 and arr[2] == 0.0

    # 32-bit integer PCM
    s32 = np.array([2**31 - 1, -(2**31), 0], dtype="<i4")
    got = _parse_wav(_wav_bytes(s32.tobytes(), 32))
    assert abs(got[3][0] - 1.0) < 1e-6 and got[3][1] == -1.0

    # unknown compressed format still rejected
    assert _parse_wav(_wav_bytes(b"\x00\x00", 16, audio_fmt=85)) is None


def test_pii_redaction(spark):
    """redact_pii: emails/IPv4/phones → tokens, counts exact, and the
    patterns behave IDENTICALLY under DuckDB's RE2 (the oracle
    contract — patterns are restricted to the common syntax)."""
    import duckdb

    from seekstorm_spark.functions.pii import PII_PATTERNS, pii_features

    rows = [
        (0, "mail me at jane.doe+x@sub.example.co.uk today"),
        (1, "server at 192.168.0.1 and 10.0.113.255 responded"),
        (2, "call (555) 123-4567 or 555.987.6543 now"),
        (3, "mixed: a@b.io, 8.8.8.8, 212-555-0199."),
        (4, "no pii here at all"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {
        r["id"]: r
        for r in pii_features(df).orderBy("id").collect()
    }
    assert got[0]["redacted"] == "mail me at <EMAIL> today"
    assert got[0]["n_email"] == 1 and got[0]["n_phone"] == 0
    assert got[1]["redacted"] == "server at <IP> and <IP> responded"
    assert got[1]["n_ipv4"] == 2
    assert got[2]["redacted"] == "call <PHONE> or <PHONE> now"
    assert got[2]["n_phone"] == 2
    assert got[3]["redacted"] == "mixed: <EMAIL>, <IP>, <PHONE>."
    assert (got[3]["n_email"], got[3]["n_ipv4"], got[3]["n_phone"]) == (
        1, 1, 1,
    )
    assert got[4]["redacted"] == rows[4][1]
    assert got[5]["redacted"] == ""

    # engine parity: DuckDB RE2 must produce byte-identical redaction
    con = duckdb.connect()
    for rid, text in rows:
        expr = "?"
        params: list = [text]
        sql_expr = "$1"
        for _k, pat, repl in PII_PATTERNS:
            sql_expr = (
                f"regexp_replace({sql_expr}, '{pat}', '{repl}', 'g')"
            )
        duck = con.execute(f"select {sql_expr}", [text]).fetchone()[0]
        assert duck == got[rid]["redacted"], (rid, duck)


def test_repetition_features(spark):
    """Gopher-style repetition fractions against hand-computed values
    incl. the short-doc and empty-doc edge cases."""
    from seekstorm_spark.functions.textstats import repetition_features

    rows = [
        (0, "a a a b"),
        (1, "x"),
        (2, ""),
        (3, "l1 l2\nl3 l4\nl1 l2\n\nl3 l4\nl5 l6"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {
        r["id"]: r
        for r in repetition_features(df).orderBy("id").collect()
    }
    r0 = got[0]
    assert r0["distinct_word_frac"] == 0.5          # {a,b} / 4
    assert r0["top_word_frac"] == 0.75              # a ×3 / 4
    assert r0["top_bigram_frac"] == round(2 / 3, 6)  # "a a" ×2 / 3
    assert r0["dup_line_frac"] == 0.0
    r1 = got[1]
    assert r1["distinct_word_frac"] == 1.0
    assert r1["top_word_frac"] == 1.0
    assert r1["top_bigram_frac"] == 0.0             # no pairs
    r2 = got[2]
    assert (
        r2["distinct_word_frac"], r2["top_word_frac"],
        r2["top_bigram_frac"], r2["dup_line_frac"],
    ) == (0.0, 0.0, 0.0, 0.0)
    r3 = got[3]
    # 5 non-empty lines, 3 distinct → 1 - 3/5
    assert r3["dup_line_frac"] == round(1 - 3 / 5, 6)
    # words l1..l6 ×(2,2,2,2,1,1): distinct 6/10, top 2/10
    assert r3["distinct_word_frac"] == 0.6
    assert r3["top_word_frac"] == 0.2


def test_bpe_token_count_parity(spark):
    """BPE-ish regex token counting: hand-checked values + byte-level
    RE2 (DuckDB) parity on contraction/punct/digit/space torture
    strings — the pattern is restricted to the common syntax, so both
    engines must agree exactly."""
    import duckdb

    from seekstorm_spark.functions.textstats import (
        BPE_TOKEN_PATTERN,
        bpe_token_count,
    )

    rows = [
        (0, "Hello world"),          # [Hello][ world] → 2
        (1, "it's fine, don't stop"),  # it|'s| fine|,| don|'t| stop → 7
        (2, "abc123 x-9"),           # abc|123| x|-|9 → 5
        (3, "  spaced   out  "),     # ws runs excluded → 2
        (4, ""),
        (5, "3.14159 costs $2!"),    # 3|.|14159| costs| $|2|! → 7
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {
        r["id"]: r["n_bpe"]
        for r in df.select(
            "id", bpe_token_count(F.col("text")).alias("n_bpe")
        ).collect()
    }
    assert got == {0: 2, 1: 7, 2: 5, 3: 2, 4: 0, 5: 7}

    con = duckdb.connect()
    for rid, text in rows:
        duck = con.execute(
            "select len(list_filter(regexp_extract_all($1, $2), "
            "t -> trim(t) <> ''))",
            [text, BPE_TOKEN_PATTERN],
        ).fetchone()[0]
        assert duck == got[rid], (rid, duck, got[rid])


def test_incremental_minhash_store(spark, docs, tmp_path):
    """write_minhash_store + probe_minhash_store: probing a batch
    against the persisted corpus bands finds exactly the cross-pairs
    minhash_lsh_pairs finds on the union — without re-shingling the
    corpus; append folds an accepted batch in for the next probe."""
    from seekstorm_spark.functions.dedup import (
        minhash_lsh_pairs,
        probe_minhash_store,
        write_minhash_store,
    )

    corpus = docs.filter(F.col("doc_id") < 3)  # 0,1 dups; 2 near-dup
    batch = spark.createDataFrame(
        pd.DataFrame(
            [
                (10, "alpha beta gamma delta epsilon"),  # dup of 0/1
                (11, "totally novel content right here"),
            ],
            columns=["doc_id", "text"],
        )
    )
    path = str(tmp_path / "mh")
    write_minhash_store(corpus, path)
    got = {
        (r["batch_docid"], r["corpus_docid"])
        for r in probe_minhash_store(spark, path, batch).collect()
    }
    want = {
        (a, b)
        for r in minhash_lsh_pairs(corpus.unionByName(batch)).collect()
        for a, b in [(r["docid_a"], r["docid_b"])]
        if a < 10 <= b or b < 10 <= a
        for a, b in [(max(a, b), min(a, b))]
    }
    assert got == want
    assert (10, 0) in got and (10, 1) in got
    assert not any(b == 11 for b, _c in got)

    # append the accepted batch; a later copy of doc 11 now collides
    write_minhash_store(batch, path, mode="append")
    batch2 = spark.createDataFrame(
        pd.DataFrame(
            [(20, "totally novel content right here")],
            columns=["doc_id", "text"],
        )
    )
    got2 = {
        (r["batch_docid"], r["corpus_docid"])
        for r in probe_minhash_store(spark, path, batch2).collect()
    }
    assert (20, 11) in got2
