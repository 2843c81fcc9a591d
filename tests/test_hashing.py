"""XXH64 parity with Spark's xxhash64 (the term-bucket contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seekstorm_spark.hashing import term_bucket, xxh64, xxh64_signed

KNOWN_TERMS = [
    "",
    "a",
    "hello",
    "term00042",
    "fast",
    "ü日本語",
    "x" * 31,
    "x" * 32,
    "x" * 33,
    "x" * 100,
    "don't",
    "c++",
]


def test_xxh64_reference_vectors():
    # spec test vectors (xxhash.com, seed 0)
    assert xxh64(b"", seed=0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", seed=0) == 0xD24EC4F1A98C6E5B


def test_matches_spark_xxhash64(spark):
    df = spark.createDataFrame([(t,) for t in KNOWN_TERMS], "term string").select(
        "term",
        F.xxhash64("term").alias("h"),
        F.pmod(F.xxhash64("term"), F.lit(32)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert xxh64_signed(r["term"].encode()) == r["h"], r["term"]
        assert term_bucket(r["term"], 32) == r["b"], r["term"]


# byte lengths around every branch of Murmur3's 4-byte words and tail
# (Spark mixes each tail byte as a sign-extended int) and of XXH64's
# 0 / 1–3 / 4–7 / 8–31 / ≥32-byte paths, ASCII and not
EDGE_STRINGS = [
    "", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
    "é", "aé", "abé", "abcé", "ÿ", "中", "a中", "😀", "a😀", "ab😀",
    "x" * 8, "x" * 15, "x" * 31, "x" * 32, "x" * 33, "x" * 64, "x" * 70,
    "ü日本語", "日本語のテキスト", "é" * 20, "中" * 11, "😀" * 9,
    "don't", "c++", "term00042",
]


def test_spark_hash_matches_spark(spark):
    from seekstorm_spark.hashing import spark_hash

    # long strings of different lengths: once at most four strings are
    # left, each one's remaining words mix as Python ints
    long = ["ab" * 3001 + "é", "x" * 2003, "中" * 1500 + "😀"]
    values = [*EDGE_STRINGS, *long, None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               "i int, s string").select(
        "i",
        F.hash("s").alias("h"),
        F.pmod(F.hash("s"), F.lit(16)).alias("b"),
    )
    got = {r["i"]: (r["h"], r["b"]) for r in df.collect()}
    mine = spark_hash(values)
    assert [(int(h), int(h) % 16) for h in mine] == [
        got[i] for i in range(len(values))
    ]
    assert int(mine[-1]) == 42  # hash(NULL) keeps the seed


def test_term_buckets_match_term_bucket(spark):
    import pyarrow as pa

    from seekstorm_spark.hashing import spark_xxhash64, term_buckets

    lengths = {len(t.encode()) for t in EDGE_STRINGS}
    assert {0, 1, 3, 4, 7, 8, 31, 32, 33} <= lengths
    for n_buckets in (1, 16, 64):
        assert term_buckets(EDGE_STRINGS, n_buckets).tolist() == [
            term_bucket(t, n_buckets) for t in EDGE_STRINGS
        ]
    # an Arrow array (as the driver-side stage passes) hashes the same
    assert spark_xxhash64(pa.array(EDGE_STRINGS)).tolist() == [
        xxh64_signed(t.encode()) for t in EDGE_STRINGS
    ]
    df = spark.createDataFrame([(t,) for t in EDGE_STRINGS], "term string")
    spark_b = [
        r[0] for r in df.select(
            F.pmod(F.xxhash64("term"), F.lit(64)).cast("int")
        ).collect()
    ]
    assert term_buckets(EDGE_STRINGS, 64).tolist() == spark_b
