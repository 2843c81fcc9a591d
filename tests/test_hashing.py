"""The term-bucket contract: the numpy XXH64 (``spark_xxhash64``,
``term_buckets``) and the Spark bucket column (``bucket_column``) agree
with Spark's ``xxhash64``, and ``store.read_buckets`` returns exactly
the rows of a Spark read pruned to the keys' buckets."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from seekstorm_spark.hashing import bucket_column, spark_xxhash64, term_buckets

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
    assert spark_xxhash64(["", "a"], seed=0).view(np.uint64).tolist() == [
        0xEF46DB3751D8E999,
        0xD24EC4F1A98C6E5B,
    ]


def test_matches_spark_xxhash64(spark):
    df = spark.createDataFrame([(t,) for t in KNOWN_TERMS], "term string").select(
        "term",
        F.xxhash64("term").alias("h"),
        F.pmod(F.xxhash64("term"), F.lit(32)).cast("int").alias("b"),
    )
    rows = df.collect()
    terms = [r["term"] for r in rows]
    assert spark_xxhash64(terms).tolist() == [r["h"] for r in rows]
    assert term_buckets(terms, 32).tolist() == [r["b"] for r in rows]


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


def test_term_buckets_match_bucket_column(spark):
    import pyarrow as pa

    lengths = {len(t.encode()) for t in EDGE_STRINGS}
    assert {0, 1, 3, 4, 7, 8, 31, 32, 33} <= lengths
    df = spark.createDataFrame([(t,) for t in EDGE_STRINGS], "term string")
    got = df.select(
        F.xxhash64("term"),
        *(bucket_column("term", n) for n in (1, 16, 32, 64)),
        *(
            F.pmod(F.xxhash64("term"), F.lit(n)).cast("int")
            for n in (1, 16, 32, 64)
        ),
    ).collect()
    assert spark_xxhash64(EDGE_STRINGS).tolist() == [r[0] for r in got]
    for i, n in enumerate((1, 16, 32, 64)):
        want = [r[1 + i] for r in got]
        # the Column is the contract's pmod(xxhash64(col), n) as int
        assert want == [r[5 + i] for r in got]
        assert term_buckets(EDGE_STRINGS, n).tolist() == want
        # an Arrow array (as the driver-side stage passes) hashes the same
        assert term_buckets(pa.array(EDGE_STRINGS), n).tolist() == want


def _rows(tbl) -> list:
    return sorted(map(repr, tbl.to_pylist()))


def _spark_read(spark, path, ddl, keys, n_buckets, columns, key, bucket):
    """The Spark read the driver reader must match: the table pruned to
    the keys' buckets (hashed by Spark itself) and filtered to the keys."""
    buckets = [
        r[0]
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select(bucket_column("k", n_buckets))
        .distinct()
        .collect()
    ]
    return (
        spark.read.schema(ddl)
        .parquet(path)
        .filter(F.col(bucket).isin(buckets) & F.col(key).isin(keys))
        .select(*columns)
        .toArrow()
    )


@pytest.fixture(scope="module")
def bucketed_index(spark, tmp_path_factory):
    from seekstorm_spark.index.builder import IndexBuilder
    from seekstorm_spark.query.spell import build_spell_dictionary
    from seekstorm_spark.sources.webtext import synth_webtext
    from seekstorm_spark.streaming.incremental import stage_batch

    root = tmp_path_factory.mktemp("read_buckets")
    store = IndexBuilder(spark, str(root / "idx"), n_buckets=8).build(
        synth_webtext(spark, 400, seed=7).select("text"), text_col="text"
    )
    build_spell_dictionary(spark, store)
    sb = stage_batch(
        spark, store,
        synth_webtext(spark, 50, seed=8).select("text").toArrow(),
        batch_id=1,
    )
    return store, sb, root


def test_read_buckets_matches_the_spark_read(spark, bucketed_index):
    import os

    from seekstorm_spark.index.store import (
        POSTINGS_DDL,
        SPELL_DDL,
        TERM_STATS_DDL,
        read_buckets,
    )
    from seekstorm_spark.query.spell import SPELL_BUCKETS, _deletes

    store, sb, root = bucketed_index
    terms = ["", "term00000", "term00003", "term00017", "term00250", "zzabsent"]
    empty = root / "empty_term_stats"
    os.makedirs(empty)
    cases = [
        (store.postings_path, POSTINGS_DDL, terms, 8,
         ["term", "field", "block_id", "docids_vb", "tfs_vb"], "term", "tbucket"),
        (sb.term_stats_path, TERM_STATS_DDL, terms, 8, ["term", "df"],
         "term", "tbucket"),
        (str(empty), TERM_STATS_DDL, terms, 8, ["term", "df"], "term", "tbucket"),
        (os.path.join(store.path, "spell"), SPELL_DDL,
         sorted(_deletes("term00003") | _deletes("tremoo1")), SPELL_BUCKETS,
         ["dkey", "term", "df"], "dkey", "dbucket"),
    ]
    for path, ddl, keys, n, cols, key, bucket in cases:
        got = read_buckets(path, ddl, keys, n, cols, key=key, bucket=bucket)
        want = _spark_read(spark, path, ddl, keys, n, cols, key, bucket)
        assert got.column_names == cols, path
        assert _rows(got) == _rows(want), path
        if path != str(empty):
            assert got.num_rows > 0, path
    # a missing table reads as no rows
    got = read_buckets(str(root / "absent"), TERM_STATS_DDL, terms, 8,
                       ["term", "df"])
    assert got.num_rows == 0 and got.column_names == ["term", "df"]
